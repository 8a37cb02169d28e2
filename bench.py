"""Benchmark harness — runs the headline graph queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] (default: the usable cores) and prints ONE JSON line:

  {"metric": ..., "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ..., ...extras}

Extras carried for the north rule's throughput metric: PageRank
supersteps, supersteps/min, and edges-processed/sec (edges x supersteps
/ wall) at 1e-6 convergence. Scaling-efficiency evidence (same job at
two parallelism levels) is produced by tools/scaling_report.py, which
shells out to this file with SPARK_GRAFT_CPUS=8 and 32.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from hugegraph_computer_spark.algorithms import (
    Lpa,
    PageRank,
    Wcc,
    connected_components,
    triangle_count,
)
from hugegraph_computer_spark.engine import PregelRunner
from hugegraph_computer_spark.graph import Graph, transcripts_from_events
from hugegraph_computer_spark.session import default_cpus, get_spark


def _read_steal() -> tuple[int, int]:
    """(steal_ticks, total_ticks) from /proc/stat — host CPU steal is
    the dominant run-over-run noise on this oversubscribed sandbox
    (BENCH/BASELINE.md measurement-validity notes)."""
    with open("/proc/stat") as f:
        parts = f.readline().split()[1:]
    vals = [int(x) for x in parts]
    return (vals[7] if len(vals) > 7 else 0, sum(vals))


def _multi_leg(n_legs: int) -> None:
    """Min-wall protocol for the suite itself: run `n_legs` FRESH-JVM
    legs sequentially (never two Spark processes at once), record each
    leg's host-steal exposure, and report per-query MINIMA — the
    least-stolen observation of each query, the same protocol the
    scaling legs already use. One JSON line on stdout, per-leg progress
    on stderr."""
    import subprocess

    legs = []
    for i in range(n_legs):
        env = dict(os.environ, SPARK_GRAFT_BENCH_LEG="1")
        s0, t0 = _read_steal()
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__)],
            env=env,
            capture_output=True,
            text=True,
        )
        s1, t1 = _read_steal()
        if proc.returncode != 0:
            raise RuntimeError(
                f"bench leg {i + 1}/{n_legs} failed rc={proc.returncode}:\n"
                f"{proc.stderr[-4000:]}"
            )
        line = [l for l in proc.stdout.splitlines() if l.startswith("{")][-1]
        rec = json.loads(line)
        rec["steal_pct_capacity"] = round(
            100.0 * (s1 - s0) / max(1, t1 - t0), 2
        )
        legs.append(rec)
        print(
            json.dumps(
                {
                    "leg": i + 1,
                    "value": rec["value"],
                    "queries": rec["queries"],
                    "steal_pct_capacity": rec["steal_pct_capacity"],
                }
            ),
            file=sys.stderr,
            flush=True,
        )

    base = min(legs, key=lambda r: r["value"])
    qmins = {q: min(r["queries"][q] for r in legs) for q in legs[0]["queries"]}
    out = dict(base)
    out["queries"] = {q: round(v, 3) for q, v in qmins.items()}
    out["value"] = round(sum(qmins.values()), 3)
    # `value` is COMPOSED of per-query minima across legs — no single
    # leg necessarily achieved it. `best_leg_value` is a wall-clock an
    # actual run produced; cite THAT in prose.
    out["best_leg_value"] = round(base["value"], 3)
    pr = qmins.get("pagerank_1e6")
    if pr:
        # throughput extras recomputed from the min wall
        out["pagerank_supersteps_per_min"] = round(
            base["pagerank_supersteps"] / pr * 60.0, 3
        )
        out["pagerank_edges_per_sec"] = round(
            base["edges"] * base["pagerank_supersteps"] / pr, 3
        )
    out["protocol"] = (
        f"per-query minima over {n_legs} sequential fresh-JVM legs "
        "(min-wall host-steal hygiene)"
    )
    out["legs"] = [
        {
            "value": r["value"],
            "queries": r["queries"],
            "steal_pct_capacity": r["steal_pct_capacity"],
        }
        for r in legs
    ]
    print(json.dumps(out))


def main() -> None:
    # Multi-leg wrapper: the full suite defaults to 3 fresh-JVM legs
    # with per-query minima; pagerank-only legs (scaling_report does
    # its own repeats) stay single unless asked.
    in_leg = bool(os.environ.get("SPARK_GRAFT_BENCH_LEG"))
    default_legs = "1" if (in_leg or os.environ.get("SPARK_GRAFT_ONLY")) else "3"
    n_legs = int(os.environ.get("SPARK_GRAFT_LEGS", default_legs))
    if n_legs > 1 and not in_leg:
        _multi_leg(n_legs)
        return

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = default_cpus()
    expand = int(os.environ.get("SPARK_GRAFT_EXPAND", "1"))
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]

    extra = {}
    if expand > 1:
        # expanded scaling runs: smaller advisory partitions so both
        # parallelism levels get enough tasks to exploit their cores
        # (identical conf at both levels per the BASELINE.md protocol)
        extra["spark.sql.adaptive.advisoryPartitionSizeInBytes"] = "2m"
    spark = get_spark(
        app_name=f"hcs-bench-{cpus}",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf=extra,
    )

    timings: dict[str, float] = {}
    extras: dict[str, object] = {}

    densify = os.environ.get("SPARK_GRAFT_DENSIFY") == "1"

    t0 = time.monotonic()
    g = Graph.from_transcripts(
        transcripts_from_events(spark, sf_dir, expand=expand), partitions=cpus
    )
    n_vertices = g.num_vertices
    n_edges = g.edges.count()
    if densify:
        # R13 fixed-length id remap at ingest: supersteps then shuffle
        # 8-byte longs instead of ~25-char strings. One-time encode cost
        # is part of derivation (like the reference's input remap).
        g, _mapping = g.densify()
        g.edges.count()
    timings["graph_derivation"] = time.monotonic() - t0
    extras["densified"] = densify

    t0 = time.monotonic()
    pr = PregelRunner().run(PageRank(l1_tol=1e-6, max_supersteps=100), g)
    pr.state.count()
    pr_sec = time.monotonic() - t0
    timings["pagerank_1e6"] = pr_sec
    if os.environ.get("SPARK_GRAFT_STEP_HISTORY"):
        # per-superstep walls for floor/variance diagnosis
        extras["pagerank_step_seconds"] = [
            round(h["seconds"], 2) for h in pr.history
        ]
    extras["pagerank_supersteps"] = pr.supersteps
    extras["pagerank_supersteps_per_min"] = pr.supersteps / pr_sec * 60.0
    extras["pagerank_edges_per_sec"] = n_edges * pr.supersteps / pr_sec

    # NOTE: no in-suite densify A/B. A second PageRank against a second
    # persisted graph in the same JVM contaminates every later query
    # (round-2 lesson: WCC +65%, LPA +42% from the leaked dense
    # vertices/edges/mapping caches) and the warm-JVM ordering makes the
    # comparison itself invalid. The A/B ran as two FRESH-JVM legs
    # (SPARK_GRAFT_ONLY=pagerank x SPARK_GRAFT_DENSIFY={0,1}); results
    # in BENCH/densify_ab.json.

    if os.environ.get("SPARK_GRAFT_ONLY") == "pagerank":
        total = sum(timings.values())
        print(
            json.dumps(
                {
                    "metric": "pagerank-only",
                    "value": round(total, 3),
                    "unit": "sec",
                    "queries": {k: round(v, 3) for k, v in timings.items()},
                    "sf": sf,
                    "cpus": cpus,
                    "expand": expand,
                    "vertices": n_vertices,
                    "edges": n_edges,
                    **{
                        k: (round(v, 3) if isinstance(v, float) else v)
                        for k, v in extras.items()
                    },
                }
            )
        )
        spark.stop()
        return

    t0 = time.monotonic()
    wcc_res = PregelRunner().run(Wcc(), g)
    wcc_res.state.count()
    timings["wcc"] = time.monotonic() - t0
    extras["wcc_supersteps"] = wcc_res.supersteps

    t0 = time.monotonic()
    cc_res = connected_components(g)
    cc_res.labels.count()
    timings["wcc_fast"] = time.monotonic() - t0
    extras["wcc_fast_rounds"] = cc_res.rounds

    t0 = time.monotonic()
    lpa_res = PregelRunner().run(Lpa(max_supersteps=10), g)
    lpa_res.state.count()
    timings["lpa10"] = time.monotonic() - t0

    t0 = time.monotonic()
    triangle_count(g).count()
    timings["triangle_count"] = time.monotonic() - t0

    total = sum(timings.values())
    out = {
        "metric": "graph suite wall-clock (derive + pagerank@1e-6 + wcc + wcc_fast + lpa10 + triangles)",
        "value": round(total, 3),
        "unit": "sec",
        "queries": {k: round(v, 3) for k, v in timings.items()},
        "sf": sf,
        "cpus": cpus,
        "expand": expand,
        "vertices": n_vertices,
        "edges": n_edges,
        **{k: (round(v, 3) if isinstance(v, float) else v) for k, v in extras.items()},
    }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
