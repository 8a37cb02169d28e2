"""Round-6 auxiliary benchmarks — NOT the driver-timed bench (bench.py
is frozen for measurement; this file exists so optimization evidence
for non-suite queries can be cited in OPTIMIZATION_r06.md).

Per guide §1.4, every query is timed with the noop sink
(`df.write.format("noop")`) so the computation is measured, not the
sink or a count's column pruning; jobs are labeled for UI readability
(§1.5). Per-query minima over `SPARK_GRAFT_EXTRA_REPEATS` in-session
repeats; host steal is recorded like bench.py.

Usage:
    SPARK_GRAFT_SF_DIR=/root/testdata/sf0.01 python bench_extra.py [query ...]

Prints one JSON line: {"queries": {name: sec, ...}, "sf": ..., ...}.
Defaults to the gate queries NOT covered by bench.py's suite.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entrymod
from hugegraph_computer_spark.session import default_cpus, get_spark

# oracle-gated queries outside bench.py's suite, cheap enough to time
# at sf0.01+ (stream_edge_derivation excluded: its wall is dominated by
# the JSON round-trip fixture, not the operator)
DEFAULT = [
    "edge_derivation",
    "degree_centrality",
    "degree_weighted",
    "degree_in",
    "degree_capped",
    "clustering_coefficient",
    "sssp",
    "kcore",
    "ppr10",
    "closeness",
    "rings_reply",
    "links_reply",
    "subgraph_wedge",
    "subgraph_labeled",
    "hits10",
    "adamic_adar",
    "anf3_sketch",
    "ktruss3",
    "token_stats",
    "quality_score",
    "lang_id",
    "doc_fingerprint",
    "dedup_exact",
    "ngram_jaccard",
    "dedup_clusters",
    "minhash_lsh",
    "simhash",
    "ann_topk",
    "ann_topk_ivf",
    "cosine_neardup",
    "random_walks",
    "stratified_sample",
]


def _read_steal():
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0, sum(vals))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    cpus = default_cpus()
    repeats = int(os.environ.get("SPARK_GRAFT_EXTRA_REPEATS", "2"))
    names = sys.argv[1:] or DEFAULT

    spark = get_spark(
        app_name=f"hcs-bench-extra-{cpus}",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
    )
    qmap = entrymod.queries()
    s0, t0 = _read_steal()
    timings: dict[str, float] = {}
    for name in names:
        best = None
        for _ in range(repeats):
            spark.sparkContext.setJobDescription(f"bench_extra:{name}")
            t = time.monotonic()
            df = qmap[name](spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            sec = time.monotonic() - t
            best = sec if best is None else min(best, sec)
            spark.sparkContext.setJobDescription(None)
        timings[name] = round(best, 3)
        print(f"{name}: {timings[name]}s", file=sys.stderr, flush=True)
    s1, t1 = _read_steal()

    print(
        json.dumps(
            {
                "metric": "bench_extra per-query noop-sink seconds (min of repeats)",
                "unit": "sec",
                "queries": timings,
                "sf": sf_dir.rstrip("/").rsplit("sf", 1)[-1],
                "cpus": cpus,
                "repeats": repeats,
                "steal_pct_capacity": round(100.0 * (s1 - s0) / max(1, t1 - t0), 2),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
