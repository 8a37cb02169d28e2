"""One fresh benchmark process: start the Spark session, warm up, build
the graph, run the workload's cycles, check every output and (with
`--trace 1`) run one more, traced cycle. Prints one JSON object on its
last stdout line. `run.py` starts it."""

import time

T_START = time.monotonic()  # "fresh process" for session.start_s

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

from hugegraph_computer_spark.algorithms import PageRank, connected_components  # noqa: E402
from hugegraph_computer_spark.engine import PregelRunner  # noqa: E402
from hugegraph_computer_spark.graph import Graph, transcripts_from_events  # noqa: E402
from hugegraph_computer_spark.session import get_spark  # noqa: E402

from spans import COUNTER_KEYS, StatusStore, Tracer, delta  # noqa: E402
from workloads import WORKLOADS, Reference, sink  # noqa: E402


def start_session(cores: int, trace: bool):
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf=StatusStore.RETENTION_CONF if trace else None,
    )
    return spark, time.monotonic() - T_START


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM to exit, so the next process
    never overlaps it."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def vm_hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def cpu_s(*pids) -> float:
    """User + system CPU seconds consumed so far by the given processes."""
    total = 0
    for pid in pids:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        total += int(fields[11]) + int(fields[12])  # utime, stime
    return total / os.sysconf("SC_CLK_TCK")


def build_graph(spark, data_dir: str, cores: int):
    return Graph.from_transcripts(transcripts_from_events(spark, data_dir), partitions=cores)


def warm_up(spark, tiny_dir: str, cores: int) -> None:
    """A pass over a tiny generated graph through the build, a Pregel
    loop and a hand-rolled round loop, so JIT and class loading are
    paid here and not by whichever operator runs first."""
    g = build_graph(spark, tiny_dir, cores)
    sink(PregelRunner().run(PageRank(l1_tol=1e-6, max_supersteps=3), g).state)
    sink(connected_components(g).labels)


def traced_build(spark, store, data_dir: str, cores: int):
    """Graph layer: transcript scan sunk to noop, then the build, each
    with its status-store counter delta."""
    t0 = time.monotonic()
    sink(transcripts_from_events(spark, data_dir))
    scan_s = time.monotonic() - t0
    c1 = store.snapshot()
    t0 = time.monotonic()
    g = build_graph(spark, data_dir, cores)
    cut_s = time.monotonic() - t0
    d = delta(c1, store.snapshot())
    return g, {
        "graph.scan_s": scan_s,
        "graph.cut_s": cut_s,
        "graph.jobs": d["jobs"],
        "graph.stages": d["stages"],
        "graph.shuffle_mb": d["shuffle_write_mb"],
    }


def traced_cycle(spark, wl, store, edges: int, cores: int, spans_path: str, extra: dict):
    """One cycle under the tracer; returns its wall, per-layer metrics,
    failed checks and attempted operations."""
    os.environ["SPARK_GRAFT_STEP_PROFILE"] = "1"  # per-step phase split in history
    tracer = Tracer(True)
    c0 = store.snapshot()
    t0 = time.monotonic()
    with tracer.span("cycle", workload=wl.name):
        ops = wl.cycle(tracer)
    wall = time.monotonic() - t0
    c1 = store.snapshot()
    jobs, stages = store.jobs(), store.stages()
    d = delta(c0, c1)
    layers = {
        "spark.jobs": d["jobs"],
        "spark.stages": d["stages"],
        "spark.tasks": d["tasks"],
        "spark.shuffle_read_mb": d["shuffle_read_mb"],
        "spark.shuffle_write_mb": d["shuffle_write_mb"],
        "spark.spill_mb": d["spill_mb"],
        "spark.gc_s": d["gc_s"],
        "spark.busy_ratio": d["run_s"] / (wall * cores),
    }
    layers.update(wl.layers(ops, jobs, stages, edges))
    failed = wl.check(ops)
    tracer.dump(spans_path, {"counters": {k: d[k] for k in COUNTER_KEYS},
                             "layers": layers, **extra})
    return wall, layers, failed, wl.attempts(ops)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--data")
    ap.add_argument("--tiny")
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--cores", type=int, required=True)
    ap.add_argument("--spans")
    args = ap.parse_args()

    spark, session_start_s = start_session(args.cores, bool(args.trace))
    out = {"session_start_s": session_start_s}
    jvm_pid = spark.sparkContext._gateway.proc.pid
    t0 = time.monotonic()
    warm_up(spark, args.tiny, args.cores)
    out["warmup_s"] = time.monotonic() - t0

    t0 = time.monotonic()
    g = build_graph(spark, args.data, args.cores)
    out["build_s"] = time.monotonic() - t0
    out["vertices"], out["edges"] = g.num_vertices, g.num_edges

    t0 = time.monotonic()
    ref = Reference(g, args.data)
    out["reference_s"] = time.monotonic() - t0
    wl = WORKLOADS[args.workload](spark, g, ref, args.cores)
    cycles, failed, attempted = [], [], 0
    measured = 0.0
    off = Tracer(False)
    while measured < args.seconds or not cycles:
        t0, c0 = time.monotonic(), cpu_s(jvm_pid, "self")
        ops = wl.cycle(off)
        wall = time.monotonic() - t0
        measured += wall
        cycles.append({"wall": wall, "cpu": cpu_s(jvm_pid, "self") - c0, "ops": {o.name: o.seconds for o in ops},
                       "counts": {o.name: o.info.get("steps", o.info.get("rounds"))
                                  for o in ops if not o.error},
                       "adhoc": [b - a for o in ops for a, b, _ in o.info.get("adhoc", ())]})
        t0 = time.monotonic()
        failed += wl.check(ops)  # outside the timed region
        out["check_s"] = out.get("check_s", 0.0) + time.monotonic() - t0
        attempted += wl.attempts(ops)
    out.update(cycles=cycles, attempted=attempted, failed=failed)

    if args.trace:
        # a fresh graph, so the traced cycle starts as cold as the
        # untraced ones (operators memoize per-graph tables on first use)
        store = StatusStore(spark)
        g, graph_layers = traced_build(spark, store, args.data, args.cores)
        wl = WORKLOADS[args.workload](spark, g, ref, args.cores)
        untraced = statistics.median(c["wall"] for c in cycles)
        wall, layers, t_failed, t_attempted = traced_cycle(
            spark, wl, store, g.num_edges, args.cores, args.spans,
            {"workload": wl.name, "graph": graph_layers})
        layers.update(graph_layers)
        layers["graph.vertices"], layers["graph.edges"] = g.num_vertices, g.num_edges
        layers["trace.overhead_s"] = wall - untraced
        layers["session.start_s"] = session_start_s
        layers["session.warmup_s"] = out["warmup_s"]
        out["layers"] = layers
        out["failed"] += t_failed
        out["attempted"] += t_attempted

    out["peak_rss_mb"] = vm_hwm_mb(jvm_pid) + vm_hwm_mb("self")
    if args.trace:
        out["layers"]["spark.peak_rss_mb"] = out["peak_rss_mb"]
    t0 = time.monotonic()
    stop_session(spark)
    out["stop_s"] = time.monotonic() - t0
    print(json.dumps(out))


if __name__ == "__main__":
    sys.exit(main())
