"""Layered link-graph benchmark.

    python3 perfbench/run.py --workload pregel_small --seed 1 --seconds 10 --trace 0

Run from the repository root. It generates seeded inputs under
`.perfbench/` (about 10k vertices and 15k edges, the sf0.01 shape) and
starts one fresh worker process on `local[nproc]` with a driver heap
derived from /proc/meminfo. The worker starts the Spark session and
warms up on a tiny generated graph (together `setup_s`), builds the
graph (`build_s`), runs the workload in whole cycles until `--seconds`
have passed, at least one (`run_s` is the median cycle wall), and checks
every output against the repo's oracles outside the timed region.

Workloads (closed loop, one process, at most nproc Spark threads):
- pregel_small: PageRank to L1 1e-6 alone through PregelRunner, then
  WCC and LPA-10 as concurrent ComputerDriver jobs while the main thread
  issues ad-hoc degree queries until both end (3 threads);
- round_loops: cc_fast, HITS-10 and a two-level Louvain, the hand-rolled
  round loops that bypass PregelRunner.

With `--trace 1` the worker also traces a scan, a build and one cycle on
a fresh graph, and reports the per-layer metrics; spans go to
`.perfbench/`.

Human-readable lines come first: every end-to-end metric that applies
to the workload, with unit and sample count. The last stdout line is one
JSON object with `correct`, `attempted`, `failed` and `metrics` (the
`end_to_end` metrics of BENCHMARK.json, or with `--trace 1` its
`per_layer` ones).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
PACKAGE = os.path.join(ROOT, "hugegraph_computer_spark")
WORKLOADS = ("pregel_small", "round_loops")
DEADLINE_S = 170  # a run must end within 180 s

sys.path.insert(0, HERE)


def host_cores() -> int:
    return len(os.sched_getaffinity(0))


def heap_mb() -> int:
    """Driver heap: 40% of MemTotal, at most 2 GiB. The inputs need far
    less; a small heap keeps the pages the JVM touches, and so its RSS
    and run-to-run spread, small, and leaves the box to the Python
    driver, the page cache and the OS."""
    with open("/proc/meminfo") as f:
        total_kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    return min(2048, int(total_kb / 1024 * 0.4))


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies from the aggregate /proc/stat line."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def run_child(argv: list[str], env: dict, log_path: str, deadline: float) -> dict:
    """Run the worker in its own process group and wait until it and
    everything it started have exited; return its last-line JSON."""
    with open(log_path, "ab") as log:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), *argv],
            cwd=WORK, env=env, stdout=subprocess.PIPE, stderr=log,
            start_new_session=True,
        )
        try:
            stdout, _ = proc.communicate(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            stdout = b""
        finally:
            reap_group(proc)
    lines = stdout.decode().strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"worker {' '.join(argv[:2])} failed "
                           f"(rc={proc.returncode}); see {log_path}")
    return json.loads(lines[-1])


def reap_group(proc: subprocess.Popen) -> None:
    """Kill whatever is left in the worker's process group and wait for
    it, the worker included, to be gone."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(proc.pid, sig)
        except ProcessLookupError:
            break
        try:
            proc.wait(timeout=10)
        except subprocess.TimeoutExpired:
            continue
        deadline = time.monotonic() + 10
        while time.monotonic() < deadline:
            try:
                os.killpg(proc.pid, 0)
            except ProcessLookupError:
                return
            time.sleep(0.05)
    proc.wait()


def percentile(values: list[float], q: int) -> float:
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def summarize(w: dict, workload: str) -> dict:
    """End-to-end metrics with units and sample counts, from the
    workload process's raw figures."""
    cycles = w["cycles"]
    ops = [c["ops"] for c in cycles]
    m = {
        "setup_s": (w["session_start_s"] + w["warmup_s"], "s", 1),
        "build_s": (w["build_s"], "s", 1),
        "run_s": (statistics.median(c["wall"] for c in cycles), "s", len(cycles)),
        "run_cpu_s": (statistics.median(c["cpu"] for c in cycles), "s", len(cycles)),
        "peak_rss_mb": (w["peak_rss_mb"], "MB", 1),
    }
    if workload == "pregel_small":
        m["pagerank_s"] = (statistics.median(o["pagerank"] for o in ops), "s", len(ops))
        edge_steps = sum(w["edges"] * c["counts"]["pagerank"] for c in cycles)
        m["edge_steps_per_s"] = (edge_steps / sum(o["pagerank"] for o in ops), "1/s", len(ops))
        lat = [x for c in cycles for x in c["adhoc"]]
        if lat:
            m["adhoc_p50_s"] = (statistics.median(lat), "s", len(lat))
            m["adhoc_p90_s"] = (percentile(lat, 90), "s", len(lat))
    else:
        m["louvain_s"] = (statistics.median(o["louvain"] for o in ops), "s", len(ops))
    m["ops_failed_ratio"] = (len(w["failed"]) / w["attempted"], "ratio", w["attempted"])
    return m


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_begin = time.monotonic()
    deadline = t_begin + DEADLINE_S

    if not os.path.isdir(PACKAGE):
        print(f"perfbench: {PACKAGE} not found; run from a full checkout",
              file=sys.stderr)
        return 2

    import gen

    cores, heap = host_cores(), heap_mb()
    tmp = os.path.join(WORK, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    for d in ("tmp", "spark-local", "logs"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    data = gen.write_events("small", args.seed, os.path.join(WORK, "data", f"small-{args.seed}"))
    tiny = gen.write_events("tiny", args.seed, os.path.join(WORK, "data", f"tiny-{args.seed}"))
    env = dict(
        os.environ,
        PYTHONPATH=ROOT,
        SPARK_DRIVER_MEMORY=f"{heap}m",
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_LOCAL_DIRS=os.path.join(WORK, "spark-local"),
        TMPDIR=tmp,
        SPARK_SUBMIT_OPTS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        PYTHONDONTWRITEBYTECODE="1",
    )
    env.pop("SPARK_GRAFT_STEP_PROFILE", None)
    log = os.path.join(WORK, "logs", f"{args.workload}-{args.seed}-{args.trace}.log")
    if os.path.exists(log):
        os.remove(log)
    common = ["--cores", str(cores), "--trace", str(args.trace)]
    steal0, total0 = cpu_ticks()
    try:
        spans_path = os.path.join(WORK, f"spans-{args.workload}-{args.seed}.json")
        w = run_child(["--workload", args.workload, "--data", data, "--tiny", tiny,
                       "--seconds", str(args.seconds), "--spans", spans_path, *common],
                      env, log, deadline)
    except RuntimeError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 1
    steal1, total1 = cpu_ticks()
    steal_pct = 100.0 * (steal1 - steal0) / max(1, total1 - total0)

    e2e = summarize(w, args.workload)
    print(f"perfbench {args.workload} seed={args.seed} cores={cores} heap={heap}m "
          f"steal={steal_pct:.2f}% graph={w['vertices']}v/{w['edges']}e "
          f"wall={time.monotonic() - t_begin:.1f}s")
    print(f"  counts {json.dumps(w['cycles'][0]['counts'], sort_keys=True)}")
    for c in w["cycles"]:
        print(f"  cycle {c['wall']:.3f}s " + " ".join(f"{k}={v:.3f}" for k, v in c["ops"].items()))
    print(f"  session start {w['session_start_s']:.2f}s warm-up {w['warmup_s']:.2f}s "
          f"reference {w['reference_s']:.2f}s checks {w['check_s']:.2f}s stop {w['stop_s']:.2f}s")
    for name, (value, unit, n) in e2e.items():
        print(f"  {name:<22} {value:>12.4f} {unit:<6} n={n}")
    for reason in w["failed"]:
        print(f"  FAILED {reason}")
    if args.trace:
        for name in sorted(w["layers"]):
            print(f"  {name:<44} {w['layers'][name]:>12.4f}")
        print(f"  spans: {spans_path}")

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)["per_layer" if args.trace else "end_to_end"]
    values = w["layers"] if args.trace else {k: v[0] for k, v in e2e.items()}
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in spec}
    print(json.dumps({
        "correct": not w["failed"],
        "attempted": w["attempted"],
        "failed": len(w["failed"]),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
