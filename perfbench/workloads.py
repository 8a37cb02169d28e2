"""The benchmark's workloads: one closed-loop cycle of operator calls
each, the output checks run after the cycle, and the per-layer metrics a
traced cycle yields.

Every timed result is sunk with a noop write, never `.count()`, so
Catalyst cannot prune the work away. Checks run outside the timed region
and compare against the repo's own oracles.
"""

from __future__ import annotations

import statistics
import time
from collections import Counter
from dataclasses import dataclass, field

from hugegraph_computer_spark.algorithms import (
    Lpa,
    PageRank,
    Wcc,
    connected_components,
)
from hugegraph_computer_spark.algorithms.hits import hits, hits_reference_check
from hugegraph_computer_spark.algorithms.louvain import louvain
from hugegraph_computer_spark.engine import ComputerDriver, JobStatus, PregelRunner
from hugegraph_computer_spark.oracles import py_reference
from hugegraph_computer_spark.oracles import sql as oracle_sql

from spans import (
    MB,
    covered,
    index_stages,
    job_interval,
    jobs_in,
    jobs_of_group,
    stage_counters,
    stages_of,
)

ADHOC_GROUP = "perfbench-adhoc"
LOUVAIN_ARGS = {"max_levels": 2, "max_rounds_per_level": 1}


def sink(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class ObservedRunner(PregelRunner):
    """PregelRunner that records when its run starts and ends, and closes
    a superstep span (child of `parent`) at each on_superstep report."""

    def __init__(self, tracer, parent=None) -> None:
        super().__init__()
        self.tracer, self.parent = tracer, parent

    def run(self, program, g, resume_from=None, on_superstep=None, should_stop=None):
        self.t_start, self.step_ends = time.time(), []

        def report(metrics):
            now = time.time()
            self.tracer.add("superstep", (self.step_ends or [self.t_start])[-1], now,
                            self.parent, program=program.name, step=metrics["superstep"])
            self.step_ends.append(now)
            if on_superstep is not None:
                on_superstep(metrics)

        try:
            return super().run(program, g, resume_from=resume_from,
                               on_superstep=report, should_stop=should_stop)
        finally:
            self.t_end = time.time()


@dataclass
class Op:
    """One operator call of a cycle: its wall, its result for the check,
    and what the traced cycle needs to derive per-layer metrics."""

    name: str
    span: int | None = None
    seconds: float = 0.0
    start: float = 0.0
    end: float = 0.0
    result: object = None
    error: str | None = None
    info: dict = field(default_factory=dict)


def timed(name: str, fn, tracer) -> Op:
    op = Op(name)
    with tracer.span(name) as op.span:
        op.start = time.time()
        t0 = time.monotonic()
        try:
            op.result = fn(op)
        except Exception as e:  # an op that raises counts as failed
            op.error = f"{type(e).__name__}: {str(e)[:300]}"
        op.seconds = time.monotonic() - t0
        op.end = time.time()
    return op


class Reference:
    """Oracle inputs and answers for one graph, computed once per run
    (outside every timed region) and reused by every cycle's checks."""

    def __init__(self, g, data_dir: str) -> None:
        self.nodes = [r["id"] for r in g.vertices.collect()]
        self.edges = [(r["src"], r["dst"]) for r in g.edges.select("src", "dst").collect()]
        self.data_dir = data_dir
        self._cache: dict = {}

    def get(self, key, fn):
        if key not in self._cache:
            self._cache[key] = fn()
        return self._cache[key]


def _collect(df, key, val):
    return {r[key]: r[val] for r in df.collect()}


# -- pregel_small -------------------------------------------------------------

class PregelSmall:
    """PageRank to L1 1e-6 alone through PregelRunner, then
    ComputerDriver runs WCC and LPA-10 together while the main thread
    issues ad-hoc degree queries until both jobs end."""

    name = "pregel_small"

    def __init__(self, spark, g, ref: Reference, cores: int) -> None:
        self.spark, self.g, self.ref, self.cores = spark, g, ref, cores

    def cycle(self, tracer) -> list[Op]:
        return [
            timed("pagerank", lambda op: self._pagerank(op, tracer), tracer),
            timed("driver", lambda op: self._driver(op, tracer), tracer),
        ]

    def _pagerank(self, op: Op, tracer):
        runner = ObservedRunner(tracer, op.span)
        res = runner.run(PageRank(l1_tol=1e-6), self.g)
        sink(res.state)
        op.info.update(runner=runner, steps=res.supersteps, history=res.history)
        return res

    def _driver(self, op: Op, tracer) -> dict:
        sc = self.spark.sparkContext
        drv = ComputerDriver()
        jobs = {}
        for name, program in (("wcc", Wcc()), ("lpa10", Lpa(max_supersteps=10))):
            runner = ObservedRunner(tracer, op.span)
            t_submit = time.time()
            jobs[name] = (drv.submit(program, self.g, runner=runner), runner, t_submit)
        adhoc = []
        sc.setJobGroup(ADHOC_GROUP, "ad-hoc degree queries", False)
        try:
            while not all(h.status.is_terminal for h, _, _ in jobs.values()):
                q = self.g.edges.groupBy("dst").count()
                a = time.time()
                plan = (q._jdf.queryExecution().executedPlan().getClass().getSimpleName()
                        if tracer.enabled else None)
                sink(q)
                adhoc.append((a, time.time(), plan))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        for h, _, _ in jobs.values():
            h.wait()
            if h.status is JobStatus.SUCCEEDED:
                sink(h.result.state)
        op.info.update(jobs=jobs, adhoc=adhoc, steps={
            name: h.result.supersteps for name, (h, _, _) in jobs.items() if h.result})
        return {name: h for name, (h, _, _) in jobs.items()}

    def attempts(self, ops: list[Op]) -> int:
        # the ComputerDriver op counts its two jobs and every ad-hoc query
        return sum(1 for o in ops if o.name != "driver") + sum(
            2 + len(o.info.get("adhoc", ())) for o in ops if o.name == "driver"
        )

    def check(self, ops: list[Op]) -> list[str]:
        """Failed operations of one cycle, as 'name: reason' strings."""
        ref, bad = self.ref, []
        pr_ref = ref.get("pagerank", lambda: py_reference.pagerank(
            ref.nodes, ref.edges, l1_tol=1e-6, max_supersteps=100))
        wcc_ref = ref.get("wcc", lambda: py_reference.wcc(ref.nodes, ref.edges))
        lpa_ref = ref.get("lpa", lambda: py_reference.lpa(ref.nodes, ref.edges, 10))

        def pagerank_ok(res):
            got = _collect(res.state, "id", "rank")
            ranks, steps = pr_ref
            return (res.supersteps == steps and got.keys() == ranks.keys()
                    and max(abs(got[v] - ranks[v]) for v in ranks) <= 1e-6)

        checks = {
            "pagerank": pagerank_ok,
            "wcc": lambda res: _collect(res.state, "id", "comp") == wcc_ref,
            "lpa10": lambda res: res.supersteps == 10
            and _collect(res.state, "id", "label") == lpa_ref,
        }
        for op in ops:
            if op.error:
                bad.append(f"{op.name}: {op.error}")
            elif op.name in checks:
                if not checks[op.name](op.result):
                    bad.append(f"{op.name}: output differs from the oracle")
            elif op.name == "driver":
                for name, h in op.result.items():
                    if h.status is not JobStatus.SUCCEEDED:
                        bad.append(f"driver.{name}: {h.status.value} {h.error!r}")
                    elif not checks[name](h.result):
                        bad.append(f"driver.{name}: output differs from the oracle")
                degrees = Counter(d for _, d in ref.edges)
                if _collect(self.g.edges.groupBy("dst").count(), "dst", "count") != degrees:
                    bad.extend(["adhoc: degrees differ from a plain count"]
                               * len(op.info["adhoc"]))
        return bad

    def layers(self, ops, jobs, stages, edges: int) -> dict:
        by_id = index_stages(stages)
        out = {}
        for op in ops:
            if op.error:
                continue
            if op.name == "driver":
                out.update(self._driver_layers(op, jobs, by_id, edges))
            else:
                runner = op.info["runner"]
                out.update(superstep_layers(
                    f"superstep.{op.name}", runner, op.info["history"],
                    jobs_in(jobs, runner.t_start, runner.t_end), by_id,
                    self.cores, edges))
        return out

    def _driver_layers(self, op, jobs, by_id, edges: int) -> dict:
        js = op.info["jobs"]
        walls = {n: r.t_end - t for n, (_, r, t) in js.items()}
        makespan = op.seconds
        adhoc = op.info["adhoc"]
        adhoc_jobs = jobs_of_group(jobs, ADHOC_GROUP)
        parts = []
        for a, b, _ in adhoc:
            ran = [s for s in stages_of(jobs_in(adhoc_jobs, a, b), by_id)
                   if s["status"] == "COMPLETE"]
            if ran:
                parts.append(max(ran, key=lambda s: s["stageId"])["numTasks"])
        out = {}
        for name, (h, runner, _) in js.items():
            # driver jobs: superstep metrics come from each job's group, and
            # the busy ratio shares the cores with the other job
            if h.result is not None:
                out.update(superstep_layers(
                    f"superstep.{name}", runner, h.result.history,
                    jobs_of_group(jobs, h.job_id), by_id, self.cores, edges))
        wcc_runner, wcc_submit = js["wcc"][1], js["wcc"][2]
        return out | {
            "driver.wcc_s": walls["wcc"],
            "driver.lpa10_s": walls["lpa10"],
            "driver.overlap_ratio": sum(walls.values()) / makespan,
            "driver.first_step_s": (wcc_runner.step_ends[0] - wcc_submit
                                    if wcc_runner.step_ends else float("nan")),
            "driver.adhoc_count": len(adhoc),
            "driver.adhoc_adaptive_ratio": (
                sum(p == "AdaptiveSparkPlanExec" for _, _, p in adhoc) / len(adhoc)
                if adhoc else float("nan")),
            "driver.adhoc_partitions": statistics.median(parts) if parts else float("nan"),
        }


def superstep_layers(prefix, runner, history, op_jobs, by_id, cores, edges) -> dict:
    steps = len(history)
    st = stage_counters(stages_of(op_jobs, by_id))
    bounds = [runner.t_start] + runner.step_ends
    intervals = [job_interval(j) for j in op_jobs]
    gap = sum((b - a) - covered(intervals, a, b) for a, b in zip(bounds, bounds[1:]))
    phases = [h["phase_seconds"] for h in history if "phase_seconds" in h]

    def phase(k):
        return statistics.fmean(p[k] for p in phases) if phases else float("nan")

    wall = runner.t_end - runner.t_start
    return {
        f"{prefix}.steps": steps,
        f"{prefix}.step_p50_s": statistics.median(h["seconds"] for h in history),
        f"{prefix}.plan_s": phase("plan"),
        f"{prefix}.cut_s": phase("checkpoint"),
        f"{prefix}.action_s": phase("action"),
        f"{prefix}.messages_s": phase("messages"),
        f"{prefix}.jobs_per_step": len(op_jobs) / steps,
        f"{prefix}.stages_per_step": st["stages"] / steps,
        f"{prefix}.tasks_per_step": st["tasks"] / steps,
        f"{prefix}.driver_gap_s": gap / steps,
        f"{prefix}.shuffle_mb_per_step": st["shuffle_write_mb"] / steps,
        f"{prefix}.shuffle_bytes_per_edge_step": st["shuffle_write_mb"] * MB / (edges * steps),
        f"{prefix}.busy_ratio": st["run_s"] / (wall * cores),
    }


# -- round_loops --------------------------------------------------------------

class RoundLoops:
    """The hand-rolled round loops that bypass PregelRunner: cc_fast,
    HITS (10 rounds) and a two-level Louvain."""

    name = "round_loops"

    def __init__(self, spark, g, ref: Reference, cores: int) -> None:
        self.spark, self.g, self.ref, self.cores = spark, g, ref, cores

    def cycle(self, tracer) -> list[Op]:
        g = self.g

        def cc(op):
            res = connected_components(g)
            sink(res.labels)
            op.info["rounds"] = res.rounds
            return res.labels

        def hits10(op):
            res = hits(g, 10)
            sink(res.state)
            op.info["rounds"] = res.supersteps
            return res.state

        def louvain2(op):
            history: list = []
            df = louvain(g, history=history, **LOUVAIN_ARGS)
            sink(df)
            op.info["rounds"] = len(history)
            op.info["moves"] = sum(h["moves"] for h in history)
            op.info["history"] = history
            return df

        return [timed(n, f, tracer) for n, f in (
            ("wcc_fast", cc), ("hits10", hits10), ("louvain", louvain2))]

    def attempts(self, ops) -> int:
        return len(ops)

    def check(self, ops: list[Op]) -> list[str]:
        ref, bad = self.ref, []

        def wcc_fast_ok(df):
            import duckdb

            def oracle():
                con = duckdb.connect()
                try:
                    con.execute(f"CREATE VIEW events AS SELECT * FROM "
                                f"'{ref.data_dir}/events.parquet'")
                    return dict(con.sql(oracle_sql.wcc_undirected()).fetchall())
                finally:
                    con.close()
            return _collect(df, "id", "comp") == ref.get("wcc_undirected", oracle)

        def hits_ok(df):
            want = ref.get("hits", lambda: hits_reference_check(ref.edges, 10))
            got = {r["id"]: (r["auth"], r["hub"]) for r in df.collect()}
            return set(want) <= set(got) and max(
                max(abs(got[v][0] - a), abs(got[v][1] - h)) for v, (a, h) in want.items()
            ) <= 1e-9

        def louvain_ok(df, history):
            q = [h["modularity"] for h in history]
            rows = df.collect()
            return (len(rows) == len(ref.nodes)
                    and all(r["community"] is not None for r in rows)
                    and all(b >= a for a, b in zip(q, q[1:])))

        checks = {"wcc_fast": wcc_fast_ok, "hits10": hits_ok}
        for op in ops:
            if op.error:
                bad.append(f"{op.name}: {op.error}")
            elif op.name == "louvain":
                if not louvain_ok(op.result, op.info["history"]):
                    bad.append("louvain: row count or per-level modularity check failed")
            elif not checks[op.name](op.result):
                bad.append(f"{op.name}: output differs from the oracle")
        return bad

    def layers(self, ops, jobs, stages, edges: int) -> dict:
        by_id = index_stages(stages)
        out = {}
        for op in ops:
            if op.error:
                continue
            st = stage_counters(stages_of(jobs_in(jobs, op.start, op.end), by_id))
            p = f"algorithms.{op.name}"
            out.update({
                f"{p}.s": op.seconds,
                f"{p}.rounds": op.info["rounds"],
                f"{p}.jobs": len(jobs_in(jobs, op.start, op.end)),
                f"{p}.shuffle_mb": st["shuffle_write_mb"],
            })
            if op.name == "louvain":
                out[f"{p}.moves"] = op.info["moves"]
        return out


WORKLOADS = {w.name: w for w in (PregelSmall, RoundLoops)}
