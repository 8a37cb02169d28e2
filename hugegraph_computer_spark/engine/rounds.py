"""One round loop for every iterative operator.

The reference runs every superstep through one master loop, which merges
the aggregators and decides convergence
(MasterService.finishedIteration, MasterService.java:353-364). Here
that loop is `RoundLoop`, and every loop with a halt test iterates
through it: PregelRunner, cc_fast, HITS, rings, links, the three
betweenness loops (flooding, Brandes, the sampled forward phase),
closeness, k-truss and pagerank_csr. They share one lineage cut, one
planner decision, one cancel point and one per-round metrics record.
Frontier operators follow PregelRunner's shape: round 0 cuts the seed
frontier, each later round cuts the next one, and an empty frontier
halts the loop. Their accumulators are lazy cuts that the next round's
action stores. louvain, anf and the random walks keep their own loops.

Per round:
    plan   the caller builds the round's DataFrame (lazy, no job)
    cut    a lazy localCheckpoint, then ONE agg action that
           materializes it and returns the row count plus the caller's
           named aggregates (the worker->master aggregator RPC,
           Aggregator.java:26-92)
    after  the caller's post-cut work (the Pregel message plan)
    halt   rows == 0 | caller converged -> "converged";
           max_rounds reached           -> "max_rounds"

The lineage cut every round is the reference's per-superstep
status/value double buffer (FileGraphPartition.java:640-661): without
it each round's plan embeds the previous one and plan size doubles.
Cutting only every K rounds, or caching instead of cutting, was
measured slower at every K (BENCH/truncate_ab.json).
"""

from __future__ import annotations

import math
import os
import threading
import time
from collections.abc import Callable, Iterator
from contextlib import contextmanager
from typing import Any

from pyspark.sql import Column, DataFrame, Row
from pyspark.sql import functions as F

# Rows per task below which a statically planned round beats AQE's
# per-stage job scheduling (see static_partitions).
ROWS_PER_TASK = 32768


class RunAborted(RuntimeError):
    """Raised when a `should_stop` callback requests termination at a
    round boundary — the driver's preemptive cancel point (checked
    BEFORE each round starts, so a cancel issued right after submit
    never lets round 0 run)."""


def cut(df: DataFrame, **aggs: Column) -> tuple[DataFrame, Row]:
    """Lazy lineage cut + ONE materializing agg action.

    The lazy localCheckpoint converts the plan to an RDD at call time
    (under AQE that conversion executes the plan's query stages); the
    agg action then stores the checkpoint blocks while computing the
    row count and the named aggregates. Later references read the
    stored RDD. Returns the cut frame and a Row with `rows` and every
    key of `aggs`."""
    df = df.localCheckpoint(eager=False)
    return df, _agg_row(df, aggs)


def _agg_row(df: DataFrame, aggs: dict[str, Column]) -> Row:
    exprs = [F.count(F.lit(1)).alias("rows")]
    exprs += [c.alias(k) for k, c in aggs.items()]
    return df.agg(*exprs).collect()[0]


def pin(df: DataFrame, **aggs: Column) -> tuple[DataFrame, Row]:
    """AQE-safe materialize-and-truncate; returns the frame and, as
    `cut` does, a Row with `rows` and every key of `aggs`.

    One agg action fills the cache under AQE (persist alone would keep
    the logical plan growing round over round), and the checkpoint of
    the now-trivial cache scan runs with AQE off: a statically planned
    checkpoint keeps the plan's hashpartitioning, so downstream
    key-equal joins stay co-partitioned. A round state that feeds the
    next round's self-joins needs this: cutting louvain's local-move
    state with `cut` instead (10k-vertex bench graph, 2 levels x 6
    rounds, local[4], 4-core host) made the level-1 rounds take
    2.0 -> 2.1 -> 3.5 -> 10.0 -> 45 -> 182 s, while with `pin` they
    stay at 1.1-1.6 s. The data is stored twice while the pin runs;
    prefer `cut` unless that partitioning is needed."""
    spark = df.sparkSession
    df = df.persist()
    row = _agg_row(df, aggs)
    prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        out = df.localCheckpoint(eager=True)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)
    df.unpersist()
    return out, row


def static_partitions(rows: int | None, partitions: int) -> int | None:
    """Data-derived choice between AQE and static round planning.

    Under AQE the lazy localCheckpoint's plan->RDD conversion executes
    every query stage as its own Spark job (~6 jobs per round), which
    is the per-round floor when the per-round data is small (sf0.1:
    0.89 s/step, 0.56 s of it the conversion). A statically planned
    round is ONE job whose stages pipeline inside the JVM, but at the
    session's full shuffle-partition count it loses AQE coalescing and
    pays stages x partitions tiny-task launches (1.59 s/step vs 0.88
    at p=32, sf0.1). So the partition count comes from the data:
    p = ceil(rows / ROWS_PER_TASK), where `rows` is the size of the
    frame the loop iterates over. When p < the graph's partition count
    the round runs statically at p (0.55 s/step at p=4 vs 1.31 AQE,
    sf0.1, local[32], same superstep counts); otherwise the data
    amortizes the AQE floor and the loop keeps adaptive planning
    (returns None).

    `rows=None` (unknown) keeps AQE, so the planner never triggers an
    extra job. SPARK_GRAFT_STEP_PLANNER=aqe|static overrides the
    choice; forced static without a count uses `partitions`."""
    planner = os.environ.get("SPARK_GRAFT_STEP_PLANNER", "auto")
    if planner == "aqe":
        return None
    if rows is None:
        return partitions if planner == "static" else None
    p = max(1, math.ceil(rows / ROWS_PER_TASK))
    if planner == "static":
        return min(p, partitions)
    return p if p < partitions else None


# SQL confs are per-SESSION, not per-thread, and ComputerDriver runs
# jobs concurrently on one session (engine/driver.py) — so only ONE
# loop at a time may own the static-planning confs. A loop that cannot
# take the lock keeps AQE (values are partition-count-independent;
# only the floor optimization is skipped). Non-blocking also makes
# nested scopes on the same thread safe: the inner scope no-ops.
_STATIC_SCOPE_LOCK = threading.Lock()
_PLAN_CONFS = ("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")


@contextmanager
def static_plan_scope(spark, partitions: int | None):
    """AQE off + the given shuffle-partition count, restored on exit
    (exceptions included; a conf that was unset is unset again).
    `partitions=None` keeps AQE and the scope is a no-op, as it is when
    another loop owns the session's planning confs (_STATIC_SCOPE_LOCK).
    Every conf change sits inside the `try`, so a failing `set` still
    restores what was already changed."""
    if partitions is None or not _STATIC_SCOPE_LOCK.acquire(blocking=False):
        yield
        return
    conf = spark.conf
    prev = {k: conf.get(k, None) for k in _PLAN_CONFS}
    try:
        conf.set("spark.sql.adaptive.enabled", "false")
        conf.set("spark.sql.shuffle.partitions", str(partitions))
        yield
    finally:
        try:
            for k, v in prev.items():
                if v is None:
                    conf.unset(k)
                else:
                    conf.set(k, v)
        finally:
            _STATIC_SCOPE_LOCK.release()


class RoundLoop:
    """The one driver-side round loop.

        with RoundLoop("wcc_fast", spark, rows=n, partitions=p,
                       max_rounds=50) as loop:
            for i in loop:
                state, row = loop.cut(build(state), changed=...)
                loop.finish(converged=row["changed"] == 0)

    Entering the loop enters the planner scope derived from `rows` (the
    row count of the frame the rounds iterate over) and `partitions`.
    Iterating polls `should_stop` before every round and raises
    RunAborted. `finish` closes the round: it appends one history record
    (round index, seconds, state rows, aggregates and the plan /
    checkpoint / action / messages split), reports it to `on_round`, and
    decides the halt. After the loop, `metrics` carries `halt_reason`
    (converged | max_rounds) and `planner` (the static p, or "aqe").
    """

    def __init__(
        self,
        name: str,
        spark,
        *,
        max_rounds: int,
        rows: int | None = None,
        partitions: int | None = None,
        should_stop: Callable[[], bool] | None = None,
        on_round: Callable[[dict], None] | None = None,
    ):
        self.name = name
        self.spark = spark
        self.max_rounds = max_rounds
        self.should_stop = should_stop
        self.on_round = on_round
        self.static_p = static_partitions(
            rows, partitions or spark.sparkContext.defaultParallelism
        )
        self.round = -1  # index of the last round started
        self.halt_reason: str | None = None
        self.history: list[dict[str, Any]] = []
        self._rows: int | None = None

    def __enter__(self) -> RoundLoop:
        self._t_run = time.monotonic()
        self._scope = static_plan_scope(self.spark, self.static_p)
        self._scope.__enter__()
        return self

    def __exit__(self, *exc) -> None:
        self.seconds = time.monotonic() - self._t_run
        self._scope.__exit__(*exc)

    def __iter__(self) -> Iterator[int]:
        while self.halt_reason is None:
            if self.should_stop is not None and self.should_stop():
                raise RunAborted(
                    f"{self.name}: stop requested before round {self.round + 1}"
                )
            self.round += 1
            self._t0 = time.monotonic()
            yield self.round

    def cut(self, df: DataFrame, **aggs: Column) -> tuple[DataFrame, Row]:
        """`cut`, timed into the round's plan / checkpoint / action split."""
        t_plan = time.monotonic()
        df = df.localCheckpoint(eager=False)
        t_ckpt = time.monotonic()
        row = _agg_row(df, aggs)
        self._t_cut = time.monotonic()
        self._phases = {
            "plan": round(t_plan - self._t0, 4),
            "checkpoint": round(t_ckpt - t_plan, 4),
            "action": round(self._t_cut - t_ckpt, 4),
        }
        self._rows = row["rows"]
        self._aggs = {k: row[k] for k in aggs}
        return df, row

    def finish(self, converged: bool = False) -> None:
        """Close the round: record it, report it, decide the halt."""
        t_end = time.monotonic()
        record = {
            "superstep": self.round,
            "seconds": t_end - self._t0,
            "state_rows": self._rows,
            "aggregates": self._aggs,
            "phase_seconds": {
                **self._phases,
                "messages": round(t_end - self._t_cut, 4),
            },
        }
        self.history.append(record)
        if self.on_round is not None:
            self.on_round(record)
        self.decide(converged or self._rows == 0)

    def decide(self, converged: bool) -> None:
        """Set the halt reason after round `self.round` (also used on
        resume, where the last round ran in an earlier process)."""
        if converged:
            self.halt_reason = "converged"
        elif self.round >= self.max_rounds - 1:
            self.halt_reason = "max_rounds"

    @property
    def metrics(self) -> dict[str, Any]:
        return {
            "seconds": self.seconds,
            "halt_reason": self.halt_reason,
            "planner": self.static_p or "aqe",
        }
