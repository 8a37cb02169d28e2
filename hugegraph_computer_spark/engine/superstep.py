"""Generic BSP superstep runner over DataFrames.

Re-expresses the reference's fixed worker/master pipeline
(computer-core/.../worker/WorkerService.java:287-338,
master/MasterService.java:240-288) as a VertexProgram adapter on the
engine's one round loop (engine/rounds.py):

  superstep s:
    state_s   = program.superstep(s, state_{s-1}, messages_{s-1}, aggs)
    cut       = lazy lineage cut of state_s + ONE agg action -> driver
     scalars (the reference's vertex-state double buffer,
     FileGraphPartition.java:640-661, and worker->master aggregator RPC,
     Aggregator.java:26-92)
    messages_s = program scatter over the cut state_s (lazy; consumed
     by superstep s+1's action)
    halt check = MasterService.finishedIteration(MasterService.java:353-364):
     master veto | s >= max_supersteps-1 | no messages in flight

Shuffle budget: the scatter join (state ⋈ edges) and the gather
groupBy(dst), plus the join of the gathered messages back onto the
state; tests/test_plan_shape.py pins the live Exchange counts. Message
combining (reference R6/R8, CombineKvInnerSortFlusher.java:29-45) is
Spark's map-side partial aggregation — free. At 100 TB the
per-superstep working set is the vertex-state DataFrame (O(V)) and the
message DataFrame (O(E)); both are hash-partitioned and spill-safe.

Durability: every `checkpoint_every` supersteps the runner writes state
+ messages as parquet with a meta.json carrying (superstep, aggregates,
per-partition row-count lineage, timings). `resume_from` continues a
run mid-iteration — this EXCEEDS the reference, whose failover is an
unimplemented TODO (MasterService.java:337-343).
"""

from __future__ import annotations

import json
import os
import time
from collections.abc import Callable
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from hugegraph_computer_spark.engine.rounds import RoundLoop, RunAborted

__all__ = ["PregelRunner", "RunAborted", "RunResult", "StepOutput", "VertexProgram"]

SUPERSTEP = "_superstep"


@dataclass
class StepOutput:
    """What a vertex program produces for one superstep."""

    state: DataFrame
    # evaluated over the materialized state in ONE .agg() pass
    agg_exprs: dict[str, Column] = field(default_factory=dict)
    # scatter: called with the *materialized* state so message lineage
    # never re-runs the compute join
    make_messages: Callable[[DataFrame], DataFrame] | None = None


class VertexProgram:
    """Algorithm contract — the Spark analogue of the reference's
    Computation + MasterComputation pair
    (computer-api/.../worker/Computation.java:42-106,
    computer-api/.../master/MasterComputation.java:33-78)."""

    name: str = "vertex_program"
    max_supersteps: int = 10  # bsp.max_super_step default,
    # ComputerOptions.java:478-485

    def prepare(self, g) -> None:
        """Called once before the loop, on BOTH fresh and resumed runs —
        initialize instance state (graph-derived scalars, cached degree
        tables) here, never in superstep0, or resume breaks."""

    def superstep0(self, g) -> StepOutput:  # compute0
        raise NotImplementedError

    def superstep(
        self, s: int, g, state: DataFrame, messages: DataFrame | None, aggs: dict
    ) -> StepOutput:  # compute
        raise NotImplementedError

    def master_continue(self, s: int, aggs: dict[str, Any]) -> bool:
        """MasterComputation.compute() — return False to stop."""
        return True

    def finalize(self, state: DataFrame) -> DataFrame:
        """Project the user-facing result from the internal state."""
        return state


@dataclass
class RunResult:
    state: DataFrame
    supersteps: int  # number of supersteps executed (incl. superstep 0)
    aggs: dict[str, Any]
    history: list[dict[str, Any]]
    metrics: dict[str, Any]


class PregelRunner:
    """The VertexProgram adapter on RoundLoop: one superstep per round,
    plus checkpoint/resume."""

    def __init__(self, checkpoint_dir: str | None = None, checkpoint_every: int = 5):
        self.checkpoint_dir = checkpoint_dir
        self.checkpoint_every = checkpoint_every

    @staticmethod
    def _read(spark, checkpoint: str, part: str) -> DataFrame:
        """A checkpointed frame, lineage-cut eagerly (resume path)."""
        return spark.read.parquet(os.path.join(checkpoint, part)).localCheckpoint(
            eager=True
        )

    @staticmethod
    def _partition_lineage(df: DataFrame) -> list[dict[str, int]]:
        rows = (
            df.groupBy(F.spark_partition_id().alias("partition"))
            .agg(F.count(F.lit(1)).alias("rows"))
            .collect()
        )
        return sorted(
            ({"partition": int(r["partition"]), "rows": int(r["rows"])} for r in rows),
            key=lambda d: d["partition"],
        )

    def _write_checkpoint(
        self, program, s: int, state: DataFrame, messages: DataFrame | None, aggs: dict
    ) -> None:
        base = os.path.join(self.checkpoint_dir, program.name, f"superstep={s:05d}")
        state.write.mode("overwrite").parquet(os.path.join(base, "state"))
        meta = {
            "algorithm": program.name,
            "superstep": s,
            "aggregates": {k: v for k, v in aggs.items()},
            "has_messages": messages is not None,
            "state_lineage": self._partition_lineage(state),
            "wall_time": time.time(),
        }
        if messages is not None:
            messages.write.mode("overwrite").parquet(os.path.join(base, "messages"))
            meta["messages_lineage"] = self._partition_lineage(messages)
        with open(os.path.join(base, "meta.json"), "w") as f:
            json.dump(meta, f, indent=2, default=str)

    @staticmethod
    def latest_checkpoint(checkpoint_dir: str, algorithm: str) -> str | None:
        base = os.path.join(checkpoint_dir, algorithm)
        if not os.path.isdir(base):
            return None
        steps = sorted(
            d
            for d in os.listdir(base)
            if d.startswith("superstep=")
            and os.path.exists(os.path.join(base, d, "meta.json"))
        )
        return os.path.join(base, steps[-1]) if steps else None

    @staticmethod
    def _converged(program, s: int, aggs: dict, messages) -> bool:
        # MasterService.finishedIteration (MasterService.java:353-364):
        # master veto, or no messages in flight (vote-to-halt); the
        # round loop adds the superstep cap and the empty-state halt
        return not program.master_continue(s, aggs) or messages is None

    # -- main loop -------------------------------------------------------
    def run(
        self,
        program: VertexProgram,
        g,
        resume_from: str | None = None,
        on_superstep: Callable[[dict], None] | None = None,
        should_stop: Callable[[], bool] | None = None,
    ) -> RunResult:
        """`on_superstep` is invoked with each superstep's metrics dict
        right after the step completes — the worker->master per-step
        stats report (WorkerService.java:329-338). Raising from it
        aborts the loop between supersteps (the driver's cooperative
        cancel point). `should_stop` is polled BEFORE each superstep
        (including superstep 0) and raises RunAborted when true — so a
        cancel issued between submit and the first superstep stops the
        run with zero supersteps executed."""
        spark = g.vertices.sparkSession
        program.prepare(g)
        # the planner reads the edge count only when the graph already
        # knows it (from the build's materializing count)
        loop = RoundLoop(
            program.name,
            spark,
            max_rounds=program.max_supersteps,
            rows=getattr(g, "_ne", None),
            partitions=g.partitions,
            should_stop=should_stop,
            on_round=on_superstep,
        )
        s = -1
        state = messages = None
        aggs: dict[str, Any] = {}
        if resume_from:
            with open(os.path.join(resume_from, "meta.json")) as f:
                meta = json.load(f)
            s = loop.round = int(meta["superstep"])
            state = self._read(spark, resume_from, "state")
            if meta["has_messages"]:
                messages = self._read(spark, resume_from, "messages")
            aggs = dict(meta["aggregates"], **{SUPERSTEP: s})
            loop.decide(self._converged(program, s, aggs, messages))

        with loop:
            for s in loop:
                if s == 0:
                    out = program.superstep0(g)
                else:
                    out = program.superstep(s, g, state, messages, aggs)
                # the state is cut every superstep; messages stay lazy:
                # their plan roots at the cut state, and the next
                # superstep's one action consumes them exactly once
                state, row = loop.cut(out.state, **out.agg_exprs)
                messages = (
                    out.make_messages(state) if out.make_messages else None
                )
                aggs = dict(row.asDict(), **{SUPERSTEP: s})
                loop.finish(self._converged(program, s, aggs, messages))
                if self.checkpoint_dir and (
                    loop.halt_reason or (s > 0 and s % self.checkpoint_every == 0)
                ):
                    self._write_checkpoint(program, s, state, messages, aggs)

        metrics = {
            "algorithm": program.name,
            "supersteps": s + 1,
            **loop.metrics,
        }
        total = metrics["seconds"]
        metrics["supersteps_per_min"] = (s + 1) / total * 60.0 if total > 0 else None
        return RunResult(
            state=program.finalize(state),
            supersteps=s + 1,
            aggs=aggs,
            history=loop.history,
            metrics=metrics,
        )
