"""SSSP — single/multi-source shortest paths, min-distance relaxation.

Reference: /root/reference/computer-algorithm/.../path/sssp/
Sssp.java:21-128: value starts at -1 (unreached sentinel, :58); source
vertices start at 0 and scatter edge weights (weight property, default
1.0 when absent, :88-91); combiner is ValueMin; on message, adopt if
smaller (:108-112); result is the min-distance fixpoint; -1 for
vertices never reached.

Divergence (documented): the reference re-broadcasts dist+w on EVERY
message receipt (Sssp.java compute loop) and stops only at the
superstep cap; this engine scatters only from vertices whose distance
IMPROVED (the standard frontier optimization). The fixpoint values are
identical; message volume drops from O(E · supersteps) to O(E · diam)
worst case and the loop halts itself when the frontier empties. Late
rounds broadcast the (tiny) frontier instead of shuffling (skew.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hugegraph_computer_spark.engine.skew import maybe_broadcast
from hugegraph_computer_spark.engine.superstep import StepOutput, VertexProgram

INF = float("inf")


class Sssp(VertexProgram):
    name = "sssp"
    # the frontier scatters to ALL out-edges, so the in-flight message
    # count is EXACTLY Σ outdeg over the changed frontier — an aggregate
    # in the runner's one agg pass

    def __init__(self, sources: list[str], max_supersteps: int = 200):
        self.sources = list(sources)
        self.max_supersteps = max_supersteps

    @staticmethod
    def _aggs():
        return {
            "expected_msgs": F.sum(
                F.col("changed").cast("long") * F.col("outdeg")
            )
        }

    def master_continue(self, s: int, aggs: dict) -> bool:
        return aggs["expected_msgs"] != 0

    def _scatter(self, edges):
        e = edges.select(
            F.col("src").alias("e_src"),
            F.col("dst").alias("e_dst"),
            F.col("weight").alias("e_weight"),
        )

        def make(state: DataFrame) -> DataFrame:
            frontier = state.where(F.col("changed")).select("id", "dist")
            return frontier.join(e, F.col("id") == F.col("e_src")).select(
                F.col("e_dst").alias("dst"),
                (
                    F.col("dist") + F.coalesce(F.col("e_weight"), F.lit(1.0))
                ).alias("msg"),
            )

        return make

    def superstep0(self, g) -> StepOutput:
        is_src = F.col("id").isin(self.sources)
        # graph-memoized degree table (shared with PageRank/LPA/KCore)
        state = g.out_degrees().select(
            "id",
            F.when(is_src, F.lit(0.0)).otherwise(F.lit(INF)).alias("dist"),
            is_src.alias("changed"),
            "outdeg",
        )
        return StepOutput(
            state=state, agg_exprs=self._aggs(), make_messages=self._scatter(g.edges)
        )

    def superstep(self, s, g, state, messages, aggs) -> StepOutput:
        # expected_msgs == the exact prior message count, so the
        # broadcast decision is unchanged from the counted-messages era
        prev_msg_count = aggs.get("expected_msgs")
        incoming = messages.groupBy("dst").agg(F.min("msg").alias("msg_min"))
        incoming = maybe_broadcast(incoming, prev_msg_count)
        joined = state.join(incoming, state["id"] == incoming["dst"], "left")
        improved = F.col("msg_min").isNotNull() & (F.col("msg_min") < F.col("dist"))
        new_state = joined.select(
            state["id"].alias("id"),
            F.when(improved, F.col("msg_min")).otherwise(F.col("dist")).alias("dist"),
            improved.alias("changed"),
            "outdeg",
        )
        return StepOutput(
            state=new_state, agg_exprs=self._aggs(), make_messages=self._scatter(g.edges)
        )

    def finalize(self, state: DataFrame) -> DataFrame:
        # -1.0 = unreached (Sssp.java:58)
        return state.select(
            "id",
            F.when(F.col("dist") == F.lit(INF), F.lit(-1.0))
            .otherwise(F.col("dist"))
            .alias("dist"),
        )
