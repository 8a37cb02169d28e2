"""LPA — label propagation, reference-exact.

Reference: /root/reference/computer-algorithm/.../community/lpa/
Lpa.java:37-102 (no combiner — the vote needs the raw label multiset).

Semantics reproduced exactly:
- superstep 0 (Lpa.java:50-55): label = own id, broadcast to out-edges.
- superstep s>=1 (:57-64): ONLY vertices that received messages vote
  (compute() is invoked only for message recipients; `assert
  messages.hasNext()` :69). The vote (voteLabel, :66-101) adopts the
  most frequent incoming label; ties broken by MINIMUM label
  (naturalOrder on ids == byte order). Voters rebroadcast their new
  label; non-recipients keep their label and stay silent.
- every vertex inactivates each step, so the run is capped by
  bsp.max_super_step (default 10 -> supersteps 0..9, i.e. 9 vote
  rounds; MasterService.java:353-364 stops at s >= max-1).

Spark mapping of the vote: groupBy(dst, label).count() then a
min_by over the (-freq, label) struct per dst — the max-frequency
label with ties broken by MINIMUM label (naturalOrder on ids == byte
order), as an aggregation with map-side partials instead of a
row_number window (round 6: same winner, no per-superstep sort). No
collect_list, no per-row Python. maxFreq starts at 1 (Lpa.java:82) so
a single message always wins — count>=1 always satisfies it.

Scale notes: the vote is two shuffles (count agg + winner agg by dst);
skewed in-degree hubs are absorbed by the partial aggregates, and the
count agg output is already tiny (distinct labels per dst), which
bounds the winner agg's input.

Halt accounting (round-6 optimization, guide §2.4): voters rebroadcast
to ALL out-edges, so the in-flight message count is EXACTLY
Σ outdeg over the `sent` frontier — an aggregate over the state the
runner already collects in its one agg pass, so no per-superstep
message-count job runs; the halt rule is value-identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hugegraph_computer_spark.engine.superstep import StepOutput, VertexProgram


class Lpa(VertexProgram):
    name = "lpa"

    def __init__(self, max_supersteps: int = 10):
        self.max_supersteps = max_supersteps

    @staticmethod
    def _aggs():
        return {
            "expected_msgs": F.sum(
                F.col("sent").cast("long") * F.col("outdeg")
            )
        }

    def master_continue(self, s: int, aggs: dict) -> bool:
        return aggs["expected_msgs"] != 0

    @staticmethod
    def _scatter(edges):
        e = edges.select(F.col("src").alias("e_src"), F.col("dst").alias("e_dst"))

        def make(state: DataFrame) -> DataFrame:
            senders = state.where(F.col("sent")).select("id", "label")
            return senders.join(e, F.col("id") == F.col("e_src")).select(
                F.col("e_dst").alias("dst"), F.col("label").alias("msg")
            )

        return make

    def superstep0(self, g) -> StepOutput:
        # graph-memoized degree table (shared with PageRank/SSSP/KCore)
        state = g.out_degrees().select(
            "id",
            F.col("id").alias("label"),
            F.lit(True).alias("sent"),
            "outdeg",
        )
        return StepOutput(
            state=state, agg_exprs=self._aggs(), make_messages=self._scatter(g.edges)
        )

    def superstep(self, s, g, state, messages, aggs) -> StepOutput:
        votes = messages.groupBy("dst", "msg").agg(F.count(F.lit(1)).alias("freq"))
        # winner = max freq, ties by MIN label == min over the
        # (-freq, label) lexicographic struct. An aggregation (with
        # map-side partials) instead of the previous row_number window,
        # which paid an extra sort per superstep for the same winner
        # (round 6; msg is unique per dst after the count groupBy, so
        # the struct order is total and the result identical).
        winners = votes.groupBy("dst").agg(
            F.min_by(
                "msg", F.struct((-F.col("freq")).alias("nf"), F.col("msg"))
            ).alias("new_label")
        )
        joined = state.join(winners, state["id"] == winners["dst"], "left")
        new_state = joined.select(
            state["id"].alias("id"),
            F.coalesce("new_label", F.col("label")).alias("label"),
            F.col("new_label").isNotNull().alias("sent"),
            "outdeg",
        )
        return StepOutput(
            state=new_state, agg_exprs=self._aggs(), make_messages=self._scatter(g.edges)
        )

    def finalize(self, state: DataFrame) -> DataFrame:
        return state.select("id", "label")
