"""WCC — min-id label propagation, reference-exact.

Reference: /root/reference/computer-algorithm/.../community/wcc/
Wcc.java:34-73 + WccParams.java (combiner = ValueMinCombiner).

Semantics reproduced exactly:
- superstep 0 (Wcc.java:47-60): value = min(own id, out-neighbor ids);
  send value only to out-targets STRICTLY GREATER than value
  (sendMessageToAllEdgesIf, ComputationContext.java:64-75).
- superstep s>=1 (:62-72): only vertices that received messages run;
  message = min of incoming (ValueMin combiner == groupBy(dst).min);
  if message < value: adopt and rebroadcast to ALL out-edges.
- vote-to-halt every step: the loop ends when no messages are in flight.
- messages flow along OUT-edges only (input.edge_direction default OUT,
  ComputerOptions.java:147-156): the reference computes components of
  the graph as loaded; run on Graph.both_direction() for true weakly-
  connected components.

Id comparison is byte order (BytesId.java:224-231). Spark's default
UTF8_BINARY collation also compares raw UTF-8 bytes, and UTF-8 byte
order equals code-point order by construction, so min-label
tie-breaks agree with the reference for ANY string id — ASCII or not
(pinned by tests/test_algorithms.py::test_wcc_lpa_tiebreak_non_ascii_ids;
non-string id types such as the reference's UUID would need their own
encoding).

Scale notes: the changed-frontier shrinks geometrically; once the
previous round's frontier is below the broadcast threshold the
scatter join broadcasts the frontier instead of shuffling O(E)
(engine/skew.py — the north rule's "broadcast of small label frontiers").

Halt accounting (round-6 optimization, guide §2.4 "remove shuffles/jobs
outright"): vertices rebroadcast to ALL out-edges when they adopt a
smaller label (s >= 1), so the in-flight message count equals
Σ outdeg over the changed frontier — an aggregate over the state the
runner already collects, so no per-superstep message-count job runs;
the halt rule is value-identical for every superstep >= 1. Superstep 0's scatter filters msg < dst, so its
expected count is an overcount — on a graph whose step-0 messages are
all filtered the loop runs one extra (state-identical) superstep; no
result changes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hugegraph_computer_spark.engine.skew import maybe_broadcast
from hugegraph_computer_spark.engine.superstep import StepOutput, VertexProgram


class Wcc(VertexProgram):
    name = "wcc"

    def __init__(self, max_supersteps: int = 200):
        self.max_supersteps = max_supersteps

    def superstep0(self, g) -> StepOutput:
        # one edge pass yields BOTH the min out-neighbor and outdeg
        nbr = g.edges.groupBy(F.col("src").alias("id")).agg(
            F.min("dst").alias("nbr_min"),
            F.count(F.lit(1)).alias("outdeg"),
        )
        state = g.vertices.join(nbr, "id", "left").select(
            "id",
            F.least(F.col("id"), F.coalesce("nbr_min", F.col("id"))).alias("comp"),
            F.lit(True).alias("changed"),
            F.coalesce("outdeg", F.lit(0)).alias("outdeg"),
        )
        e = g.edges.select(F.col("src").alias("e_src"), F.col("dst").alias("e_dst"))

        def make(state: DataFrame) -> DataFrame:
            frontier = state.select("id", "comp")
            msgs = frontier.join(e, F.col("id") == F.col("e_src")).select(
                F.col("e_dst").alias("dst"), F.col("comp").alias("msg")
            )
            # sendMessageToAllEdgesIf(value < target), Wcc.java:57-59
            return msgs.where(F.col("msg") < F.col("dst"))

        return StepOutput(state=state, agg_exprs=self._aggs(), make_messages=make)

    @staticmethod
    def _aggs():
        changed = F.col("changed").cast("long")
        return {
            "changed": F.sum(changed),
            # exact in-flight message count for s >= 1 (senders
            # rebroadcast to ALL out-edges); upper bound at s = 0
            "expected_msgs": F.sum(changed * F.col("outdeg")),
        }

    def master_continue(self, s: int, aggs: dict) -> bool:
        # vote-to-halt on the aggregate: no senders -> no messages
        return aggs["expected_msgs"] != 0

    def superstep(self, s, g, state, messages, aggs) -> StepOutput:
        # expected_msgs == the prior message count (exact for s >= 1),
        # so the frontier-broadcast decision matches the counted era
        prev_frontier = aggs.get("expected_msgs")
        # ValueMin combiner == min-gather (WccParams.java:39-40)
        incoming = messages.groupBy("dst").agg(F.min("msg").alias("msg_min"))
        joined = state.join(incoming, state["id"] == incoming["dst"], "left")
        new_state = joined.select(
            state["id"].alias("id"),
            F.when(
                F.col("msg_min").isNotNull() & (F.col("msg_min") < F.col("comp")),
                F.col("msg_min"),
            )
            .otherwise(F.col("comp"))
            .alias("comp"),
            (
                F.col("msg_min").isNotNull() & (F.col("msg_min") < F.col("comp"))
            ).alias("changed"),
            "outdeg",
        )
        e = g.edges.select(F.col("src").alias("e_src"), F.col("dst").alias("e_dst"))

        def make(state: DataFrame) -> DataFrame:
            # only vertices that adopted a smaller label rebroadcast, and
            # they rebroadcast to ALL out-edges (Wcc.java:67-70)
            frontier = state.where(F.col("changed")).select("id", "comp")
            frontier = maybe_broadcast(frontier, prev_frontier)
            return frontier.join(e, F.col("id") == F.col("e_src")).select(
                F.col("e_dst").alias("dst"), F.col("comp").alias("msg")
            )

        return StepOutput(state=new_state, agg_exprs=self._aggs(), make_messages=make)

    def finalize(self, state: DataFrame) -> DataFrame:
        return state.select("id", "comp")
