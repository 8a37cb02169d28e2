"""PageRank with the reference's exact semantics.

Reference: /root/reference/computer-algorithm/.../centrality/pagerank/
PageRank.java:35-161 + PageRank4Master.java:34-126. The non-textbook
details reproduced here (required for allclose 1e-6 parity):

- superstep 0 (compute0, PageRank.java:68-80): rank = 1/N for all;
  cumulative-rank aggregator = Σ rank = 1.0; dangling aggregators seeded
  from dangling vertices; each non-dangling vertex scatters rank/outdeg.
- superstep s>=1 (compute, :83-105): with PREVIOUS superstep aggregates
  (beforeSuperstep, :119-141):
      dangling = dangling_cum_prev / N
      rank     = (dangling + Σ incoming) * (1 - alpha) + alpha / N
      rank    /= cumulative_prev          <- running normalization
  every vertex recomputes every superstep (PageRank never inactivates);
  l1 += |old - new|; new cumulative/dangling aggregates from new ranks.
- halt (PageRank4Master.java:99-104): superstep > 1 and l1 <= threshold
  (default 1e-5; this engine defaults 1e-6 per BASELINE.json), capped by
  max_supersteps (bsp.max_super_step, ComputerOptions.java:478-485).

Combiner = DoubleValueSum (PageRankParams.java:41-42) == groupBy(dst).sum
with Spark's map-side partial aggregation standing in for the reference's
send-buffer combine (CombineKvInnerSortFlusher.java:29-45).

Scale notes: messages are one shuffle (scatter join on src, co-located
when Graph.partitions set) + one shuffle (gather groupBy dst). Hot
destination vertices are absorbed by partial aggregation; set
`salted_gather=True` for extreme single-key skew (engine/skew.py).
Dangling mass and normalization are driver scalars — no extra shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hugegraph_computer_spark.engine.skew import salted_aggregate
from hugegraph_computer_spark.engine.superstep import StepOutput, VertexProgram


class PageRank(VertexProgram):
    name = "page_rank"

    def __init__(
        self,
        alpha: float = 0.15,
        l1_tol: float = 1e-6,
        max_supersteps: int = 100,
        salted_gather: bool = False,
    ):
        # alpha is the teleport probability (page_rank.alpha, default 0.15
        # = damping 0.85, PageRank.java:39-41)
        self.alpha = alpha
        self.l1_tol = l1_tol
        self.max_supersteps = max_supersteps
        self.salted_gather = salted_gather
        self._deg = None
        self._n = None

    def _scatter(self, edges):
        # rename once: lineage-carrying self-joins stay unambiguous
        e = edges.select(F.col("src").alias("e_src"), F.col("dst").alias("e_dst"))

        def make(state: DataFrame) -> DataFrame:
            # sendMessageToAllEdges(rank/outdeg), PageRank.java:77-79,102-104
            contrib = state.where(F.col("outdeg") > 0).select(
                "id", (F.col("rank") / F.col("outdeg")).alias("contrib")
            )
            return contrib.join(e, F.col("id") == F.col("e_src")).select(
                F.col("e_dst").alias("dst"), F.col("contrib").alias("msg")
            )

        return make

    def prepare(self, g) -> None:
        self._n = g.num_vertices
        if self._deg is None:
            # graph-memoized + persisted (Graph.out_degrees, round 6)
            self._deg = g.out_degrees()

    def superstep0(self, g) -> StepOutput:
        # an empty graph has no ranks to seed; its one superstep halts
        # on the empty state
        init = 1.0 / self._n if self._n else 0.0
        state = self._deg.select(
            "id",
            "outdeg",
            F.lit(float(init)).alias("rank"),
            F.lit(float(init)).alias("prev_rank"),
        )
        return StepOutput(
            state=state,
            agg_exprs=self._aggs(),
            make_messages=self._scatter(g.edges),
        )

    def _aggs(self):
        dangling = F.when(F.col("outdeg") == 0, F.col("rank")).otherwise(F.lit(0.0))
        return {
            "cumulative_rank": F.sum("rank"),
            "dangling_cumulative": F.sum(dangling),
            "dangling_vertices": F.sum((F.col("outdeg") == 0).cast("long")),
            "l1_diff": F.sum(F.abs(F.col("rank") - F.col("prev_rank"))),
        }

    def superstep(self, s, g, state, messages, aggs) -> StepOutput:
        n = self._n
        dangling_rank = aggs["dangling_cumulative"] / n  # PageRank.java:127
        cumulative = aggs["cumulative_rank"]  # :129
        teleport = self.alpha / n  # :128

        if self.salted_gather:
            incoming = salted_aggregate(
                messages, "dst", F.sum("msg"), out="msg_sum", merge="sum"
            )
        else:
            incoming = messages.groupBy("dst").agg(F.sum("msg").alias("msg_sum"))

        joined = state.join(incoming, state["id"] == incoming["dst"], "left")
        # PageRank.java:90-92 — the exact order of operations
        new_rank = (
            (F.lit(dangling_rank) + F.coalesce(F.col("msg_sum"), F.lit(0.0)))
            * F.lit(1.0 - self.alpha)
            + F.lit(teleport)
        ) / F.lit(cumulative)
        new_state = joined.select(
            state["id"].alias("id"),
            "outdeg",
            new_rank.alias("rank"),
            state["rank"].alias("prev_rank"),
        )
        return StepOutput(
            state=new_state,
            agg_exprs=self._aggs(),
            make_messages=self._scatter(g.edges),
        )

    def master_continue(self, s: int, aggs: dict) -> bool:
        # PageRank4Master.java:99-104
        if s > 1 and aggs["l1_diff"] <= self.l1_tol:
            return False
        return True

    def finalize(self, state: DataFrame) -> DataFrame:
        return state.select("id", "rank")
