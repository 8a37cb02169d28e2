"""PersonalPageRank — single-source PPR, reference-exact.

Reference: /root/reference/computer-algorithm/.../centrality/ppr/
PersonalPageRank.java:45-158 + PersonalPageRank4Master.java +
PersonalPageRankValue.java:42-71.

Semantics reproduced:
- superstep 0 (:96-110): rank = 1 for the source, 0 otherwise; the
  cumulative aggregate (sum over all vertices) is therefore 1.0; only
  the source scatters rank/outdeg; every non-source (and a dangling
  source) INACTIVATES.
- superstep s>=1 (:113-144): compute() runs for the monotonically
  growing awake set — the source (it never inactivates after sending)
  plus every vertex that has EVER received a message (compute() has no
  inactivate call, so once woken a vertex recomputes every superstep).
  rank = (sum(msgs) * alpha + (1 - alpha) * [v == source]) / cum_prev,
  where cum_prev is the cumulative aggregate over the vertices that
  COMPUTED in the previous superstep (aggregators are re-created per
  superstep and only computing vertices aggregate, :89-93, :136).
  Computing vertices with out-edges scatter rank/outdeg (:139-143).
- halt: PersonalPageRank4Master: continue while superstep <= 1 or
  l1 > threshold. NOTE the reference computes its l1 diff AFTER
  overwriting the stored rank (PersonalPageRank.java:127-131:
  `ppr.contribRank(rank)` then `abs(ppr.contribRank() - rank)`), so
  the aggregated diff is identically 0 and the reference always stops
  after superstep 2. `reference_faithful=True` reproduces that;
  the default computes the diff against the pre-update rank, giving a
  real convergence loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hugegraph_computer_spark.engine.superstep import StepOutput, VertexProgram


class PersonalPageRank(VertexProgram):
    name = "ppr"

    def __init__(
        self,
        source: str,
        alpha: float = 0.85,
        l1_tol: float = 1e-5,
        max_supersteps: int = 10,
        reference_faithful: bool = False,
    ):
        # ppr.alpha default 0.85 (PersonalPageRank.java:50) — here alpha
        # is the FOLLOW probability (note: opposite role vs PageRank's)
        self.source = source
        self.alpha = alpha
        self.l1_tol = l1_tol
        self.max_supersteps = max_supersteps
        self.reference_faithful = reference_faithful

    def _scatter(self, edges):
        e = edges.select(F.col("src").alias("e_src"), F.col("dst").alias("e_dst"))

        def make(state: DataFrame) -> DataFrame:
            senders = state.where(
                F.col("computed") & (F.col("outdeg") > 0)
            ).select("id", (F.col("rank") / F.col("outdeg")).alias("contrib"))
            return senders.join(e, F.col("id") == F.col("e_src")).select(
                F.col("e_dst").alias("dst"), F.col("contrib").alias("msg")
            )

        return make

    def superstep0(self, g) -> StepOutput:
        deg = g.out_degrees()
        is_src = F.col("id") == F.lit(self.source)
        state = deg.select(
            "id",
            "outdeg",
            F.when(is_src, F.lit(1.0)).otherwise(F.lit(0.0)).alias("rank"),
            F.lit(0.0).alias("prev_rank"),
            is_src.alias("is_src"),
            # awake = will compute in later supersteps without a message
            (is_src & (F.col("outdeg") > 0)).alias("awake"),
            F.lit(True).alias("computed"),  # compute0 runs everywhere
        )
        return StepOutput(
            state=state, agg_exprs=self._aggs(), make_messages=self._scatter(g.edges)
        )

    @staticmethod
    def _aggs():
        computed = F.col("computed")
        rank_if = F.when(computed, F.col("rank")).otherwise(F.lit(0.0))
        diff_if = F.when(
            computed, F.abs(F.col("rank") - F.col("prev_rank"))
        ).otherwise(F.lit(0.0))
        return {"cumulative_rank": F.sum(rank_if), "l1_diff": F.sum(diff_if)}

    def superstep(self, s, g, state, messages, aggs) -> StepOutput:
        # no rank mass in the previous superstep (no computing vertex,
        # or a source absent from the graph): keep the ranks unscaled
        # instead of dividing by zero
        cum_prev = aggs["cumulative_rank"] or 1.0
        incoming = messages.groupBy("dst").agg(F.sum("msg").alias("msg_sum"))
        joined = state.join(incoming, state["id"] == incoming["dst"], "left")
        received = F.col("msg_sum").isNotNull()
        computes = F.col("awake") | received
        new_rank = (
            F.coalesce(F.col("msg_sum"), F.lit(0.0)) * F.lit(self.alpha)
            + F.lit(1.0 - self.alpha) * F.col("is_src").cast("double")
        ) / F.lit(cum_prev)
        new_state = joined.select(
            state["id"].alias("id"),
            "outdeg",
            F.when(computes, new_rank).otherwise(F.col("rank")).alias("rank"),
            F.col("rank").alias("prev_rank"),
            "is_src",
            computes.alias("awake"),  # woken vertices never re-inactivate
            computes.alias("computed"),
        )
        return StepOutput(
            state=new_state, agg_exprs=self._aggs(), make_messages=self._scatter(g.edges)
        )

    def master_continue(self, s: int, aggs: dict) -> bool:
        if s <= 1:
            return True
        l1 = 0.0 if self.reference_faithful else aggs["l1_diff"]
        return l1 > self.l1_tol

    def finalize(self, state: DataFrame) -> DataFrame:
        return state.select("id", "rank")


def ppr_topk(
    result: DataFrame,
    g,
    source: str,
    k: int = 100,
    exclude_direct: bool = True,
    rank_decimals: int = 9,
) -> DataFrame:
    """PersonalPageRankListOutput analogue: the reference emits at most
    TOP_N=100 entries (PersonalPageRankListOutput.java:30) after
    removing the source vertex itself and its direct out-edge targets
    (ListOutput.java:52-57); RESULT_LIMIT caps the collected map
    upstream (PersonalPageRank.java:51).

    Executed as orderBy(rank desc, id).limit(k) — Spark plans this as
    TakeOrderedAndProject (distributed per-partition top-k + driver
    merge of k rows), NOT a global sort, so it holds at any vertex
    count. Ranks are rounded before ordering so the cutoff is
    deterministic across engines (cross-engine float-sum convention of
    oracles/sql.py)."""
    res = result.select(
        "id", F.round("rank", rank_decimals).alias("rank")
    ).where(F.col("id") != F.lit(source))
    if exclude_direct:
        nbrs = (
            g.edges.where(F.col("src") == F.lit(source))
            .select(F.col("dst").alias("id"))
            .distinct()
        )
        res = res.join(nbrs, "id", "left_anti")
    return res.orderBy(F.desc("rank"), F.asc("id")).limit(k)
