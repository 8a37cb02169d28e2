"""HITS (Hyperlink-Induced Topic Search) — hubs & authorities.

Beyond the reference's A1-A16 inventory, but the canonical link-graph
companion to its PageRank (computer-algorithm/.../rank/pagerank/
PageRank.java:84-107 is the structural template: fixed-round mutual
recursion with per-round global normalization collected on the driver,
exactly like PageRank's cumulative-rank aggregator).

Semantics (Kleinberg, JACM 46(5), 1999 — power iteration with L2
normalization, the standard formulation):

  auth_t(v) = sum_{(u,v) in E} hub_{t-1}(u),   then auth_t /= ||auth_t||_2
  hub_t(v)  = sum_{(v,w) in E} auth_t(w),      then hub_t  /= ||hub_t||_2

over the DISTINCT edge set (multi-edges across etypes would otherwise
double-count endorsements; mirrors Graph.edges_single, the reference's
duplicate-edge collapse in EdgesInputSplitFetcher semantics). Vertices
with no in-edges have auth 0; no out-edges, hub 0. Fixed `supersteps`
rounds, init auth = hub = 1.0.

Scale design: per round exactly TWO E-sized shuffles (the dst-keyed
auth gather, then the src-keyed hub gather) plus two V-sized left
joins back to the vertex frame — the same per-superstep shuffle budget
as PageRank, so every scaling measurement in BENCH/BASELINE.md carries
over. Rounds run through the engine's RoundLoop: the UNNORMALIZED
round state is lineage-cut, and the cut's one agg action also yields
both L2 norms (normalization factors cancel through the linear gathers
— see the loop comment), which fold back as literals, so the round
plan stays constant-size. No Python UDFs, no driver-side row loops.
"""

from __future__ import annotations

import math
from dataclasses import dataclass
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hugegraph_computer_spark.engine.rounds import RoundLoop, pin


@dataclass
class HitsResult:
    state: DataFrame  # (id, auth, hub), both L2-normalized
    supersteps: int
    history: list[dict[str, Any]]  # RoundLoop per-round records
    metrics: dict[str, Any]  # halt_reason, planner, seconds


def hits(graph, supersteps: int = 10) -> HitsResult:
    """Run `supersteps` rounds of hub/authority power iteration over
    graph.edges' distinct (src, dst) pairs. Returns L2-normalized
    scores for every vertex.

    The two gather frames are lazy lineage cuts that materialize, with
    the round state, inside the round's single agg action (braw roots
    at araw's RDD; the next round's gather reads the stored state).
    """
    # the deduplicated edges are what every round iterates, so their
    # count (not the directed multi-edge count) feeds the planner
    de, de_row = pin(graph.edges.select("src", "dst").dropDuplicates(["src", "dst"]))
    vertices = graph.vertices.select("id")
    state = vertices.select(
        "id", F.lit(1.0).alias("auth"), F.lit(1.0).alias("hub")
    )
    loop = RoundLoop(
        "hits",
        graph.vertices.sparkSession,
        max_rounds=supersteps,
        rows=de_row["rows"],
        partitions=graph.partitions,
    )
    with loop:
        for _ in loop:
            # Normalization scalars cancel through the linear gathers:
            #   auth_t = A_t/||A_t||  with A_t   = gather_in(hub_{t-1})
            #   hub_t  = B_t/||B_t||  with B_t   = gather_out(auth_t)
            #                              = gather_out(A_t)/||A_t||
            # so BOTH gathers run on unnormalized sums, and both norms
            # are aggregates of the cut unnormalized state.
            araw = _gather(de, state.select("id", "hub"), "src", "dst", "hub")
            braw = _gather(
                de, araw.withColumnRenamed("_s", "auth"), "dst", "src", "auth"
            )
            raw, row = loop.cut(
                vertices.join(araw.withColumnRenamed("_s", "_a"), "id", "left")
                .join(braw.withColumnRenamed("_s", "_b"), "id", "left")
                .select(
                    "id",
                    F.coalesce(F.col("_a"), F.lit(0.0)).alias("_a"),
                    F.coalesce(F.col("_b"), F.lit(0.0)).alias("_b"),
                ),
                na=_l2("_a"),
                nb=_l2("_b"),
            )
            # edgeless graph: all-zero sums -> keep zero scores
            state = raw.select(
                "id",
                (F.col("_a") / F.lit(row["na"] or 1.0)).alias("auth"),
                (F.col("_b") / F.lit(row["nb"] or 1.0)).alias("hub"),
            )
            loop.finish()
    return HitsResult(
        state=state,
        supersteps=loop.round + 1,
        history=loop.history,
        metrics=loop.metrics,
    )


def _l2(c: str):
    return F.sqrt(F.sum(F.col(c) * F.col(c)))


def _gather(
    de: DataFrame, scores: DataFrame, src: str, dst: str, in_col: str
) -> DataFrame:
    """Sum `in_col` over the `src`-side endpoints into each `dst`
    endpoint — the per-half-round E-shuffle, returned as a lazy
    lineage cut (stored on first materialization, read as an RDD leaf
    by every later reference)."""
    return (
        de.join(scores.withColumnRenamed("id", src), src)
        .groupBy(F.col(dst).alias("id"))
        .agg(F.sum(in_col).alias("_s"))
        .localCheckpoint(eager=False)
    )


def hits_top(result: DataFrame, k: int, by: str = "auth") -> DataFrame:
    """Reference-style RESULT_LIMIT output cap: top-k by `by` with a
    deterministic (rounded-score, id) tie-break — TakeOrderedAndProject,
    never a full sort at scale."""
    return result.orderBy(
        F.round(F.col(by), 6).desc(), F.col("id").asc()
    ).limit(k)


def hits_reference_check(edges: list[tuple[str, str]], supersteps: int) -> dict:
    """Pure-Python replay of the identical update rule for pytest parity
    (no Spark): returns {id: (auth, hub)}."""
    nodes = sorted({v for e in edges for v in e})
    dedup = sorted(set(edges))
    auth = {v: 1.0 for v in nodes}
    hub = {v: 1.0 for v in nodes}
    for _ in range(supersteps):
        auth = {v: 0.0 for v in nodes}
        for u, v in dedup:
            auth[v] += hub[u]
        n = math.sqrt(sum(x * x for x in auth.values()))
        auth = {v: x / n for v, x in auth.items()}
        hub = {v: 0.0 for v in nodes}
        for u, v in dedup:
            hub[u] += auth[v]
        n = math.sqrt(sum(x * x for x in hub.values()))
        hub = {v: x / n for v, x in hub.items()}
    return {v: (auth[v], hub[v]) for v in nodes}
