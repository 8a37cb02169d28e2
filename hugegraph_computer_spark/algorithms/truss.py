"""k-truss decomposition — iterative triangle-support edge peeling.

The k-truss is the maximal subgraph in which every edge closes at
least k-2 triangles WITHIN the subgraph (Cohen, "Trusses: cohesive
subgraphs for social network analysis", NSA tech report 2008) — the
standard cohesion notion one notch stronger than the reference's
k-core (computer-algorithm/.../community/kcore/Kcore.java, A10): a
k-core bounds vertex degree, a k-truss bounds edge embeddedness, and
the peeling loop has the identical alternate-remove-and-recheck shape
as the reference's k-core superstep cascade.

Algorithm, on the canonical undirected edge set (u < v, deduped,
self-loop-free — the TriangleCount input view):

  repeat:
    support(u,v) = # triangles containing (u,v) in the CURRENT set
    drop every edge with support < k-2
  until no edge is dropped

Triangles are enumerated once each via DEGREE-ORDERED wedges: vertices
are ranked by (degree-within-the-current-subgraph, id), each canonical
edge is oriented low-rank → high-rank, and every triangle appears as
exactly one wedge at its lowest-rank corner, closed by a semi-join —
the same orientation the gated `triangle_count` uses. Support must be
recomputed INSIDE the shrinking subgraph, so the degree agg + wedge
join re-run per peel round. Per round: one V-sized degree agg, one
self-join shuffle, one membership semi-join + one support aggregation,
all JVM-side; each peel is one RoundLoop round, whose lazy lineage
cut's materializing count doubles as the convergence check (one action,
one store per round). Removal cascades terminate in a handful of rounds in
practice (peeling only re-examines survivors); `max_rounds` bounds the
loop defensively and WARNS when exhausted before the fixpoint.

Scale note: with (degree, id) orientation the wedge fan-out through
any pivot is bounded by its lowest-degree endpoint's out-degree —
O(E·arboricity) candidates total instead of hub-deg² — which is what
keeps a star-heavy 100-TB graph feasible; the id-canonical orientation
this replaces paid ~deg² through every high-byte-order hub."""

from __future__ import annotations

import warnings
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hugegraph_computer_spark.engine.rounds import RoundLoop, cut


@dataclass
class TrussResult:
    edges: DataFrame  # (u, v, support) — the k-truss subgraph
    rounds: int


def _wedge_support(e: DataFrame) -> DataFrame:
    """Per-edge triangle count within the canonical edge set `e`(u, v):
    enumerate each triangle once at its lowest-(degree, id)-rank corner,
    then credit all three edges (canonical id order)."""
    deg = (
        e.select(F.col("u").alias("x"))
        .unionAll(e.select(F.col("v").alias("x")))
        .groupBy("x")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    with_deg = e.join(
        deg.select(F.col("x").alias("u"), F.col("d").alias("du")), "u"
    ).join(deg.select(F.col("x").alias("v"), F.col("d").alias("dv")), "v")
    # orient low-rank -> high-rank under rank(x) = (deg(x), x); e is
    # id-canonical (u < v), so equal degrees orient u -> v
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    o = with_deg.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("lo"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("hi"),
        F.when(u_first, F.col("dv")).otherwise(F.col("du")).alias("dhi"),
    )
    left = o.select(F.col("lo").alias("p"), F.col("hi").alias("a"), F.col("dhi").alias("da"))
    right = o.select(F.col("lo").alias("p"), F.col("hi").alias("b"), F.col("dhi").alias("db"))
    rank_lt = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    tri = (
        left.join(right, "p")
        .where(rank_lt)
        .join(
            o.select(F.col("lo").alias("a"), F.col("hi").alias("b")),
            ["a", "b"],
            "left_semi",
        )
        .select("p", "a", "b")
    )
    sides = (
        tri.select(F.least("p", "a").alias("u"), F.greatest("p", "a").alias("v"))
        .unionAll(
            tri.select(F.least("p", "b").alias("u"), F.greatest("p", "b").alias("v"))
        )
        .unionAll(
            tri.select(F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v"))
        )
    )
    return sides.groupBy("u", "v").agg(F.count("*").alias("support"))


def ktruss(graph, k: int = 4, max_rounds: int = 30) -> TrussResult:
    """Peel to the k-truss; returns surviving (u, v, support) with the
    support measured inside the final subgraph, plus the round count."""
    if k < 3:
        raise ValueError(f"k-truss needs k >= 3, got {k}")
    edges, r = cut(
        graph.undirected_single()
        .edges.where(F.col("src") < F.col("dst"))
        .select(F.col("src").alias("u"), F.col("dst").alias("v"))
    )
    n_edges = r["rows"]
    # one peel per round; the cut's row count is the convergence check
    # (survivors ⊆ edges, so an equal count is the fixpoint), and an
    # empty survivor set halts the loop on its own
    spark = graph.vertices.sparkSession
    with RoundLoop("ktruss", spark, max_rounds=max_rounds) as loop:
        for _ in loop:
            # edges with zero triangles fall out of the aggregation and
            # are thereby dropped — correct for every k >= 3 (0 < k-2)
            survivors, row = loop.cut(
                _wedge_support(edges).where(F.col("support") >= k - 2)
            )
            loop.finish(converged=row["rows"] == n_edges)
            n_edges = row["rows"]
            edges = survivors.select("u", "v")
    if loop.halt_reason == "max_rounds":
        # the peel is still cascading: the edge set is NOT yet a
        # k-truss — surface it instead of shipping a silently
        # non-converged result (the oracle's fixed unroll would diverge
        # from it with no diagnostic otherwise)
        warnings.warn(
            f"ktruss(k={k}) exhausted max_rounds={max_rounds} before the "
            "peel converged; the returned edge set is not a fixpoint",
            RuntimeWarning,
            stacklevel=2,
        )
    return TrussResult(edges=survivors, rounds=loop.round + 1)
