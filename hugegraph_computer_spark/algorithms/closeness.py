"""ClosenessCentrality — per-vertex map of shortest in-distances,
C(v) = sum over reachable starts of 1/d(start -> v).

Reference: /root/reference/computer-algorithm/.../centrality/closeness/
ClosenessCentrality.java:82-173 + ClosenessCentralityOutput.java:50-56.
Every vertex floods (start, distance) pairs along out-edges; receivers
keep the per-start minimum (skipping start == self), forward
improvements with the edge weight added (default 1.0 when the weight
property is absent), and the final centrality is sum(1/d) over the
distance map. The reference's sender/start exclusions when forwarding
(ClosenessCentrality.java:137-141) and its optional random edge
sampling only prune redundant messages — with positive weights the
min-distance fixpoint is unchanged — so this implementation gathers
with a (dst, start) min-combiner and scatters only improvements
(sample_rate = 1.0, the reference default).

State here is the exploded form of the reference's MapValue: one row
per (vertex, start) pair instead of a map column — Spark-first (joins/
aggregations instead of per-row map mutation), spill-safe, and the
pair count is bounded by reachability, not V^2, on sparse DAG-ish
graphs. The fixpoint runs on the engine's RoundLoop (vote-to-halt ==
frontier empties), not through the vertex-state runner, because state
is per-PAIR.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hugegraph_computer_spark.engine.rounds import RoundLoop


def closeness_centrality(
    g, max_rounds: int = 64, sample_rate: float | None = None
) -> DataFrame:
    """Returns (id, n_reachable, centrality) for every vertex;
    centrality = 0.0 for vertices nothing reaches.

    sample_rate: the reference's sampling lever
    (ClosenessCentrality.java:46-47,156-159) — restrict the START set to
    the deterministic md5-hash sample (source_sample_predicate), so the
    per-(vertex, start) state is linear in the sampled-start count.
    At 10^12-turn scale full closeness floods V^2 pairs; the sampled
    estimator is how this runs there (centrality sums 1/d over sampled
    starts only — an unbiased 1/rate-scalable estimate)."""
    from hugegraph_computer_spark.algorithms.betweenness import (
        source_sample_predicate,
    )

    e = g.edges.select(
        F.col("src").alias("e_src"),
        F.col("dst").alias("e_dst"),
        F.coalesce(F.col("weight"), F.lit(1.0)).alias("w"),
    )

    # round 0 cuts the seed frontier (start=self, dist=w) to every
    # out-target; each later round forwards improvements and cuts the
    # next frontier, and an empty frontier halts the loop (vote-to-halt)
    frontier = e.select(
        F.col("e_dst").alias("id"),
        F.col("e_src").alias("start"),
        F.col("w").alias("dist"),
    ).where(F.col("id") != F.col("start"))
    if sample_rate is not None:
        frontier = frontier.where(
            source_sample_predicate(F.col("start"), sample_rate)
        )
    frontier = frontier.groupBy("id", "start").agg(F.min("dist").alias("dist"))
    spark = g.vertices.sparkSession
    with RoundLoop("closeness", spark, max_rounds=max_rounds + 1) as loop:
        for i in loop:
            if i > 0:
                # forward improvements: dist + w to out-targets (skip
                # start/self), kept only where they beat the state
                fwd = (
                    frontier.join(e, frontier["id"] == e["e_src"])
                    .select(
                        F.col("e_dst").alias("id"),
                        "start",
                        (F.col("dist") + F.col("w")).alias("dist"),
                    )
                    .where((F.col("id") != F.col("start")))
                )
                cand = fwd.groupBy("id", "start").agg(F.min("dist").alias("dist"))
                old = dists.select("id", "start", F.col("dist").alias("old"))
                frontier = (
                    cand.join(old, ["id", "start"], "left")
                    .where(F.col("old").isNull() | (F.col("dist") < F.col("old")))
                    .select("id", "start", "dist")
                )
            frontier, row = loop.cut(frontier)
            loop.finish()
            if i == 0:
                dists = frontier  # accumulated per-(vertex,start) minima
            elif row["rows"]:  # an empty frontier improves nothing
                # lazy cut: materialized by the next round's improvement
                # join (or the final centrality aggregation)
                dists = (
                    dists.unionByName(frontier)
                    .groupBy("id", "start")
                    .agg(F.min("dist").alias("dist"))
                ).localCheckpoint(eager=False)

    cent = dists.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_reachable"),
        F.sum(1.0 / F.col("dist")).alias("centrality"),
    )
    return g.vertices.join(cent, "id", "left").select(
        "id",
        F.coalesce("n_reachable", F.lit(0)).cast("long").alias("n_reachable"),
        F.coalesce("centrality", F.lit(0.0)).alias("centrality"),
    )
