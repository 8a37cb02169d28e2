"""RingsDetection — directed cycle enumeration, reference-exact.

Reference: /root/reference/computer-algorithm/.../path/rings/
RingsDetection.java:34-120. Semantics reproduced:
- superstep 0 (:49-68): every vertex with out-edges sends path=[self]
  to out-targets with target >= self (only the path-min vertex may
  originate its rings).
- superstep s (:71-118): per message: if dst == path[0] and dst is the
  minimum of the whole path, record ring path + [dst] (:76-92);
  else if dst not already on the path, append dst and forward to
  out-targets with target >= path[0] (:93-113); vote-to-halt when no
  messages arrive.
Each directed cycle is therefore enumerated exactly once, anchored at
its minimum vertex, in its rotation starting and ending there.

Spark shape: the frontier is a DataFrame of (dst, path: array<string>)
rows — explode-free joins, `array_contains` for the revisit check,
`array_min` for the min-anchor check. Path growth is the inherent cost
of cycle enumeration; `max_len` caps it (the reference relies on
bsp.max_super_step the same way, default 10). Frontier rows shuffle on
dst, so hub fan-out is AQE-skew-split like any other join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hugegraph_computer_spark.engine.rounds import RoundLoop


def rings_detection(g, max_len: int = 10, edge_filter=None) -> DataFrame:
    """Returns (start, ring: array<string>) — every directed cycle whose
    minimum vertex is `start`, as the rotation [start, ..., start].

    edge_filter (optional boolean Column over edge rows) is the
    RingsDetectionWithFilter variant (reference A13,
    .../path/rings/filter/RingsDetectionWithFilter.java): the
    reference's aviator spread-expressions become Spark Column
    predicates applied to the spread edges."""
    spark = g.vertices.sparkSession
    from hugegraph_computer_spark.functions import predicate

    edge_filter = predicate(edge_filter)  # config strings compile via F.expr
    edges = g.edges if edge_filter is None else g.edges.where(edge_filter)
    e = edges.select(F.col("src").alias("e_src"), F.col("dst").alias("e_dst"))

    # round 0 cuts the seed frontier path=[src] to targets >= src
    # (RingsDetection.java:60-66); each later round closes rings and
    # cuts the next frontier. An empty frontier halts the loop
    # (vote-to-halt); max_len caps the rings' hop count.
    frontier = e.where(F.col("e_src") <= F.col("e_dst")).select(
        F.col("e_dst").alias("dst"), F.array(F.col("e_src")).alias("path")
    )
    rings = spark.createDataFrame([], "start string, ring array<string>")
    with RoundLoop("rings", spark, max_rounds=max_len) as loop:
        for hop in loop:
            if hop > 0:
                closed = frontier.where(
                    (F.col("dst") == F.col("path")[0])
                    & (F.col("dst") == F.array_min("path"))
                ).select(
                    F.col("dst").alias("start"),
                    F.concat(F.col("path"), F.array(F.col("dst"))).alias("ring"),
                )
                rings = rings.unionByName(closed).localCheckpoint(eager=False)
                extend = frontier.where(
                    (F.col("dst") != F.col("path")[0])
                    & ~F.array_contains("path", F.col("dst"))
                ).select(
                    "dst", F.concat(F.col("path"), F.array(F.col("dst"))).alias("path")
                )
                frontier = (
                    extend.join(e, extend["dst"] == e["e_src"])
                    # forward only to targets >= ringId == path[0] (:108-110)
                    .where(F.col("path")[0] <= F.col("e_dst"))
                    .select(F.col("e_dst").alias("dst"), "path")
                )
            frontier, _ = loop.cut(frontier)
            loop.finish()
    return rings


def rings_as_strings(g, max_len: int = 10) -> DataFrame:
    """(start, ring: '->'-joined string) — hashable form for oracles."""
    return rings_detection(g, max_len).select(
        "start", F.array_join("ring", "->").alias("ring")
    )
