"""Links — predicate-driven path extraction, reference semantics.

Reference: /root/reference/computer-algorithm/.../path/links/
Links.java:36-130 (+ LinksConditionDescribe.java, LinksSpreadFilter.java):
start vertices emit a walk; the walk spreads along edges passing an
edge predicate; when it reaches an END vertex — or traverses an edge
passing the END-EDGE predicate (Links.java:107-129) — the path is
recorded at the terminal vertex and the walk stops (end vertices do
not forward, Links.java:53-56/:85-88). The reference's aviator
expression predicates map to Spark Column expressions or config
strings (`functions/expressions.predicate`).

record_edges=True mirrors the reference's edge-ids-in-path recording:
path elements alternate vertex ids and "-[etype]->" edge markers (our
derived edges are identified by (src, dst, etype)). Default False
keeps the vertex-only paths (and the gate's oracle shape).
No cycle check exists in the reference either — max_rounds bounds the
walk exactly like bsp.max_super_step.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from hugegraph_computer_spark.engine.rounds import RoundLoop


def links(
    g,
    start: Column | str,
    end: Column | str,
    edge_filter: Column | str | None = None,
    max_rounds: int = 10,
    record_edges: bool = False,
    end_edge: Column | str | None = None,
) -> DataFrame:
    """start/end: boolean predicates over vertex `id`; edge_filter /
    end_edge: boolean predicates over edge columns. Returns
    (id, path: array<string>) — one row per recorded walk, at the
    vertex that recorded it."""
    spark = g.vertices.sparkSession
    from hugegraph_computer_spark.functions import predicate

    start, end = predicate(start), predicate(end)
    edge_filter = predicate(edge_filter)  # config strings compile via F.expr
    end_edge = predicate(end_edge)
    edges = g.edges if edge_filter is None else g.edges.where(edge_filter)
    e = edges.select(
        F.col("src").alias("e_src"),
        F.col("dst").alias("e_dst"),
        F.col("etype").alias("e_etype"),
        (end_edge if end_edge is not None else F.lit(False)).alias("e_end"),
    )

    # lazy cut: stored by round 0's action, then read by every round
    verts = g.vertices.select(
        "id", start.alias("is_start"), end.alias("is_end")
    ).localCheckpoint(eager=False)

    def _step_path(path_col):
        """Path extension for one traversed edge: optional edge marker,
        then the destination vertex (appended by the caller)."""
        if record_edges:
            return F.concat(
                path_col,
                F.array(F.concat(F.lit("-["), F.col("e_etype"), F.lit("]->"))),
            )
        return path_col

    def _spread(at_vertices: DataFrame):
        """(id, path) rows -> (ended-at-edge results, next frontier)."""
        sp = at_vertices.join(e, at_vertices["id"] == e["e_src"])
        ended = sp.where(F.col("e_end")).select(
            F.col("e_dst").alias("id"),
            F.concat(_step_path(F.col("path")), F.array(F.col("e_dst"))).alias(
                "path"
            ),
        )
        nxt = sp.where(~F.col("e_end")).select(
            F.col("e_dst").alias("dst"), _step_path(F.col("path")).alias("path")
        )
        return ended, nxt

    # compute0: start vertices that are themselves end record [self];
    # the others spread path=[self] along passing edges
    starts = verts.where("is_start")
    results = spark.createDataFrame([], "id string, path array<string>").unionByName(
        starts.where("is_end").select("id", F.array(F.col("id")).alias("path"))
    )
    at = starts.where(~F.col("is_end")).select("id", F.array(F.col("id")).alias("path"))
    # round 0 cuts the seed frontier, each later round walks it one hop
    # and cuts the next one; an empty frontier halts the loop, and
    # max_rounds bounds the walk like bsp.max_super_step
    with RoundLoop("links", spark, max_rounds=max_rounds + 1) as loop:
        for i in loop:
            if i > 0:
                cur = frontier.join(verts, frontier["dst"] == verts["id"]).select(
                    "id", F.concat("path", F.array(F.col("id"))).alias("path"), "is_end"
                )
                results = results.unionByName(
                    cur.where("is_end").select("id", "path")
                )
                at = cur.where(~F.col("is_end")).select("id", "path")
            edge_ended, frontier = _spread(at)
            if end_edge is not None:
                results = results.unionByName(edge_ended)
            results = results.localCheckpoint(eager=False)
            frontier, _ = loop.cut(frontier)
            loop.finish()
    return results


def links_as_strings(
    g, start, end, edge_filter=None, max_rounds=10, record_edges=False,
    end_edge=None,
) -> DataFrame:
    sep = "" if record_edges else "->"  # edge markers carry their own arrows
    return links(
        g, start, end, edge_filter, max_rounds, record_edges, end_edge
    ).select("id", F.array_join("path", sep).alias("path"))
