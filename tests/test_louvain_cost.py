"""Louvain's cost shape: the singleton baseline read off the level-0
action, modularity from one aggregate row, no coarsening after the last
level, no persisted RDD left behind, and `max_levels=0` is the
singleton partition (in the Spark operator and in its oracle)."""

from __future__ import annotations

import gc
import time

import pytest
from pyspark.sql import functions as F

from hugegraph_computer_spark.algorithms import louvain as louvain_mod
from hugegraph_computer_spark.algorithms.louvain import (
    _level0,
    _undirected_adj,
    louvain,
    modularity,
)
from hugegraph_computer_spark.graph import Graph
from hugegraph_computer_spark.oracles import py_reference as oracle

# two triangles bridged by one edge, plus an isolated vertex
TRIANGLES = [
    ("a", "b"), ("b", "c"), ("c", "a"),
    ("d", "e"), ("e", "f"), ("f", "d"),
    ("c", "d"),
]
NODES = ["a", "b", "c", "d", "e", "f", "g"]


@pytest.fixture(scope="module")
def triangles(spark, sf_graph):
    return Graph(
        vertices=spark.createDataFrame([(v,) for v in NODES], sf_graph.vertices.schema),
        edges=spark.createDataFrame(
            [(s, d, "reply", 1.0) for s, d in TRIANGLES],
            "src string, dst string, etype string, weight double",
        ).select(*sf_graph.edges.columns),
        partitions=2,
    )


def _singletons(adj):
    return adj.select(F.col("src").alias("id")).distinct().select(
        "id", F.col("id").alias("c")
    )


def test_max_levels_zero_is_the_singleton_partition(triangles):
    got = {r["id"]: r["community"] for r in louvain(triangles, max_levels=0).collect()}
    want = oracle.louvain(
        [(s, d, 1.0) for s, d in TRIANGLES], NODES, max_levels=0
    )
    assert got == want == {v: v for v in NODES}


def test_no_coarsening_after_the_last_level(triangles, monkeypatch):
    calls = []
    real = louvain_mod._coarsen

    def spy(adj, comm):
        calls.append(1)
        return real(adj, comm)

    monkeypatch.setattr(louvain_mod, "_coarsen", spy)
    hist: list = []
    louvain(triangles, max_levels=1, history=hist).collect()
    assert hist[0]["moves"] > 0  # level 0 gained, so only the cap stops it
    assert calls == []
    # with a second level allowed, level 0's communities are coarsened once
    louvain(triangles, max_levels=2).collect()
    assert calls == [1]


def test_level0_reads_the_singleton_baseline(sf_graph):
    adj0, q0 = _level0(sf_graph.edges)
    assert q0 == pytest.approx(modularity(adj0, _singletons(adj0)), abs=1e-12)
    assert q0 < 0


def test_modularity_of_the_two_triangles(triangles, spark):
    """2m = 14 directed rows; each triangle has in = 6 and tot = 7, so
    Q = 12/14 - 2 * (7/14)^2 (the isolated vertex has no adjacency)."""
    comm = spark.createDataFrame(
        [(v, "a" if v in "abc" else "d") for v in "abcdef"], "id string, c string"
    )
    q = modularity(_undirected_adj(triangles.edges), comm)
    assert q == pytest.approx(12 / 14 - 2 * (7 / 14) ** 2, abs=1e-12)


def test_louvain_leaves_no_persisted_rdd(spark, sf_graph):
    """Every frame louvain stores is a localCheckpoint, which leaves the
    registry once unreferenced; a persist() without its unpersist()
    stays registered for good. RDDs of earlier tests may leave too, so
    the check is that nothing new remains."""
    jsc = spark.sparkContext._jsc

    def new_rdds():
        return set(jsc.getPersistentRDDs().keySet()) - before

    before = set(jsc.getPersistentRDDs().keySet())
    louvain(sf_graph, max_levels=2, max_rounds_per_level=2).collect()
    deadline = time.monotonic() + 60
    while new_rdds() and time.monotonic() < deadline:
        gc.collect()
        spark._jvm.System.gc()
        time.sleep(0.5)
    assert new_rdds() == set()
