"""The one round loop (engine/rounds.py): every halt rule ends on empty
and edgeless graphs, and every loop reports the same per-round records
and halt metrics."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hugegraph_computer_spark.algorithms import Lpa, PageRank, Wcc, connected_components
from hugegraph_computer_spark.algorithms.betweenness import (
    betweenness_brandes,
    betweenness_brandes_sampled,
    betweenness_centrality,
)
from hugegraph_computer_spark.algorithms.closeness import closeness_centrality
from hugegraph_computer_spark.algorithms.hits import hits
from hugegraph_computer_spark.algorithms.kcore import KCore
from hugegraph_computer_spark.algorithms.links import links
from hugegraph_computer_spark.algorithms.louvain import louvain
from hugegraph_computer_spark.algorithms.ppr import PersonalPageRank
from hugegraph_computer_spark.algorithms.rings import rings_detection
from hugegraph_computer_spark.algorithms.sssp import Sssp
from hugegraph_computer_spark.algorithms.truss import ktruss
from hugegraph_computer_spark.engine import PregelRunner
from hugegraph_computer_spark.engine.csr import pagerank_csr
from hugegraph_computer_spark.engine.rounds import pin
from hugegraph_computer_spark.graph import Graph
from hugegraph_computer_spark.oracles import py_reference as oracle
from tests.test_linkgraph_extras import _python_ktruss

NODES = ["a", "b", "c"]
PHASES = {"plan", "checkpoint", "action", "messages"}


@pytest.fixture(scope="module", params=["empty", "edgeless"])
def bare(request, spark, sf_graph):
    nodes = [] if request.param == "empty" else NODES
    g = Graph(
        vertices=spark.createDataFrame([(v,) for v in nodes], sf_graph.vertices.schema),
        edges=spark.createDataFrame([], sf_graph.edges.schema),
        partitions=2,
    )
    return request.param, nodes, g


def _pregel(program):
    def run(g):
        res = PregelRunner().run(program(), g)
        return res.history, res.metrics, res.state

    return run


def _cc(g):
    res = connected_components(g)
    return res.history, res.metrics, res.labels


# name -> (run on a graph, result column, oracle over (nodes, edges))
LOOPS = {
    "pagerank": (_pregel(PageRank), "rank", lambda n, e: oracle.pagerank(n, e)[0]),
    "ppr": (
        _pregel(lambda: PersonalPageRank(source="a")),
        "rank",
        lambda n, e: oracle.ppr(n, e, "a"),
    ),
    "sssp": (
        _pregel(lambda: Sssp(sources=["a"])),
        "dist",
        lambda n, e: oracle.sssp(n, e, "a"),
    ),
    "kcore": (_pregel(KCore), "core", oracle.kcore),
    "lpa": (_pregel(Lpa), "label", oracle.lpa),
    "wcc": (_pregel(Wcc), "comp", oracle.wcc),
    "cc_fast": (_cc, "comp", oracle.wcc),
}


@pytest.mark.parametrize("name", sorted(LOOPS))
def test_halts_converged_on_bare_graphs(bare, name):
    kind, nodes, g = bare
    run, key, want = LOOPS[name]
    history, metrics, state = run(g)
    assert metrics["halt_reason"] == "converged"
    # the empty state halts after its first round; edgeless graphs
    # converge on their own halt rule within a few supersteps
    assert len(history) == 1 if kind == "empty" else len(history) <= 3
    _assert_records(history, metrics)
    got = {r["id"]: r[key] for r in state.collect()}
    expected = want(nodes, []) if nodes else {}
    assert got.keys() == set(expected)
    assert all(got[v] == pytest.approx(expected[v], abs=1e-12) for v in expected)


def test_hits_runs_its_fixed_rounds_on_bare_graphs(bare):
    """HITS has no convergence rule: it stops at its round count, except
    on the empty graph, whose empty state halts the loop at once."""
    kind, nodes, g = bare
    res = hits(g, supersteps=10)
    _assert_records(res.history, res.metrics)
    if kind == "empty":
        assert (res.metrics["halt_reason"], res.supersteps) == ("converged", 1)
    else:
        assert (res.metrics["halt_reason"], res.supersteps) == ("max_rounds", 10)
    scores = {r["id"]: (r["auth"], r["hub"]) for r in res.state.collect()}
    assert scores == {v: (0.0, 0.0) for v in nodes}


def _per_vertex(key):
    return lambda df: {r["id"]: r[key] for r in df.collect()}


def _ktruss(g):
    res = ktruss(g, k=4)
    return {(r["u"], r["v"]): r["support"] for r in res.edges.collect()}, res.rounds


def _pagerank_csr(g):
    state, steps = pagerank_csr(g, num_blocks=2)
    return _per_vertex("rank")(state), steps


def _pagerank_oracle(nodes):
    # the empty graph runs one superstep on the empty state
    return oracle.pagerank(nodes, []) if nodes else ({}, 1)


STARTS, ENDS = {"a", "b"}, {"a"}

# name -> (run on a graph -> (result, round count or None),
#          oracle over the nodes of an edgeless graph -> the same pair)
OPERATORS = {
    "rings": (
        lambda g: ({tuple(r["ring"]) for r in rings_detection(g).collect()}, None),
        lambda n: (oracle.rings(n, []), None),
    ),
    "links": (
        lambda g: (
            {
                tuple(r["path"])
                for r in links(
                    g, F.col("id").isin(*STARTS), F.col("id").isin(*ENDS)
                ).collect()
            },
            None,
        ),
        lambda n: (oracle.links_paths(n, [], STARTS & set(n), ENDS), None),
    ),
    "betweenness": (
        lambda g: (_per_vertex("betweenness")(betweenness_centrality(g)), None),
        lambda n: (oracle.betweenness(n, []), None),
    ),
    "betweenness_brandes": (
        lambda g: (_per_vertex("betweenness")(betweenness_brandes(g)), None),
        lambda n: (oracle.betweenness(n, []), None),
    ),
    "betweenness_sampled": (
        lambda g: (
            _per_vertex("betweenness")(betweenness_brandes_sampled(g, 1.0)),
            None,
        ),
        lambda n: (oracle.betweenness(n, []), None),
    ),
    "closeness": (
        lambda g: (
            {
                r["id"]: (r["n_reachable"], r["centrality"])
                for r in closeness_centrality(g).collect()
            },
            None,
        ),
        lambda n: (oracle.closeness(n, []), None),
    ),
    "ktruss": (_ktruss, lambda n: (_python_ktruss([], 4), 1)),
    "pagerank_csr": (_pagerank_csr, _pagerank_oracle),
}


@pytest.mark.parametrize("name", sorted(OPERATORS))
def test_operators_halt_on_bare_graphs(bare, name):
    """Every frontier operator on RoundLoop halts on the empty and the
    edgeless graph with the oracle's values; the operators that report
    a round count stop within 3 rounds, at the oracle's count."""
    _, nodes, g = bare
    run, want = OPERATORS[name]
    got, rounds = run(g)
    expected, expected_rounds = want(nodes)
    assert got == expected
    assert rounds == expected_rounds
    assert rounds is None or rounds <= 3


def test_louvain_on_bare_graphs(bare):
    """louvain keeps its own loop (its round state needs `pin`); on the
    empty and the edgeless graph it runs one idle level and returns
    the oracle's singletons."""
    _, nodes, g = bare
    history: list = []
    got = {r["id"]: r["community"] for r in louvain(g, history=history).collect()}
    assert got == oracle.louvain([], nodes)
    assert history == [{"level": 0, "modularity": 0.0, "moves": 0}]


def test_pin_returns_rows_and_named_aggregates(spark):
    df = spark.range(5).withColumn("x", F.col("id") * 2)
    out, row = pin(df, s=F.sum("x"))
    assert (row["rows"], row["s"]) == (5, 20)
    assert sorted(r["x"] for r in out.collect()) == [0, 2, 4, 6, 8]


def _assert_records(history, metrics):
    assert {"halt_reason", "planner"} <= metrics.keys()
    for i, h in enumerate(history):
        assert h["superstep"] == i
        assert h["seconds"] >= 0
        assert set(h["phase_seconds"]) == PHASES
