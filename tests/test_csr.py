"""CSR adjacency-block tests: block structure + PageRank equivalence."""

from __future__ import annotations

import numpy as np

from hugegraph_computer_spark.algorithms import PageRank
from hugegraph_computer_spark.engine import PregelRunner
from hugegraph_computer_spark.engine.csr import build_csr_blocks, pagerank_csr


def test_csr_blocks_structure(sf_graph):
    blocks = build_csr_blocks(sf_graph.edges, num_blocks=8).collect()
    assert 0 < len(blocks) <= 8
    total_edges = sum(len(b["dsts"]) for b in blocks)
    assert total_edges == sf_graph.edges.count()
    for b in blocks:
        assert b["indptr"][0] == 0
        assert b["indptr"][-1] == len(b["dsts"])
        assert len(b["srcs"]) == len(b["indptr"]) - 1
        assert list(b["srcs"]) == sorted(b["srcs"])  # sorted per block


def test_pagerank_csr_matches_dataframe_impl(sf_graph):
    df_res = PregelRunner().run(
        PageRank(l1_tol=1e-6, max_supersteps=100), sf_graph
    )
    csr_state, csr_steps = pagerank_csr(
        sf_graph, l1_tol=1e-6, max_supersteps=100, num_blocks=8
    )
    assert csr_steps == df_res.supersteps
    a = {r["id"]: r["rank"] for r in df_res.state.collect()}
    b = {r["id"]: r["rank"] for r in csr_state.collect()}
    assert a.keys() == b.keys()
    worst = max(abs(a[k] - b[k]) for k in a)
    assert worst < 1e-9, worst
    assert np.isclose(sum(b.values()), 1.0, rtol=1e-3)


def test_pagerank_csr_keeps_the_graph_degree_cache(sf_graph):
    """The memoized out-degree table belongs to the Graph: PageRank,
    LPA, SSSP and KCore on the same graph read it after pagerank_csr."""
    assert sf_graph.out_degrees().is_cached
    pagerank_csr(sf_graph, max_supersteps=2, num_blocks=4)
    assert sf_graph.out_degrees().is_cached
