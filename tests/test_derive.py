"""Edge/node derivation unit tests on a hand-written transcript table."""

from __future__ import annotations

from tests.conftest import SF_DIR, make_transcripts

ROWS = [
    # conv A: 3 turns, user->assistant->user, tools on turns 0 and 2
    ("conv_a", 0, "user", "search"),
    ("conv_a", 1, "assistant", None),
    ("conv_a", 2, "user", "search"),
    # conv B: 2 turns, one tool
    ("conv_b", 0, "system", None),
    ("conv_b", 1, "agent_0", "sql"),
]


def _derived(spark):
    from hugegraph_computer_spark.graph import derive_edges, derive_nodes

    t = make_transcripts(spark, ROWS)
    edges = {
        (r["src"], r["dst"], r["etype"]): r["weight"]
        for r in derive_edges(t).collect()
    }
    nodes = {r["id"] for r in derive_nodes(t).collect()}
    return nodes, edges


def test_nodes(spark):
    nodes, _ = _derived(spark)
    assert nodes == {
        "conv_a#00",
        "conv_a#01",
        "conv_a#02",
        "conv_b#00",
        "conv_b#01",
        "role:user",
        "role:assistant",
        "role:system",
        "role:agent_0",
        "tool:search",
        "tool:sql",
    }


def test_reply_edges(spark):
    _, edges = _derived(spark)
    assert edges[("conv_a#00", "conv_a#01", "reply")] == 1.0
    assert edges[("conv_a#01", "conv_a#02", "reply")] == 1.0
    assert edges[("conv_b#00", "conv_b#01", "reply")] == 1.0
    assert sum(1 for k in edges if k[2] == "reply") == 3


def test_mention_edges(spark):
    _, edges = _derived(spark)
    assert ("conv_a#00", "tool:search", "mention") in edges
    assert ("conv_a#02", "tool:search", "mention") in edges
    assert ("conv_b#01", "tool:sql", "mention") in edges
    assert sum(1 for k in edges if k[2] == "mention") == 3


def test_uses_weight_is_interaction_count(spark):
    _, edges = _derived(spark)
    assert edges[("role:user", "tool:search", "uses")] == 2.0
    assert edges[("role:agent_0", "tool:sql", "uses")] == 1.0


def test_copart_weight_is_shared_conv_count(spark):
    _, edges = _derived(spark)
    # conv_a roles {user, assistant} x tools {search}
    assert edges[("role:user", "tool:search", "copart")] == 1.0
    assert edges[("role:assistant", "tool:search", "copart")] == 1.0
    # conv_b roles {system, agent_0} x tools {sql}
    assert edges[("role:system", "tool:sql", "copart")] == 1.0


def test_transcripts_from_events_shape(spark):
    from hugegraph_computer_spark.graph import transcripts_from_events

    t = transcripts_from_events(spark, "/root/testdata/sf0.001")
    assert t.columns == ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    assert t.count() == 1000
    # stable turn ordering: turn_idx dense & unique per conv
    from pyspark.sql import functions as F

    bad = (
        t.groupBy("conv_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("turn_idx").alias("d"),
            F.max("turn_idx").alias("mx"),
        )
        .where((F.col("n") != F.col("d")) | (F.col("mx") != F.col("n") - 1))
        .count()
    )
    assert bad == 0
    # per-row invariant: per-turn text is a pure function of (conv, turn)
    bad_text = t.where(
        F.col("text")
        != F.concat(F.lit("t:"), F.col("conv_id"), F.lit(":"), F.col("turn_idx"))
    ).count()
    assert bad_text == 0


def test_ingest_compute_split(spark, sf_graph, tmp_path):
    """useMode=input/compute parity (WorkerService.java:440-480): one
    ingest persists the partitioned graph; a compute run loading the
    store yields identical vertices/edges/algorithm results with no
    re-derivation."""
    from hugegraph_computer_spark.algorithms import degree_centrality
    from hugegraph_computer_spark.graph import ingest, load_graph

    store = str(tmp_path / "graph_store")
    ingest(spark, SF_DIR, store, partitions=4)
    loaded = load_graph(spark, store)
    assert loaded.partitions == 4

    assert {r["id"] for r in loaded.vertices.collect()} == {
        r["id"] for r in sf_graph.vertices.collect()
    }
    want_edges = sorted(
        (r["src"], r["dst"], r["weight"], r["etype"])
        for r in sf_graph.edges.collect()
    )
    got_edges = sorted(
        (r["src"], r["dst"], r["weight"], r["etype"])
        for r in loaded.edges.collect()
    )
    assert got_edges == want_edges

    want_deg = {r["id"]: r["degree"] for r in degree_centrality(sf_graph).collect()}
    got_deg = {r["id"]: r["degree"] for r in degree_centrality(loaded).collect()}
    assert got_deg == want_deg


def test_ingest_densified_store(spark, sf_graph, tmp_path):
    """densify-at-ingest (the 100 TB flow): the store holds the
    long-id graph + the pinned mapping; a compute run loads it, runs on
    long keys, and undensify restores string ids exactly."""
    from hugegraph_computer_spark.algorithms import degree_centrality
    from hugegraph_computer_spark.graph import (
        ingest,
        load_graph,
        load_mapping,
        undensify,
    )

    store = str(tmp_path / "dense_store")
    ingest(spark, SF_DIR, store, partitions=4, densify=True)
    loaded = load_graph(spark, store)
    mapping = load_mapping(spark, store)

    # long-typed keys end-to-end in the compute run
    assert dict(loaded.edges.dtypes)["src"] == "bigint"
    deg_dense = degree_centrality(loaded)
    deg = undensify(deg_dense, mapping)

    want = {r["id"]: r["degree"] for r in degree_centrality(sf_graph).collect()}
    got = {r["id"]: r["degree"] for r in deg.collect()}
    assert got == want


def test_bucketed_store_zero_shuffle(spark, sf_graph):
    """Bucketed catalog-table store: same graph back, and src-keyed
    aggregation reads the clustering from the table layout — NO
    Exchange in the plan (the file store must repartition on load)."""
    from pyspark.sql import functions as F

    from hugegraph_computer_spark.algorithms import degree_centrality
    from hugegraph_computer_spark.graph import (
        load_graph_bucketed,
        save_graph_bucketed,
    )

    save_graph_bucketed(sf_graph, "bstore_test", buckets=4)
    try:
        loaded = load_graph_bucketed(spark, "bstore_test", cache=False)
        want_edges = sorted(
            (r["src"], r["dst"], r["weight"], r["etype"])
            for r in sf_graph.edges.collect()
        )
        got_edges = sorted(
            (r["src"], r["dst"], r["weight"], r["etype"])
            for r in loaded.edges.collect()
        )
        assert got_edges == want_edges

        want_deg = {
            r["id"]: r["degree"] for r in degree_centrality(sf_graph).collect()
        }
        got_deg = {
            r["id"]: r["degree"] for r in degree_centrality(loaded).collect()
        }
        assert got_deg == want_deg

        # the scale point: src-clustered work plans with no shuffle
        agg = loaded.edges.groupBy("src").agg(F.sum("weight").alias("w"))
        plan = agg._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
    finally:
        spark.sql("DROP TABLE IF EXISTS bstore_test_vertices")
        spark.sql("DROP TABLE IF EXISTS bstore_test_edges")


def test_in_direction_swaps_edges(sf_graph):
    """edge_direction=IN view: edge multiset is exactly the stored
    multiset with endpoints swapped, no forward copies, extra columns
    (weight, etype) carried through."""
    from pyspark.sql import functions as F

    g_in = sf_graph.in_direction()
    assert g_in.edges.columns == sf_graph.edges.columns
    fwd = sorted(
        (r["src"], r["dst"], r["weight"], r["etype"])
        for r in sf_graph.edges.collect()
    )
    rev = sorted(
        (r["dst"], r["src"], r["weight"], r["etype"])
        for r in g_in.edges.collect()
    )
    assert fwd == rev
    # in-degree of the stored graph == out-degree of the IN view
    indeg = {
        r["src"]: r["cnt"]
        for r in g_in.edges.groupBy("src").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    stored = {
        r["dst"]: r["cnt"]
        for r in sf_graph.edges.groupBy("dst").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    assert indeg == stored


def test_dense_bucketed_ingest_feeds_pagerank(spark):
    """The combined 100 TB flow in one call: ingest_bucketed(densify=
    True) writes long-id bucketed tables + the pinned mapping; a
    compute run loads them shuffle-free on the scan side, runs
    PageRank on 8-byte keys, and undensify restores string ids with
    results identical to the string-id run."""
    from pyspark.sql import functions as F

    from hugegraph_computer_spark.algorithms import PageRank
    from hugegraph_computer_spark.engine import PregelRunner
    from hugegraph_computer_spark.graph import (
        Graph,
        ingest_bucketed,
        load_graph_bucketed,
        load_mapping_bucketed,
        transcripts_from_events,
    )
    from hugegraph_computer_spark.graph.derive import undensify

    prefix = "dbstore_test"
    try:
        ingest_bucketed(
            spark, "/root/testdata/sf0.001", prefix, buckets=4, densify=True
        )
        dense = load_graph_bucketed(spark, prefix, cache=False)
        assert dict(dense.vertices.dtypes)["id"] == "bigint"
        assert dict(dense.edges.dtypes)["src"] == "bigint"

        # scan-side clustering: src-keyed agg over the DENSE table
        # plans without any Exchange
        agg = dense.edges.groupBy("src").agg(F.sum("weight").alias("w"))
        plan = agg._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan

        res = PregelRunner().run(PageRank(l1_tol=0.0, max_supersteps=4), dense)
        mapping = load_mapping_bucketed(spark, prefix)
        got = {
            r["id"]: round(r["rank"], 10)
            for r in undensify(res.state.select("id", "rank"), mapping).collect()
        }

        g = Graph.from_transcripts(
            transcripts_from_events(spark, "/root/testdata/sf0.001"), partitions=4
        )
        want = {
            r["id"]: round(r["rank"], 10)
            for r in PregelRunner()
            .run(PageRank(l1_tol=0.0, max_supersteps=4), g)
            .state.select("id", "rank")
            .collect()
        }
        assert got == want
    finally:
        for t in ("vertices", "edges", "mapping"):
            spark.sql(f"DROP TABLE IF EXISTS {prefix}_{t}")


def test_densify_counts_the_edges_it_keeps(spark, sf_graph):
    """densify's inner joins drop an edge whose endpoint is not a
    vertex; the planner's edge count must describe the dense edges."""
    from hugegraph_computer_spark.graph import Graph

    v = spark.createDataFrame([("a",), ("b",)], sf_graph.vertices.schema)
    e = spark.createDataFrame(
        [("a", "b", 1.0, "reply"), ("a", "ghost", 1.0, "reply")],
        sf_graph.edges.schema,
    )
    dense, mapping = Graph(v, e, partitions=2, _nv=2, _ne=2).densify()
    assert dense._ne == dense.edges.count() == 1
    dense.vertices.unpersist()
    dense.edges.unpersist()
    mapping.unpersist()
