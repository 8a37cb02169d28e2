"""The data-derived static step planner: partition-count derivation
from the rows each loop iterates, result parity vs the AQE conversion,
conf restoration — including on the RunAborted cancel path and when a
conf change itself fails."""

from __future__ import annotations

import pytest

from hugegraph_computer_spark.algorithms import PageRank, Wcc, connected_components
from hugegraph_computer_spark.algorithms.hits import hits
from hugegraph_computer_spark.engine import PregelRunner, rounds
from hugegraph_computer_spark.engine.superstep import RunAborted


def test_static_partition_derivation(monkeypatch, sf_graph):
    monkeypatch.delenv("SPARK_GRAFT_STEP_PLANNER", raising=False)
    derive = rounds.static_partitions
    # small graph: p = ceil(rows/32768) < partitions -> static at p
    assert derive(152_827, 32) == 5
    assert derive(1, 32) == 1
    # large graph: p >= partitions -> AQE (None), the unchanged path
    assert derive(9_780_000, 8) is None
    assert derive(32 * 32_768, 32) is None  # boundary: p == parts
    # unknown row count never triggers static mode in auto
    assert derive(None, 32) is None
    # the planner reads the rows a loop iterates: cc_fast's symmetrized
    # view is 2x the directed edges, so it can cross a boundary that
    # the directed count does not
    assert derive(20_000, 32) == 1
    assert derive(2 * 20_000, 32) == 2
    # explicit overrides
    monkeypatch.setenv("SPARK_GRAFT_STEP_PLANNER", "aqe")
    assert derive(152_827, 32) is None
    monkeypatch.setenv("SPARK_GRAFT_STEP_PLANNER", "static")
    assert derive(None, 32) == 32
    assert derive(9_780_000, 8) == 8  # forced: clamped to parts
    monkeypatch.delenv("SPARK_GRAFT_STEP_PLANNER")

    # what each loop feeds the planner: the runner the directed edge
    # count, cc_fast its symmetrized rows, HITS its distinct pairs
    seen = []

    def recording(rows, partitions):
        seen.append(rows)
        return derive(rows, partitions)

    monkeypatch.setattr(rounds, "static_partitions", recording)
    PregelRunner().run(PageRank(max_supersteps=1), sf_graph)
    connected_components(sf_graph, max_rounds=1)
    hits(sf_graph, supersteps=1)
    pairs = sf_graph.edges.select("src", "dst").distinct().count()
    assert seen == [sf_graph.num_edges, 2 * sf_graph.num_edges, pairs]


def _confs(spark):
    return (
        spark.conf.get("spark.sql.adaptive.enabled"),
        spark.conf.get("spark.sql.shuffle.partitions"),
    )


def test_planner_parity_and_conf_restore(sf_graph, monkeypatch):
    """Static-planned and AQE-planned runs produce identical supersteps
    and ranks (to float noise), and the session confs are restored."""
    spark = sf_graph.vertices.sparkSession
    before = _confs(spark)

    monkeypatch.setenv("SPARK_GRAFT_STEP_PLANNER", "aqe")
    res_aqe = PregelRunner().run(PageRank(l1_tol=0.0, max_supersteps=5), sf_graph)
    monkeypatch.delenv("SPARK_GRAFT_STEP_PLANNER", raising=False)
    res_auto = PregelRunner().run(PageRank(l1_tol=0.0, max_supersteps=5), sf_graph)

    assert _confs(spark) == before
    assert res_auto.supersteps == res_aqe.supersteps
    # the planner decision is recorded, not applied silently
    assert res_aqe.metrics["planner"] == "aqe"
    assert res_auto.metrics["planner"] == 1  # sf0.001: ceil(1560/32768)
    assert res_auto.metrics["halt_reason"] == "max_rounds"
    a = {r["id"]: r["rank"] for r in res_aqe.state.collect()}
    b = {r["id"]: r["rank"] for r in res_auto.state.collect()}
    assert a.keys() == b.keys()
    assert all(abs(a[k] - b[k]) < 1e-12 for k in a)


def test_conf_restored_on_abort(sf_graph):
    spark = sf_graph.vertices.sparkSession
    before = _confs(spark)
    with pytest.raises(RunAborted):
        PregelRunner().run(Wcc(), sf_graph, should_stop=lambda: True)
    assert _confs(spark) == before


def test_scope_noops_when_lock_held(sf_graph):
    """SQL confs are session-global and ComputerDriver runs jobs
    concurrently on one session: a loop that cannot take the static
    scope lock must keep AQE untouched (and still compute correctly)."""
    spark = sf_graph.vertices.sparkSession
    before = _confs(spark)
    assert rounds._STATIC_SCOPE_LOCK.acquire(blocking=False)
    try:
        with rounds.static_plan_scope(spark, 4):
            assert _confs(spark) == before  # no-op: lock owned elsewhere
        res = PregelRunner().run(
            PageRank(l1_tol=0.0, max_supersteps=3), sf_graph
        )
        assert res.supersteps == 3
        assert _confs(spark) == before
    finally:
        rounds._STATIC_SCOPE_LOCK.release()
    # lock free again: the scope applies and restores
    with rounds.static_plan_scope(spark, 4):
        assert _confs(spark) == ("false", "4")
    assert _confs(spark) == before


def test_scope_restores_when_a_conf_set_fails(spark):
    """Every conf change sits inside the scope's try: when the second
    `set` raises, the first (AQE off) is still undone."""
    real = spark.conf
    before = _confs(spark)
    calls = []

    class _Conf:
        def get(self, *args):
            return real.get(*args)

        def unset(self, key):
            real.unset(key)

        def set(self, key, value):
            calls.append(key)
            if len(calls) == 2:
                raise RuntimeError("conf guard")
            real.set(key, value)

    class _Spark:
        conf = _Conf()

    with pytest.raises(RuntimeError, match="conf guard"):
        with rounds.static_plan_scope(_Spark, 4):
            pass
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert _confs(spark) == before


def test_scope_unsets_an_unset_conf(spark):
    """A shuffle-partition count that was unset before the scope is
    unset again after it, not pinned to the value it read."""
    key = "spark.sql.shuffle.partitions"
    saved = spark.conf.get(key, None)
    spark.conf.unset(key)
    try:
        with rounds.static_plan_scope(spark, 4):
            assert spark.conf.get(key) == "4"
        assert spark.conf.get(key, None) is None
    finally:
        if saved is not None:
            spark.conf.set(key, saved)
