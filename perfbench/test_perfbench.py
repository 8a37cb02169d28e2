"""Self-tests of the benchmark harness:

    python3 -m pytest perfbench/test_perfbench.py -q

Generator determinism and shape, span self-time arithmetic, and (with a
small local Spark session) status-store counter deltas on a tiny graph
plus the superstep and round counts of the small input.
"""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import gen  # noqa: E402
from spans import Tracer, covered, delta, stage_counters  # noqa: E402


def test_generator_is_deterministic():
    a, b = gen.events_table("small", 7), gen.events_table("small", 7)
    assert a.equals(b)
    assert not a.equals(gen.events_table("small", 8))
    assert gen.graph_shape(a) == gen.graph_shape(b)


@pytest.mark.parametrize("size", ["small", "large"])
def test_generated_graph_lands_near_committed_shape(size):
    want_v, want_e = gen.REFERENCE_SHAPE[size]
    for seed in (1, 2, 3):
        v, e = gen.graph_shape(gen.events_table(size, seed))
        assert v == want_v  # events + 5 roles + 3 tools
        assert abs(e - want_e) / want_e < 0.01


def test_generated_distribution():
    t = gen.events_table("small", 1).to_pandas()
    per_user = t.groupby("user_id").size()
    assert len(per_user) == 150
    assert 60 <= per_user.median() <= 72
    assert per_user.min() >= 35 and per_user.max() <= 110
    assert sorted(t.event_type.unique()) == sorted(gen.EVENT_TYPES)
    span = (t.ts.max() - t.ts.min()).total_seconds()
    assert 29 * 86400 < span <= 30 * 86400
    assert t.ts.is_monotonic_increasing and t.event_id.is_monotonic_increasing


def test_covered_merges_and_clips():
    assert covered([], 0, 10) == 0
    assert covered([(1, 3), (2, 5), (8, 12)], 0, 10) == 6
    assert covered([(-5, 1), (9, 20)], 0, 10) == 2
    assert covered([(1, 2), (1, 2), (4, 4)], 0, 10) == 1


def test_self_time_subtracts_children_union():
    t = Tracer(True)
    root = t.add("op", 0.0, 10.0)
    t.add("a", 1.0, 3.0, parent=root)
    t.add("b", 2.0, 5.0, parent=root)  # overlaps a: union [1, 5]
    c = t.add("c", 8.0, 12.0, parent=root)  # clipped to [8, 10]
    t.add("grandchild", 8.5, 9.0, parent=c)  # not a child of root
    assert t.self_time(root) == pytest.approx(4.0)
    assert t.self_time(c) == pytest.approx(3.5)


def test_nested_spans_and_disabled_tracer():
    t = Tracer(True)
    with t.span("outer") as outer:
        with t.span("inner") as inner:
            pass
    assert t.spans[inner].parent == outer
    assert 0 <= t.self_time(outer) <= t.spans[outer].seconds
    off = Tracer(False)
    with off.span("x") as idx:
        assert idx is None
    assert off.add("y", 0, 1) is None and off.spans == []


def test_stage_counters_skip_unrun_stages():
    base = {"numCompleteTasks": 4, "executorRunTime": 1500, "jvmGcTime": 100,
            "shuffleReadBytes": 1 << 20, "shuffleWriteBytes": 2 << 20,
            "memoryBytesSpilled": 0, "diskBytesSpilled": 0}
    stages = [dict(base, status="COMPLETE"), dict(base, status="SKIPPED")]
    c = stage_counters(stages)
    assert c["stages"] == 1 and c["tasks"] == 4
    assert c["run_s"] == 1.5 and c["shuffle_write_mb"] == 2.0


@pytest.fixture(scope="module")
def spark():
    from hugegraph_computer_spark.session import get_spark
    from spans import StatusStore

    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    s = get_spark(app_name="perfbench-selftest", master="local[2]",
                  shuffle_partitions=2, extra_conf=StatusStore.RETENTION_CONF)
    yield s
    s.stop()


def test_counter_deltas_on_tiny_graph(spark, tmp_path):
    from spans import StatusStore
    from worker import build_graph
    from workloads import sink

    data = gen.write_events("tiny", 3, str(tmp_path / "tiny"))
    g = build_graph(spark, data, 2)
    store = StatusStore(spark)
    idle0 = store.snapshot()
    assert all(v == 0 for v in delta(idle0, store.snapshot()).values())
    sink(g.edges.groupBy("dst").count())
    d = delta(idle0, store.snapshot())
    assert d["jobs"] >= 1 and d["stages"] >= 1 and d["tasks"] >= 1
    assert d["shuffle_write_mb"] > 0 and d["run_s"] >= 0


def test_small_input_step_and_round_counts(spark, tmp_path):
    """The small input reproduces the committed sf0.01 loop lengths:
    PageRank 21 supersteps, WCC 17, cc_fast 4 or 5 rounds."""
    from hugegraph_computer_spark.algorithms import PageRank, Wcc, connected_components
    from hugegraph_computer_spark.engine import PregelRunner
    from worker import build_graph

    g = build_graph(spark, gen.write_events("small", 1, str(tmp_path / "small")), 2)
    assert PregelRunner().run(PageRank(l1_tol=1e-6), g).supersteps == 21
    assert PregelRunner().run(Wcc(), g).supersteps == 17
    assert connected_components(g).rounds in (4, 5)
