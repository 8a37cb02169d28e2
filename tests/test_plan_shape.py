"""Plan-shape assertions for the live per-round plans at sf0.001.

The sf0.001 graph is small enough that the step planner runs every loop
statically at p = 1 (AQE off), so each round's physical plan is fixed
when the round is built. These tests record the plan each round would
execute, at the moment the loop builds it, and assert how many shuffle
Exchanges and BroadcastExchanges it holds. A change that adds a shuffle
to a round (or loses a broadcast) fails here instead of only showing up
as a slower benchmark. Superstep 1 is left out: its plan reads the
graph's memoized degree table, whose planning depends on whether an
earlier run already cached it.
"""

from __future__ import annotations

import re

from hugegraph_computer_spark.algorithms import PageRank, Wcc
from hugegraph_computer_spark.algorithms import cc_fast
from hugegraph_computer_spark.engine import PregelRunner


def _exchanges(df) -> tuple[int, int]:
    """(shuffle Exchanges, BroadcastExchanges) in df's executed plan."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    nodes = [
        re.sub(r"^[\s:+\-|]*(\*\(\d+\) )?", "", line).split(" ")[0]
        for line in plan.splitlines()
    ]
    return nodes.count("Exchange"), nodes.count("BroadcastExchange")


def _recording(program_cls):
    class Recording(program_cls):
        def __init__(self, *args, **kwargs):
            super().__init__(*args, **kwargs)
            self.plans: dict[int, tuple[int, int]] = {}

        def superstep(self, s, g, state, messages, aggs):
            out = super().superstep(s, g, state, messages, aggs)
            self.plans[s] = _exchanges(out.state)
            return out

    return Recording


def test_pagerank_superstep_exchanges(sf_graph):
    """From superstep 2 on, the cut state carries no hash partitioning,
    so both sides of the scatter join shuffle (sort-merge, no broadcast)
    besides the gather and the state join: 4 Exchanges per superstep."""
    pr = _recording(PageRank)(l1_tol=0.0, max_supersteps=5)
    PregelRunner().run(pr, sf_graph)
    assert {pr.plans[s] for s in (2, 3, 4)} == {(4, 0)}


def test_wcc_superstep_exchanges(sf_graph):
    """The changed frontier is broadcast into the scatter join; the
    gather and the state join shuffle: 2 Exchanges + 1 broadcast."""
    wcc = _recording(Wcc)()
    res = PregelRunner().run(wcc, sf_graph)
    assert res.supersteps == 17
    assert {wcc.plans[s] for s in range(2, 17)} == {(2, 1)}


def test_cc_fast_round_exchanges(sf_graph, monkeypatch):
    """relax + notify + jump over the pinned symmetrized edges."""
    plans = []
    round_fn = cc_fast.cc_round

    def recording_round(sym, state):
        df = round_fn(sym, state)
        plans.append(_exchanges(df))
        return df

    monkeypatch.setattr(cc_fast, "cc_round", recording_round)
    res = cc_fast.connected_components(sf_graph)
    assert len(plans) == res.rounds
    assert plans[0] == (5, 1)
    assert set(plans[1:]) == {(6, 1)}
