"""Self time, coverage and plan-node counting."""

import pytest

from perfbench.queries import plan_counts
from perfbench.trace import Span, Tracer, coverage, self_times


def _span(i, layer, start, end, parent=None):
    return Span(i, f"s{i}", layer, start, end, parent, "run")


def test_self_time_subtracts_merged_children():
    spans = [
        _span(0, "registry", 0.0, 10.0),
        _span(1, "exec", 1.0, 4.0, 0),
        _span(2, "exec", 3.0, 6.0, 0),  # overlaps its sibling: counted once
        _span(3, "catalyst", 8.0, 12.0, 0),  # overhangs its parent: clipped
    ]
    st = self_times(spans)
    assert st["registry"] == pytest.approx(10.0 - 5.0 - 2.0)
    assert st["exec"] == pytest.approx(3.0 + 3.0)
    assert st["catalyst"] == pytest.approx(4.0)
    assert coverage(spans[0], spans) == pytest.approx(0.7)


def test_tracer_nests_spans_and_disabled_tracer_records_nothing():
    t = Tracer("r", enabled=True)
    with t.span("q", "registry", query="q1") as outer:
        with t.span("build", "registry"):
            pass
        t.add("phase", "catalyst.planning", outer.start, outer.start, outer)
    assert [s.parent for s in t.spans] == [None, 0, 0]
    assert {s.query for s in t.spans} == {"q1"}
    off = Tracer("r", enabled=False)
    with off.span("q", "registry") as s:
        assert s is None
    off.add("x", "y", 0.0, 1.0, None)
    assert off.spans == []


PLAN = """AdaptiveSparkPlan isFinalPlan=true
+- == Final Plan ==
   *(3) HashAggregate(keys=[], functions=[count(1)])
   +- ShuffleQueryStage 1
      +- Exchange SinglePartition, ENSURE_REQUIREMENTS, [plan_id=40]
         +- *(2) Project [a#1]
            +- ArrowEvalPython [f(a#1)#5], [pythonUDF0#9], 200
               +- BroadcastHashJoin [k#1], [k#2], Inner, BuildRight
                  :- FlatMapGroupsInPandas [k#1], f(k#1)
                  +- BroadcastQueryStage 0
                     +- BroadcastExchange HashedRelationBroadcastMode
+- == Initial Plan ==
   HashAggregate(keys=[], functions=[count(1)])
   +- Exchange SinglePartition, ENSURE_REQUIREMENTS, [plan_id=30]
      +- ArrowEvalPython [f(a#1)#5], [pythonUDF0#9], 200
"""


def test_plan_counts_read_only_the_final_plan():
    assert plan_counts(PLAN) == (2, 2)
