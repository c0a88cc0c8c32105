"""Tests of the benchmark's own pieces; no Spark session needed.

    python3 -m pytest perfbench/tests -q
"""

import os

import pytest

from perfbench import eventlog, inputs
from perfbench.trace import Tracer, highest_tail, self_times, tail_percentile

FIXTURE = os.path.join(os.path.dirname(__file__), "eventlog_fixture.jsonl")


def test_same_seed_same_inputs():
    assert inputs.serve_ops(3, 8) == inputs.serve_ops(3, 8)
    assert inputs.build_plan(3, 8) == inputs.build_plan(3, 8)
    assert inputs.serve_ops(3, 8) != inputs.serve_ops(4, 8)
    assert inputs.build_plan(3, 8) != inputs.build_plan(4, 8)


def test_inputs_shape():
    ops = inputs.serve_ops(5, 8)
    cold = [o for o in ops if o["kind"] == "cold"]
    hot = [o["query"] for o in ops if o["kind"] == "hot"]
    assert len(cold) == len(hot) == 8 * inputs.KIND_OPS_PER_SECOND
    assert len({o["url"] for o in cold}) == len(cold)
    assert set(hot) <= set(inputs.hot_queries())
    plan = inputs.build_plan(5, 8)
    assert not set(plan["delete"]) & set(plan["upsert"])
    assert len(plan["delete"]) == len(plan["upsert"]) > 0
    indexed = set(inputs.indexed_ids())
    assert set(plan["delete"]) <= indexed and set(plan["upsert"]) <= indexed
    # every burst title is asked cold once, then hot once
    burst = plan["burst"]
    n = 8 * inputs.KIND_OPS_PER_SECOND
    assert [o["kind"] for o in burst] == ["cold"] * n + ["hot"] * n
    assert (sorted(o["query"] for o in burst[:n])
            == sorted(o["query"] for o in burst[n:]))
    assert sum(o["url"] is None for o in burst[:n]) == 1  # the deleted one


def test_p95_refused_with_fewer_than_ten_beyond():
    with pytest.raises(ValueError):
        tail_percentile(list(range(199)), 95)
    assert tail_percentile(list(range(1, 201)), 95) == 190
    assert highest_tail(list(range(1, 101))) == (90, 90)
    assert highest_tail(list(range(5))) == (None, None)
    # 20 samples: p60 leaves 8 beyond it, and a median is not a tail
    assert highest_tail(list(range(20))) == (None, None)


def test_self_time_on_nested_spans():
    t = Tracer()
    spans = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "parent": 1, "start": 2.0, "end": 3.0},
        {"id": 3, "parent": 0, "start": 3.5, "end": 6.0},  # overlaps 1
    ]
    st = self_times(spans)
    assert st == {0: 5.0, 1: 2.0, 2: 1.0, 3: 2.5}
    with t.span("outer"):
        with t.span("inner"):
            pass
    outer, inner = t.spans
    assert inner["parent"] == outer["id"] and outer["parent"] is None
    st = self_times(t.spans)
    assert st[outer["id"]] == pytest.approx(
        (outer["end"] - outer["start"]) - (inner["end"] - inner["start"]))


def test_wrap_counts_and_restores():
    class Box:
        def twice(self, x):
            return 2 * x

    t = Tracer()
    seen = []
    assert t.wrap(Box, "twice", "twice",
                  after=lambda sp, a, kw, r: seen.append(r),
                  before=lambda sp, a, kw: sp["attrs"].update(x=a[1]))
    assert not t.wrap(Box, "missing", "missing")
    assert Box().twice(3) == 6 and seen == [6]
    assert [s["name"] for s in t.spans] == ["twice"]
    assert t.spans[0]["attrs"] == {"x": 3}
    t.unwrap_all()
    Box().twice(1)
    assert len(t.spans) == 1


def test_eventlog_fixture():
    with open(FIXTURE) as f:
        jobs = eventlog.parse_lines(f)
    assert [j["tasks"] for j in jobs] == [3, 1]
    j0, j1 = jobs
    assert (j0["submit"], j0["end"]) == (1000.1, 1001.1)
    assert j0["task_s"] == pytest.approx(2.0)
    assert j0["jvm_cpu_s"] == pytest.approx(1.4)
    assert j0["gc_s"] == pytest.approx(0.03)
    assert j0["shuffle_write_bytes"] == 1500
    assert j0["shuffle_read_bytes"] == 1500
    assert j0["spill_bytes"] == 64
    # stage 1 is listed again by job 1 but ran (and is counted) in job 0
    assert j1["task_s"] == pytest.approx(0.25)
    t = eventlog.totals(eventlog.in_window(jobs, 1000.0, 1002.0))
    assert t["jobs"] == 1 and t["nonjvm_s"] == pytest.approx(0.6)
    # [1000, 1004): job 0 runs 1000.1-1001.1, job 1 runs 1003.0-1003.5
    assert eventlog.driver_gap(jobs, 1000.0, 1004.0) == pytest.approx(2.5)
