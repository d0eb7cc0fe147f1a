"""Span arithmetic and the candidates ratio on hand-built inputs."""

from __future__ import annotations

import pytest

from perfbench import eventlog
from perfbench import spans as T


def _span(i, name, parent, start, end, jobs=()):
    s = T.Span(f"r/{i}", name, parent, "r", start)
    s.end, s.jobs = end, list(jobs)
    return s


def _tree():
    # root [0, 10] with children [1, 4] and [3, 6] (overlapping) and a
    # grandchild [2, 3] inside the first child
    return [
        _span(0, "op", None, 0.0, 10.0, jobs=[1]),
        _span(1, "a", "r/0", 1.0, 4.0, jobs=[2, 3]),
        _span(2, "b", "r/0", 3.0, 6.0, jobs=[4]),
        _span(3, "c", "r/1", 2.0, 3.0),
    ]


def test_union_length():
    assert T.union_length([(0, 1), (0.5, 2), (3, 4), (5, 5)]) == pytest.approx(3.0)
    assert T.union_length([]) == 0.0


def test_self_time_subtracts_covered_part_of_children():
    spans = _tree()
    kids = T.children_of(spans)
    assert T.self_time(spans[0], kids["r/0"]) == pytest.approx(10.0 - 5.0)
    assert T.self_time(spans[1], kids["r/1"]) == pytest.approx(3.0 - 1.0)
    assert T.self_time(spans[3], []) == pytest.approx(1.0)


def test_subtree_jobs_and_driver_gap():
    spans = _tree()
    kids = T.children_of(spans)
    assert T.subtree_jobs(spans[0], kids) == [1, 2, 3, 4]
    log = eventlog.AppLog()
    log.job_stages = {1: [10], 2: [11], 3: [12], 4: [13]}
    # stage intervals in ms; stage 13 runs past the span end and is clipped
    for sid, (s, e, runs) in {10: (500, 1500, [100, 100]), 11: (1000, 2000, [50, 150, 400]),
                              12: (2500, 3000, [10]), 13: (9000, 12000, [1000])}.items():
        st = log.stages[sid] = eventlog.Stage(s, e)
        st.tasks = [eventlog.Task(sid, r, r * 1000, 1, 2_000_000, 0) for r in runs]
    m = T.span_metrics(spans[0], T.subtree_jobs(spans[0], kids), log)
    # busy: [0.5, 2.0] + [2.5, 3.0] + [9.0, 10.0] = 3.0 of a 10 s span
    assert m["driver_gap_s"] == pytest.approx(7.0)
    assert m["jobs"] == 4 and m["stages"] == 4 and m["tasks"] == 7
    assert m["executor_run_s"] == pytest.approx(1.81)
    assert m["shuffle_write_mb"] == pytest.approx(14.0)
    # longest stage is 13 (3 s): one task, skew 1.0
    assert m["task_skew"] == pytest.approx(1.0)
    assert T.task_skew(log, [11]) == pytest.approx(400 / 150)


def test_layer_table_takes_median_over_occurrences():
    spans = [_span(0, "x", None, 0.0, 1.0), _span(1, "x", None, 2.0, 5.0), _span(2, "x", None, 6.0, 8.0)]
    table = T.layer_table(spans, eventlog.AppLog())
    assert table["x"]["call_s"] == pytest.approx(2.0)
    assert table["x"]["jobs"] == 0


def test_candidates_per_match_from_plan_metrics():
    log = eventlog.AppLog()
    plan = {
        "nodeName": "WholeStageCodegen (1)",
        "metrics": [],
        "children": [{
            "nodeName": "Filter", "metrics": [{"name": "number of output rows", "accumulatorId": 7}],
            "children": [{
                "nodeName": "BroadcastHashJoin",
                "metrics": [{"name": "number of output rows", "accumulatorId": 5}],
                "children": [],
            }],
        }],
    }
    # the adaptive update repeats the same nodes: counted once
    log.plans = {3: [plan, plan], 4: [plan]}
    log.exec_group = {3: "g", 4: "other"}
    log.accum = {5: 1200, 7: 300}
    assert T.candidates_per_match(log, "g") == pytest.approx(4.0)
    assert T.candidates_per_match(log, "missing") == 0.0


def test_tracer_nests_spans_without_spark():
    tr = T.Tracer(None, "t")
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    outer, inner = tr.spans
    assert inner.parent == outer.id and outer.parent is None
    assert outer.start <= inner.start <= inner.end <= outer.end
