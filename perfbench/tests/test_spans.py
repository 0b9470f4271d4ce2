"""Self time of a span: its duration minus what its children cover."""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from spans import NullTracer, Span, Tracer, parse_count, parse_timing, self_times  # noqa: E402


def span(id, start, end, parent=None, name="x"):
    return Span(id=id, name=name, start=start, end=end, parent=parent, req=None)


def test_leaf_self_time_is_its_duration():
    assert self_times([span(1, 0.0, 2.5)]) == {1: 2.5}


def test_children_are_subtracted():
    spans = [span(1, 0, 10), span(2, 1, 3, 1), span(3, 5, 6, 1)]
    assert self_times(spans) == pytest.approx({1: 7.0, 2: 2.0, 3: 1.0})


def test_overlapping_children_count_once():
    # two concurrent children (a thread pool) covering 2..6 together
    spans = [span(1, 0, 10), span(2, 2, 5, 1), span(3, 4, 6, 1)]
    assert self_times(spans)[1] == pytest.approx(6.0)


def test_child_outside_parent_counts_only_inside():
    spans = [span(1, 0, 4), span(2, 3, 9, 1)]
    assert self_times(spans)[1] == pytest.approx(3.0)


def test_grandchildren_do_not_reduce_the_grandparent_twice():
    spans = [span(1, 0, 10), span(2, 0, 6, 1), span(3, 1, 5, 2)]
    out = self_times(spans)
    assert out[1] == pytest.approx(4.0)
    assert out[2] == pytest.approx(2.0)
    assert out[3] == pytest.approx(4.0)


def test_tracer_records_parents_and_request_ids():
    tr = Tracer()
    with tr.span("serving.handler", req="read-3"):
        with tr.span("feature_store.online"):
            pass
    child, parent = tr.spans
    assert child.parent == parent.id and child.req == "read-3"
    assert parent.end >= child.end >= child.start >= parent.start


def test_paused_records_nothing():
    tr = Tracer()
    with tr.paused():
        with tr.span("x"):
            pass
    assert tr.spans == []
    with NullTracer().span("x"):
        pass


def test_parse_sql_metric_strings():
    assert parse_timing("total (min, med, max (stageId: taskId))\n1.5 s (0 ms, "
                        "0 ms, 1.5 s (stage 3.0: task 5))") == pytest.approx(1.5)
    assert parse_timing("350 ms") == pytest.approx(0.35)
    assert parse_timing("2.0 m") == pytest.approx(120.0)
    assert parse_count("1,234") == 1234
    assert parse_count("total (min, med, max)\n10 (1, 2, 3)") == 10
