"""Span nesting, self times and per-family outermost spans."""

from __future__ import annotations

import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from spans import Tracer, duration, outermost, self_times  # noqa: E402


def _span(id_, name, parent, start, end):
    return {"id": id_, "name": name, "parent": parent, "start": start, "end": end}


def test_self_time_is_duration_minus_children():
    spans = [
        _span(0, "op", None, 0.0, 10.0),
        _span(1, "api.sql.build", 0, 0.0, 6.0),
        _span(2, "api.register_views", 1, 0.5, 5.5),
        _span(3, "api.sql.exec", 0, 6.0, 9.0),
    ]
    assert self_times(spans) == {0: 1.0, 1: 1.0, 2: 5.0, 3: 3.0}
    assert sum(self_times(spans).values()) == duration(spans[0])


def test_outermost_skips_nested_calls_of_the_same_family():
    spans = [
        _span(0, "op", None, 0.0, 4.0),
        _span(1, "operators.dedup.simhash", 0, 0.0, 3.0),
        _span(2, "operators.dedup.shingles", 1, 0.0, 1.0),
        _span(3, "operators.text.tokens", 2, 0.0, 0.5),
    ]
    assert [s["id"] for s in outermost(spans, "operators.dedup")] == [1]
    assert [s["id"] for s in outermost(spans, "operators.text")] == [3]


def test_tracer_records_parents_and_operation_ids():
    tracer = Tracer()
    tracer.op = "perfbench-op0"
    with tracer.span("op"):
        wrapped = tracer.wrap("api.sql", lambda x: x + 1)
        assert wrapped(1) == 2
    op, call = tracer.spans
    assert (op["parent"], call["parent"]) == (None, op["id"])
    assert op["op"] == call["op"] == "perfbench-op0"
    assert op["start"] <= call["start"] <= call["end"] <= op["end"]
