"""Span nesting, self time and attribution by start time."""

import types

import pytest

from spans import Span, Tracer, attribute, patch_functions, self_times, union_length


class FakeClock:
    def __init__(self):
        self.t = 100.0

    def __call__(self):
        return self.t


def test_spans_nest_and_record_parents():
    clock = FakeClock()
    tr = Tracer("run-1", clock=clock)
    with tr.span("q", "query", phase="timed") as q:
        clock.t = 101.0
        with tr.span("build", "build") as b:
            clock.t = 103.0
        clock.t = 104.0
    assert (q.parent, b.parent) == (None, q.id)
    assert (b.start, b.end, q.duration) == (101.0, 103.0, 4.0)
    assert {r["run_id"] for r in tr.records()} == {"run-1"}
    assert tr.records()[0]["attrs"] == {"phase": "timed"}


def test_span_is_closed_when_the_body_raises():
    tr = Tracer("r", clock=FakeClock())
    with pytest.raises(ValueError):
        with tr.span("q", "query"):
            raise ValueError
    assert tr.spans[0].end is not None
    with tr.span("next", "query") as s:
        pass
    assert s.parent is None


def test_self_time_subtracts_nested_spans():
    spans = [
        Span(0, "a.outer", "operator", 0.0, 10.0, None, "r"),
        Span(1, "a.inner", "operator", 1.0, 4.0, 0, "r"),
        Span(2, "b.inner", "operator", 5.0, 7.0, 0, "r"),
        Span(3, "c.leaf", "operator", 2.0, 3.0, 1, "r"),
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 3.0 - 2.0)
    assert st[1] == pytest.approx(3.0 - 1.0)
    assert st[2] == pytest.approx(2.0)
    assert st[3] == pytest.approx(1.0)
    assert sum(st.values()) == pytest.approx(10.0)


def test_union_length_merges_overlaps():
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_length([]) == 0


def test_jobs_go_to_the_innermost_span_open_at_their_start():
    spans = [
        Span(0, "q1", "query", 0.0, 10.0, None, "r"),
        Span(1, "build", "build", 0.0, 6.0, 0, "r"),
        Span(2, "coreset.kcenter", "operator", 1.0, 5.0, 1, "r"),
        Span(3, "exec", "exec", 6.0, 10.0, 0, "r"),
        Span(4, "q2", "query", 10.0, 12.0, None, "r"),
    ]
    starts = {0: 0.5, 1: 2.0, 2: 5.0, 3: 6.0, 4: 9.999, 5: 10.0, 6: 12.0}
    assert attribute(spans, starts) == {0: 1, 1: 2, 2: 1, 3: 3, 4: 3, 5: 4, 6: None}


def test_patch_functions_rebinds_every_importer():
    mod = types.ModuleType("pkg.ops")

    def helper(x):
        return x + 1

    def _private(x):
        return x

    helper.__module__ = _private.__module__ = "pkg.ops"
    mod.helper, mod._private = helper, _private
    importer = types.ModuleType("pkg.user")
    importer.helper = helper
    importer.unrelated = len
    tr = Tracer("r", clock=FakeClock())
    assert patch_functions(tr, mod, "operator", "ops", [mod, importer]) == 2
    assert importer.helper(1) == 2 and mod.helper(2) == 3
    assert mod._private is _private and importer.unrelated is len
    assert [s.name for s in tr.spans] == ["ops.helper", "ops.helper"]
