"""In-memory spans recorded around calls into the engine's modules.

A span has a name, a kind (the layer it times), wall-clock start and end
in epoch seconds (the clock Spark's event log uses), the span that was open
when it started, and the run's id. Spans are opened on the driver's main
thread only, one query at a time, so they nest properly; a Spark job is
charged to the innermost span open when it was submitted, which also
catches jobs started on other threads (stream micro-batches).
"""

from __future__ import annotations

import functools
import inspect
import sys
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    kind: str
    start: float
    end: float | None
    parent: int | None
    run_id: str
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Collects spans in memory; ``spans`` is written out when the run ends."""

    def __init__(self, run_id: str, clock=time.time) -> None:
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._clock = clock

    @contextmanager
    def span(self, name: str, kind: str, **attrs):
        s = Span(
            id=len(self.spans),
            name=name,
            kind=kind,
            start=self._clock(),
            end=None,
            parent=self._stack[-1].id if self._stack else None,
            run_id=self.run_id,
            attrs=attrs,
        )
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            self._stack.pop()
            s.end = self._clock()

    def wrap(self, fn, name: str, kind: str):
        """``fn`` with every call recorded as a span."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name, kind):
                return fn(*args, **kwargs)

        return traced

    def records(self) -> list[dict]:
        return [asdict(s) for s in self.spans]


def patch_functions(tracer: Tracer, module, kind: str, label: str, namespaces) -> int:
    """Replace each public function defined in ``module`` by a traced
    wrapper, in ``module`` and in every module of ``namespaces`` that bound
    the same function object by import. Returns how many bindings changed.

    Callers look the name up in their own module's globals at call time, so
    patching every binding catches calls from any importer, including the
    defining module's own internal calls.
    """
    wrappers = {
        id(fn): tracer.wrap(fn, f"{label}.{name}", kind)
        for name, fn in vars(module).items()
        if inspect.isfunction(fn)
        and fn.__module__ == module.__name__
        and not name.startswith("_")
    }
    patched = 0
    for ns in namespaces:
        for attr, value in list(vars(ns).items()):
            wrapper = wrappers.get(id(value))
            if wrapper is not None:
                setattr(ns, attr, wrapper)
                patched += 1
    return patched


def package_modules(prefix: str) -> list:
    """Every loaded module whose name is ``prefix`` or starts with it."""
    return [
        m
        for name, m in sorted(sys.modules.items())
        if m is not None and (name == prefix or name.startswith(prefix + "."))
    ]


def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total = 0.0
    cur_start = cur_end = None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of it its child spans cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    out = {}
    for s in spans:
        covered = union_length(
            (max(a, s.start), min(b, s.end))
            for a, b in children.get(s.id, ())
            if min(b, s.end) > max(a, s.start)
        )
        out[s.id] = s.duration - covered
    return out


def depths(spans: list[Span]) -> dict[int, int]:
    by_id = {s.id: s for s in spans}
    out: dict[int, int] = {}

    def depth(sid: int) -> int:
        if sid not in out:
            parent = by_id[sid].parent
            out[sid] = 0 if parent is None else depth(parent) + 1
        return out[sid]

    for s in spans:
        depth(s.id)
    return out


def innermost_span(spans: list[Span], t: float, depth: dict[int, int]) -> int | None:
    """Id of the deepest span open at time ``t`` (start <= t < end)."""
    best = None
    for s in spans:
        if s.start <= t < s.end and (best is None or depth[s.id] > depth[best]):
            best = s.id
    return best


def attribute(spans: list[Span], starts: dict[int, float]) -> dict[int, int | None]:
    """Charge each event (id -> start time) to the innermost span open when
    it started, or None when no span was open."""
    depth = depths(spans)
    return {key: innermost_span(spans, t, depth) for key, t in starts.items()}


def ancestor_of_kind(spans_by_id: dict[int, Span], sid: int | None, kind: str) -> Span | None:
    """The nearest span of ``kind`` on the path from ``sid`` to the root."""
    while sid is not None:
        s = spans_by_id[sid]
        if s.kind == kind:
            return s
        sid = s.parent
    return None
