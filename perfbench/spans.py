"""In-memory spans around calls into the program's layers.

A span records a name, start, end, parent span and operation id. With
tracing off, ``Tracer.span`` hands back one shared no-op context, so an
untraced run pays a method call per span and nothing else. Spans stay
in memory and are written once, when the run ends.
"""

from __future__ import annotations

import json
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    span_id: int
    name: str
    op: str
    parent: int | None
    start: float
    end: float

    @property
    def duration(self) -> float:
        return self.end - self.start


def self_time(span: Span, children: list[Span]) -> float:
    """Span duration minus the part of it that its children cover.
    Children may overlap each other (threads); the union counts once,
    and any part of a child outside the parent is ignored."""
    covered = 0.0
    cur_lo = cur_hi = None
    for c in sorted(children, key=lambda s: s.start):
        lo, hi = max(c.start, span.start), min(c.end, span.end)
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        covered += cur_hi - cur_lo
    return span.duration - covered


class _NoSpan:
    def __enter__(self):
        return None

    def __exit__(self, *exc):
        return False


_NO_SPAN = _NoSpan()


class Tracer:
    """Collects spans per thread-local parent stack. ``cost_s`` is the
    wall time spent inside the tracer's own bookkeeping."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.cost_s = 0.0
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next_id = 0

    def span(self, name: str, op: str = ""):
        if not self.enabled:
            return _NO_SPAN
        return self._span(name, op)

    @contextmanager
    def _span(self, name: str, op: str):
        t_in = time.perf_counter()
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            span_id = self._next_id
            self._next_id += 1
        parent = stack[-1] if stack else None
        stack.append(span_id)
        start = time.perf_counter()
        self.cost_s += start - t_in
        try:
            yield span_id
        finally:
            end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(Span(span_id, name, op, parent, start, end))
            self.cost_s += time.perf_counter() - end

    def by_name(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def self_times(self, name: str) -> list[float]:
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        return [self_time(s, kids.get(s.span_id, [])) for s in self.by_name(name)]

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([asdict(s) for s in self.spans], fh)
