"""In-memory spans around the benchmark's calls into each program layer.

A span records name, start, end, parent span and run/request id. Spans are
kept in memory and written out as JSON lines when the run ends. With tracing
off, :meth:`Tracer.span` is a no-op context, so untraced runs pay nothing.

A layer's time is the total duration of its spans, optionally only of
those inside a given phase span. Its self time is its span's duration minus the part of that interval
its child spans cover (children may overlap each other; the covered part is
the union of their intervals, clipped to the parent).
"""

from __future__ import annotations

import contextlib
import itertools
import json
import threading
import time
from dataclasses import asdict, dataclass


@dataclass
class Span:
    span_id: int
    name: str
    start: float
    end: float
    parent: int | None
    request: str


class Tracer:
    def __init__(self, enabled: bool, run_id: str = "run"):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextlib.contextmanager
    def span(self, name: str, request: str | None = None):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else None
        if request is None:
            request = parent.request if parent else self.run_id
        sp = Span(next(self._ids), name, time.perf_counter(), 0.0,
                  parent.span_id if parent else None, request)
        stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(sp)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for sp in sorted(self.spans, key=lambda s: s.start):
                f.write(json.dumps(asdict(sp)) + "\n")


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total = 0.0
    cur_lo = cur_hi = None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[str, float]:
    """Total self time per span name."""
    children: dict[int, list[tuple[float, float]]] = {}
    for sp in spans:
        if sp.parent is not None:
            children.setdefault(sp.parent, []).append((sp.start, sp.end))
    out: dict[str, float] = {}
    for sp in spans:
        kids = children.get(sp.span_id, [])
        own = (sp.end - sp.start) - covered(kids, sp.start, sp.end)
        out[sp.name] = out.get(sp.name, 0.0) + own
    return out



def durations(spans: list[Span], within: str | None = None) -> dict[str, float]:
    """Total wall time per span name; with ``within``, only of the spans
    that have an ancestor of that name."""
    by_id = {sp.span_id: sp for sp in spans}

    def inside(sp: Span) -> bool:
        while sp.parent is not None:
            sp = by_id[sp.parent]
            if sp.name == within:
                return True
        return False

    out: dict[str, float] = {}
    for sp in spans:
        if within is None or inside(sp):
            out[sp.name] = out.get(sp.name, 0.0) + (sp.end - sp.start)
    return out
