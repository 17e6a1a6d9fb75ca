"""In-memory spans for the traced run.

A span is one timed call into a layer: its name, start, end, parent span
and the run id every span of the run shares. Spans stay in memory while the
benchmark runs and are written out once at the end. A layer's self time is
its span's duration minus the part of that interval its child spans cover.
With tracing off, :meth:`Tracer.span` hands back a no-op context, so the
untraced passes run the same code without recording anything.
"""

from __future__ import annotations

import contextlib
import json
import time
import uuid
from dataclasses import asdict, dataclass


@dataclass
class Span:
    span_id: int
    parent_id: int | None
    name: str
    start: float
    end: float
    run_id: str

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, enabled: bool, run_id: str | None = None,
                 clock=time.perf_counter):
        self.enabled = enabled
        self.run_id = run_id or uuid.uuid4().hex
        self.spans: list[Span] = []
        self._clock = clock
        self._stack: list[int] = []

    @contextlib.contextmanager
    def _record(self, name: str):
        span_id = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        span = Span(span_id, parent, name, self._clock(), float("nan"),
                    self.run_id)
        self.spans.append(span)
        self._stack.append(span_id)
        try:
            yield span
        finally:
            self._stack.pop()
            span.end = self._clock()

    def span(self, name: str):
        return self._record(name) if self.enabled else contextlib.nullcontext()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, reach = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, reach), min(b, hi)
        if b > a:
            total += b - a
            reach = b
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """span_id -> duration minus the time its children cover (children that
    overlap each other count once)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent_id is not None:
            kids.setdefault(s.parent_id, []).append((s.start, s.end))
    return {s.span_id: s.duration - covered(kids.get(s.span_id, []),
                                            s.start, s.end)
            for s in spans}


def by_name(spans: list[Span]) -> dict[str, dict]:
    """name -> {count, total (inclusive seconds), self (seconds)}."""
    selfs = self_times(spans)
    out: dict[str, dict] = {}
    for s in spans:
        row = out.setdefault(s.name, {"count": 0, "total": 0.0, "self": 0.0})
        row["count"] += 1
        row["total"] += s.duration
        row["self"] += selfs[s.span_id]
    return out
