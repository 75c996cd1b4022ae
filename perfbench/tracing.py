"""In-memory spans recorded around the benchmark's calls into each layer.

A span is (name, start, end, parent, trace id) with wall-clock seconds, so
spans built afterwards from engine timestamps (streaming micro-batches)
line up with spans timed here. A layer's self time is its span's duration
minus the part of that interval its child spans cover.
"""

from __future__ import annotations

import json
import time
import uuid
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    trace_id: str


class Tracer:
    """Records spans when enabled; a disabled tracer's `span` does nothing."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.trace_id = uuid.uuid4().hex
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.cost = 0.0  # seconds spent in span bookkeeping

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        c0 = time.perf_counter()
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        s = Span(sid, name, time.time(), 0.0, parent, self.trace_id)
        self.spans.append(s)
        self._stack.append(sid)
        self.cost += time.perf_counter() - c0
        try:
            yield s
        finally:
            c0 = time.perf_counter()
            self._stack.pop()
            s.end = time.time()
            self.cost += time.perf_counter() - c0

    def add(self, name: str, start: float, end: float, parent: int | None) -> None:
        """Record a span whose interval was measured elsewhere."""
        if self.enabled:
            self.spans.append(Span(len(self.spans), name, start, end, parent, self.trace_id))

    def self_times(self) -> dict[str, float]:
        """Total self time per span name."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            out[s.name] = out.get(s.name, 0.0) + self_time(s, children.get(s.id, []))
        return out

    def totals(self) -> dict[str, float]:
        out: dict[str, float] = {}
        for s in self.spans:
            out[s.name] = out.get(s.name, 0.0) + (s.end - s.start)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


def self_time(span: Span, children: list[Span]) -> float:
    """Span duration minus the union of its children's intervals (clipped
    to the span)."""
    ivs = sorted((max(c.start, span.start), min(c.end, span.end)) for c in children)
    covered, cur_s, cur_e = 0.0, None, None
    for a, b in ivs:
        if b <= a:
            continue
        if cur_e is None or a > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = a, b
        else:
            cur_e = max(cur_e, b)
    if cur_e is not None:
        covered += cur_e - cur_s
    return max(0.0, (span.end - span.start) - covered)
