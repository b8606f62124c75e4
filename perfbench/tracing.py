"""In-memory spans recorded around the benchmark's calls into each layer.

A span has a name, a start, an end, the span that caused it and the
operation (trace) it belongs to. Spans stay in memory and are written out
once, when the run ends. A disabled tracer records nothing, so untraced
runs pay only for a no-op context manager.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass
from typing import Iterator


@dataclass
class Span:
    id: int
    parent: int | None
    trace: str
    name: str
    start: float
    end: float = 0.0

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, trace: str | None = None) -> Iterator[Span | None]:
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        if trace is None:
            trace = parent.trace if parent else name
        s = Span(len(self.spans), parent.id if parent else None, trace, name, time.perf_counter())
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id]

    def self_time(self, span: Span) -> float:
        """Duration minus the part of the span's interval its children cover."""
        covered, cursor = 0.0, span.start
        for c in sorted(self.children(span), key=lambda c: c.start):
            lo, hi = max(c.start, cursor), min(c.end, span.end)
            if hi > lo:
                covered += hi - lo
                cursor = hi
        return span.duration - covered

    def total(self, name: str) -> float:
        return sum(s.duration for s in self.spans if s.name == name)

    def dump(self, path: str) -> None:
        rows = [{**asdict(s), "self": self.self_time(s)} for s in self.spans]
        with open(path, "w") as f:
            json.dump(rows, f)
