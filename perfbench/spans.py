"""In-memory spans for the traced benchmark run.

A span records a name, a start, an end and the span that was open when
it started (its parent). Spans stay in memory and are written out once,
when the run ends. A span's self time is its duration minus its
children's durations.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return (self.end if self.end is not None else self.start) - self.start


class Tracer:
    def __init__(self, clock=time.perf_counter) -> None:
        self.clock = clock
        self.spans: list[Span] = []
        self._open: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._open[-1] if self._open else None
        sp = Span(len(self.spans), name, parent, self.clock(), attrs=attrs)
        self.spans.append(sp)
        self._open.append(sp.id)
        try:
            yield sp
        finally:
            sp.end = self.clock()
            self._open.pop()

    def children(self, span_id: int) -> list[Span]:
        return [s for s in self.spans if s.parent == span_id]

    def self_time(self, span_id: int) -> float:
        """Duration minus the children's durations. Spans nest strictly
        (one stack, one thread), so children never overlap each other or
        outlast their parent."""
        return self.spans[span_id].duration - sum(
            c.duration for c in self.children(span_id))

    def total(self, name: str) -> float:
        """Summed duration of every span with this name."""
        return sum(s.duration for s in self.spans if s.name == name)

    def dump(self, path: str) -> None:
        rows = [
            {**asdict(s), "self": self.self_time(s.id)} for s in self.spans
        ]
        with open(path, "w") as f:
            json.dump(rows, f, indent=1)
