"""In-memory span and counter recorder for the traced run.

Spans are recorded by the benchmark around calls into the engine's public
functions; nothing inside the program is instrumented. Every span carries
(name, start, end, parent, run id); counters are named numbers recorded
beside them. Nothing is written until `write` is called once at the end.
A layer's self time is its spans' duration minus their child spans'
durations.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[Span] = []
        self.counts: dict[str, float] = {}
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, self.run_id))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def count(self, name: str, value: float) -> None:
        self.counts[name] = self.counts.get(name, 0) + value

    def self_times(self) -> dict[str, float]:
        """Self time summed per span name: each span's duration minus its
        children's durations (children never overlap: spans nest on one
        thread)."""
        out: dict[str, float] = {}
        for s in self.spans:
            d = s.end - s.start
            out[s.name] = out.get(s.name, 0.0) + d
            if s.parent is not None:
                parent = self.spans[s.parent].name
                out[parent] = out.get(parent, 0.0) - d
        return out

    def total(self, name: str) -> float:
        return sum(s.end - s.start for s in self.spans if s.name == name)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                {
                    "run_id": self.run_id,
                    "spans": [asdict(s) for s in self.spans],
                    "counts": self.counts,
                    "self_s": self.self_times(),
                },
                f,
            )
