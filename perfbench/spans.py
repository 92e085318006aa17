"""In-memory span recorder for traced runs.

A span is one call into a layer, timed from outside the program: name,
start, end, the span that caused it, and the op it belongs to. Spans
stay in memory and are written out once, when the run ends. End-to-end
metrics come from untraced runs, where the recorder is disabled and
``span`` only yields.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import time
from dataclasses import asdict, dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Recorder:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self.op: int | None = None
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        index = len(self.spans)
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, self.op))
        self._stack.append(index)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[index].end = time.perf_counter()

    def seconds(self, name: str) -> list[float]:
        """Durations of every span of this name recorded during a timed op
        (spans outside ops, such as set-up, carry ``op=None``)."""
        return [s.seconds for s in self.spans if s.name == name and s.op is not None]

    def first(self, name: str) -> float:
        return next((s.seconds for s in self.spans if s.name == name), 0.0)

    def median(self, name: str) -> float:
        values = self.seconds(name)
        return statistics.median(values) if values else 0.0

    def self_seconds(self, index: int) -> float:
        """A span's duration minus the time its direct children cover."""
        kids = sum(s.seconds for s in self.spans if s.parent == index)
        return self.spans[index].seconds - kids

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for i, s in enumerate(self.spans):
                fh.write(json.dumps({**asdict(s), "self_s": self.self_seconds(i)}) + "\n")
