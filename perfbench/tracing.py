"""Spans recorded by the benchmark around its calls into gpse's layers.

A span has a layer (gpse module name), a name, start/end times and its
parent span. While a span is open, every Spark job runs
in the job group '<layer>:<name>#<id>', so the event log's task metrics
line up with it (eventlog.by_layer). Spans stay in memory until the run
ends. A disabled tracer records nothing and sets no job group.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    id: int
    layer: str
    name: str
    parent: int | None
    start: float
    end: float = 0.0

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark=None, enabled: bool = True) -> None:
        self.sc = spark.sparkContext if spark is not None else None
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, layer: str, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), layer, name, parent.id if parent else None, time.perf_counter())
        self.spans.append(s)
        self._stack.append(s)
        if self.sc is not None:
            self.sc.setJobGroup(f"{layer}:{name}#{s.id}", name)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if self.sc is not None:
                if parent is not None:
                    self.sc.setJobGroup(f"{parent.layer}:{parent.name}#{parent.id}", parent.name)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)

    def total(self, layer: str, name: str | None = None) -> float:
        """Summed duration of the spans of `layer` (and `name`)."""
        return sum(
            s.seconds for s in self.spans
            if s.layer == layer and (name is None or s.name == name)
        )
