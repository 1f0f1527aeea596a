"""In-memory spans around the benchmark's calls into each layer.

A traced run wraps every library call in ``Tracer.span(name)``: the
span records its wall time, the time the call took to return its
DataFrame (``plan_build_s``) and its parent span, and tags every Spark
job it starts with a job group unique to the call, so the event log can
be attributed to it afterwards (see ``eventlog``). The untraced run
uses ``NullTracer``, which records nothing and starts no job group.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Iterator


@dataclass
class Span:
    name: str
    group: str  # Spark job group of this call
    parent: int | None  # index of the enclosing span
    start: float
    end: float = 0.0
    built: float | None = None  # when the call returned its DataFrame

    @property
    def wall_s(self) -> float:
        return self.end - self.start

    @property
    def plan_build_s(self) -> float:
        return (self.built if self.built is not None else self.end) - self.start

    def mark_built(self) -> None:
        self.built = time.perf_counter()


@dataclass
class Tracer:
    sc: object  # SparkContext
    spans: list[Span] = field(default_factory=list)
    overhead_s: float = 0.0  # time spent in span bookkeeping itself
    _stack: list[int] = field(default_factory=list)

    @contextmanager
    def span(self, name: str) -> Iterator[Span]:
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, f"{name}#{len(self.spans)}", parent, 0.0)
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        self.sc.setJobGroup(sp.group, name)
        sp.start = time.perf_counter()
        self.overhead_s += sp.start - t0
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if parent is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            else:
                p = self.spans[parent]
                self.sc.setJobGroup(p.group, p.name)
            self.overhead_s += time.perf_counter() - sp.end

    def self_times(self) -> list[float]:
        """Each span's wall time minus the time its child spans cover."""
        out = [s.wall_s for s in self.spans]
        for s in self.spans:
            if s.parent is not None:
                out[s.parent] -= s.wall_s
        return out


class NullTracer:
    """Times calls like ``Tracer`` but keeps no spans and tags no jobs."""

    @contextmanager
    def span(self, name: str) -> Iterator[Span]:
        sp = Span(name, "", None, time.perf_counter())
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
