"""Spans recorded around calls into the program's layers.

``Tracer.patch`` swaps a public function of a program module for a wrapper
that records a span around each call and puts the original back on
``restore``. Spans stay in memory; ``job_summary`` folds the spans of one
job into per-layer totals, self times and Spark counters.
"""

from __future__ import annotations

import time
from collections import defaultdict
from dataclasses import dataclass, field

from sparkstats import Counters, StatusStore


@dataclass
class Span:
    name: str
    start: float
    parent: "Span | None"
    mark: int | None  # Spark job id at entry; None for spans without Spark work
    end: float = 0.0
    counters: Counters | None = None
    trace_s: float = 0.0  # reading the counters after ``end``, in the parent's time
    children: list = field(default_factory=list)

    @property
    def duration(self) -> float:
        return self.end - self.start

    @property
    def self_time(self) -> float:
        """Duration less the child spans and the tracer's own work for them."""
        return self.duration - sum(c.duration + c.trace_s for c in self.children)

    def self_counters(self) -> Counters | None:
        if self.counters is None:
            return None
        out = self.counters
        for c in self.children:
            if c.counters is not None:
                out = out.minus(c.counters)
        return out


class Tracer:
    """One stack of open spans. The benchmark runs one job at a time, so the
    stack is shared by the client thread and the server thread that serves
    the job."""

    def __init__(self, stats: StatusStore):
        self.stats = stats
        self.enabled = False
        self._stack: list[Span] = []
        self._last_root: Span | None = None
        self._patched: list[tuple[object, str, object]] = []

    def open(self, name: str, spark_work: bool = True) -> Span:
        parent = self._stack[-1] if self._stack else None
        mark = self.stats.mark() if spark_work else None
        span = Span(name, time.perf_counter(), parent, mark)
        if parent is not None:
            parent.children.append(span)
        self._stack.append(span)
        return span

    def close(self, span: Span) -> None:
        span.end = time.perf_counter()
        if span.mark is not None:
            span.counters = self.stats.diff(span.mark)
            span.trace_s = time.perf_counter() - span.end
        self._stack.pop()
        if span.parent is None:
            self._last_root = span

    def take_root(self) -> Span | None:
        """The last closed top-level span, once."""
        root, self._last_root = self._last_root, None
        return root

    def wrap(self, name: str, fn, spark_work: bool = True):
        def traced(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            span = self.open(name, spark_work)
            try:
                return fn(*args, **kwargs)
            finally:
                self.close(span)

        traced.__wrapped__ = fn
        return traced

    def patch(self, owner, attr: str, name: str) -> None:
        original = getattr(owner, attr)
        self._patched.append((owner, attr, original))
        setattr(owner, attr, self.wrap(name, original))

    def restore(self) -> None:
        for owner, attr, original in reversed(self._patched):
            setattr(owner, attr, original)
        self._patched.clear()


def job_summary(root: Span) -> dict[str, float]:
    """Per-layer numbers of one job: for each span name the summed
    duration (``<name>_s``), summed self time (``<name>.self_s``) and the
    self part of the Spark counters (``<name>.spark.<counter>``), plus the
    tracer's own time inside the job (``trace.cost_s``)."""
    dur: dict[str, float] = defaultdict(float)
    self_s: dict[str, float] = defaultdict(float)
    spark: dict[str, Counters] = {}
    calls: dict[str, int] = defaultdict(int)

    cost = 0.0

    def walk(span: Span) -> None:
        nonlocal cost
        if span is not root:
            cost += span.trace_s
        dur[span.name] += span.duration
        self_s[span.name] += span.self_time
        calls[span.name] += 1
        own = span.self_counters()
        if own is not None:
            spark.setdefault(span.name, Counters()).add(own)
        for c in span.children:
            walk(c)

    walk(root)
    out: dict[str, float] = {"trace.cost_s": cost}
    for name in dur:
        out[f"{name}_s"] = dur[name]
        out[f"{name}.self_s"] = self_s[name]
        out[f"{name}.calls"] = float(calls[name])
        if name in spark:
            out.update(spark[name].flat(prefix=f"{name}.spark"))
    return out
