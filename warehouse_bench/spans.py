"""Spans around the calls into each layer, for the traced run.

The benchmark's own code wraps the program's public functions at the
name the caller resolves (a module attribute or a registry dict entry)
and records one span per call: name, start, end, parent span and op id.
Spans stay in memory; `Tracer.by_name` reduces them at the end.  A
layer's self time is its spans' time minus the time their child spans
cover.

Spark work is attributed to the innermost open span by setting the
job group to the span id on entry (and back to the parent's on exit);
`sparkstats.Collector` later sums each group's stage counters.

The tracer also times its own bookkeeping (span entry/exit, job-group
calls and the count callbacks), which is the traced run's overhead
over an untraced one.
"""

from __future__ import annotations

import functools
import time
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    op: int | None
    start: float
    end: float = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start

    @property
    def group(self) -> str:
        return f"span{self.sid}"


class Tracer:
    """Single-threaded span recorder (the benchmark is one closed-loop
    caller on the main thread)."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self.counts: dict[str, float] = {}
        self._stack: list[Span] = []
        self.op: int | None = None
        self.overhead_s = 0.0

    def _group(self, span: Span | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(span.group, span.name)

    @contextmanager
    def span(self, name: str):
        t = time.perf_counter()
        s = Span(
            len(self.spans),
            name,
            self._stack[-1].sid if self._stack else None,
            self.op,
            0.0,
        )
        self.spans.append(s)
        self._stack.append(s)
        self._group(s)
        s.start = time.perf_counter()
        self.overhead_s += s.start - t
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._group(self._stack[-1] if self._stack else None)
            self.overhead_s += time.perf_counter() - s.end

    def count(self, key: str, n: float = 1) -> None:
        self.counts[key] = self.counts.get(key, 0) + n

    def wrap(self, name, fn, after=None):
        """`fn` wrapped in a span.  `name` is a string or a function of
        the call's arguments; `after(result, args, kwargs)` runs once the
        span has closed, to record counts from the call."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            label = name(*args, **kwargs) if callable(name) else name
            with self.span(label):
                out = fn(*args, **kwargs)
            if after is not None:
                t = time.perf_counter()
                after(out, args, kwargs)
                self.overhead_s += time.perf_counter() - t
            return out

        return traced

    # -- reduction -----------------------------------------------------
    def self_times(self) -> dict[int, float]:
        """sid -> span duration minus its children's (children of one
        span run one after another on this thread, so their durations
        add without overlap)."""
        child = {s.sid: 0.0 for s in self.spans}
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.dur
        return {s.sid: s.dur - child[s.sid] for s in self.spans}

    def by_name(self) -> dict[str, dict[str, float]]:
        """name -> {"n", "total_s", "self_s", "groups"} over every span
        of an op (spans outside ops, e.g. in setup, are skipped)."""
        selfs = self.self_times()
        out: dict[str, dict] = {}
        for s in self.spans:
            if s.op is None:
                continue
            d = out.setdefault(
                s.name, {"n": 0, "total_s": 0.0, "self_s": 0.0, "groups": []}
            )
            d["n"] += 1
            d["total_s"] += s.dur
            d["self_s"] += selfs[s.sid]
            d["groups"].append(s.group)
        return out


class Patch:
    """Reversible attribute and dict-entry replacement."""

    def __init__(self):
        self._undo: list = []

    def attr(self, obj, name: str, value) -> None:
        self._undo.append((setattr, obj, name, getattr(obj, name)))
        setattr(obj, name, value)

    def item(self, d: dict, key, value) -> None:
        self._undo.append((dict.__setitem__, d, key, d[key]))
        d[key] = value

    def undo(self) -> None:
        while self._undo:
            fn, obj, key, old = self._undo.pop()
            fn(obj, key, old)
