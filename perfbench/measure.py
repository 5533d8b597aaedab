"""Statistics and tracing used by the benchmark.

Tracing records spans from the benchmark's own code only: `Tracer.wrap`
replaces a public function or method of the engine with a wrapper that
records a span around each call, for the length of a traced run. Nothing
inside `invoicenet_spark/` is edited. Spans are kept in memory and written
when the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import json
import math
import statistics
import time
from dataclasses import dataclass, field


def median(xs) -> float:
    return float(statistics.median(xs))


def tail_percentile(samples, candidates=(99.9, 99.0, 95.0, 90.0)):
    """(p, value) for the highest candidate percentile with at least ten
    samples beyond it, or None when there are too few samples for any."""
    xs = sorted(samples)
    n = len(xs)
    for p in candidates:
        # nearest-rank percentile: the smallest value with p% at or below it
        rank = max(1, math.ceil(p * n / 100.0 - 1e-9))
        if n - rank >= 10:
            return p, float(xs[rank - 1])
    return None


# Nominal duration of `ref_kernel`: normalized times are scaled to a host on
# which the kernel takes this long, so they read as milliseconds and seconds.
REF_NOMINAL_S = 1.5e-3


def ref_kernel() -> float:
    """Seconds taken by a fixed piece of CPU-bound Python and numpy work.

    On a shared machine the CPU speed can change by half for seconds or
    minutes at a time, moving every timing with it. Timing this kernel right
    after each measured operation gives the speed the operation ran at; the
    engine's code cannot change the kernel's cost."""
    import numpy as np

    t0 = time.perf_counter()
    x = 0
    for i in range(20000):
        x += i
    a = np.arange(2000)
    for _ in range(20):
        a = np.sort(a[::-1])
    return time.perf_counter() - t0


def at_ref_speed(seconds: float, ref_s: float) -> float:
    """A time measured while `ref_kernel` took ref_s, scaled to the nominal
    reference speed."""
    return seconds * REF_NOMINAL_S / ref_s


def drift(series) -> float:
    """Second-half median over first-half median, minus 1, of a timed series
    in run order: near 0 when steady, negative while still warming up."""
    xs = list(series)
    if len(xs) < 2:
        return 0.0
    h = len(xs) // 2
    return median(xs[len(xs) - h :]) / median(xs[:h]) - 1.0


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    qid: int | None = None

    @property
    def dur(self) -> float:
        return self.end - self.start


def self_times(spans: list[Span]) -> list[float]:
    """Per span: its duration minus the part of its interval that its
    direct children cover (overlapping children are counted once)."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = []
    for i, s in enumerate(spans):
        covered, cur_lo, cur_hi = 0.0, None, None
        for c in sorted(children.get(i, []), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out.append(s.dur - covered)
    return out


@dataclass
class Tracer:
    """In-memory span recorder. A disabled tracer records nothing and
    `wrap` installs nothing, so untraced runs pay no tracing cost."""

    enabled: bool
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)
    _undo: list = field(default_factory=list)
    qid: int | None = None

    def begin(self, name: str) -> int:
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, self.qid))
        self._stack.append(len(self.spans) - 1)
        return self._stack[-1]

    def end(self, i: int) -> None:
        self.spans[i].end = time.perf_counter()
        self._stack.pop()

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        i = self.begin(name)
        try:
            yield
        finally:
            self.end(i)

    def wrap(self, owner, attr: str, name: str, on_result=None) -> None:
        """Record a span around every call of `owner.attr` (a module
        function or a class method) until `unwrap_all`. `on_result` sees
        each return value after the span has ended, so counting what a
        call returned costs the span nothing."""
        if not self.enabled:
            return
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            i = tracer.begin(name)
            try:
                out = orig(*args, **kwargs)
            finally:
                tracer.end(i)
            if on_result is not None:
                on_result(out)
            return out

        setattr(owner, attr, traced)
        self._undo.append((owner, attr, orig))

    def unwrap_all(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    def by_name(self, name: str) -> list[tuple[Span, float]]:
        st = self_times(self.spans)
        return [(s, t) for s, t in zip(self.spans, st) if s.name == name]

    def span_cost_s(self, n: int = 20000) -> float:
        """Measured cost of recording one span (enter plus exit)."""
        probe = Tracer(True)
        t0 = time.perf_counter()
        for _ in range(n):
            probe.end(probe.begin("probe"))
        return (time.perf_counter() - t0) / n

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                [
                    {"name": s.name, "start": s.start, "end": s.end,
                     "parent": s.parent, "qid": s.qid}
                    for s in self.spans
                ],
                f,
            )
