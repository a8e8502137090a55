"""Arithmetic of the benchmark, free of Spark so it can be tested alone:
tail percentiles, geometric means, failure fractions, run-to-run spread,
and spans with their self time."""

from __future__ import annotations

import math
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

MIN_BEYOND = 10


def tail_percentile(samples: list[float]) -> tuple[float | None, float, int]:
    """The highest whole percentile that still has at least ``MIN_BEYOND``
    samples above it, as ``(percentile, value, n)``.

    Nearest-rank: the p-th percentile is the ``ceil(p/100 * n)``-th
    smallest sample, and the samples beyond it are the ones ranked after
    it. With ``n <= MIN_BEYOND`` no percentile qualifies; the median is
    returned with ``None`` as its percentile."""
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        raise ValueError("no samples")
    if n <= MIN_BEYOND:
        return None, statistics.median(xs), n
    p = min(99, (100 * (n - MIN_BEYOND)) // n)
    rank = max(1, math.ceil(p * n / 100))
    return float(p), xs[rank - 1], n


def geomean(values: list[float]) -> float:
    if not values or min(values) <= 0:
        raise ValueError("geomean needs positive values")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def failed_frac(attempted: int, failed: int) -> float:
    if attempted < 1 or not 0 <= failed <= attempted:
        raise ValueError(f"bad counts: {failed} failed of {attempted}")
    return failed / attempted


def quartile_spread(values: list[float]) -> float:
    """(Q3 - Q1) / median, with the quartiles of
    ``statistics.quantiles(values, n=4)``."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str
    id: int


def covered_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[str, float]:
    """Per span name, the summed duration not covered by the span's
    children. Overlapping children count once."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    out: dict[str, float] = {}
    for s in spans:
        own = (s.end - s.start) - covered_length(children.get(s.id, []), s.start, s.end)
        out[s.name] = out.get(s.name, 0.0) + own
    return out


@dataclass
class Tracer:
    """Spans kept in memory and written out once at the end. A disabled
    tracer records nothing and costs one attribute test per span."""

    enabled: bool
    run_id: str
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        s = Span(name, time.time(), math.nan, parent, self.run_id, sid)
        self.spans.append(s)
        self._stack.append(sid)
        try:
            yield s
        finally:
            self._stack.pop()
            s.end = time.time()
