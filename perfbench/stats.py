"""Arithmetic the benchmark reports: percentiles, geometric mean, interval
coverage, span self time and job-to-span attribution.

Pure Python on plain numbers so it is testable without Spark
(``python3 -m pytest perfbench/tests``).
"""

from __future__ import annotations

import math
from collections.abc import Iterable, Sequence
from dataclasses import dataclass, field

Interval = tuple[float, float]


@dataclass
class Span:
    """One timed call at a layer boundary. ``start``/``end`` are epoch
    seconds so they line up with the Spark event log's clock; ``query`` is
    the id of the query the span ran for (``None`` outside a query)."""

    id: int
    name: str
    layer: str
    start: float
    end: float
    parent: int | None = None
    query: str | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def percentile(values: Sequence[float], q: float) -> float:
    """Linear-interpolated percentile (``q`` in [0, 1]) of a non-empty list,
    the same rule as numpy's default."""
    if not values:
        raise ValueError("percentile of an empty sample")
    xs = sorted(values)
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def supports(n: int, q: float, min_beyond: int = 10) -> bool:
    """True when a sample of ``n`` has at least ``min_beyond`` values above
    its ``q`` percentile, the least a tail percentile can rest on."""
    return n - math.ceil(q * n) >= min_beyond


def tail_percentile(
    values: Sequence[float],
    candidates: Sequence[float] = (0.99, 0.95, 0.9, 0.75, 0.5),
    min_beyond: int = 10,
) -> tuple[float, float] | None:
    """``(q, value)`` for the highest candidate percentile the sample
    supports, or ``None`` when even the lowest has too few values beyond."""
    for q in sorted(candidates, reverse=True):
        if supports(len(values), q, min_beyond):
            return q, percentile(values, q)
    return None


def geomean(values: Iterable[float]) -> float:
    """Geometric mean of positive numbers."""
    xs = list(values)
    if not xs or min(xs) <= 0:
        raise ValueError("geomean needs a non-empty list of positive numbers")
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def union(intervals: Iterable[Interval]) -> list[Interval]:
    """Merge intervals into disjoint, sorted ones."""
    out: list[list[float]] = []
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if out and s <= out[-1][1]:
            out[-1][1] = max(out[-1][1], e)
        else:
            out.append([s, e])
    return [(s, e) for s, e in out]


def covered(window: Interval, intervals: Iterable[Interval]) -> float:
    """Length of ``window`` covered by the union of ``intervals``."""
    lo, hi = window
    return sum(
        max(0.0, min(e, hi) - max(s, lo))
        for s, e in union(intervals)
    )


def self_times(spans: Sequence[Span]) -> dict[int, float]:
    """Each span's duration minus the part of it its child spans cover.
    Children that overlap each other (pool threads) are counted once."""
    children: dict[int, list[Interval]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.id: s.duration - covered((s.start, s.end), children.get(s.id, ()))
        for s in spans
    }


def depth(span: Span, by_id: dict[int, Span]) -> int:
    d = 0
    while span.parent is not None and span.parent in by_id:
        span = by_id[span.parent]
        d += 1
    return d


def attribute(times: Iterable[float], spans: Sequence[Span]) -> list[Span | None]:
    """For each time (a job's submission), the innermost span whose interval
    contains it: the deepest, then the latest started. Jobs submitted from
    pool threads carry no job group, so the interval is the only link from
    a job to the call that caused it."""
    by_id = {s.id: s for s in spans}
    depths = {s.id: depth(s, by_id) for s in spans}
    out: list[Span | None] = []
    for t in times:
        best = None
        for s in spans:
            if s.start <= t <= s.end and (
                best is None
                or (depths[s.id], s.start) > (depths[best.id], best.start)
            ):
                best = s
        out.append(best)
    return out


def outermost(spans: Sequence[Span], layer: str) -> list[Span]:
    """Spans of ``layer`` with no ancestor of the same layer, so a layer's
    calls into itself are not counted twice."""
    by_id = {s.id: s for s in spans}
    out = []
    for s in spans:
        if s.layer != layer:
            continue
        p = s.parent
        while p is not None and p in by_id and by_id[p].layer != layer:
            p = by_id[p].parent
        if p is None or p not in by_id:
            out.append(s)
    return out
