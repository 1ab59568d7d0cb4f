"""Pure arithmetic behind the benchmark's metrics (no Spark here, so
the unit tests run without a session)."""

from __future__ import annotations

import math
import statistics
from dataclasses import dataclass, field

TAIL_MIN_BEYOND = 10


def interval_union(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by the union of [start, end) intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted((s, e) for s, e in intervals if e > s):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clipped(intervals: list[tuple[float, float]], lo: float, hi: float) -> list[tuple[float, float]]:
    """Intervals cut to the window [lo, hi]; parts outside are dropped."""
    return [(max(s, lo), min(e, hi)) for s, e in intervals if min(e, hi) > max(s, lo)]


def driver_gap(wall: tuple[float, float], jobs: list[tuple[float, float]]) -> float:
    """Time inside ``wall`` with no Spark job running: the query's wall
    time minus the union of its job intervals (clipped to the query)."""
    lo, hi = wall
    return (hi - lo) - interval_union(clipped(jobs, lo, hi))


@dataclass
class Span:
    span_id: int
    parent: int | None
    name: str
    start: float
    end: float
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def self_times(spans: list[Span]) -> dict[int, float]:
    """Per span: its duration minus the part of its interval that its
    direct children cover (children are unioned, so overlapping
    children are not double-subtracted)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.span_id: s.duration - interval_union(clipped(kids.get(s.span_id, []), s.start, s.end))
        for s in spans
    }


def tail_percentile(samples: list[float], min_beyond: int = TAIL_MIN_BEYOND) -> tuple[float, float]:
    """The highest percentile that still has at least ``min_beyond``
    samples above it: the value at ascending rank n - min_beyond (1-based)
    and that rank as a percentile of n. With ``min_beyond`` or fewer
    samples no such rank exists and the minimum (rank 1) is returned."""
    if not samples:
        raise ValueError("no samples")
    xs = sorted(samples)
    rank = max(1, len(xs) - min_beyond)
    return xs[rank - 1], 100.0 * rank / len(xs)


def failed_frac(outcomes: list[bool]) -> tuple[int, int, float]:
    """(attempted, failed, failed/attempted) from per-operation success
    flags; an operation that raised or returned a wrong result is a
    ``False``."""
    attempted = len(outcomes)
    failed = sum(1 for ok in outcomes if not ok)
    return attempted, failed, (failed / attempted if attempted else math.nan)


def wall_sum_of_medians(per_query: dict[str, list[float]]) -> float:
    """Sum over queries of each query's median latency."""
    return sum(statistics.median(v) for v in per_query.values() if v)


def wall_sum_of_mins(per_query: dict[str, list[float]]) -> float:
    """Sum over queries of each query's fastest latency: the time the
    workload takes on a warm engine when nothing else on the host gets
    in its way."""
    return sum(min(v) for v in per_query.values() if v)
