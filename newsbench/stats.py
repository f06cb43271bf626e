"""Pure metric arithmetic for the benchmark: no Spark, no I/O.

Everything here is a function of plain numbers so the metric definitions
are unit-tested on their own (``newsbench/test_stats.py``).
"""

from __future__ import annotations

import math
from dataclasses import dataclass

MB = 1024.0 * 1024.0


def median(values: list[float]) -> float:
    """Median of a non-empty sample (mean of the two middle values for an
    even count)."""
    if not values:
        raise ValueError("median of an empty sample")
    s = sorted(values)
    n = len(s)
    mid = n // 2
    return s[mid] if n % 2 else (s[mid - 1] + s[mid]) / 2.0


def median_or_zero(values) -> float:
    """Median of a sample, 0.0 for an empty one (a step the run never took)."""
    values = list(values)
    return median(values) if values else 0.0


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least ``p``
    percent of the samples at or below it."""
    if not values:
        raise ValueError("percentile of an empty sample")
    if not 0 < p <= 100:
        raise ValueError(f"percentile {p} outside (0, 100]")
    s = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(s)))
    return s[rank - 1]


# tail percentiles tried from the most extreme down; a percentile is only
# reported when at least TAIL_MIN_BEYOND samples lie beyond it
TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0)
TAIL_MIN_BEYOND = 10


def tail_percentile(values: list[float]) -> tuple[float, float] | None:
    """(p, value) for the highest percentile in ``TAIL_PERCENTILES`` that
    has at least ``TAIL_MIN_BEYOND`` samples beyond it; None when the
    sample is too small for any of them."""
    n = len(values)
    for p in TAIL_PERCENTILES:
        beyond = n - max(1, math.ceil(p / 100.0 * n))
        if beyond >= TAIL_MIN_BEYOND:
            return p, percentile(values, p)
    return None


@dataclass
class Summary:
    n: int
    median: float
    tail: tuple[float, float] | None

    def describe(self, unit: str) -> str:
        tail = (f", p{self.tail[0]:g} {self.tail[1]:.4f} {unit}"
                if self.tail else ", no tail percentile")
        return f"median {self.median:.4f} {unit}{tail} (n={self.n})"


def summarize(values: list[float]) -> Summary:
    """Median, tail percentile and sample count of a timing sample."""
    return Summary(len(values), median(values), tail_percentile(values))


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping [start, end) intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals: list[tuple[float, float]], lo: float,
         hi: float) -> list[tuple[float, float]]:
    """Intervals cut to the window [lo, hi); empty pieces dropped."""
    out = []
    for s, e in intervals:
        s, e = max(s, lo), min(e, hi)
        if e > s:
            out.append((s, e))
    return out


def self_time(start: float, end: float,
              children: list[tuple[float, float]]) -> float:
    """A span's duration minus the part of its interval that its child
    spans cover. Children may overlap each other (spans opened from
    parallel threads), so the covered part is their union, not their sum."""
    return (end - start) - union_length(clip(children, start, end))


def idle_time(start: float, end: float,
              tasks: list[tuple[float, float]]) -> float:
    """Wall time inside [start, end) during which no task was running."""
    return (end - start) - union_length(clip(tasks, start, end))


def busy_frac(start: float, end: float, tasks: list[tuple[float, float]],
              cores: int) -> float:
    """Task core-seconds inside the window over cores × window wall."""
    wall = end - start
    if wall <= 0 or cores <= 0:
        raise ValueError("busy_frac needs a positive window and core count")
    busy = sum(e - s for s, e in clip(tasks, start, end))
    return busy / (cores * wall)


def failed_frac(attempted: int, failed: int) -> float:
    """Failed over attempted operations."""
    if attempted < 1:
        raise ValueError("failed_frac needs at least one attempted operation")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside [0, attempted={attempted}]")
    return failed / attempted


def skew(values: list[float]) -> float:
    """max / median of a sample (1.0 = perfectly even)."""
    m = median(values)
    return max(values) / m if m > 0 else 1.0
