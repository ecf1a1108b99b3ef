"""Summary statistics the report uses."""

from __future__ import annotations

import math
import statistics

#: a tail percentile must leave at least this many samples beyond it
TAIL_MIN_BEYOND = 10


def median(xs: list[float]) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def percentile(xs: list[float], p: float) -> float:
    """Nearest-rank percentile (p in 0..100) of a non-empty sample."""
    s = sorted(xs)
    k = max(1, math.ceil(p / 100.0 * len(s)))
    return float(s[min(k, len(s)) - 1])


def tail(xs: list[float]) -> tuple[float, int, int]:
    """(value, percentile, sample count): the highest whole percentile at
    or above the median whose nearest-rank value still has at least
    ``TAIL_MIN_BEYOND`` samples ranked beyond it. A sample that supports no
    tail above the median reports the median as percentile 50, so the
    record says plainly that no tail was measurable."""
    n = len(xs)
    if n == 0:
        raise ValueError("tail of an empty sample")
    for p in range(99, 50, -1):
        rank = max(1, math.ceil(p / 100.0 * n))
        if n - rank >= TAIL_MIN_BEYOND:
            return percentile(xs, p), p, n
    return median(xs), 50, n
