"""Summary statistics shared by the workloads."""

from __future__ import annotations

import math
import statistics

TAIL_MIN_BEYOND = 10


def median(xs) -> float:
    return float(statistics.median(xs))


def tail_percentile(samples: list[float]) -> tuple[float, float, int] | None:
    """(percentile, value, n) for the highest whole percentile that leaves at
    least TAIL_MIN_BEYOND samples strictly above its rank, or None when the
    sample is too small for any percentile above the median to qualify.

    With n sorted samples, percentile p sits at rank ceil(p/100 * n) (1-based,
    nearest-rank) and has n - rank samples beyond it."""
    n = len(samples)
    xs = sorted(samples)
    for p in range(99, 49, -1):
        rank = max(1, math.ceil(p / 100 * n))
        if n - rank >= TAIL_MIN_BEYOND:
            return float(p), xs[rank - 1], n
    return None
