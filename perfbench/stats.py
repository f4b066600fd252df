"""Order statistics used for every reported figure."""

from __future__ import annotations

import math
import statistics

# Candidate tail percentiles, highest first.
TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
MIN_BEYOND_TAIL = 10


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def percentile(values, p: float) -> float:
    """Linear-interpolated percentile ``p`` (0-100) of ``values``."""
    xs = sorted(values)
    if not xs:
        return 0.0
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail(values) -> tuple[float, float, int]:
    """``(value, percentile, n)``: the highest candidate percentile that
    leaves at least ``MIN_BEYOND_TAIL`` samples beyond it. Falls back to the
    median when there are too few samples for any higher percentile."""
    xs = list(values)
    n = len(xs)
    for p in TAIL_PERCENTILES:
        if n * (100.0 - p) / 100.0 >= MIN_BEYOND_TAIL:
            return percentile(xs, p), p, n
    return percentile(xs, 50.0), 50.0, n


def geomean(values) -> float:
    xs = [v for v in values if v > 0]
    if not xs:
        return 0.0
    return math.exp(sum(math.log(v) for v in xs) / len(xs))
