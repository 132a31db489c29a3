"""Summary statistics shared by the benchmark's metrics."""

from __future__ import annotations

import math
import statistics

# percentiles a tail metric may report, highest first
TAIL_LADDER = (99.0, 95.0, 90.0, 75.0, 50.0)


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(n: int, beyond: int = 10) -> float | None:
    """The highest ladder percentile with at least *beyond* of *n*
    samples above it, or None when even the median has fewer."""
    for p in TAIL_LADDER:
        if n * (100.0 - p) / 100.0 >= beyond:
            return p
    return None


def tail(values: list[float], beyond: int = 10) -> tuple[float, float]:
    """(percentile, value) of the tail metric for *values*; falls back
    to the median when there are too few samples for any higher rung."""
    p = tail_percentile(len(values), beyond) or 50.0
    return p, percentile(values, p)


def median(values: list[float]) -> float:
    return statistics.median(values)


def geomean(values: list[float]) -> float:
    return math.exp(sum(math.log(v) for v in values) / len(values))
