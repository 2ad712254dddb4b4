"""Summary statistics of the benchmark.

Percentiles use the nearest-rank rule: the p-th percentile of n values
is the ceil(p/100 * n)-th smallest, so it is always a measured value
and p95 of 270 samples leaves 13 samples beyond it. A tail mean is the
mean of the values ranked above the p-th percentile.
"""
import math


def _rank(values, p):
    """1-based nearest rank of the p-th percentile (0 < p <= 100)."""
    if not values:
        raise ValueError("percentile of no values")
    if not 0 < p <= 100:
        raise ValueError(f"percentile rank {p} outside (0, 100]")
    return max(1, math.ceil(p / 100 * len(values)))


def percentile(values, p):
    """Nearest-rank p-th percentile (0 < p <= 100) of a non-empty sequence."""
    return sorted(values)[_rank(values, p) - 1]


def tail_mean(values, p):
    """Mean of the values ranked above the nearest-rank p-th percentile;
    the largest value alone when none ranks above it."""
    xs = sorted(values)[_rank(values, p):] or [max(values)]
    return sum(xs) / len(xs)


def median(values):
    """Middle value; the mean of the two middle values for an even count."""
    if not values:
        raise ValueError("median of no values")
    xs = sorted(values)
    mid = len(xs) // 2
    return xs[mid] if len(xs) % 2 else (xs[mid - 1] + xs[mid]) / 2
