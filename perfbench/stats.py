"""Order statistics the benchmark reports: medians, quartile spread and the
tail percentile that a sample of a given size can support."""

from __future__ import annotations

import math
import statistics

# a tail percentile is reported only when at least this many samples lie
# strictly beyond it; fewer make the value one or two outliers
MIN_BEYOND = 10
# candidate tail percentiles, highest first
TAIL_CANDIDATES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def median(values) -> float:
    vals = list(values)
    if not vals:
        raise ValueError("median of an empty sample")
    return float(statistics.median(vals))


def _rank(p: float, n: int) -> int:
    """1-based nearest rank of percentile ``p`` in ``n`` samples (rounded
    first, so 99.9% of 10,000 is rank 9,990, not 9,991)."""
    return max(1, math.ceil(round(p / 100.0 * n, 9)))


def percentile(values, p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least p% of the
    sample at or below it."""
    vals = sorted(values)
    if not vals:
        raise ValueError("percentile of an empty sample")
    return float(vals[_rank(p, len(vals)) - 1])


def tail_percentile(n: int) -> float | None:
    """Highest candidate percentile with at least ``MIN_BEYOND`` of ``n``
    samples beyond its nearest-rank position, or None when even the median
    has fewer than that many beyond it."""
    for p in TAIL_CANDIDATES:
        if n - _rank(p, n) >= MIN_BEYOND:
            return p
    return None


def quartile_spread(values) -> float:
    """Interquartile distance as a share of the median (the steadiness
    figure: ``statistics.quantiles(values, n=4)``, Q3 - Q1, over median)."""
    vals = list(values)
    q1, _, q3 = statistics.quantiles(vals, n=4)
    return (q3 - q1) / statistics.median(vals)
