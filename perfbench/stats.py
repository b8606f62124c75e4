"""Order statistics used by the benchmark report."""

from __future__ import annotations

import math
import statistics

TAIL_BEYOND = 10  # samples that should lie beyond a reported tail percentile


def percentile(values: list[float], pct: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least ``pct``
    percent of the samples at or below it."""
    if not values:
        raise ValueError("percentile of an empty sample")
    ordered = sorted(values)
    rank = max(1, math.ceil(pct / 100 * len(ordered)))
    return ordered[rank - 1]


def samples_beyond(n: int, pct: float) -> int:
    """How many of ``n`` samples lie strictly above the nearest-rank ``pct``."""
    return n - max(1, math.ceil(pct / 100 * n))


def min_samples(pct: int, beyond: int = TAIL_BEYOND) -> int:
    """The smallest sample count whose nearest-rank ``pct`` has ``beyond``
    samples beyond it."""
    n = beyond + 1
    while samples_beyond(n, pct) < beyond:
        n += 1
    return n


def geomean(values: list[float]) -> float:
    return math.exp(statistics.fmean(math.log(v) for v in values))


def quartile_spread(values: list[float]) -> float:
    """Inter-quartile distance as a share of the median."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med
