"""Summary statistics the benchmark reports: medians, percentiles, the
tail percentile rule and the failed-operation share."""

from __future__ import annotations

import math
import statistics

# Percentiles considered for the tail, highest first.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0)


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolation percentile (NumPy's default method)."""
    if not values:
        raise ValueError("percentile of no values")
    if not 0.0 <= p <= 100.0:
        raise ValueError(f"percentile must be in [0, 100], got {p}")
    xs = sorted(values)
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return percentile(values, 50.0)


def tail_percentile(n: int, min_beyond: int = 10) -> float | None:
    """The highest percentile of :data:`TAIL_LADDER` with at least
    ``min_beyond`` of ``n`` samples above it, or ``None`` when even the
    lowest rung has too few."""
    for p in TAIL_LADDER:
        if round(n * (100.0 - p) / 100.0, 6) >= min_beyond:
            return p
    return None


def failed_frac(failed: int, attempted: int) -> float:
    """Failed operations over attempted ones."""
    if attempted < 1:
        raise ValueError("no operation attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside [0, attempted={attempted}]")
    return failed / attempted


def quartile_spread(values: list[float]) -> float:
    """Distance between the first and third quartile as a share of the
    median, with quartiles as ``statistics.quantiles(values, n=4)`` gives
    them — the figure the stability check bounds."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)
