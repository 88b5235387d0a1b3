"""Order statistics used in the run record and the spread check."""

from __future__ import annotations

import math
import statistics


def percentile(values: list[float], p: float) -> dict:
    """Nearest-rank ``p``-th percentile, with the sample count and how many
    samples lie above it (a percentile is only trusted with >= 10 there)."""
    if not values:
        raise ValueError("percentile of no samples")
    ordered = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(ordered)))
    return {"value": ordered[rank - 1], "n": len(ordered), "beyond": len(ordered) - rank}


def highest_trusted_percentile(n: int, min_beyond: int = 10) -> float | None:
    """The highest whole percentile with at least ``min_beyond`` samples
    above it, or None when there are too few samples for any."""
    for p in range(99, 0, -1):
        if n - max(1, math.ceil(p / 100.0 * n)) >= min_beyond:
            return float(p)
    return None


def quartile_spread(values: list[float]) -> float:
    """(Q3 - Q1) / median, with Q1 and Q3 from statistics.quantiles(n=4)."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else math.inf
