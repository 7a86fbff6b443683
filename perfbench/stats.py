"""Order statistics shared by the runner and the compare mode."""

from __future__ import annotations

import statistics

# Candidate tail percentiles, highest first.
TAIL_LADDER = (99, 95, 90, 80, 75, 50)


def tail_percentile(n: int) -> int:
    """The highest percentile of the ladder with at least ten of ``n``
    samples beyond it (50 when even the median has fewer)."""
    for p in TAIL_LADDER:
        if n * (100 - p) >= 10 * 100:
            return p
    return 50


def percentile(values, p: int) -> float:
    """Linear-interpolated ``p``-th percentile of the sample."""
    vals = list(values)
    if len(vals) == 1:
        return vals[0]
    return statistics.quantiles(vals, n=100, method="inclusive")[p - 1]


def quartiles(values) -> tuple[float, float, float]:
    """(q1, median, q3) as ``statistics.quantiles(values, n=4)`` gives
    them."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def spread(values) -> float:
    """Inter-quartile distance as a share of the median."""
    q1, med, q3 = quartiles(values)
    return (q3 - q1) / med if med else float("inf")
