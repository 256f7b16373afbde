"""Latency summaries."""

from __future__ import annotations

import statistics

#: a tail percentile is reported only where this many samples lie beyond it
TAIL_BEYOND = 10


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def tail(xs: list[float]) -> tuple[float, float]:
    """(percentile, value) of the highest percentile that still has
    ``TAIL_BEYOND`` samples beyond it: with n sorted samples, the value
    with exactly ten samples above it, which is the (n - 10) / n quantile.
    Below ``2 * TAIL_BEYOND`` samples that would fall under the median, so
    the maximum is returned with percentile 100."""
    s = sorted(xs)
    n = len(s)
    if n < 2 * TAIL_BEYOND:
        return 100.0, (s[-1] if s else 0.0)
    return 100.0 * (n - TAIL_BEYOND) / n, s[n - TAIL_BEYOND - 1]
