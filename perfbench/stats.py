"""Summary statistics shared by the benchmark and its tests."""

from __future__ import annotations

import math
import statistics

# A tail figure must have at least this many samples beyond it.
TAIL_MIN_BEYOND = 10


def median(values: list[float]) -> float:
    return statistics.median(values) if values else math.nan


def tail(values: list[float]) -> tuple[float, float, int]:
    """The highest percentile with at least ``TAIL_MIN_BEYOND`` samples
    beyond it: ``(value, percentile, samples)``.

    With ``n`` samples the order statistic at 0-based rank
    ``n - 1 - TAIL_MIN_BEYOND`` has exactly that many samples above it;
    its percentile is ``100 * rank / (n - 1)``. Fewer than
    ``TAIL_MIN_BEYOND + 1`` samples support no such percentile, and the
    value is NaN.
    """
    xs = sorted(values)
    n = len(xs)
    rank = n - 1 - TAIL_MIN_BEYOND
    if rank < 0:
        return math.nan, math.nan, n
    pct = 100.0 * rank / (n - 1) if n > 1 else 0.0
    return xs[rank], pct, n
