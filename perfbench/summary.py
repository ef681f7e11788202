"""Reducers for timing samples."""

from __future__ import annotations

import math
import statistics

# A tail percentile is reported only when at least this many samples lie
# beyond it; fewer make it a reading of one or two outliers.
MIN_BEYOND = 10


def percentile(xs: list[float], q: float) -> float | None:
    """Nearest-rank q-quantile (0 < q < 1) of `xs`, or None when fewer than
    MIN_BEYOND samples lie above its rank."""
    n = len(xs)
    rank = max(1, math.ceil(q * n))
    if n - rank < MIN_BEYOND:
        return None
    return sorted(xs)[rank - 1]


def spread(xs: list[float]) -> float:
    """Interquartile range as a share of the median."""
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return (q3 - q1) / statistics.median(xs)
