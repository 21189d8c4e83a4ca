"""Order statistics shared by the runner and the per-layer aggregation."""

from __future__ import annotations

import math
import statistics

#: a tail percentile must leave at least this many samples beyond it
TAIL_MIN_BEYOND = 10


def median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def tail(values) -> tuple[float, int, int]:
    """(value, percentile, sample count) of the highest nearest-rank
    percentile that still has ``TAIL_MIN_BEYOND`` samples above it. With
    fewer than ``2 * TAIL_MIN_BEYOND`` samples no such percentile reaches the
    median, so the median's rank is used and reported."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return 0.0, 0, 0
    rank = max(n - TAIL_MIN_BEYOND, math.ceil(n / 2))
    return float(xs[rank - 1]), int(100 * rank / n), n
