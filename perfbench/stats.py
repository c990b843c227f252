"""Summary statistics for op latencies."""

from __future__ import annotations

import math

# Candidate tail percentiles, highest first.
TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0)
MIN_BEYOND = 10


def _rank(n: int, pct: float) -> int:
    """1-based nearest-rank position of the ``pct`` percentile among
    ``n`` samples (rounded first, so 99.9 % of 10 000 is 9990)."""
    return max(1, math.ceil(round(pct * n / 100.0, 9)))


def nearest_rank(sorted_values: list[float], pct: float) -> float:
    """The ``pct`` percentile by the nearest-rank rule."""
    if not sorted_values:
        raise ValueError("no samples")
    return sorted_values[_rank(len(sorted_values), pct) - 1]


def samples_beyond(n: int, pct: float) -> int:
    """How many of ``n`` samples lie above the nearest-rank ``pct``
    percentile's rank."""
    return n - _rank(n, pct)


def tail_percentile(n: int) -> float | None:
    """The highest candidate percentile that still has at least
    ``MIN_BEYOND`` samples beyond it among ``n``; None if none has."""
    for pct in TAIL_PERCENTILES:
        if samples_beyond(n, pct) >= MIN_BEYOND:
            return pct
    return None

