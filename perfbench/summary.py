"""Order statistics the benchmark reports."""

from __future__ import annotations

import math
import statistics

TAIL_LADDER = (99.0, 95.0, 90.0, 75.0)
MIN_BEYOND = 10


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def nearest_rank(values: list[float], p: float) -> float:
    s = sorted(values)
    return s[max(0, math.ceil(p / 100.0 * len(s)) - 1)]


def tail(values: list[float]) -> tuple[float, float, int]:
    """``(value, percentile, n)`` for the highest percentile of
    ``TAIL_LADDER`` with at least ``MIN_BEYOND`` samples above its rank.
    With fewer samples than any rung allows, the maximum (percentile
    100) is the tail."""
    n = len(values)
    for p in TAIL_LADDER:
        if n - math.ceil(p / 100.0 * n) >= MIN_BEYOND:
            return nearest_rank(values, p), p, n
    return (max(values) if values else 0.0), 100.0, n
