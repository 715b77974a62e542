"""Summary statistics shared by the benchmark and its steadiness report."""

from __future__ import annotations

import math
import statistics

#: a percentile is reported only if at least this many samples lie beyond it
MIN_TAIL_SAMPLES = 10


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank ``q``-th percentile (``0 < q < 100``)."""
    if not values:
        raise ValueError("percentile of no samples")
    ordered = sorted(values)
    rank = max(1, math.ceil(q / 100.0 * len(ordered)))
    return ordered[rank - 1]


def tail_supported(count: int, q: float) -> bool:
    """True if ``count`` samples leave at least ``MIN_TAIL_SAMPLES`` beyond
    the ``q``-th percentile."""
    rank = max(1, math.ceil(q / 100.0 * count))
    return count - rank >= MIN_TAIL_SAMPLES


def highest_tail(values: list[float], candidates=(99.9, 99.0, 95.0, 90.0)):
    """``(q, value)`` for the highest candidate percentile the sample
    supports, or ``None`` if it supports none."""
    for q in candidates:
        if tail_supported(len(values), q):
            return q, percentile(values, q)
    return None


def quartiles(values: list[float]) -> tuple[float, float, float]:
    """First quartile, median and third quartile, as
    ``statistics.quantiles(values, n=4)`` gives them."""
    if len(values) < 2:
        v = values[0] if values else 0.0
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def drift(values: list[float]) -> float:
    """Median of the second half over the median of the first half, minus
    one: how far a run's samples moved while it ran."""
    if len(values) < 2:
        return 0.0
    half = len(values) // 2
    first = median(values[:half])
    return median(values[len(values) - half:]) / first - 1.0 if first else 0.0
