"""Percentiles for benchmark samples.

A percentile is only reported when at least ``min_beyond`` samples lie
beyond it (the ten-beyond rule): p90 needs 100 samples, p50 needs 20.
"""

from __future__ import annotations

import math


def samples_beyond(n: int, q: float) -> int:
    """Samples strictly above the nearest-rank ``q``-th percentile of ``n``."""
    return n - max(1, math.ceil(q / 100.0 * n))


def percentile(values, q: float, min_beyond: int = 10) -> float | None:
    """Nearest-rank percentile, or None when fewer than ``min_beyond``
    samples lie beyond it."""
    xs = sorted(values)
    if not xs or samples_beyond(len(xs), q) < min_beyond:
        return None
    return float(xs[max(1, math.ceil(q / 100.0 * len(xs))) - 1])


def median(values) -> float:
    """Median of a non-empty sample (mean of the middle pair when even)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("median of no samples")
    mid = len(xs) // 2
    return float(xs[mid]) if len(xs) % 2 else (xs[mid - 1] + xs[mid]) / 2.0


def highest_percentile(values, min_beyond: int = 10,
                       candidates=(99.9, 99, 95, 90, 75, 50)) -> tuple[float, float] | None:
    """(q, value) for the highest candidate percentile with at least
    ``min_beyond`` samples beyond it."""
    for q in candidates:
        v = percentile(values, q, min_beyond)
        if v is not None:
            return q, v
    return None
