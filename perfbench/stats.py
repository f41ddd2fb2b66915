"""Percentiles with the sample-count rule."""

from __future__ import annotations

import math

TAIL_CANDIDATES = (99.0, 95.0, 90.0, 75.0, 50.0)
MIN_BEYOND = 10


def percentile(values, p: float) -> float:
    """Linearly interpolated percentile (p in [0, 100]) of a non-empty
    sample; p=50 is the median."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of an empty sample")
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return float(xs[lo] + (xs[hi] - xs[lo]) * (pos - lo))


def tail_percentile(n: int) -> float:
    """The highest candidate percentile with at least MIN_BEYOND of the n
    samples above it; the median when the sample is too small for any."""
    for p in TAIL_CANDIDATES:
        if n - 1 - math.floor((n - 1) * p / 100.0) >= MIN_BEYOND:
            return p
    return 50.0


def tail(values) -> tuple[float, float]:
    """(percentile used, value) by the sample-count rule."""
    p = tail_percentile(len(values))
    return p, percentile(values, p)


def median(values) -> float:
    return percentile(values, 50.0)
