"""Order statistics for the benchmark's timings.

A tail percentile is reported only when at least ``MIN_BEYOND`` samples
lie beyond it: with fewer, the "p90" of a run is one or two samples and
says nothing about the tail.
"""

from __future__ import annotations

import math
from collections.abc import Sequence

MIN_BEYOND = 10


def percentile(values: Sequence[float], q: float) -> float:
    """Linear-interpolation percentile (numpy's default method).

    ``q`` is in [0, 100]; ``values`` must be non-empty."""
    if not values:
        raise ValueError("percentile of no samples")
    if not 0.0 <= q <= 100.0:
        raise ValueError(f"percentile {q} outside [0, 100]")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: Sequence[float]) -> float:
    return percentile(values, 50.0)


def samples_beyond(n: int, q: float) -> int:
    """How many of ``n`` samples lie above the q-th percentile's rank."""
    return n - math.ceil(n * q / 100.0)


def supported_percentile(
    values: Sequence[float], q: float, min_beyond: int = MIN_BEYOND
) -> float | None:
    """The q-th percentile, or None when fewer than ``min_beyond`` samples
    lie beyond it."""
    if samples_beyond(len(values), q) < min_beyond:
        return None
    return percentile(values, q)

