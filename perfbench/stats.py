"""Summary statistics used by every workload."""

from __future__ import annotations

import math

# a tail percentile is reported only when at least this many samples
# lie beyond it; below that the "tail" is one or two unlucky samples
MIN_BEYOND = 10


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank ``q``-th percentile (0 < q <= 100) of ``values``.

    Raises ValueError when fewer than MIN_BEYOND samples lie strictly
    beyond the rank, except for the median, which is always reported.
    """
    if not values:
        raise ValueError("percentile of no samples")
    if not 0 < q <= 100:
        raise ValueError(f"percentile level {q} outside (0, 100]")
    n = len(values)
    rank = max(1, math.ceil(q / 100 * n))
    if q > 50 and n - rank < MIN_BEYOND:
        raise ValueError(
            f"p{q:g} needs {MIN_BEYOND} samples beyond it; {n} samples leave {n - rank}"
        )
    return sorted(values)[rank - 1]


def median(values: list[float]) -> float:
    """Midpoint median (mean of the two middle values for even n)."""
    if not values:
        raise ValueError("median of no samples")
    s = sorted(values)
    mid = len(s) // 2
    return s[mid] if len(s) % 2 else (s[mid - 1] + s[mid]) / 2
