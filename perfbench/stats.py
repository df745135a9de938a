"""Summary statistics for the benchmark's timings."""

from __future__ import annotations

import math
from typing import Optional, Sequence

# A percentile is reported only when at least this many samples lie beyond it.
MIN_BEYOND = 10


def percentile(values: Sequence[float], q: float) -> Optional[float]:
    """The ``q``-th percentile (0 < q < 100, nearest rank), or ``None`` when
    fewer than ``MIN_BEYOND`` samples lie above it."""
    if not 0 < q < 100:
        raise ValueError(f"percentile out of range: {q}")
    ordered = sorted(values)
    n = len(ordered)
    if n == 0:
        return None
    rank = max(1, math.ceil(q / 100.0 * n))
    if n - rank < MIN_BEYOND:
        return None
    return ordered[rank - 1]

