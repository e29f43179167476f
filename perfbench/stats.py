"""Order statistics used by the benchmark's metrics."""

from __future__ import annotations

import math

#: a tail percentile needs at least this many samples beyond it
TAIL_BEYOND = 10


def tail_percentile(n: int) -> int | None:
    """The highest whole percentile from p50 up with at least
    ``TAIL_BEYOND`` of ``n`` samples strictly beyond it, or None when
    ``n`` is too small for any."""
    best = None
    for p in range(50, 100):
        if n - math.ceil(n * p / 100) >= TAIL_BEYOND:
            best = p
    return best


def tail(values: list[float]) -> tuple[float, int | None]:
    """(value, percentile) under the rule above: the sample at rank
    ``ceil(n * p / 100)``. With too few samples for any percentile from
    50 up, the maximum is returned with percentile None."""
    vals = sorted(values)
    p = tail_percentile(len(vals))
    if p is None:
        return vals[-1], None
    return vals[math.ceil(len(vals) * p / 100) - 1], p
