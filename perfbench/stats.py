"""Order statistics the benchmark reports."""

from __future__ import annotations

#: candidate tail percentiles, highest first
TAIL_LADDER = (99.0, 95.0, 90.0, 80.0, 75.0, 50.0)


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolation percentile (numpy's default method)."""
    if not values:
        raise ValueError("percentile of no values")
    xs = sorted(values)
    pos = (len(xs) - 1) * p / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(n: int, beyond: int = 10) -> float | None:
    """The highest percentile of `TAIL_LADDER` that leaves at least
    `beyond` of `n` samples above it, or None when even the median
    does not (fewer than 2 * `beyond` samples)."""
    for p in TAIL_LADDER:
        if n * (100.0 - p) / 100.0 >= beyond:
            return p
    return None
