"""Percentiles under the ten-beyond rule.

A percentile is interpolated linearly between the two samples nearest
to rank (n - 1) * q, as `statistics.quantiles(..., method="inclusive")`
and numpy's default compute it. Unlike the nearest-rank value it does
not jump from one sample to the next as the samples shift, which
matters where a pass mixes operations of different cost.

A percentile is only reported as such when at least ten samples lie
beyond it; with fewer, the value is still computed but flagged, and
every report carries its sample count.
"""
import math

MIN_BEYOND = 10


def beyond(n, q):
    """Samples ranked above the interpolated q-quantile of n samples:
    those above the lower of the two samples it lies between."""
    if n <= 0:
        return 0
    return n - 1 - math.floor((n - 1) * q)


def percentile(values, q):
    """Linearly interpolated q-quantile (0 <= q <= 1), with its sample
    count and whether the ten-beyond rule holds for it."""
    if not values:
        raise ValueError("percentile of no samples")
    if not 0.0 <= q <= 1.0:
        raise ValueError(f"quantile {q} outside [0, 1]")
    xs = sorted(values)
    h = (len(xs) - 1) * q
    lo = math.floor(h)
    hi = min(lo + 1, len(xs) - 1)
    b = beyond(len(xs), q)
    return {"value": xs[lo] + (h - lo) * (xs[hi] - xs[lo]), "n": len(xs),
            "beyond": b, "ten_beyond": b >= MIN_BEYOND}


def highest_valid(values, quantiles=(0.5, 0.75, 0.9, 0.95, 0.99)):
    """The highest of `quantiles` that has ten samples beyond it, or
    None when even the median does not."""
    ok = [q for q in quantiles if beyond(len(values), q) >= MIN_BEYOND]
    return max(ok) if ok else None
