"""Order statistics for the reported timings.

A timing is reported as its median plus the highest percentile that has
at least ten samples beyond it, together with the sample count.
"""

from __future__ import annotations

import statistics

TAIL_PERCENTILES = (99, 90, 75)
MIN_BEYOND = 10


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated q-th percentile (0 <= q <= 100)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = (len(xs) - 1) * q / 100
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def supported_tail(n: int) -> int | None:
    """Highest of TAIL_PERCENTILES with MIN_BEYOND samples above it."""
    for q in TAIL_PERCENTILES:
        if n * (100 - q) / 100 >= MIN_BEYOND:
            return q
    return None


def describe(values: list[float]) -> dict:
    """Median, supported tail percentile and sample count of a timing."""
    out = {"n": len(values), "p50": statistics.median(values) if values else None}
    q = supported_tail(len(values))
    if q is not None:
        out[f"p{q}"] = percentile(values, q)
    return out

