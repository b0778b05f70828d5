"""Summary statistics shared by every workload.

Timings are reported as a median plus the highest percentile that still
has at least ten samples beyond it, with the sample count, so a tail is
never read off a handful of points.
"""

from __future__ import annotations

import math
import statistics

#: percentiles a tail may be reported at, highest first
TAIL_CANDIDATES = (99.9, 99.0, 95.0, 90.0, 75.0)
MIN_BEYOND = 10


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    k = (len(xs) - 1) * p / 100.0
    lo = math.floor(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def tail_percentile(n: int) -> float | None:
    """The highest candidate percentile with at least ``MIN_BEYOND``
    samples above it in a sample of ``n``; None when even p75 has
    fewer (a tail read off so few points would be noise)."""
    for p in TAIL_CANDIDATES:
        if round(n * (100.0 - p) / 100.0, 9) >= MIN_BEYOND:
            return p
    return None


def summarize(values: list[float]) -> dict:
    """{"n", "p50", "tail_p", "tail"}: the median and the rule's tail."""
    out: dict = {"n": len(values)}
    if not values:
        return out
    out["p50"] = statistics.median(values)
    p = tail_percentile(len(values))
    if p is not None:
        out["tail_p"] = p
        out["tail"] = percentile(values, p)
    return out
