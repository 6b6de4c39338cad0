"""Order statistics used by the benchmark report.

Timings are summarised as medians with quartiles, never as a minimum
over "clean" samples: a minimum hides exactly the slow tail a change
can introduce.
"""

from __future__ import annotations

import math
import statistics

# Candidate tail percentiles, highest first.
TAIL_CANDIDATES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
MIN_BEYOND = 10


def percentile(values, p: float) -> float:
    """Linear-interpolated ``p``-th percentile (0 <= p <= 100)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    if len(xs) == 1:
        return float(xs[0])
    k = (len(xs) - 1) * p / 100.0
    lo = math.floor(k)
    hi = min(lo + 1, len(xs) - 1)
    return float(xs[lo] + (xs[hi] - xs[lo]) * (k - lo))


def quartiles(values) -> dict[str, float]:
    """``{"q1", "median", "q3"}`` as ``statistics.quantiles(n=4)`` gives
    them (exclusive method); a single value is its own quartiles."""
    xs = [float(v) for v in values]
    if len(xs) == 1:
        return {"q1": xs[0], "median": xs[0], "q3": xs[0]}
    q1, med, q3 = statistics.quantiles(xs, n=4)
    return {"q1": q1, "median": med, "q3": q3}


def tail_percentile(n: int, min_beyond: int = MIN_BEYOND) -> float | None:
    """Highest candidate percentile with at least ``min_beyond`` of
    ``n`` samples above it, or None when even the median has fewer."""
    for p in TAIL_CANDIDATES:
        if n * (100.0 - p) >= min_beyond * 100.0 - 1e-9:
            return p
    return None


def tail(values, min_beyond: int = MIN_BEYOND) -> tuple[float, float]:
    """``(percentile, value)`` of the tail latency; when too few samples
    exist for any candidate, the maximum is reported as percentile 100."""
    p = tail_percentile(len(values), min_beyond)
    if p is None:
        return 100.0, float(max(values))
    return p, percentile(values, p)
