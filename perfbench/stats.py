"""Small statistics helpers shared by the workloads and the steadiness
tool."""

from __future__ import annotations

import statistics

# percentiles a tail may be reported at above 90, highest first
_TAIL_LADDER = (99.9, 99.0, 95.0, 90.0)


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated ``p``-th percentile (0..100) of ``values``."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    k = (len(xs) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def tail_percentile(n: int) -> float:
    """The highest percentile with at least ten of ``n`` samples beyond
    it, rounded down to 99.9, 99, 95 or 90, or below 90 to a multiple of
    5; 50 when there are too few samples for any tail."""
    best = 100.0 * (1.0 - 10.0 / n) if n else 0.0
    for p in _TAIL_LADDER:
        if best >= p:
            return p
    return max(50.0, 5.0 * (best // 5.0))


def spread(values: list[float]) -> tuple[float, float, float, float]:
    """(q1, median, q3, (q3 - q1) / median) as the benchmark contract
    computes them: ``statistics.quantiles(values, n=4)``."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3, (q3 - q1) / q2 if q2 else float("inf")
