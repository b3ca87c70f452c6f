"""Summary statistics for the benchmark's timings.

A tail latency is reported at the highest percentile that still has at
least ``MIN_BEYOND`` samples beyond it, so a run never quotes a p99 that
one sample decides. The ladder of candidate percentiles is fixed, so
runs with similar sample counts report the same percentile.
"""

from __future__ import annotations

import statistics
from collections.abc import Sequence

MIN_BEYOND = 10
LADDER = (99.0, 95.0, 90.0, 75.0, 50.0)


def percentile(values: Sequence[float], p: float) -> float:
    """Linear-interpolation percentile (numpy's default rule)."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    k = (len(xs) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def tail_percentile(n: int) -> float | None:
    """Highest ladder percentile with at least ``MIN_BEYOND`` of ``n``
    samples beyond it, or None when even the median has fewer."""
    for p in LADDER:
        if n * (100.0 - p) / 100.0 >= MIN_BEYOND:
            return p
    return None


def tail(values: Sequence[float]) -> tuple[float, float]:
    """(percentile, value) of the supported tail; the maximum (reported as
    percentile 100) when too few samples support any ladder percentile."""
    p = tail_percentile(len(values))
    if p is None:
        return 100.0, max(values)
    return p, percentile(values, p)


def quarter_growth(values: Sequence[float]) -> float:
    """Median of the last quarter of ``values`` (in time order) over the
    median of the first quarter."""
    q = len(values) // 4
    if q < 1:
        raise ValueError(f"growth needs at least 4 samples, got {len(values)}")
    return statistics.median(values[-q:]) / statistics.median(values[:q])


def spread(values: Sequence[float]) -> float:
    """Inter-quartile distance as a share of the median, as the
    acceptance check computes it (``statistics.quantiles(n=4)``)."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2
