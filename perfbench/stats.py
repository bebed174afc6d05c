"""Summary statistics shared by the benchmark and its steadiness check."""

from __future__ import annotations

import statistics

#: a percentile is reported only when at least this many samples lie beyond it
MIN_TAIL_SAMPLES = 10


def supported_percentile(n: int, candidates=(99.9, 99.0, 95.0, 90.0, 75.0)) -> float | None:
    """Highest percentile from ``candidates`` with at least ``MIN_TAIL_SAMPLES``
    of ``n`` samples strictly beyond it, or None when ``n`` supports none.

    p95 needs 200 samples (10 beyond it), p90 needs 100."""
    for p in candidates:
        if n * (100.0 - p) / 100.0 >= MIN_TAIL_SAMPLES - 1e-6:
            return p
    return None


def percentile(values, p: float) -> float:
    """Linear-interpolated percentile (numpy's default method), pure Python."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    k = (len(xs) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def median(values) -> float:
    return float(statistics.median(values))


def quartile_spread(values) -> float:
    """(Q3 - Q1) / median with ``statistics.quantiles(values, n=4)`` — the
    run-to-run steadiness measure each end-to-end metric is held to."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)
