import statistics

import numpy as np
import pytest

from perfbench.stats import percentile, quartile_spread, supported_percentile


@pytest.mark.parametrize(
    "n, want",
    [(10000, 99.9), (1000, 99.0), (999, 95.0), (200, 95.0), (199, 90.0), (100, 90.0), (99, 75.0), (40, 75.0), (39, None)],
)
def test_percentile_needs_ten_samples_beyond_it(n, want):
    assert supported_percentile(n) == want
    if want is not None:
        assert n * (100 - want) / 100 >= 10 - 1e-6


def test_percentile_matches_numpy():
    rng = np.random.default_rng(0)
    xs = rng.exponential(size=257).tolist()
    for p in (50, 90, 95, 99):
        assert percentile(xs, p) == pytest.approx(np.percentile(xs, p))


def test_quartile_spread_uses_statistics_quantiles():
    xs = [10.0, 11.0, 9.0, 10.5, 9.5, 10.2, 9.8, 10.1, 9.9, 10.3]
    q1, _, q3 = statistics.quantiles(xs, n=4)
    assert quartile_spread(xs) == pytest.approx((q3 - q1) / statistics.median(xs))
