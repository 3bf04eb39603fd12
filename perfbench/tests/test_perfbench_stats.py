"""Percentile helper and the spread a metric's bound is judged against."""

import statistics

import numpy as np
import pytest

from stats import iqr_share, median, percentile


@pytest.mark.parametrize("q", [0, 10, 25, 50, 90, 99, 100])
def test_percentile_matches_numpy_linear(q):
    xs = np.random.default_rng(0).exponential(size=37).tolist()
    assert percentile(xs, q) == pytest.approx(float(np.percentile(xs, q)))


def test_median_small_samples():
    assert median([3.0]) == 3.0
    assert median([1.0, 3.0]) == 2.0
    assert median([5.0, 1.0, 3.0]) == 3.0


def test_percentile_rejects_bad_input():
    with pytest.raises(ValueError):
        percentile([], 50)
    with pytest.raises(ValueError):
        percentile([1.0], 101)


def test_iqr_share_uses_statistics_quantiles():
    xs = [10.0, 11.0, 9.5, 10.2, 10.8, 9.9, 10.1, 10.4, 10.0, 12.0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    assert iqr_share(xs) == pytest.approx((q3 - q1) / q2)
