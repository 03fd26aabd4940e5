"""Percentile helper: values, and tail percentiles only with support."""

import numpy as np
import pytest

from perfbench import stats


@pytest.mark.parametrize("q", [0, 10, 50, 90, 99, 100])
def test_percentile_matches_numpy_linear(q):
    xs = list(np.random.default_rng(3).exponential(size=37))
    assert stats.percentile(xs, q) == pytest.approx(np.percentile(xs, q))


def test_median_of_even_count_interpolates():
    assert stats.median([4.0, 1.0, 3.0, 2.0]) == 2.5


def test_percentile_rejects_empty_and_out_of_range():
    with pytest.raises(ValueError):
        stats.percentile([], 50)
    with pytest.raises(ValueError):
        stats.percentile([1.0], 101)


def test_p90_needs_ten_samples_beyond_it():
    assert stats.samples_beyond(100, 90) == 10
    assert stats.samples_beyond(99, 90) == 9
    assert stats.supported_percentile(list(range(99)), 90) is None
    assert stats.supported_percentile(list(range(100)), 90) == pytest.approx(
        np.percentile(range(100), 90))

