"""The percentile helper follows the ten-beyond rule."""

from __future__ import annotations

import pytest

from perfbench.stats import highest_percentile, median, percentile, samples_beyond


def test_p90_needs_a_hundred_samples():
    assert percentile(range(99), 90) is None
    assert percentile(range(100), 90) == 89.0
    assert samples_beyond(100, 90) == 10


def test_p50_needs_twenty_samples():
    assert percentile(range(19), 50) is None
    assert percentile(range(20), 50) == 9.0


def test_highest_percentile_with_ten_beyond():
    assert highest_percentile(range(1000)) == (99, 989.0)
    assert highest_percentile(range(100)) == (90, 89.0)
    assert highest_percentile(range(40)) == (75, 29.0)
    assert highest_percentile(range(5)) is None


def test_median():
    assert median([3, 1, 2]) == 2.0
    assert median([4, 1, 2, 3]) == 2.5
    with pytest.raises(ValueError):
        median([])
