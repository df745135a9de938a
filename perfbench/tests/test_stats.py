import pytest

from stats import MIN_BEYOND, percentile


def test_percentile_needs_ten_samples_beyond():
    values = list(range(1, 41))  # p75 = 30th smallest, 10 beyond
    assert percentile(values, 75) == 30
    assert percentile(values[:-1], 75) is None  # 39 samples: 9 beyond


def test_median_rank_with_twenty_samples():
    values = [float(v) for v in range(20, 0, -1)]
    assert percentile(values, 50) == 10.0
    assert percentile(values[:19], 50) is None


def test_no_percentile_without_samples():
    assert percentile([], 50) is None
    assert percentile([1.0] * MIN_BEYOND, 50) is None


def test_percentile_range_checked():
    with pytest.raises(ValueError):
        percentile([1.0], 100)

