import numpy as np
import pytest

from perfbench import stats


@pytest.mark.parametrize(
    "n, expected",
    [(1000, 99.0), (999, 95.0), (200, 95.0), (199, 90.0), (100, 90.0), (99, 75.0), (40, 75.0), (39, 50.0), (20, 50.0), (19, None), (1, None)],
)
def test_tail_percentile_keeps_ten_samples_beyond(n, expected):
    assert stats.tail_percentile(n) == expected
    if expected is not None:
        assert n * (100 - expected) / 100 >= stats.MIN_BEYOND


def test_tail_falls_back_to_max_below_twenty_samples():
    assert stats.tail([0.3, 0.1, 0.2]) == (100.0, 0.3)


def test_percentile_matches_numpy_linear_rule():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0, 10.0, 7.5]
    for p in (0, 25, 50, 75, 90, 100):
        assert stats.percentile(xs, p) == pytest.approx(np.percentile(xs, p))


def test_quarter_growth_compares_last_and_first_quarter_medians():
    assert stats.quarter_growth([1, 1, 2, 2, 2, 2, 3, 3]) == pytest.approx(3.0)
    with pytest.raises(ValueError):
        stats.quarter_growth([1, 2, 3])


def test_spread_is_interquartile_distance_over_median():
    assert stats.spread([10.0] * 5) == 0.0
    assert stats.spread([8, 9, 10, 11, 12]) == pytest.approx((11.5 - 8.5) / 10)
