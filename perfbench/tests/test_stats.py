import numpy as np
import pytest

from perfbench import stats


@pytest.mark.parametrize("n,expected", [(19, None), (20, 50), (24, 58), (30, 66), (40, 75), (100, 90), (1000, 99)])
def test_tail_percentile_values(n, expected):
    assert stats.tail_percentile(n) == expected


def test_tail_percentile_is_highest_with_ten_beyond():
    for n in range(20, 500):
        p = stats.tail_percentile(n)
        assert n * (1 - p / 100) >= 10 - 1e-9, n
        assert n * (1 - (p + 1) / 100) < 10 - 1e-9, n


def test_tail_uses_guaranteed_count_not_reached_count():
    passes = [list(range(i, i + 6)) for i in range(0, 60, 6)]  # 60 samples reached
    value, label = stats.tail(passes, guaranteed_n=24)
    assert label == "p58"
    assert value == pytest.approx(np.percentile(range(60), 58))


def test_tail_below_twenty_guaranteed_samples_is_median_pass_max():
    passes = [[1.0, 5.0], [2.0, 9.0], [1.5, 4.0]]
    assert stats.tail(passes, guaranteed_n=6) == (5.0, "median of pass maxima")


def test_percentile_matches_numpy_linear():
    rng = np.random.default_rng(0)
    xs = rng.random(37).tolist()
    for p in (0, 10, 50, 58, 75, 99, 100):
        assert stats.percentile(xs, p) == pytest.approx(np.percentile(xs, p))

