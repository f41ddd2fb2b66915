"""Percentiles follow the sample-count rule: the highest one reported has
at least ten samples beyond it."""

import pytest

from perfbench import stats


def test_interpolated_percentile():
    xs = list(range(1, 101))
    assert stats.percentile(xs, 50) == 50.5 == stats.median(xs)
    assert stats.percentile(xs, 99) == pytest.approx(99.01)
    assert stats.percentile(xs, 100) == 100
    assert stats.percentile([5.0], 99) == 5.0
    assert stats.median([4.0, 1.0, 3.0, 2.0]) == 2.5
    with pytest.raises(ValueError):
        stats.percentile([], 50)


@pytest.mark.parametrize(
    "n, want",
    [(1000, 99.0), (991, 99.0), (901, 95.0), (200, 95.0), (100, 90.0), (40, 75.0), (20, 50.0)],
)
def test_tail_percentile_keeps_ten_samples_beyond(n, want):
    p = stats.tail_percentile(n)
    assert p == want
    beyond = sum(1 for i in range(1, n + 1) if i > stats.percentile(range(1, n + 1), p))
    assert beyond >= stats.MIN_BEYOND


def test_tail_falls_back_to_the_median_for_small_samples():
    assert stats.tail_percentile(19) == 50.0
    assert stats.tail([3.0, 1.0, 2.0, 4.0]) == (50.0, 2.5)
    xs = [float(i) for i in range(1, 1001)]
    assert stats.tail(xs) == (99.0, pytest.approx(990.01))
