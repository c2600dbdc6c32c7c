"""The tail rule: the highest reported percentile with at least ten
samples beyond it, and no tail when there is none."""

import pytest

import stats


@pytest.mark.parametrize("n", [1, 5, 10, 11, 19])
def test_no_tail_below_twenty_samples(n):
    assert stats.tail(list(range(n))) == (None, None, n)


@pytest.mark.parametrize(
    "n, p, value",
    [(20, 50.0, 9), (39, 50.0, 19), (40, 75.0, 29), (100, 90.0, 89), (199, 90.0, 179),
     (200, 95.0, 189), (1000, 99.0, 989), (10_000, 99.9, 9_989)],
)
def test_tail_percentile_and_value(n, p, value):
    got_p, got_v, got_n = stats.tail(list(range(n)))
    assert (got_p, got_v, got_n) == (p, value, n)
    assert sum(1 for x in range(n) if x > got_v) >= stats.TAIL_BEYOND


def test_tail_or_max_labels_the_fallback():
    assert stats.tail_or_max([3.0, 1.0, 2.0]) == ("max", 3.0, 3)
    assert stats.tail_or_max(list(range(100))) == ("p90", 89.0, 100)


def test_slope_and_spread():
    assert stats.slope([0, 1, 2, 3], [1, 3, 5, 7]) == pytest.approx(2.0)
    assert stats.slope([1], [5]) == 0.0
    assert stats.quartile_spread([10, 10, 10, 10]) == 0.0
    assert stats.quartile_spread([8, 9, 10, 11, 12]) == pytest.approx(
        (11.5 - 8.5) / 10
    )
