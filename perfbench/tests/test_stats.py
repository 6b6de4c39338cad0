import statistics

import pytest

from perfbench import stats


def test_percentile_interpolates_between_order_statistics():
    xs = [4.0, 1.0, 3.0, 2.0]
    assert stats.percentile(xs, 0) == 1.0
    assert stats.percentile(xs, 100) == 4.0
    assert stats.percentile(xs, 50) == 2.5
    assert stats.percentile(xs, 25) == pytest.approx(1.75)
    assert stats.percentile([7.0], 90) == 7.0


def test_percentile_rejects_empty():
    with pytest.raises(ValueError):
        stats.percentile([], 50)


def test_quartiles_match_statistics_quantiles():
    xs = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0]
    q1, med, q3 = statistics.quantiles(xs, n=4)
    assert stats.quartiles(xs) == {"q1": q1, "median": med, "q3": q3}
    assert stats.quartiles([2.0]) == {"q1": 2.0, "median": 2.0, "q3": 2.0}


@pytest.mark.parametrize(
    "n, expected",
    [
        (9, None),      # fewer than 10 samples above even the median
        (19, None),
        (20, 50.0),     # 10 above the median
        (39, 50.0),
        (40, 75.0),
        (100, 90.0),
        (199, 90.0),
        (200, 95.0),
        (1000, 99.0),
        (10000, 99.9),
    ],
)
def test_tail_percentile_keeps_ten_samples_beyond(n, expected):
    p = stats.tail_percentile(n)
    assert p == expected
    if p is not None:
        assert n * (100 - p) >= stats.MIN_BEYOND * 100 - 1e-9


def test_tail_falls_back_to_max_when_samples_are_few():
    assert stats.tail([1.0, 3.0, 2.0]) == (100.0, 3.0)
    xs = [float(i) for i in range(1, 41)]
    p, v = stats.tail(xs)
    assert p == 75.0
    assert v == pytest.approx(stats.percentile(xs, 75.0))
