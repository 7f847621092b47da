import pytest

from perfbench import stats


def test_tail_percentile_leaves_ten_samples_beyond():
    assert stats.tail_percentile(10) is None
    assert stats.tail_percentile(19) is None
    assert stats.tail_percentile(20) == 50.0
    assert stats.tail_percentile(39) == 50.0
    assert stats.tail_percentile(40) == 75.0
    assert stats.tail_percentile(100) == 90.0
    assert stats.tail_percentile(199) == 90.0
    assert stats.tail_percentile(200) == 95.0
    assert stats.tail_percentile(1000) == 99.0
    assert stats.tail_percentile(10_000) == 99.9


@pytest.mark.parametrize("n", [20, 57, 100, 333, 1000, 12_345])
def test_chosen_percentile_has_at_least_ten_beyond(n):
    p = stats.tail_percentile(n)
    xs = list(range(n))
    v = stats.percentile(xs, p)
    assert sum(1 for x in xs if x > v) >= stats.TAIL_BEYOND


def test_percentile_nearest_rank():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert stats.percentile(xs, 50) == 3.0
    assert stats.percentile(xs, 100) == 5.0
    assert stats.percentile(xs, 1) == 1.0
    with pytest.raises(ValueError):
        stats.percentile([], 50)
