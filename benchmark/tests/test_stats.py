import math

import pytest

import stats


def test_percentile_nearest_rank():
    xs = list(range(1, 11))
    assert stats.percentile(xs, 0.9) == 9
    assert stats.percentile(xs, 0.5) == 5
    assert stats.percentile(xs, 1.0) == 10
    assert stats.percentile(list(range(1, 101)), 0.9) == 90
    assert stats.percentile([3.0], 0.9) == 3.0


def test_percentile_ignores_input_order():
    assert stats.percentile([5, 1, 4, 2, 3], 0.6) == 3


def test_tail_percentile_needs_ten_samples_beyond():
    assert stats.tail_percentile(list(range(10))) == (None, None)
    assert stats.tail_percentile(list(range(1, 101))) == (0.9, 90)
    # 50 samples cannot support p90 (5 beyond); p80 has 10 beyond.
    assert stats.tail_percentile(list(range(1, 51))) == (0.8, 40)
    assert stats.tail_percentile(list(range(1, 12))) == (1 / 11, 1)


def test_tail_percentile_rule_holds_for_every_size():
    for n in range(11, 400):
        xs = list(range(1, n + 1))
        p, v = stats.tail_percentile(xs)
        assert p <= 0.9
        assert sum(x > v for x in xs) >= 10
        # No higher rank up to p90 would still leave ten beyond it.
        if p < 0.9:
            assert sum(x > v + 1 for x in xs) < 10


def test_geomean():
    assert math.isclose(stats.geomean([1, 100]), 10)
    assert math.isclose(stats.geomean([2, 8]), 4)
    assert math.isclose(stats.geomean([0.5]), 0.5)
    with pytest.raises(ValueError):
        stats.geomean([1, 0])
    with pytest.raises(ValueError):
        stats.geomean([])


def test_median():
    assert stats.median([3, 1, 2]) == 2
    assert stats.median([4, 1, 2, 3]) == 2.5
