"""The tail-percentile rule, the steal correction and the spread statistic."""

import statistics

import pytest

from perfbench.stats import quartile_spread, steal_free, tail


def test_tail_leaves_the_required_samples_beyond():
    values = [float(v) for v in range(1, 101)]  # 1..100
    pct, value = tail(values, beyond=10)
    assert (pct, value) == (90.0, 90.0)
    assert sum(v > value for v in values) == 10


def test_tail_is_order_insensitive_and_uses_nearest_rank():
    pct, value = tail([3.0, 9.0, 1.0, 4.0, 7.0, 5.0], beyond=1)
    assert value == 7.0  # second largest: one sample beyond it
    assert pct == pytest.approx(100 * 5 / 6)


def test_tail_refuses_too_few_samples():
    with pytest.raises(ValueError):
        tail([1.0] * 10, beyond=10)


def test_steal_free_removes_the_stolen_share():
    assert steal_free(4.0, stolen=50, wanted=100) == pytest.approx(2.0)
    assert steal_free(3.0, stolen=0, wanted=120) == 3.0
    assert steal_free(3.0, stolen=0, wanted=0) == 3.0  # the VM asked for no CPU


def test_quartile_spread_matches_statistics_quantiles():
    values = [10.0, 11.0, 9.0, 10.5, 10.2, 9.8, 10.1, 12.0, 9.5, 10.0]
    q1, _, q3 = statistics.quantiles(values, n=4)
    assert quartile_spread(values) == pytest.approx((q3 - q1) / statistics.median(values))
