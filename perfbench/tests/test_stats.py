import pytest

from perfbench.harness import Op
from perfbench.stats import median, mix_p50, mix_throughput, percentile, tail, tail_percentile


def test_percentile_is_nearest_rank():
    xs = list(range(1, 101))
    assert percentile(xs, 50) == 50
    assert percentile(xs, 90) == 90
    assert percentile(xs, 99.9) == 100
    assert percentile([3.0], 99) == 3.0


def test_tail_needs_ten_samples_above():
    # below 20 samples not even the median has 10 above it
    assert tail_percentile(19) is None
    assert tail_percentile(20) == 50
    assert tail_percentile(39) == 50
    assert tail_percentile(40) == 75
    assert tail_percentile(100) == 90
    assert tail_percentile(199) == 90
    assert tail_percentile(200) == 95
    assert tail_percentile(1000) == 99
    assert tail_percentile(10_000) == 99.9


def test_tail_value_has_ten_samples_above():
    xs = [float(i) for i in range(250)]
    p, v, n = tail(xs)
    assert (p, n) == (95, 250)
    assert sum(x > v for x in xs) >= 10
    assert tail([1.0] * 5) == (None, None, 5)


def test_median():
    assert median([3, 1, 2]) == 2


def test_mix_p50_weights_each_kind_median():
    ops = [Op("a", 0.0, t) for t in (0.1, 0.2, 0.3)] + [Op("b", 0.0, t) for t in (1.0, 3.0)]
    ops.append(Op("b", 0.0, 9.0, ok=False))
    assert mix_p50(ops) == pytest.approx((200.0 + 2000.0) / 2)
    assert mix_p50(ops, {"a": 3, "b": 1}) == pytest.approx((3 * 200.0 + 2000.0) / 4)
    # a kind absent from the window drops out of the weights
    assert mix_p50(ops, {"a": 3, "b": 1, "c": 6}) == pytest.approx((3 * 200.0 + 2000.0) / 4)


def test_mix_throughput_is_clients_over_mix_mean_latency():
    ops = [Op("a", 0.0, t) for t in (0.1, 0.2, 0.6)] + [Op("b", 0.0, 2.0)]
    # mean latency: a 0.3 s, b 2.0 s; mix 3:1 -> 0.725 s per operation
    assert mix_throughput(ops, 1, {"a": 3, "b": 1}) == pytest.approx(1 / 0.725)
    assert mix_throughput(ops, 2, {"a": 3, "b": 1}) == pytest.approx(2 / 0.725)
