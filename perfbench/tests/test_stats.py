import pytest
import stats


def test_percentile_is_nearest_rank():
    values = list(range(1, 101))
    assert stats.percentile(values, 50) == 50
    assert stats.percentile(values, 90) == 90
    assert stats.percentile(values, 99.9) == 100
    assert stats.percentile([7.0], 99) == 7.0


def test_tail_needs_ten_samples_beyond():
    assert stats.tail(list(range(19))) is None
    p, v, n = stats.tail([float(i) for i in range(20)])
    assert (p, v, n) == (50.0, 9.0, 20)
    # 100 samples: p90 leaves exactly 10 beyond, p95 only 5
    p, v, n = stats.tail([float(i) for i in range(1, 101)])
    assert (p, v, n) == (90.0, 90.0, 100)
    p, _, n = stats.tail([float(i) for i in range(1000)])
    assert (p, n) == (99.0, 1000)


def test_tail_is_order_independent():
    a = [float((i * 37) % 101) for i in range(101)]
    assert stats.tail(a) == stats.tail(sorted(a))


def test_format_tail_prints_percentile_and_n():
    line = stats.format_tail("read_tail_ms", (90.0, 12.5, 100), "ms")
    assert "p90" in line and "12.500 ms" in line and "n=100" in line
    assert "no tail" in stats.format_tail("read_tail_ms", None, "ms")


def test_self_time_subtracts_covered_child_intervals():
    # children overlap each other and one sticks out past the parent
    assert stats.self_time((0.0, 10.0), [(1.0, 3.0), (2.0, 5.0), (8.0, 12.0)]) == 4.0
    assert stats.self_time((0.0, 2.0), []) == 2.0
    assert stats.self_time((5.0, 6.0), [(0.0, 1.0)]) == 1.0


def test_overhead_line_is_traced_minus_untraced():
    line = stats.overhead_line("pass_s", 11.0, 10.0, "s")
    assert "+1.0000 s" in line and "+10.0%" in line


def test_median_of_nothing_raises():
    with pytest.raises(ValueError):
        stats.median([])
