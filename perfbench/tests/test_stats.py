import pytest
from stats import TAIL_BEYOND, tail


@pytest.mark.parametrize("n", [0, 1, 5, TAIL_BEYOND])
def test_tail_omitted_without_ten_samples_beyond(n):
    assert tail([float(i) for i in range(n)]) is None


@pytest.mark.parametrize(
    "n, rank, pct",
    [(11, 1, 100 / 11), (13, 3, 300 / 13), (20, 10, 50.0), (100, 90, 90.0), (1000, 990, 99.0)],
)
def test_tail_is_highest_value_with_ten_beyond(n, rank, pct):
    samples = [float(i) for i in range(n, 0, -1)]  # order must not matter
    value, p, count = tail(samples)
    assert value == float(rank)
    assert p == pytest.approx(pct)
    assert count == n
    assert sum(s > value for s in samples) == TAIL_BEYOND
