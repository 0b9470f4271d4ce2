"""The tail-percentile rule."""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import stats  # noqa: E402


def test_percentile_is_nearest_rank():
    xs = list(range(1, 101))
    assert stats.percentile(xs, 50) == 50
    assert stats.percentile(xs, 90) == 90
    assert stats.percentile(xs, 100) == 100
    assert stats.percentile([7.0], 99) == 7.0


@pytest.mark.parametrize("n,beyond,pct", [
    (100, 10, 90), (50, 10, 80), (21, 10, 52), (20, 5, 75), (16, 5, 68),
    (24, 5, 79),
])
def test_tail_pct_is_highest_with_enough_beyond(n, beyond, pct):
    assert stats.tail_pct(n, beyond) == pct
    rank = -(-pct * n // 100)  # ceil
    assert n - rank >= beyond
    # one percentile higher leaves fewer than `beyond` samples above
    above = -(-(pct + 1) * n // 100)
    assert n - above < beyond


def test_tail_pct_refuses_a_sample_too_small():
    with pytest.raises(ValueError):
        stats.tail_pct(10, 10)


def test_tail_of_uses_the_planned_count():
    xs = [float(i) for i in range(1, 21)]
    # planned 20 -> p75 with 5 beyond; a failed sample does not move it
    assert stats.tail_of(xs, 20) == 15.0
    assert stats.tail_of(xs[:-1], 20) == stats.percentile(xs[:-1], 75)
    # too small a plan for any tail falls back to the median rank
    assert stats.tail_of([1.0, 2.0, 3.0], 3) == 2.0
