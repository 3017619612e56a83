"""Unit tests for the benchmark's own statistics (no Spark).

Run: python3 -m pytest perfbench/tests -q
"""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import stats  # noqa: E402


def test_percentile_needs_ten_samples_beyond():
    values = [float(i) for i in range(1, 1001)]  # 1000 samples
    assert stats.percentile(values, 99) == 990.0  # 10 beyond: allowed
    with pytest.raises(ValueError):
        stats.percentile(values[:999], 99)  # 9 beyond: refused
    assert stats.percentile(values[:999], 98) == 980.0


def test_percentile_is_nearest_rank_and_order_free():
    assert stats.percentile([5.0, 1.0, 3.0, 2.0, 4.0] * 5, 50) == 3.0
    with pytest.raises(ValueError):
        stats.percentile([], 50)
    with pytest.raises(ValueError):
        stats.percentile([1.0] * 100, 100)


def test_trim_cuts_warm_up_and_cool_down():
    due = {i: float(i) for i in range(100)}  # one key due per second
    kept = stats.trim(due, start=0.0, end=100.0, warm_s=30.0, cool_s=10.0)
    assert kept == set(range(30, 90))
    with pytest.raises(ValueError):
        stats.trim(due, 0.0, 10.0, warm_s=6.0, cool_s=5.0)


def test_latencies_skip_unseen_keys():
    due = {"a": 1.0, "b": 2.0, "c": 3.0}
    seen = {"a": 4.5, "c": 3.25}
    assert stats.latencies(due, seen, ["a", "b", "c"]) == [3.5, 0.25]


def test_throughput():
    assert stats.throughput(500, 10.0, 20.0) == 50.0
    with pytest.raises(ValueError):
        stats.throughput(1, 5.0, 5.0)


def test_lateness_clamps_early_sends():
    assert stats.lateness([1.0, 2.0, 3.0], [1.5, 1.9, 3.0]) == [0.5, 0.0, 0.0]
    with pytest.raises(ValueError):
        stats.lateness([1.0], [])
