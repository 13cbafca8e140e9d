import math
import os

import pytest

import stats


def test_median_and_geomean():
    assert stats.median([3.0, 1.0, 2.0]) == 2.0
    assert stats.median([4.0, 1.0, 2.0, 3.0]) == 2.5
    assert stats.geomean([1.0, 4.0, 16.0]) == pytest.approx(4.0)


def test_ratio_or_zero():
    assert stats.ratio_or_zero(3, 2) == 1.5
    assert stats.ratio_or_zero(3, 0) == 0.0


def test_tree_peak_rss_counts_this_process():
    own = stats.tree_peak_rss_mb()
    assert own > 1.0 and math.isfinite(own)
    assert os.getpid() not in stats.descendants(os.getpid())


def test_query_rows_match_order_insensitive_with_float_tolerance():
    import workloads

    spark_rows = [{"k": "b", "s": 1_600_000_000.123456}, {"k": "a", "s": 2.0}]
    duck_rows = [{"s": 2.0, "k": "a"}, {"s": 1_600_000_000.1234565, "k": "b"}]
    assert workloads._rows_match(spark_rows, ["k", "s"], duck_rows, ["s", "k"])
    duck_rows[1]["s"] += 100.0
    assert not workloads._rows_match(spark_rows, ["k", "s"], duck_rows, ["s", "k"])
    assert not workloads._rows_match(spark_rows, ["k", "s"], duck_rows[:1], ["s", "k"])
    nan = [{"k": "a", "s": float("nan")}]
    assert workloads._rows_match(nan, ["k", "s"], [{"k": "a", "s": float("nan")}], ["k", "s"])
