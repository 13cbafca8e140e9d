"""Token-bucket politeness: accrual, spend, roll-over, cap."""

import pyspark.sql.functions as F
import pytest

from nightcrawler_ds_pipeline_spark.crawl import politeness


@pytest.fixture()
def tiny(spark):
    frontier = spark.createDataFrame(
        [
            (f"https://slow.host/p/{i}", f"https://slow.host/p/{i}", i * 11 + 1,
             "slow.host", 1.0 - i * 0.001, 0, None)
            for i in range(50)
        ]
        + [
            (f"https://fast.host/p/{i}", f"https://fast.host/p/{i}", -(i * 13 + 7),
             "fast.host", 0.5, 0, None)
            for i in range(50)
        ],
        "url string, canonical_url string, url_hash long, host string, "
        "priority double, discovered_iter int, parent_url_hash long",
    )
    robots = spark.createDataFrame(
        [("slow.host", 5000, [], 0), ("fast.host", 0, [], 0)],
        "host string, crawl_delay_ms int, disallow_prefixes array<string>, "
        "fetched_at_iter int",
    )
    return frontier, robots


def _dequeue(frontier, robots, **kw):
    return politeness.dequeue_gated(politeness.robots_filter(frontier, robots), **kw)


def test_budget_from_accrued_tokens(spark, tiny):
    frontier, robots = tiny
    # no state: slow.host gets window/delay = 10000/5000 = 2
    b0 = _dequeue(frontier, robots, window_ms=10_000, max_per_host=100)
    assert b0.filter(F.col("host") == "slow.host").count() == 2
    # with accrued 10s of tokens: available = 20s → budget 4
    state = spark.createDataFrame([("slow.host", 10_000)], "host string, tokens_ms long")
    b1 = _dequeue(
        frontier, robots, window_ms=10_000, max_per_host=100, bucket_state=state
    )
    assert b1.filter(F.col("host") == "slow.host").count() == 4
    # delay 0 host: always max_per_host-capped
    assert b1.filter(F.col("host") == "fast.host").count() == 50


def test_tokens_capped_at_two_windows(spark, tiny):
    frontier, robots = tiny
    state = spark.createDataFrame([("slow.host", 10_000_000)], "host string, tokens_ms long")
    b = _dequeue(
        frontier, robots, window_ms=10_000, max_per_host=100, bucket_state=state
    )
    # available capped at 2×window = 20s → budget 4, not 2000
    assert b.filter(F.col("host") == "slow.host").count() == 4


def test_next_state_accounting(spark, tiny):
    frontier, robots = tiny
    batch = _dequeue(frontier, robots, window_ms=10_000, max_per_host=100)
    gated = politeness.robots_filter(frontier, robots).select("host", "crawl_delay_ms")
    state1 = politeness.next_bucket_state(gated, batch, None, window_ms=10_000)
    rows = {r["host"]: r["tokens_ms"] for r in state1.collect()}
    # slow.host: 10000 accrued − 2×5000 spent = 0
    assert rows["slow.host"] == 0
    # fast.host: delay 0 → nothing spent, keeps the window
    assert rows["fast.host"] == 10_000


def test_absent_host_state_carries_forward(spark, tiny):
    frontier, robots = tiny
    batch = _dequeue(frontier, robots, window_ms=10_000, max_per_host=100)
    gated = politeness.robots_filter(frontier, robots).select("host", "crawl_delay_ms")
    prev = spark.createDataFrame(
        [("gone.host", 7_500)], "host string, tokens_ms long"
    )
    state1 = politeness.next_bucket_state(gated, batch, prev, window_ms=10_000)
    rows = {r["host"]: r["tokens_ms"] for r in state1.collect()}
    assert rows["gone.host"] == 7_500  # untouched while absent


def test_bucket_columns_match_scalar_compute_budget(spark):
    """The Column token bucket (dequeue_gated, next_bucket_state) and the
    scalar one the streaming dequeue uses are one definition: equal over a
    grid with delay ≤ 0, delay > window, negative, missing (a host's first
    window) and over-cap token levels."""
    from nightcrawler_ds_pipeline_spark.streaming.politeness_stream import (
        compute_budget,
    )

    tokens = [None, -5_000, 0, 1, 4_999, 10_000, 25_000, 10**7]
    delays = [-1, 0, 1, 999, 1_000, 5_000, 10_000, 10_001, 25_000]
    grid = spark.createDataFrame(
        [(t, d) for t in tokens for d in delays],
        "tokens_ms long, crawl_delay_ms int",
    )
    for window_ms in (1_000, 10_000):
        for max_per_host in (0, 1, 3, 100):
            available, budget = politeness.token_bucket_cols(
                F.col("tokens_ms"), window_ms, max_per_host
            )
            rows = grid.select(
                "tokens_ms",
                "crawl_delay_ms",
                available.alias("available"),
                budget.alias("budget"),
            ).collect()
            assert len(rows) == len(tokens) * len(delays)
            for r in rows:
                t, d = r["tokens_ms"], r["crawl_delay_ms"]
                want = compute_budget(t or 0, d, window_ms, max_per_host)
                assert (r["available"], r["budget"]) == want, (window_ms, max_per_host, t, d)
