"""transformWithState token-bucket politeness: micro-batch streaming
must equal the batch dequeue + bucket accounting iteration-for-iteration."""

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pyspark.sql.functions as F
import pytest

from nightcrawler_ds_pipeline_spark.crawl import politeness
from nightcrawler_ds_pipeline_spark.streaming import (
    streaming_token_bucket_dequeue,
)
from nightcrawler_ds_pipeline_spark.streaming.frontier import rocksdb_state_store


@pytest.fixture(autouse=True)
def _rocksdb(spark):
    """transformWithState runs only on the RocksDB state store provider."""
    with rocksdb_state_store(spark):
        yield

WINDOW_MS = 10_000
MAX_PER_HOST = 5
DELAYS = {"h-fast": 0, "h-mid": 3_000, "h-slow": 15_000}


def _iter_pdf(it: int) -> pd.DataFrame:
    rows = []
    for hi, (host, delay) in enumerate(sorted(DELAYS.items())):
        for j in range(10):
            rows.append(
                {
                    "iter": it,
                    "host": host,
                    "url_hash": it * 10_000 + hi * 100 + j,
                    "priority": float((j * 37) % 10),
                    "crawl_delay_ms": delay,
                }
            )
    pdf = pd.DataFrame(rows)
    pdf["iter"] = pdf["iter"].astype("int32")
    pdf["crawl_delay_ms"] = pdf["crawl_delay_ms"].astype("int64")
    return pdf


def _batch_reference(spark):
    """The batch-loop semantics: dequeue_gated + next_bucket_state per
    iteration, token state threaded through."""
    out = set()
    state = None
    for it in range(2):
        gated = spark.createDataFrame(_iter_pdf(it))
        batch = politeness.dequeue_gated(
            gated,
            window_ms=WINDOW_MS,
            max_per_host=MAX_PER_HOST,
            bucket_state=state,
            assign_seq=False,
        )
        out |= {
            (r["iter"], r["host"], r["url_hash"]) for r in batch.collect()
        }
        state = politeness.next_bucket_state(
            gated.select("host", "crawl_delay_ms"),
            batch,
            state,
            window_ms=WINDOW_MS,
        )
        state = spark.createDataFrame(state.collect(), state.schema)  # pin
    return out


def test_streaming_token_bucket_matches_batch(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    schema = (
        "iter int, host string, url_hash long, priority double, "
        "crawl_delay_ms long"
    )
    stream = spark.readStream.schema(schema).parquet(str(src))
    out = streaming_token_bucket_dequeue(
        stream, window_ms=WINDOW_MS, max_per_host=MAX_PER_HOST
    )
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("polite_out")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        # one file per micro-batch == one politeness window per batch
        for it in range(2):
            pq.write_table(
                pa.Table.from_pandas(_iter_pdf(it), preserve_index=False),
                str(src / f"iter{it}.parquet"),
            )
            q.processAllAvailable()
    finally:
        q.stop()

    streamed_rows = spark.sql("SELECT * FROM polite_out").collect()
    streamed = {(r["iter"], r["host"], r["url_hash"]) for r in streamed_rows}
    expected = _batch_reference(spark)
    assert streamed == expected and len(streamed) > 0

    # the slow host (delay 15 s > 10 s window) must be budget-0 in iter 0
    # and dequeue exactly 1 in iter 1 (token accrual across micro-batches)
    slow = sorted(
        (r["iter"], r["url_hash"]) for r in streamed_rows if r["host"] == "h-slow"
    )
    assert [it for it, _ in slow] == [1]
    # the fast host gets max_per_host each window, ranked 1..K
    fast0 = [r for r in streamed_rows if r["host"] == "h-fast" and r["iter"] == 0]
    assert len(fast0) == MAX_PER_HOST
    assert sorted(r["rank_in_host"] for r in fast0) == list(
        range(1, MAX_PER_HOST + 1)
    )


def _write_frontier(src, name, rows):
    """rows: (iter, host, url_hash, priority, delay_ms)"""
    pdf = pd.DataFrame(
        rows, columns=["iter", "host", "url_hash", "priority", "crawl_delay_ms"]
    )
    pdf["iter"] = pdf["iter"].astype("int32")
    pdf["crawl_delay_ms"] = pdf["crawl_delay_ms"].astype("int64")
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), src / name)


def test_streaming_dequeue_carry_over_pending(spark, tmp_path):
    """carry_over=True: budget-clipped rows persist in pending state and
    compete with new arrivals next micro-batch — the batch loop's
    rows-stay-in-frontier semantics, which pass-once mode drops."""
    src = tmp_path / "carry_src"
    src.mkdir()
    schema = (
        "iter int, host string, url_hash long, priority double, "
        "crawl_delay_ms long"
    )
    stream = spark.readStream.schema(schema).parquet(str(src))
    out = streaming_token_bucket_dequeue(
        stream, window_ms=3_000, max_per_host=100, carry_over=True
    )
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("carry_out")
        .option("checkpointLocation", str(tmp_path / "carry_ckpt"))
        .start()
    )
    try:
        # batch 1: 8 urls, delay 1000 -> budget 3; 5 held in state
        _write_frontier(
            src, "b1.parquet",
            [(0, "h", 100 + i, float(i), 1000) for i in range(1, 9)],
        )
        q.processAllAvailable()
        got1 = spark.sql("SELECT * FROM carry_out").collect()
        assert sorted(r["priority"] for r in got1) == [6.0, 7.0, 8.0]
        # batch 2: ONE new low-priority arrival wakes the host; refreshed
        # budget dequeues the 3 best PENDING rows, not the newcomer
        _write_frontier(src, "b2.parquet", [(1, "h", 99, 0.5, 1000)])
        q.processAllAvailable()
        got2 = spark.sql("SELECT * FROM carry_out").collect()
        assert sorted(r["priority"] for r in got2) == [3.0, 4.0, 5.0, 6.0, 7.0, 8.0]
        # ranks restart per micro-batch emission, dequeue order holds
        b2 = [r for r in got2 if r["priority"] in (3.0, 4.0, 5.0)]
        assert {r["rank_in_host"] for r in b2} == {1, 2, 3}
        assert max(b2, key=lambda r: r["priority"])["rank_in_host"] == 1
    finally:
        q.stop()


def test_streaming_dequeue_pending_cap_overflow_flagged(spark, tmp_path):
    """The pending queue is bounded: rows beyond max_pending_per_host are
    EMITTED with rank_in_host=0 (overflow sentinel) instead of silently
    vanishing, so a caller can route them back to discovery."""
    from nightcrawler_ds_pipeline_spark.streaming.politeness_stream import (
        OVERFLOW_RANK,
    )

    src = tmp_path / "cap_src"
    src.mkdir()
    schema = (
        "iter int, host string, url_hash long, priority double, "
        "crawl_delay_ms long"
    )
    stream = spark.readStream.schema(schema).parquet(str(src))
    out = streaming_token_bucket_dequeue(
        stream,
        window_ms=3_000,
        max_per_host=100,
        carry_over=True,
        max_pending_per_host=2,
    )
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("cap_out")
        .option("checkpointLocation", str(tmp_path / "cap_ckpt"))
        .start()
    )
    try:
        # 10 urls, budget 3, cap 2 -> 3 dequeued, 2 pending, 5 overflow
        _write_frontier(
            src, "c1.parquet",
            [(0, "h", 200 + i, float(i), 1000) for i in range(1, 11)],
        )
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM cap_out").collect()
        deq = [r for r in rows if r["rank_in_host"] > 0]
        ovf = [r for r in rows if r["rank_in_host"] == OVERFLOW_RANK]
        assert sorted(r["priority"] for r in deq) == [8.0, 9.0, 10.0]
        # overflow = the 5 LOWEST priorities (cap keeps the best pending)
        assert sorted(r["priority"] for r in ovf) == [1.0, 2.0, 3.0, 4.0, 5.0]
    finally:
        q.stop()


def test_streaming_dequeue_timeout_flush_drains_pending(spark, tmp_path):
    """flush_interval_ms: with a continuous trigger, processing-time timers
    wake idle hosts so pending rows drain on refreshed budgets without
    any new arrival (do NOT use processAllAvailable here — zero-data
    timeout batches never settle; poll the sink instead)."""
    import time

    src = tmp_path / "flush_src"
    src.mkdir()
    schema = (
        "iter int, host string, url_hash long, priority double, "
        "crawl_delay_ms long"
    )
    stream = spark.readStream.schema(schema).parquet(str(src))
    out = streaming_token_bucket_dequeue(
        stream,
        window_ms=3_000,
        max_per_host=100,
        carry_over=True,
        flush_interval_ms=300,
    )
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("flush_out")
        .trigger(processingTime="500 milliseconds")
        .option("checkpointLocation", str(tmp_path / "flush_ckpt"))
        .start()
    )
    try:
        _write_frontier(
            src, "f1.parquet",
            [(0, "h", 300 + i, float(i), 1000) for i in range(1, 9)],
        )
        deadline = time.time() + 60
        n = 0
        while time.time() < deadline:
            n = spark.sql("SELECT count(*) c FROM flush_out").head()["c"]
            if n == 8:
                break
            time.sleep(1)
        assert n == 8, f"pending did not drain via timeouts (got {n}/8)"
        rows = spark.sql("SELECT * FROM flush_out").collect()
        # every row dequeued exactly once, across >= 3 flush waves
        assert sorted(r["priority"] for r in rows) == [float(i) for i in range(1, 9)]
        assert all(r["rank_in_host"] >= 1 for r in rows)
    finally:
        q.stop()
