"""Streaming frontier: discovery → seen-filter → politeness → catalog in
ONE Structured Streaming query — the batch crawl loop's front half as a
continuous flow.

    file stream → dropDuplicatesWithinWatermark(url_hash)      [stateful]
               → groupBy(host).transformWithStateInPandas(...) [stateful]
               → foreachBatch catalog commit

Spark 4's ``transformWithStateInPandas`` may run downstream of another
stateful operator, so the chain plans and runs as one query: one
checkpoint, no intermediate parquet hand-off, a single restart domain (a
crash cannot leave the seen state ahead of the politeness state).

- **Admit**: ``streaming_seen_filter`` (canonicalize→xxhash64 seen key,
  watermark-bounded state) plus an optional broadcast crawl-delay lookup.
- **Dequeue**: ``streaming_token_bucket_dequeue`` (per-host token buckets
  as ``TwsPoliteness`` state, one micro-batch = one politeness window).
- **Commit**: ``catalog_stream_writer`` into the SnapshotCatalog tables
  ``dequeued`` and, with ``carry_over``, ``overflow`` (pending-cap
  evictions) — exactly-once via the stream_batch_id replay skip.

Requirements: transformWithState needs the RocksDB state store provider
(set per drain and restored after) and a worker-side ``google.protobuf``
(compat.ensure_tws_python_env — vendored-runtime bootstrap).
``run_streaming_frontier`` raises RuntimeError when no protobuf exists.

Scale: two shuffles per micro-batch (url_hash for the dedup, host for the
dequeue) — the same two the batch loop's probe/dequeue stages pay per
iteration; RocksDB keeps per-key state off-heap with incremental
checkpoints — the 10^7-live-host shape SCALE.md §4c sizes.
"""

from __future__ import annotations

from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nightcrawler_ds_pipeline_spark.crawl.tables import SnapshotCatalog
from nightcrawler_ds_pipeline_spark.streaming.catalog_sink import (
    catalog_stream_writer,
)
from nightcrawler_ds_pipeline_spark.streaming.politeness_stream import (
    OVERFLOW_RANK,
    streaming_token_bucket_dequeue,
)
from nightcrawler_ds_pipeline_spark.streaming.seen_stream import (
    streaming_seen_filter,
)

DISCOVERY_SCHEMA = (
    "url string, event_ts timestamp_ntz, priority double, crawl_delay_ms long"
)
ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)
_PROVIDER_CONF = "spark.sql.streaming.stateStore.providerClass"


@contextmanager
def rocksdb_state_store(spark: SparkSession) -> Iterator[None]:
    """Run the body under the RocksDB state store provider, then restore
    the prior setting (a checkpoint is bound to the provider it started
    with; do not run concurrent queries needing another provider)."""
    prior = spark.conf.get(_PROVIDER_CONF, None)
    spark.conf.set(_PROVIDER_CONF, ROCKSDB_PROVIDER)
    try:
        yield
    finally:
        if prior is None:
            spark.conf.unset(_PROVIDER_CONF)
        else:
            spark.conf.set(_PROVIDER_CONF, prior)


def admitted_stream(
    spark: SparkSession,
    source_dir: str,
    delay: str,
    delay_lookup: DataFrame | None = None,
) -> DataFrame:
    """Admit plan: discovery files → watermark-bounded seen filter.

    ``delay_lookup``: optional STATIC (host, crawl_delay_ms) table — the
    engine-owned politeness config (robots crawl-delay cache), same role
    as the batch loop's config lookup (J5). Joined BROADCAST after the
    seen filter (post-dedup, fewest rows; a stream-static equi-join is
    re-looked-up per micro-batch, so a refreshed cache takes effect on the
    next batch). Lookup wins over any feed-supplied delay; both absent →
    the dequeue operator's stored or default delay.
    """
    stream = (
        spark.readStream.schema(DISCOVERY_SCHEMA)
        .parquet(source_dir)
        .withColumn("event_ts", F.col("event_ts").cast("timestamp"))
    )
    admitted = streaming_seen_filter(stream, delay=delay)
    if delay_lookup is not None:
        lk = F.broadcast(
            delay_lookup.select(
                "host", F.col("crawl_delay_ms").alias("_lk_delay_ms")
            )
        )
        admitted = admitted.join(lk, "host", "left").withColumn(
            "crawl_delay_ms",
            F.coalesce(F.col("_lk_delay_ms"), F.col("crawl_delay_ms")),
        )
    return admitted.select(
        F.lit(0).alias("iter"), "host", "url_hash", "priority", "crawl_delay_ms"
    )


def run_streaming_frontier(
    spark: SparkSession,
    source_dir: str,
    catalog: SnapshotCatalog,
    checkpoint_dir: str,
    delay: str = "1 hour",
    window_ms: int | None = None,
    max_per_host: int | None = None,
    carry_over: bool = False,
    max_pending_per_host: int | None = None,
    delay_lookup: DataFrame | None = None,
) -> dict:
    """Drain the frontier once (availableNow) and return the committed
    ``dequeued`` / ``overflow`` row counts. With ``carry_over=True``
    pending-cap evictions are committed to the separate ``overflow`` table
    (candidates for re-discovery), never to ``dequeued``.

    Re-invoking with the same ``checkpoint_dir``/``catalog`` resumes every
    piece of state exactly-once: seen keys, host token levels and pending
    queues (one RocksDB state store) and committed micro-batches (catalog
    manifest). Raises RuntimeError when the env cannot run
    transformWithState (no protobuf anywhere)."""
    from nightcrawler_ds_pipeline_spark.compat import ensure_tws_python_env

    if not ensure_tws_python_env():
        raise RuntimeError(
            "the streaming frontier runs on transformWithState, which needs "
            "google.protobuf in the streaming python runner; none exists "
            "on disk"
        )

    kw = {
        k: v
        for k, v in {
            "window_ms": window_ms,
            "max_per_host": max_per_host,
            "max_pending_per_host": max_pending_per_host,
        }.items()
        if v is not None
    }
    deq_writer = catalog_stream_writer(
        catalog, "dequeued", meta={"origin": "frontier"}
    )
    ovf_writer = catalog_stream_writer(
        catalog, "overflow", meta={"origin": "frontier"}
    )

    def write_batch(df: DataFrame, batch_id: int) -> None:
        # pending-cap evictions (rank_in_host == OVERFLOW_RANK) are NOT
        # dequeues: route them to their own 'overflow' table so a consumer
        # fetching from 'dequeued' never crawls budget-evicted URLs. Each
        # table keeps its own stream_batch_id watermark, so a crash between
        # the two commits replays idempotently (dequeued skips, overflow
        # re-writes). Empty overflow batches are skipped — no manifest
        # bloat, and skipping cannot double-commit (only the LAST batch
        # replays and it would be empty again).
        if not carry_over:
            deq_writer(df, batch_id)
            return
        df = df.persist()
        try:
            deq_writer(df.filter(F.col("rank_in_host") != OVERFLOW_RANK), batch_id)
            ovf = df.filter(F.col("rank_in_host") == OVERFLOW_RANK)
            if not ovf.isEmpty():
                ovf_writer(ovf, batch_id)
        finally:
            df.unpersist()

    with rocksdb_state_store(spark):
        q = (
            streaming_token_bucket_dequeue(
                admitted_stream(spark, source_dir, delay, delay_lookup),
                carry_over=carry_over,
                **kw,
            )
            .writeStream.outputMode("append")
            .foreachBatch(write_batch)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    def _rows(table: str) -> int:
        return catalog.read(spark, table).count() if catalog.exists(table) else 0

    return {"dequeued": _rows("dequeued"), "overflow": _rows("overflow")}
