"""Streaming image ingest — the crawl loop's decode→phash→dedup stage as a
Structured Streaming flow (the pyspark × image tie-in of the graft axes).

Pipeline: ``readStream`` over binary image rows → Arrow-batched
``mapInPandas`` decode (the SAME ``decode_images`` the batch loop uses —
payload bytes cross the Arrow boundary once and the output schema excludes
them) → optional stream-static equi-join against a HISTORY phash table
(static small side, re-looked-up per micro-batch) → per-phash
``applyInPandasWithState`` that flags ``is_phash_dup`` with exactly the
batch loop's ``_phash_dedup`` semantics (crawl/loop.py): a row is a
dup iff its decoded phash is in history, was seen in an earlier
micro-batch, or appears earlier (by image_id order) in the same
micro-batch.

Corrupt/imageless rows (``decode_ok=False``, phash 0) bypass the stateful
operator entirely: in the batch loop they would pile into one hot window
partition; here they would pile into ONE group-state key. Their
``is_phash_dup`` is False by definition, same as batch.

State is one boolean per distinct phash. At 10^10 images the state store
holds every phash ever seen — bounded the same way the batch loop bounds
the seen set: ``ttl_ms`` TTL eviction (implemented below, tested) or a
sketch pre-filter in front; size the store with RocksDB (SCALE.md §4b;
provider proven in-env by test_streaming_ingest_rocksdb_state).
Micro-batch equality with the batch reference, checkpoint-restart
recovery, TTL re-admission and the RocksDB provider are all pinned in
tests/test_streaming_image_ingest.py.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUT_SCHEMA = (
    "image_id string, fmt string, phash_decoded long, "
    "in_history boolean, is_phash_dup boolean"
)
STATE_SCHEMA = "seen boolean"


def streaming_image_ingest(
    image_stream: DataFrame,
    history_phash: DataFrame | None = None,
    bytes_col: str = "bytes",
    ttl_ms: int | None = None,
) -> DataFrame:
    """``image_stream`` columns: at least (image_id, <bytes_col>, fmt).
    ``history_phash``: a STATIC DataFrame with a ``phash`` column (e.g.
    ``catalog.read(spark, "results").select("phash")``). Returns an append
    stream of (image_id, fmt, phash_decoded, in_history, is_phash_dup).

    ``ttl_ms``: optional state TTL — the streaming analogue of
    ``CrawlConfig.ttl_iters`` AND the state-store bound from SCALE.md §4b:
    a phash unseen for ttl_ms of processing time is evicted (its state
    removed on the group's timeout callback), so the next occurrence is
    re-admitted as a keeper, exactly like a TTL-expired seen-set entry
    re-dequeues in the batch loop. Processing-time-based by necessity
    (GroupStateTimeout is wall-clock; the injected-run-ts invariant applies
    to the batch tables, not the stream clock). None = NoTimeout (state
    grows with distinct phashes; fixture-scale and history-complete runs).
    CAUTION: with ttl_ms set, drive the query with a periodic trigger and
    poll the sink — ``processAllAvailable()`` never settles, because the
    engine schedules continuous zero-data batches to fire timeouts.
    """
    from nightcrawler_ds_pipeline_spark.functions.image_udfs import decode_images

    decoded = decode_images(image_stream, bytes_col=bytes_col)
    gate = F.col("decode_ok") & (F.col("phash_decoded") != 0)
    ok = decoded.filter(gate)
    rest = (
        decoded.filter(~gate)
        .withColumn("in_history", F.lit(False))
        .withColumn("is_phash_dup", F.lit(False))
        .select(
            "image_id", "fmt", "phash_decoded", "in_history", "is_phash_dup"
        )
    )
    if history_phash is not None:
        hist = (
            history_phash.select(F.col("phash").alias("phash_decoded"))
            .filter(F.col("phash_decoded") != 0)
            .distinct()
            .withColumn("in_history", F.lit(True))
        )
        ok = ok.join(hist, "phash_decoded", "left").withColumn(
            "in_history", F.coalesce(F.col("in_history"), F.lit(False))
        )
    else:
        ok = ok.withColumn("in_history", F.lit(False))

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if ttl_ms is not None and state.hasTimedOut:
            state.remove()  # TTL eviction: the phash re-admits from now on
            return
        pdf = pd.concat(list(pdfs), ignore_index=True).sort_values("image_id")
        if not len(pdf):
            return
        seen = bool(state.get[0]) if state.exists else False
        # in_history is an equi-join on the group key → constant per group
        base_dup = seen or bool(pdf["in_history"].iloc[0])
        flags = [True] * len(pdf)
        if not base_dup:
            flags[0] = False  # first occurrence (by image_id) is the keeper
        pdf["is_phash_dup"] = flags
        state.update((True,))
        if ttl_ms is not None:
            state.setTimeoutDuration(ttl_ms)
        yield pdf[
            ["image_id", "fmt", "phash_decoded", "in_history", "is_phash_dup"]
        ]

    flagged = ok.groupBy("phash_decoded").applyInPandasWithState(
        fn,
        outputStructType=OUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=(
            GroupStateTimeout.ProcessingTimeTimeout
            if ttl_ms is not None
            else GroupStateTimeout.NoTimeout
        ),
    )
    return flagged.unionByName(rest)
