"""Streaming → SnapshotCatalog bridge: exactly-once micro-batch commits.

``writeStream.foreachBatch`` gives at-least-once delivery: after a crash
between the sink write and the checkpoint commit, the engine REPLAYS the
last micro-batch.  The batch crawl loop already solves the same problem
with lineage commits + ``rollback_above`` (crawl/loop.py); this module is
the streaming twin — each micro-batch becomes one catalog snapshot stamped
with ``meta.stream_batch_id``, and a replayed batch id is skipped, so the
append is idempotent and the table ends exactly-once no matter where the
crash landed:

- crash BEFORE the catalog commit → replay re-writes the batch (no
  snapshot existed);
- crash AFTER the catalog commit but before the checkpoint advances →
  replay sees ``batch_id <= committed max`` and skips.

The check is manifest-only (no data scan) and the commit itself is the
catalog's atomic staged-parquet + manifest rename, so a crash mid-write
leaves only an orphan data dir (reaped by ``remove_orphans``), never a
half-visible snapshot.  At 10^10-URL scale this is the pattern for landing
a discovery firehose into the same resumable table world the batch loop
reads — one snapshot per micro-batch, compacted later by
``catalog.compact`` exactly like batch snapshots.

Reference analogue: the checkpoint sink per stage (SURVEY §2 S10) under a
streaming source instead of a staged batch.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame

from nightcrawler_ds_pipeline_spark.crawl.tables import SnapshotCatalog


def committed_stream_batch_max(catalog: SnapshotCatalog, table: str) -> int:
    """Max ``meta.stream_batch_id`` among committed snapshots, or -1."""
    return max(
        (s["meta"].get("stream_batch_id", -1) for s in catalog.snapshots(table)),
        default=-1,
    )


def catalog_stream_writer(
    catalog: SnapshotCatalog, table: str, meta: dict | None = None
) -> Callable[[DataFrame, int], None]:
    """Build a ``foreachBatch`` function committing into ``catalog``.

    Usage::

        q = (stream.writeStream
             .foreachBatch(catalog_stream_writer(catalog, "results"))
             .option("checkpointLocation", ck).start())

    Micro-batch ids are monotonic per checkpoint and only the LAST batch
    can replay, so ``batch_id <= committed max → skip`` is a complete
    idempotence rule.  One catalog per checkpoint lineage: pointing two
    different streaming queries at the same (catalog, table) would
    interleave unrelated batch-id sequences — use separate tables.
    """

    def write_batch(df: DataFrame, batch_id: int) -> None:
        if batch_id <= committed_stream_batch_max(catalog, table):
            return  # replayed micro-batch: snapshot already committed
        catalog.write(
            df,
            table,
            mode="append",
            meta={**(meta or {}), "stream_batch_id": int(batch_id)},
        )

    return write_batch
