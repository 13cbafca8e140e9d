"""Snapshot compaction: live state identical, snapshot count bounded, and
resume preserved; ``expire_snapshots`` afterwards reclaims the superseded
snapshots, which the crawl loop does after each commit."""

import os

import pyspark.sql.functions as F

from nightcrawler_ds_pipeline_spark.crawl.loop import CrawlConfig, run_crawl
from nightcrawler_ds_pipeline_spark.crawl.tables import SnapshotCatalog, _live


def _mk(spark, lo, hi, it):
    return spark.range(lo, hi).select(
        F.col("id").alias("url_hash"), F.lit(it).alias("seen_iter")
    )


def test_compact_preserves_state_and_bounds_snapshots(spark, tmp_path):
    cat = SnapshotCatalog(str(tmp_path / "c"))
    for it in range(5):
        cat.write(_mk(spark, it * 10, it * 10 + 10, it), "seen",
                  mode="append", meta={"iter": it})
    before = cat.read(spark, "seen")
    rows_before = sorted(r["url_hash"] for r in before.collect())
    assert len(cat.snapshots("seen")) == 5

    snap_id = cat.compact(spark, "seen", num_files=2)
    assert snap_id is not None
    after = cat.read(spark, "seen")
    assert sorted(r["url_hash"] for r in after.collect()) == rows_before
    # live set is ONE snapshot now; re-compacting is a no-op
    assert cat.compact(spark, "seen") is None
    # appends continue normally on top of the compacted base
    cat.write(_mk(spark, 100, 110, 5), "seen", mode="append", meta={"iter": 5})
    assert cat.read(spark, "seen").count() == 60


def test_compact_time_travel_and_expire(spark, tmp_path):
    cat = SnapshotCatalog(str(tmp_path / "c2"))
    for it in range(4):
        cat.write(_mk(spark, it * 10, it * 10 + 10, it), "seen",
                  mode="append", meta={"iter": it})
    cat.compact(spark, "seen")
    # resume at/above the compaction point sees compacted state
    assert cat.read(spark, "seen", max_iter=3).count() == 40
    # rolling back BELOW the compaction re-exposes the originals
    cat.rollback_above(1)
    assert cat.read(spark, "seen").count() == 20

    # compact then expire: superseded snapshots pruned from manifest AND disk
    for it in range(2, 4):
        cat.write(_mk(spark, it * 10, it * 10 + 10, it), "seen",
                  mode="append", meta={"iter": it})
    dirs_before = {s["dir"] for s in cat.snapshots("seen")}
    cat.compact(spark, "seen")
    cat.expire_snapshots("seen")
    snaps = cat.snapshots("seen")
    assert len(snaps) == 1 and "compacted_from" in snaps[0]["meta"]
    assert cat.read(spark, "seen").count() == 40
    for d in dirs_before:
        assert not os.path.exists(d)


def test_loop_with_compaction_matches_plain_run(spark, t1_dir, tmp_path):
    cfg_plain = CrawlConfig(iterations=3)
    cfg_comp = CrawlConfig(iterations=3, compact_every=1,
                           robots_max_age_iters=1, bloom_min_seen=0)
    cat_a = SnapshotCatalog(str(tmp_path / "a"))
    cat_b = SnapshotCatalog(str(tmp_path / "b"))
    run_crawl(spark, cat_a, t1_dir, cfg_plain)
    run_crawl(spark, cat_b, t1_dir, cfg_comp)
    for table in ("results", "seen"):
        a = cat_a.read(spark, table)
        b = cat_b.read(spark, table)
        assert a.count() == b.count()
        assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    # compaction actually bounded the seen snapshot chain
    assert len([s for s in cat_b.snapshots("seen") if s["mode"] == "overwrite"]) >= 1
    # every crawl table keeps one schema across its snapshots (compactions
    # included), so no scan of the loop's own tables merges footers
    for cat in (cat_a, cat_b):
        for table in sorted(os.listdir(cat.root)):
            schemas = {s.get("schema") for s in cat.snapshots(table)}
            assert len(schemas) == 1 and None not in schemas, (table, schemas)
    # retention: every table of the compacting run (the bloom and robots
    # overwrite tables included) holds only its live set, on disk too
    assert {"bloom", "robots"} <= set(os.listdir(cat_b.root))
    for table in sorted(os.listdir(cat_b.root)):
        snaps = cat_b.snapshots(table)
        assert _live(snaps) == snaps, (table, [s["id"] for s in snaps])
        assert cat_b.remove_orphans(table, grace_s=0) == 0, table


def test_incremental_reader_stable_across_compact(spark, t1_dir, tmp_path):
    """The CDC contract under maintenance: a consumer holding a
    read_incremental window across a compact sees identical
    rows — compaction adds an overwrite snapshot but never deletes the data
    files the held plan references. A NEW incremental read across the
    compaction point refuses (overwrite breaks delta semantics) instead of
    silently replaying rows."""
    import pytest

    cat = SnapshotCatalog(str(tmp_path / "cdc"))
    run_crawl(spark, cat, t1_dir, CrawlConfig(iterations=3))

    held = cat.read_incremental(spark, "results", after_iter=0)
    before = sorted(tuple(r) for r in held.collect())

    assert cat.compact(spark, "results") is not None
    # held reader: same rows, bit-for-bit
    assert sorted(tuple(r) for r in held.collect()) == before
    # a fresh window across the compaction overwrite refuses loudly
    with pytest.raises(ValueError, match="overwrite"):
        cat.read_incremental(spark, "results", after_iter=0)


def test_schema_evolution_additive_column(spark, tmp_path):
    """Iceberg-style additive schema evolution: a snapshot written with an
    extra column unions cleanly (old rows NULL for the new column) because
    the manifest records two schemas; a plain read, incremental read and
    compaction all keep the new column."""
    cat = SnapshotCatalog(str(tmp_path / "evo"))
    v1 = spark.range(5).select(F.col("id").alias("url_hash"),
                               F.lit(0).alias("seen_iter"))
    cat.write(v1, "seen", mode="append", meta={"iter": 0})
    v2 = spark.range(5, 8).select(
        F.col("id").alias("url_hash"), F.lit(1).alias("seen_iter"),
        F.lit("abc").alias("source_tag"),  # the added column
    )
    cat.write(v2, "seen", mode="append", meta={"iter": 1})

    merged = cat.read(spark, "seen")
    assert set(merged.columns) == {"url_hash", "seen_iter", "source_tag"}
    rows = {r["url_hash"]: r["source_tag"] for r in merged.collect()}
    assert rows[0] is None and rows[7] == "abc"
    assert merged.count() == 8

    # incremental read of just the evolved delta carries the new column
    delta = cat.read_incremental(spark, "seen", after_iter=0)
    assert "source_tag" in delta.columns and delta.count() == 3

    # compaction rewrites the merged shape into one snapshot
    cat.compact(spark, "seen")
    after = cat.read(spark, "seen")
    assert set(after.columns) == {"url_hash", "seen_iter", "source_tag"}
    assert after.count() == 8
    assert after.filter(F.col("source_tag") == "abc").count() == 3
