"""Unit tests: snapshot catalog, partitioned Bloom, cuckoo filter."""

import numpy as np
import pyspark.sql.functions as F
import pytest

from nightcrawler_ds_pipeline_spark.crawl.cuckoo import CuckooFilter
from nightcrawler_ds_pipeline_spark.crawl import seen as seen_mod
from nightcrawler_ds_pipeline_spark.crawl.seen import (
    build_bloom_partitions,
    bloom_suspect_keys,
    filter_unseen,
    merge_bloom_tables,
)
from nightcrawler_ds_pipeline_spark.crawl.tables import SnapshotCatalog


def test_snapshot_append_overwrite_and_iter_filter(spark, tmp_path):
    cat = SnapshotCatalog(str(tmp_path / "cat"))
    df1 = spark.range(5).withColumn("v", F.lit("a"))
    df2 = spark.range(3).withColumn("v", F.lit("b"))
    cat.write(df1, "t", mode="append", meta={"iter": 0})
    cat.write(df2, "t", mode="append", meta={"iter": 1})
    assert cat.read(spark, "t").count() == 8
    assert cat.read(spark, "t", max_iter=0).count() == 5  # rollback view
    cat.write(df2, "t", mode="overwrite", meta={"iter": 2})
    assert cat.read(spark, "t").count() == 3
    assert cat.read(spark, "t", max_iter=1).count() == 8
    assert cat.read(spark, "missing") is None


def test_bloom_no_false_negatives_and_low_fp(spark):
    # default modulus (256) with 100 keys: most partitions have NO sketch
    # row, so most fresh keys meet an empty sketch side in the cogroup
    keys = spark.range(0, 100).select(
        F.xxhash64(F.col("id").cast("string")).alias("url_hash")
    )
    bloom = build_bloom_partitions(keys)
    # no false negatives: every inserted key reports maybe-seen
    assert keys.join(bloom_suspect_keys(keys, bloom), "url_hash", "left_anti").count() == 0
    # low false-positive rate on fresh keys
    fresh = spark.range(1_000_000, 1_020_000).select(
        F.xxhash64(F.col("id").cast("string")).alias("url_hash")
    )
    fp = bloom_suspect_keys(fresh, bloom).count()
    assert fp / 20_000 < 0.01


def test_bloom_merge(spark):
    a = spark.range(0, 1000).select(F.xxhash64(F.col("id").cast("string")).alias("url_hash"))
    b = spark.range(1000, 2000).select(F.xxhash64(F.col("id").cast("string")).alias("url_hash"))
    merged = merge_bloom_tables(
        build_bloom_partitions(a, num_partitions=4),
        build_bloom_partitions(b, num_partitions=4),
    )
    both = a.unionByName(b)
    suspects = bloom_suspect_keys(both, merged, num_partitions=4)
    assert both.join(suspects, "url_hash", "left_anti").count() == 0


def test_filter_unseen_exactness(spark):
    # Bloom false positives must NOT drop unseen URLs (exact anti-join decider)
    all_keys = spark.range(0, 5000).select(
        F.xxhash64(F.col("id").cast("string")).alias("url_hash")
    )
    seen = all_keys.filter(F.col("url_hash") % 2 == 0)
    bloom = build_bloom_partitions(seen, num_partitions=4, num_bits=1 << 10)  # tiny → many FPs
    out = filter_unseen(all_keys, seen, bloom, num_partitions=4)
    expected = all_keys.join(seen, "url_hash", "left_anti")
    assert out.count() == expected.count()
    assert out.exceptAll(expected).count() == 0


def test_copartition_probe_no_false_negatives(spark):
    # every inserted key must appear in the suspect set (no false negatives)
    keys = spark.range(0, 20_000).select(
        F.xxhash64(F.col("id").cast("string")).alias("url_hash")
    )
    bloom = build_bloom_partitions(keys, num_partitions=8)
    suspects = bloom_suspect_keys(keys, bloom, num_partitions=8)
    missed = keys.join(suspects, "url_hash", "left_anti").count()
    assert missed == 0
    # low false-positive rate on fresh keys
    fresh = spark.range(1_000_000, 1_020_000).select(
        F.xxhash64(F.col("id").cast("string")).alias("url_hash")
    )
    fp = bloom_suspect_keys(fresh, bloom, num_partitions=8).count()
    assert fp / 20_000 < 0.01


def test_filter_unseen_copartition_never_collects_sketches(spark, monkeypatch):
    # the probe must never bring a sketch to the driver (SCALE.md §2: at
    # the design point the sketch table is ~12.5 GB) — every Python-side
    # collect and broadcast is a tripwire while the filter is built and run
    from pyspark import SparkContext
    from pyspark.sql.classic.dataframe import DataFrame

    def boom(*a, **k):  # pragma: no cover - tripwire
        raise AssertionError("the seen filter collected or broadcast a sketch")

    all_keys = spark.range(0, 3000).select(
        F.xxhash64(F.col("id").cast("string")).alias("url_hash")
    )
    seen = all_keys.filter(F.col("url_hash") % 3 == 0)
    bloom = build_bloom_partitions(seen, num_partitions=4)
    expected = all_keys.join(seen, "url_hash", "left_anti")
    with monkeypatch.context() as m:
        for name in ("collect", "toPandas", "toLocalIterator", "first", "take"):
            m.setattr(DataFrame, name, boom)
        m.setattr(SparkContext, "broadcast", boom)
        out = seen_mod.filter_unseen(all_keys, seen, bloom, num_partitions=4)
        # plan shape: cogrouped map-side probe + exact joins
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "FlatMapCoGroupsInPandas" in plan
        assert out.count() == expected.count()
        assert out.exceptAll(expected).count() == 0


def test_bloom_modulus_mismatch_fails_loudly(spark):
    """A probe with a different bloom_partitions than the stored sketches
    would silently produce false negatives (duplicate crawls) — the probe
    must refuse instead, directly and through filter_unseen."""
    import pytest

    keys = spark.range(0, 2000).select(
        F.xxhash64(F.col("id").cast("string")).alias("url_hash")
    )
    bloom = build_bloom_partitions(keys, num_partitions=8)
    with pytest.raises(Exception, match="modulus"):
        bloom_suspect_keys(keys, bloom, num_partitions=4).count()
    with pytest.raises(Exception, match="modulus"):
        filter_unseen(keys, keys, bloom, num_partitions=4).count()
    # geometry mixes refuse to merge
    other = build_bloom_partitions(keys, num_partitions=8, num_bits=1 << 12)
    with pytest.raises(Exception, match="geometry"):
        merge_bloom_tables(bloom, other).count()


def test_cuckoo_insert_lookup_delete():
    cf = CuckooFilter(num_buckets=1 << 12)
    keys = np.random.default_rng(7).integers(-(2**62), 2**62, size=5000, dtype=np.int64)
    for k in keys:
        assert cf.insert(int(k))
    assert cf.contains(keys).all()  # no false negatives
    fresh = np.random.default_rng(8).integers(-(2**62), 2**62, size=5000, dtype=np.int64)
    fp_rate = cf.contains(fresh).mean()
    assert fp_rate < 0.02
    # deletion support (the reason cuckoo is the TTL fallback)
    for k in keys[:1000]:
        assert cf.delete(int(k))
    assert cf.contains(keys[1000:]).all()
    assert cf.contains(keys[:1000]).mean() < 0.05
    # serialization round-trip
    cf2 = CuckooFilter.from_bytes(cf.to_bytes(), cf.num_buckets)
    assert cf2.contains(keys[1000:]).all()


def test_read_incremental_yields_exact_delta(spark, tmp_path, t1_dir):
    """Incremental read = exactly the appends after the cursor; overwrite
    inside the window fails loudly (delta semantics end at an overwrite)."""
    import pytest as _pytest

    from nightcrawler_ds_pipeline_spark.crawl.loop import CrawlConfig, run_crawl
    from nightcrawler_ds_pipeline_spark.crawl.tables import SnapshotCatalog

    cat = SnapshotCatalog(str(tmp_path / "cat"))
    run_crawl(spark, cat, t1_dir, CrawlConfig(iterations=3))

    full = {tuple(r) for r in cat.read(spark, "results").collect()}
    base = {tuple(r) for r in cat.read(spark, "results", max_iter=0).collect()}
    delta_df = cat.read_incremental(spark, "results", after_iter=0)
    delta = {tuple(r) for r in delta_df.collect()} if delta_df is not None else set()
    assert delta == full - base
    assert delta, "expected appends after iteration 0"

    # bounded window: (0, 1] must equal read(max_iter=1) - read(max_iter=0)
    upto1 = {tuple(r) for r in cat.read(spark, "results", max_iter=1).collect()}
    win_df = cat.read_incremental(spark, "results", after_iter=0, until_iter=1)
    win = {tuple(r) for r in win_df.collect()} if win_df is not None else set()
    assert win == upto1 - base

    # frontier is overwritten every iteration -> loud error, never replay
    with _pytest.raises(ValueError, match="overwrite"):
        cat.read_incremental(spark, "frontier", after_iter=0)


def test_read_incremental_excludes_orphan_appends(spark, tmp_path, t1_dir):
    """A crash can commit an append whose lineage finalizer never landed;
    the default incremental window must stop at the committed iteration so
    consumers never ingest rows rollback_above will delete on resume."""
    from pyspark.sql import functions as F

    from nightcrawler_ds_pipeline_spark.crawl.loop import CrawlConfig, run_crawl
    from nightcrawler_ds_pipeline_spark.crawl.tables import SnapshotCatalog

    cat = SnapshotCatalog(str(tmp_path / "cat"))
    run_crawl(spark, cat, t1_dir, CrawlConfig(iterations=2))
    committed = {tuple(r) for r in cat.read_incremental(
        spark, "results", after_iter=-1).collect()}

    # simulate the crash: an iter-7 results append with NO lineage row
    orphan = cat.read(spark, "results").limit(3).withColumn(
        "iter", F.lit(7).cast("int")
    )
    cat.write(orphan, "results", mode="append", meta={"iter": 7})

    delta = {tuple(r) for r in cat.read_incremental(
        spark, "results", after_iter=-1).collect()}
    assert delta == committed  # orphan invisible by default
    explicit = cat.read_incremental(spark, "results", after_iter=-1, until_iter=7)
    assert explicit.count() == len(committed) + 3  # opt-in still possible


def test_read_incremental_empty_lineage_caps_window(spark, tmp_path):
    """A catalog whose lineage table EXISTS but holds no committed snapshot
    (crash before the first finalizer / post-rollback state) must cap the
    default window at -1 — an unbounded window would ingest exactly the
    orphan appends rollback_above is about to delete."""
    import os

    from nightcrawler_ds_pipeline_spark.crawl.tables import SnapshotCatalog

    cat = SnapshotCatalog(str(tmp_path / "el"))
    orphan = spark.range(5).select(F.col("id").alias("url_hash"))
    cat.write(orphan, "results", mode="append", meta={"iter": 0})
    # lineage table created but its finalizer never landed
    os.makedirs(os.path.join(cat.root, "lineage"), exist_ok=True)
    assert cat.read_incremental(spark, "results", after_iter=-1) is None
    # no lineage table at all (raw catalog use) stays unbounded
    cat2 = SnapshotCatalog(str(tmp_path / "el2"))
    cat2.write(orphan, "results", mode="append", meta={"iter": 0})
    assert cat2.read_incremental(spark, "results", after_iter=-1).count() == 5
