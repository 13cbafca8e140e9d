"""Exact-resume: a crash mid-iteration (snapshots written, lineage not)
must roll back cleanly; the resumed run must equal an uninterrupted run."""

import pyspark.sql.functions as F
import pytest

from nightcrawler_ds_pipeline_spark.crawl.loop import CrawlConfig, run_crawl
from nightcrawler_ds_pipeline_spark.crawl.tables import SnapshotCatalog

T1_CFG = dict(max_per_host=10, window_ms=10_000)


def _final_state(spark, catalog):
    res = catalog.read(spark, "results")
    seen = catalog.read(spark, "seen")
    order = sorted(
        (r["iter"], r["seq"], r["url_hash"])
        for r in res.select("iter", "seq", "url_hash").collect()
    )
    seen_set = sorted(r["url_hash"] for r in seen.select("url_hash").collect())
    return order, seen_set


@pytest.fixture(scope="module")
def golden(spark, t1_dir, tmp_path_factory):
    """Final state of an uninterrupted 3-iteration t1 crawl."""
    cat = SnapshotCatalog(str(tmp_path_factory.mktemp("golden")))
    run_crawl(spark, cat, t1_dir, CrawlConfig(iterations=3, **T1_CFG))
    return _final_state(spark, cat)


def test_resume_after_simulated_crash(spark, t1_dir, tmp_path, golden):
    cfg = CrawlConfig(iterations=3, **T1_CFG)

    # interrupted run: stop after iteration 0, then simulate a crash during
    # iteration 1 — some snapshots committed but lineage (the finalizer) not
    cat_b = SnapshotCatalog(str(tmp_path / "b"))
    run_crawl(spark, cat_b, t1_dir, CrawlConfig(iterations=1, **T1_CFG))
    junk = spark.range(7).select(
        F.lit(1).cast("int").alias("iter"),
        (F.col("id") + 1).alias("seq"),
        F.lit("https://junk").alias("url"),
        F.lit("https://junk").alias("canonical_url"),
        F.col("id").alias("url_hash"),
        F.lit("junk.host").alias("host"),
        F.lit(False).alias("error"),
        F.lit(None).cast("string").alias("image_id"),
        F.lit(None).cast("int").alias("w"),
        F.lit(None).cast("int").alias("h"),
        F.lit(None).cast("string").alias("fmt"),
        F.lit(None).cast("string").alias("caption"),
        F.lit(None).cast("long").alias("phash"),
        F.lit(False).alias("decode_ok"),
        F.lit(False).alias("is_phash_dup"),
    )
    cat_b.write(junk, "results", mode="append", meta={"iter": 1})  # orphan
    cat_b.write(junk.select("url_hash", F.col("url").alias("canonical_url"),
                            F.lit(1).cast("int").alias("seen_iter")),
                "seen", mode="append", meta={"iter": 1})  # orphan

    # resume: iteration 1 must be recomputed from committed state only, and
    # the orphan snapshots must be PHYSICALLY rolled back (no junk filter —
    # without the rollback the orphan rows would duplicate forever)
    out = run_crawl(spark, cat_b, t1_dir, cfg)
    assert out["start_iter"] == 1

    res = cat_b.read(spark, "results")
    assert res.filter(F.col("url") == "https://junk").count() == 0
    order = sorted(
        (r["iter"], r["seq"], r["url_hash"])
        for r in res.select("iter", "seq", "url_hash").collect()
    )
    assert order == golden[0]
    # seen table also clean of orphans
    seen = cat_b.read(spark, "seen")
    assert seen.count() == seen.select("url_hash").distinct().count()


class _Crash(RuntimeError):
    pass


class RecordingCatalog(SnapshotCatalog):
    """Logs every committed write as ``(table, meta.iter)`` in ``writes``.
    The manifest is no write log: retention drops superseded entries."""

    def __init__(self, root):
        super().__init__(root)
        self.writes = []

    def write(self, df, table, mode="append", meta=None):
        out = super().write(df, table, mode, meta)
        self.writes.append((table, (meta or {}).get("iter")))
        return out

    def iter_writes(self, it):
        """The tables written with ``meta.iter == it``."""
        return {t for t, i in self.writes if i == it}


class _CrashingCatalog(SnapshotCatalog):
    """Raises in ``table``'s write at iteration ``at_iter``, at ``point``:
    "before" the write (nothing lands), "staged" between the parquet
    staging and the manifest commit (an unreferenced data dir lands) or
    "committed" after the commit (an orphan snapshot lands). At "expire"
    it raises when the loop expires ``table`` after ``at_iter``'s lineage
    commit (superseded snapshots stay behind)."""

    def __init__(self, root, table, at_iter, point):
        super().__init__(root)
        self.table, self.at_iter, self.point = table, at_iter, point

    def _hit(self, table, meta):
        return table == self.table and meta.get("iter") == self.at_iter

    def write(self, df, table, mode="append", meta=None):
        hit = self._hit(table, meta or {})
        if hit and self.point == "before":
            raise _Crash(table)
        out = super().write(df, table, mode, meta)
        if hit and self.point == "committed":
            raise _Crash(table)
        return out

    def _commit_manifest(self, table, snapshots):
        if self.point == "staged" and snapshots and self._hit(table, snapshots[-1]["meta"]):
            raise _Crash(table)
        super()._commit_manifest(table, snapshots)

    def expire_snapshots(self, table):
        if self.point == "expire" and self._hit(table, {"iter": self.latest_iter("lineage")}):
            raise _Crash(table)
        return super().expire_snapshots(table)


@pytest.mark.parametrize(
    "table,point",
    [("politeness", "committed"), ("results", "committed"),
     ("lineage", "before"), ("seen", "staged"), ("politeness", "expire")],
    ids=["politeness", "results", "lineage", "seen", "retention"],
)
def test_resume_after_crash_inside_commit_block(
    spark, t1_dir, tmp_path, golden, table, point
):
    """A crash at an early pool write, a late pool write, the staging gap
    of the seen write or the lineage commit of iteration 1 leaves iteration
    0 as the commit point; a crash in the retention after iteration 1's
    commit leaves iteration 1. Resuming with a plain catalog equals the
    uninterrupted run, and its retention sweeps what the crash left."""
    cfg = CrawlConfig(iterations=3, **T1_CFG)
    root = str(tmp_path / "crash")
    crashing = _CrashingCatalog(root, table, 1, point)
    with pytest.raises(_Crash):
        run_crawl(spark, crashing, t1_dir, cfg)
    committed = 1 if point == "expire" else 0
    assert crashing.latest_iter("lineage") == committed
    # a crash before the write's manifest commit leaves no iteration-1 entry
    assert crashing.latest_iter(table) == (0 if point in ("before", "staged") else 1)
    if point == "expire":
        # iteration 0's bucket state, superseded but not yet expired
        assert len(crashing.snapshots(table)) == 2

    out = run_crawl(spark, SnapshotCatalog(root), t1_dir, cfg)
    assert out["start_iter"] == committed + 1
    assert _final_state(spark, SnapshotCatalog(root)) == golden
    for overwritten in ("frontier", "politeness"):
        assert len(SnapshotCatalog(root).snapshots(overwritten)) == 1, overwritten
    if point == "staged":
        # the staged dir no manifest ever referenced is the one orphan
        assert SnapshotCatalog(root).remove_orphans(table, grace_s=0) == 1


def test_resume_across_bloom_partition_upgrade(spark, tmp_path, t1_dir):
    """A catalog written with one Bloom modulus must resume cleanly under a
    different bloom_partitions config (engine-default upgrade): sketches
    rebuild from the seen table; results equal an uninterrupted run."""
    from nightcrawler_ds_pipeline_spark.crawl.loop import CrawlConfig, run_crawl
    from nightcrawler_ds_pipeline_spark.crawl.tables import SnapshotCatalog

    # bloom_min_seen=0: the t1 fixture seen-set is far below the default
    # size gate, and this test is specifically about sketch migration
    upgraded = SnapshotCatalog(str(tmp_path / "up"))
    run_crawl(spark, upgraded, t1_dir,
              CrawlConfig(iterations=2, bloom_partitions=16, bloom_min_seen=0))
    run_crawl(spark, upgraded, t1_dir,
              CrawlConfig(iterations=4, bloom_partitions=32, bloom_min_seen=0))

    pure = SnapshotCatalog(str(tmp_path / "pure"))
    run_crawl(spark, pure, t1_dir,
              CrawlConfig(iterations=4, bloom_partitions=32, bloom_min_seen=0))

    cols = ["iter", "seq", "url_hash"]
    got = sorted(tuple(r) for r in upgraded.read(spark, "results").select(*cols).collect())
    want = sorted(tuple(r) for r in pure.read(spark, "results").select(*cols).collect())
    assert got == want
    # and the stored sketches now carry the new modulus
    mods = {int(r[0]) for r in upgraded.read(spark, "bloom").select("num_partitions").collect()}
    assert mods == {32}


def test_bloom_size_gate(spark, tmp_path, t1_dir):
    """Below bloom_min_seen no sketches are built or persisted — filter_unseen
    falls back to the exact anti-join, which is the decider either way.
    Crossing the gate mid-run rebuilds sketches from the FULL seen table
    (freshness check). Results and seen set are identical in all modes: if
    the rebuilt Bloom missed any seen key, that URL would be re-dequeued and
    the final state would diverge."""
    base = dict(iterations=3, max_per_host=10, window_ms=10_000)

    always = SnapshotCatalog(str(tmp_path / "always"))
    run_crawl(spark, always, t1_dir, CrawlConfig(**base, bloom_min_seen=0))
    golden = _final_state(spark, always)

    never = SnapshotCatalog(str(tmp_path / "never"))
    run_crawl(spark, never, t1_dir, CrawlConfig(**base))  # default gate ≫ t1
    assert _final_state(spark, never) == golden
    assert never.read(spark, "bloom") is None  # gate held: no sketches at all

    crossing = SnapshotCatalog(str(tmp_path / "xing"))
    run_crawl(spark, crossing, t1_dir, CrawlConfig(**base, bloom_min_seen=1))
    assert _final_state(spark, crossing) == golden
    # gate crossed after iteration 0 → sketches exist with this run's modulus
    bloom = crossing.read(spark, "bloom")
    assert bloom is not None and bloom.count() > 0


def test_bloom_rebuilt_after_gap_iteration(spark, tmp_path, t1_dir):
    """A committed iteration without a bloom write (here: a below-gate run)
    leaves the stored sketches stale; a later above-gate resume must detect
    the stale snapshot via the manifest and rebuild from seen — the ADVICE
    scenario where the old start-iter-only migration guard raised."""
    base = dict(iterations=2, max_per_host=10, window_ms=10_000)
    cat = SnapshotCatalog(str(tmp_path / "gap"))
    # iteration 0 writes sketches; iteration 1 runs below the gate (no bloom
    # write) by flipping the threshold between runs
    run_crawl(spark, cat, t1_dir, CrawlConfig(**base, bloom_min_seen=0))
    run_crawl(spark, cat, t1_dir,
              CrawlConfig(iterations=3, max_per_host=10, window_ms=10_000,
                          bloom_min_seen=10**9))
    assert cat.latest_iter("bloom") < cat.latest_iter("seen")  # stale on disk
    # resume above the gate: stale bloom must be rebuilt, run must equal an
    # uninterrupted always-bloom run
    run_crawl(spark, cat, t1_dir,
              CrawlConfig(iterations=4, max_per_host=10, window_ms=10_000,
                          bloom_min_seen=0))
    pure = SnapshotCatalog(str(tmp_path / "pure"))
    run_crawl(spark, pure, t1_dir,
              CrawlConfig(iterations=4, max_per_host=10, window_ms=10_000,
                          bloom_min_seen=0))
    assert _final_state(spark, cat) == _final_state(spark, pure)
    assert cat.latest_iter("bloom") == cat.latest_iter("seen")


def test_resume_rebuilds_sketch_whose_meta_lacks_modulus(
    spark, tmp_path, t1_dir, monkeypatch
):
    """Sketch validity is read from the snapshot manifest alone: a stored
    sketch whose meta lacks num_partitions (a catalog written before the
    modulus travelled in the meta) is not trusted. The resume rebuilds it
    exactly once from the seen table, persists the modulus with the next
    snapshot, and equals an uninterrupted run."""
    from nightcrawler_ds_pipeline_spark.crawl.seen import BloomSketch

    base = dict(max_per_host=10, window_ms=10_000, bloom_min_seen=0)
    pure = SnapshotCatalog(str(tmp_path / "pure"))
    run_crawl(spark, pure, t1_dir, CrawlConfig(iterations=3, **base))

    cat = SnapshotCatalog(str(tmp_path / "old"))
    run_crawl(spark, cat, t1_dir, CrawlConfig(iterations=2, **base))
    snaps = cat._load_manifest("bloom")
    for snap in snaps:
        snap["meta"].pop("num_partitions")
    cat._commit_manifest("bloom", snaps)

    builds = []
    build = BloomSketch.build
    monkeypatch.setattr(
        BloomSketch, "build", lambda self, *a: builds.append(a) or build(self, *a)
    )
    out = run_crawl(spark, cat, t1_dir, CrawlConfig(iterations=3, **base))
    assert out["start_iter"] == 2 and out["iterations"][0]["dequeued"] > 0
    assert len(builds) == 1
    assert cat.latest_meta("bloom")["num_partitions"] == BloomSketch().num_partitions
    assert _final_state(spark, cat) == _final_state(spark, pure)


def test_schema_evolution_across_resume(spark, tmp_path):
    """A crash straddling a schema-widening commit must roll back and roll
    forward consistently: the orphan wide snapshot disappears, committed
    wide snapshots keep their new column, and pre-widening rows read NULL
    for it (the Iceberg add-column + snapshot-rollback combination;
    previously evolution and rollback_above were only tested separately)."""
    cat = SnapshotCatalog(str(tmp_path / "evo"))

    def lineage_commit(it):
        row = spark.range(1).select(F.lit(it).cast("int").alias("iter"))
        cat.write(row, "lineage", mode="append", meta={"iter": it})

    narrow = spark.range(3).select(
        F.col("id").alias("k"), F.lit("v0").alias("val")
    )
    cat.write(narrow, "data", mode="append", meta={"iter": 0})
    lineage_commit(0)

    # committed schema-widening append (new column 'score')
    wide1 = spark.range(3, 5).select(
        F.col("id").alias("k"), F.lit("v1").alias("val"),
        F.lit(1.5).alias("score"),
    )
    cat.write(wide1, "data", mode="append", meta={"iter": 1})
    lineage_commit(1)

    # crash: iteration-2 wide append lands, its lineage finalizer does not
    orphan = spark.range(5, 9).select(
        F.col("id").alias("k"), F.lit("orphan").alias("val"),
        F.lit(9.9).alias("score"),
    )
    cat.write(orphan, "data", mode="append", meta={"iter": 2})

    committed = cat.latest_iter("lineage")
    assert committed == 1
    cat.rollback_above(committed)

    rows = {
        r["k"]: (r["val"], r["score"])
        for r in cat.read(spark, "data").collect()
    }
    assert set(rows) == {0, 1, 2, 3, 4}          # orphan physically gone
    assert rows[0] == ("v0", None)               # old rows: NULL new column
    assert rows[3] == ("v1", 1.5)                # committed wide rows intact

    # roll forward: re-run "iteration 2" post-resume and commit it
    redo = spark.range(5, 7).select(
        F.col("id").alias("k"), F.lit("v2").alias("val"),
        F.lit(2.5).alias("score"),
    )
    cat.write(redo, "data", mode="append", meta={"iter": 2})
    lineage_commit(2)
    after = cat.read(spark, "data")
    assert after.count() == 7
    # incremental consumers see only the committed wide delta
    delta = cat.read_incremental(spark, "data", after_iter=1)
    assert sorted(r["k"] for r in delta.collect()) == [5, 6]
    assert set(delta.columns) == {"k", "val", "score"}
