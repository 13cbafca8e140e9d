"""Iceberg-analogue catalog features: time travel (read as_of), snapshot
expiration, orphan-dir removal, manifest-level min/max pruning, and the
per-table commit lock.

These are metadata-layer semantics on SnapshotCatalog (crawl/tables.py) —
the parquet stand-in for the real Iceberg runtime (reference analogue: the
per-stage checkpoint history at base.py:285-309).
"""

import json
import os
from concurrent.futures import ThreadPoolExecutor

import pytest

from nightcrawler_ds_pipeline_spark.crawl.tables import SnapshotCatalog


def _df(spark, lo, hi, tag):
    return spark.range(lo, hi).selectExpr("id", f"'{tag}' as tag")


@pytest.fixture()
def cat(tmp_path):
    return SnapshotCatalog(str(tmp_path / "cat"))


def test_read_as_of_time_travel(spark, cat):
    s0 = cat.write(_df(spark, 0, 10, "a"), "t", mode="append")
    s1 = cat.write(_df(spark, 10, 20, "b"), "t", mode="append")
    s2 = cat.write(_df(spark, 100, 105, "c"), "t", mode="overwrite")
    assert (s0, s1, s2) == (0, 1, 2)

    # current view: overwrite wins
    assert cat.read(spark, "t").count() == 5
    # as_of the first append: only its rows
    assert sorted(r["id"] for r in cat.read(spark, "t", as_of=s0).collect()) == list(
        range(10)
    )
    # as_of the second append: union of both appends, overwrite invisible
    assert cat.read(spark, "t", as_of=s1).count() == 20
    # as_of the overwrite == current
    assert cat.read(spark, "t", as_of=s2).count() == 5
    # before any snapshot
    assert cat.read(spark, "t", as_of=-1) is None


def test_expire_snapshots_drops_superseded_only(spark, cat):
    cat.write(_df(spark, 0, 10, "a"), "t", mode="append")
    cat.write(_df(spark, 10, 20, "b"), "t", mode="append")
    s2 = cat.write(_df(spark, 100, 105, "c"), "t", mode="overwrite")
    s3 = cat.write(_df(spark, 200, 203, "d"), "t", mode="append")
    dirs_before = {s["id"]: s["dir"] for s in cat.snapshots("t")}

    assert cat.expire_snapshots("t") == 2  # the two pre-overwrite appends
    # live view unchanged: overwrite + trailing append
    assert cat.read(spark, "t").count() == 8
    ids = [s["id"] for s in cat.snapshots("t")]
    assert ids == [s2, s3]
    # expired dirs gone, live dirs intact
    assert not os.path.exists(dirs_before[0])
    assert not os.path.exists(dirs_before[1])
    assert os.path.exists(dirs_before[s2]) and os.path.exists(dirs_before[s3])
    # idempotent
    assert cat.expire_snapshots("t") == 0


def test_expire_snapshots_keep_from_id_preserves_time_travel(spark, cat):
    cat.write(_df(spark, 0, 10, "a"), "t", mode="append")
    s1 = cat.write(_df(spark, 10, 20, "b"), "t", mode="append")
    cat.write(_df(spark, 100, 105, "c"), "t", mode="overwrite")

    assert cat.expire_snapshots("t", keep_from_id=s1) == 1  # only snap 0
    # time travel to the kept superseded snapshot still works
    assert cat.read(spark, "t", as_of=s1).count() == 10


def test_remove_orphans_sweeps_rollback_leftovers(spark, cat):
    cat.write(_df(spark, 0, 10, "a"), "t", mode="append", meta={"iter": 0})
    s1 = cat.write(_df(spark, 10, 20, "b"), "t", mode="append", meta={"iter": 1})
    orphan_dir = [s for s in cat.snapshots("t") if s["id"] == s1][0]["dir"]

    cat.rollback_above(0)  # drops snap 1 from the manifest, leaves its dir
    assert os.path.isdir(orphan_dir)
    # grace window protects a fresh (possibly in-flight) dir
    assert cat.remove_orphans("t", grace_s=3600) == 0
    assert os.path.isdir(orphan_dir)
    # no-grace sweep removes it; referenced dirs survive
    assert cat.remove_orphans("t", grace_s=0) == 1
    assert not os.path.exists(orphan_dir)
    assert cat.read(spark, "t").count() == 10
    assert cat.remove_orphans("t", grace_s=0) == 0


def test_manifest_stats_pruning(spark, cat):
    # two appends with disjoint id ranges, footer stats harvested on write
    cat.write(_df(spark, 0, 100, "a"), "t", mode="append", stats_cols=["id", "tag"])
    cat.write(_df(spark, 1000, 1100, "b"), "t", mode="append", stats_cols=["id", "tag"])

    # manifest carries JSON-scalar min/max (check straight off disk)
    with open(os.path.join(cat.root, "t", "_snapshots.json")) as f:
        manifest = json.load(f)
    assert manifest[0]["stats"]["id"] == [0, 99]
    assert manifest[1]["stats"]["id"] == [1000, 1099]
    assert manifest[0]["stats"]["tag"] == ["a", "a"]

    # window inside snapshot 2 only → snapshot 1 pruned without being read
    hit = cat.read(spark, "t", prune=("id", 1050, None))
    assert hit.inputFiles() and all("snap-000001" in p for p in hit.inputFiles())
    assert hit.count() == 100  # pruning is snapshot-granular, filter still needed
    # window spanning both → no pruning
    assert cat.read(spark, "t", prune=("id", 50, 1050)).count() == 200
    # string-column pruning
    assert cat.read(spark, "t", prune=("tag", "b", "b")).count() == 100
    # nothing can match → None
    assert cat.read(spark, "t", prune=("id", 5000, None)) is None


def test_stats_pruning_conservative_without_stats(spark, cat):
    # snapshot written WITHOUT stats is always kept by prune
    cat.write(_df(spark, 0, 10, "a"), "t", mode="append")
    cat.write(_df(spark, 1000, 1010, "b"), "t", mode="append", stats_cols=["id"])
    assert cat.read(spark, "t", prune=("id", 5000, None)).count() == 10


def test_stats_cols_with_partition_by_degrades_safely(spark, cat):
    # a partitionBy column lives in directory names, not parquet footers:
    # its stats must be OMITTED (not fabricated) and pruning on it must
    # conservatively keep the snapshot; a real data column still prunes
    cat.write(
        _df(spark, 0, 100, "a"),
        "t",
        mode="append",
        partition_by=["tag"],
        stats_cols=["id", "tag"],
    )
    snap = cat.snapshots("t")[0]
    assert "tag" not in snap.get("stats", {})
    assert snap["stats"]["id"] == [0, 99]
    assert cat.read(spark, "t", prune=("tag", "zzz", None)).count() == 100
    assert cat.read(spark, "t", prune=("id", 5000, None)) is None


def test_concurrent_appends_to_one_table_all_commit(spark, cat):
    # each write's manifest read-modify-write holds the table's lock: four
    # threads appending at once must leave four snapshots, none overwritten
    with ThreadPoolExecutor(4) as pool:
        futures = [
            pool.submit(cat.write, _df(spark, k * 100, k * 100 + 100, "x"), "t")
            for k in range(4)
        ]
        ids = sorted(f.result(timeout=300) for f in futures)
    assert ids == [0, 1, 2, 3]
    assert len(cat.snapshots("t")) == 4
    assert cat.read(spark, "t").count() == 400
