"""Iceberg-analogue catalog features: snapshot expiration, orphan-dir
removal and the per-table commit lock. There is no time travel and no
manifest-level pruning: a read sees the live set, and the crawl loop
expires what an overwrite supersedes once its lineage commits.

These are metadata-layer semantics on SnapshotCatalog (crawl/tables.py) —
the parquet stand-in for the real Iceberg runtime (reference analogue: the
per-stage checkpoint history at base.py:285-309).
"""

import os
from concurrent.futures import ThreadPoolExecutor

import pytest

from nightcrawler_ds_pipeline_spark.crawl.tables import SnapshotCatalog


def _df(spark, lo, hi, tag):
    return spark.range(lo, hi).selectExpr("id", f"'{tag}' as tag")


@pytest.fixture()
def cat(tmp_path):
    return SnapshotCatalog(str(tmp_path / "cat"))


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
