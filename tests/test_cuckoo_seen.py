"""Cuckoo-filter seen-set path: partitioned sketch build/update/probe and
the CrawlConfig(sketch="cuckoo") loop — results identical to the Bloom
path (the sketch never decides), TTL expiries pruned from the sketch."""

import numpy as np
import pyspark.sql.functions as F
import pytest

from nightcrawler_ds_pipeline_spark.crawl.loop import CrawlConfig, run_crawl
from nightcrawler_ds_pipeline_spark.crawl.seen import (
    build_cuckoo_partitions,
    cuckoo_suspect_keys,
    filter_unseen,
    update_cuckoo_tables,
)
from nightcrawler_ds_pipeline_spark.crawl.tables import SnapshotCatalog


def _keys(spark, vals):
    return spark.createDataFrame([(int(v),) for v in vals], "url_hash long")


def test_cuckoo_partitions_no_false_negatives(spark):
    inserted = list(range(0, 4000, 3))
    cuckoo = build_cuckoo_partitions(_keys(spark, inserted), num_partitions=8)
    hits = {
        r["url_hash"]
        for r in cuckoo_suspect_keys(
            _keys(spark, range(4000)), cuckoo, num_partitions=8
        ).collect()
    }
    assert set(inserted) <= hits  # every inserted key is a suspect
    # and the filter is selective (not everything matches)
    assert len(hits) < 4000


def test_cuckoo_update_insert_and_delete(spark):
    base = build_cuckoo_partitions(_keys(spark, range(100)), num_partitions=4)
    updated = update_cuckoo_tables(
        base,
        additions=_keys(spark, range(100, 150)),
        deletions=_keys(spark, range(0, 30)),
        num_partitions=4,
    )
    hits = {
        r["url_hash"]
        for r in cuckoo_suspect_keys(
            _keys(spark, range(200)), updated, num_partitions=4
        ).collect()
    }
    assert set(range(30, 150)) <= hits  # survivors + additions present
    # deleted keys are gone (exact: deletion removes the stored copy, and
    # a false positive from another key's fingerprint is possible but with
    # 16-bit fingerprints essentially never fires on 200 probes)
    assert not (set(range(0, 30)) & hits)


def test_cuckoo_multiset_semantics(spark):
    """A key inserted twice (TTL re-crawl: two active seen rows) survives
    one deletion — the remaining copy still reports membership."""
    base = build_cuckoo_partitions(_keys(spark, [7, 7, 11]), num_partitions=2)
    after = update_cuckoo_tables(
        base, additions=None, deletions=_keys(spark, [7]), num_partitions=2
    )
    hits = {
        r["url_hash"]
        for r in cuckoo_suspect_keys(
            _keys(spark, [7, 11, 13]), after, num_partitions=2
        ).collect()
    }
    assert 7 in hits and 11 in hits


def test_filter_unseen_cuckoo_exactness(spark):
    seen = _keys(spark, range(0, 500, 2)).withColumn(
        "canonical_url", F.lit("u")
    ).withColumn("seen_iter", F.lit(0))
    cuckoo = build_cuckoo_partitions(seen, num_partitions=8)
    cands = _keys(spark, range(500))
    out = {
        r["url_hash"]
        for r in filter_unseen(
            cands, seen, cuckoo, num_partitions=8, sketch="cuckoo"
        ).collect()
    }
    assert out == set(range(1, 500, 2))  # exactly the odd (unseen) keys


def test_cuckoo_modulus_mismatch_raises(spark):
    cuckoo = build_cuckoo_partitions(_keys(spark, range(50)), num_partitions=4)
    with pytest.raises(Exception, match="modulus"):
        cuckoo_suspect_keys(
            _keys(spark, range(50)), cuckoo, num_partitions=8
        ).collect()


def test_crawl_loop_cuckoo_matches_bloom(spark, t1_dir, tmp_path):
    """sketch='cuckoo' produces bit-identical crawl results/seen to the
    Bloom path — the sketch is a pre-filter, never the decider."""
    base = dict(iterations=3, max_per_host=10, window_ms=10_000,
                bloom_min_seen=0)
    cb = SnapshotCatalog(str(tmp_path / "bloomy"))
    run_crawl(spark, cb, t1_dir, CrawlConfig(**base, sketch="bloom"))
    cc = SnapshotCatalog(str(tmp_path / "cucky"))
    run_crawl(spark, cc, t1_dir, CrawlConfig(**base, sketch="cuckoo"))

    def state(cat):
        res = cat.read(spark, "results")
        return sorted(
            (r["iter"], r["seq"], r["url_hash"])
            for r in res.select("iter", "seq", "url_hash").collect()
        )

    assert state(cb) == state(cc)
    # and the cuckoo catalog stored cuckoo sketches, not bloom ones
    assert cc.read(spark, "cuckoo") is not None
    assert cc.read(spark, "bloom") is None


def _build_pingpong_dir(tmp_path, delay_a_ms=0, delay_b_ms=0):
    """Two URLs that link to each other (A seeds, A→B, B→A) — the minimal
    TTL re-crawl universe, mirroring tests/test_ttl_recrawl.py."""
    from tests.test_ttl_recrawl import URL_A, URL_B

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq
    import shutil

    from nightcrawler_ds_pipeline_spark.fixtures import write_fixture_parquet

    t1 = write_fixture_parquet("t1")
    d = tmp_path / "fx"
    d.mkdir()
    serp = pd.DataFrame(
        [{"keyword": "k", "offer_root": "GOOGLE", "position": 1, "url": URL_A,
          "image_url": None, "keyword_enriched": None, "keyword_volume": -1.0,
          "keyword_language": None, "keyword_location": None}]
    )
    serp["position"] = serp["position"].astype("int32")

    def resp(url, j, outlinks):
        return {"url": url, "error": False, "product_name": f"P{j}",
                "product_price": "10.00", "currency_raw": "CHF",
                "description": "d", "probability": 0.9,
                "main_image_url": "img://img000000000000",
                "image_urls": ["img://img000000000000"],
                "http_response_body": b"<html/>", "seconds_taken": 0.1,
                "outlinks": outlinks}

    responses = pd.DataFrame([resp(URL_A, 0, [URL_B]), resp(URL_B, 1, [URL_A])])
    robots = pd.DataFrame(
        [{"host": "a.example.ch", "crawl_delay_ms": delay_a_ms,
          "disallow_prefixes": [], "fetched_at_iter": 0},
         {"host": "b.example.com", "crawl_delay_ms": delay_b_ms,
          "disallow_prefixes": [], "fetched_at_iter": 0}]
    )
    robots["crawl_delay_ms"] = robots["crawl_delay_ms"].astype("int32")
    robots["fetched_at_iter"] = robots["fetched_at_iter"].astype("int32")
    for name, pdf in [("serp_results", serp), ("fetch_responses", responses),
                      ("robots", robots)]:
        pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False),
                       str(d / f"{name}.parquet"))
    shutil.copy(f"{t1}/images.parquet", str(d / "images.parquet"))
    return str(d)


def test_ttl_recrawl_through_cuckoo_and_sketch_pruned(spark, tmp_path):
    """The VERDICT-prescribed path: TTL re-crawl driven through the cuckoo
    sketch — expired keys are DELETED from the sketch (num_items shrinks
    back) while crawl behavior equals the exact-join semantics."""
    from tests.test_ttl_recrawl import URL_A, URL_B

    d = _build_pingpong_dir(tmp_path)
    cat = SnapshotCatalog(str(tmp_path / "cat"))
    run_crawl(spark, cat, d,
              CrawlConfig(iterations=3, ttl_iters=1, sketch="cuckoo",
                          bloom_min_seen=0))
    results = cat.read(spark, "results")
    iters = sorted(
        r["iter"] for r in results.filter(results.url == URL_A).collect()
    )
    assert iters == [0, 2]  # expired → re-dequeued exactly once
    # sketch pruning: the stored sketch tracks rows active at the NEXT
    # iteration; with ttl=1 every row expires one iteration after it was
    # seen, so after the final commit the sketch is fully pruned — unlike
    # the Bloom, which would carry all three historical keys forever
    sk = cat.read(spark, "cuckoo")
    n_items = sum(int(r["num_items"]) for r in sk.collect())
    assert n_items == 0


def test_cuckoo_ttl_compaction_resume_combined(spark, t1_dir, tmp_path):
    """All round-3 loop features together — cuckoo sketch above a crossed
    size gate, TTL re-crawl, periodic compaction, and a crash-resume —
    must equal one uninterrupted plain-Bloom run with the same TTL (the
    sketch and maintenance layers never change results)."""
    common = dict(iterations=4, max_per_host=10, window_ms=10_000,
                  ttl_iters=2)
    golden_cat = SnapshotCatalog(str(tmp_path / "golden"))
    run_crawl(spark, golden_cat, t1_dir,
              CrawlConfig(**common, sketch="bloom", bloom_min_seen=0))

    cat = SnapshotCatalog(str(tmp_path / "combo"))
    cfg = CrawlConfig(**common, sketch="cuckoo", bloom_min_seen=1,
                      compact_every=2)
    # run 2 iterations, simulate a crash (orphan append, no lineage), resume
    run_crawl(spark, cat, t1_dir,
              CrawlConfig(iterations=2, max_per_host=10, window_ms=10_000,
                          ttl_iters=2, sketch="cuckoo", bloom_min_seen=1,
                          compact_every=2))
    orphan = cat.read(spark, "results").limit(3).withColumn(
        "iter", F.lit(2).cast("int")
    )
    cat.write(orphan, "results", mode="append", meta={"iter": 2})
    run_crawl(spark, cat, t1_dir, cfg)

    def state(c):
        res = c.read(spark, "results")
        return sorted(
            (r["iter"], r["seq"], r["url_hash"])
            for r in res.select("iter", "seq", "url_hash").collect()
        )

    assert state(cat) == state(golden_cat)


def test_cuckoo_rebuilds_when_ttl_config_changes_on_resume(spark, tmp_path):
    """A cuckoo maintained under ttl_iters=1 has deleted generations that a
    resume with ttl_iters=None RE-ACTIVATES. The stored sketch would
    under-approximate the active seen set — a sketch false negative
    bypasses the exact anti-join and silently re-crawls — so the loop must
    detect the TTL config change (persisted in the sketch snapshot meta)
    and rebuild from the seen table. Without the rebuild, URL_A would be
    re-dequeued at iteration 2."""
    from tests.test_ttl_recrawl import URL_A, URL_B

    d = _build_pingpong_dir(tmp_path)
    cat = SnapshotCatalog(str(tmp_path / "drift"))
    run_crawl(spark, cat, d,
              CrawlConfig(iterations=2, ttl_iters=1, sketch="cuckoo",
                          bloom_min_seen=0))
    # iter0: A; iter1: B. Under ttl=1 the sketch has deleted BOTH.
    sk = cat.read(spark, "cuckoo")
    assert sum(int(r["num_items"]) for r in sk.collect()) == 0

    # resume WITHOUT TTL: every seen row is active again, A must stay seen
    run_crawl(spark, cat, d,
              CrawlConfig(iterations=4, ttl_iters=None, sketch="cuckoo",
                          bloom_min_seen=0))
    results = cat.read(spark, "results")
    a_iters = sorted(
        r["iter"] for r in results.filter(results.url == URL_A).collect()
    )
    b_iters = sorted(
        r["iter"] for r in results.filter(results.url == URL_B).collect()
    )
    assert a_iters == [0], a_iters  # NOT re-crawled under ttl=None
    assert b_iters == [1], b_iters
    # The resumed run ends at the empty-frontier break without committing
    # an iteration, so the in-memory rebuild is (correctly) not persisted —
    # the stored snapshot still carries the old TTL meta, which is exactly
    # what makes the NEXT resume rebuild again instead of trusting it.
    assert cat.latest_meta("cuckoo").get("ttl_iters") == 1
    # and that next resume is still re-crawl-free
    run_crawl(spark, cat, d,
              CrawlConfig(iterations=5, ttl_iters=None, sketch="cuckoo",
                          bloom_min_seen=0))
    results = cat.read(spark, "results")
    assert sorted(
        r["iter"] for r in results.filter(results.url == URL_A).collect()
    ) == [0]


def test_accrual_iteration_skips_unchanged_cuckoo_write(spark, tmp_path):
    """ADVICE r3: with sketch='cuckoo' and no TTL, a token-starved (accrual)
    iteration used to rewrite the unchanged 256-partition sketch snapshot
    every time. The guard skips the write when no deletions were applied
    and no rebuild happened — and the stored sketch must stay valid (no
    rebuild, no duplicate crawl) when tokens finally accrue."""
    # host B's crawl_delay (18 s) exceeds the window (10 s): B is
    # discovered at iter 0 but only dequeues once two windows have accrued
    fx = _build_pingpong_dir(tmp_path, delay_a_ms=0, delay_b_ms=18_000)
    from tests.test_resume import RecordingCatalog

    cat = RecordingCatalog(str(tmp_path / "cat"))
    cfg = CrawlConfig(iterations=4, max_per_host=10, window_ms=10_000,
                      sketch="cuckoo", bloom_min_seen=0)
    summary = run_crawl(spark, cat, fx, cfg)
    dequeued = [i["dequeued"] for i in summary["iterations"]]
    assert dequeued[0] == 1                      # A
    assert any(d == 0 for d in dequeued[1:])     # at least one accrual iter
    assert sum(dequeued) == 2                    # ... and B exactly once
    accrual_iters = {
        i["iter"] for i in summary["iterations"] if i["dequeued"] == 0
    }
    # fetch iterations write the cuckoo; an accrual iteration writes only
    # its bucket state and lineage row
    assert ("cuckoo", 0) in cat.writes
    for it in accrual_iters:
        assert cat.iter_writes(it) == {"politeness", "lineage"}, it
    res = cat.read(spark, "results")
    assert res.select("url_hash").distinct().count() == 2
