"""THE BASELINE gate: exact crawl-order + URL-seen-set equality between the
Spark crawl loop and the framework-independent pure-Python oracle, under the
identical seed list and politeness budget. Also the per-row image gates:
decoded dims/phash match the stored truth and captions are byte-equal."""

import pyspark.sql.functions as F

from nightcrawler_ds_pipeline_spark.crawl.loop import (
    OUTLINK_PRIORITY_DECAY,
    CrawlConfig,
    run_crawl,
)
from nightcrawler_ds_pipeline_spark.crawl.reference_crawl_oracle import (
    run_crawl_oracle,
)
from nightcrawler_ds_pipeline_spark.crawl.tables import SnapshotCatalog
from nightcrawler_ds_pipeline_spark.functions.urls import canonicalize


def _hash_map(spark, urls):
    """Spark's own xxhash64 for every canonical url (shared key function)."""
    cus = sorted({canonicalize(u) for u in urls})
    df = spark.createDataFrame([(c,) for c in cus], "cu string").select(
        "cu", F.xxhash64("cu").alias("h")
    )
    return {r["cu"]: r["h"] for r in df.collect()}


def test_crawl_order_and_seen_set_match_oracle(spark, t1_dir, tmp_path):
    cfg = CrawlConfig(iterations=3, max_per_host=10, window_ms=10_000)
    catalog = SnapshotCatalog(str(tmp_path / "cat"))
    run_crawl(spark, catalog, t1_dir, cfg)
    results = catalog.read(spark, "results")
    spark_order = sorted(
        (r["iter"], r["seq"], r["url_hash"])
        for r in results.select("iter", "seq", "url_hash").collect()
    )
    seen_tbl = catalog.read(spark, "seen")
    spark_seen = {r["url_hash"] for r in seen_tbl.select("url_hash").collect()}

    serp_rows = [r.asDict() for r in spark.read.parquet(f"{t1_dir}/serp_results.parquet").collect()]
    resp_rows = {
        r["url"]: r.asDict()
        for r in spark.read.parquet(f"{t1_dir}/fetch_responses.parquet").collect()
    }
    robots_rows = [r.asDict() for r in spark.read.parquet(f"{t1_dir}/robots.parquet").collect()]
    all_urls = [r["url"] for r in serp_rows] + [
        l for resp in resp_rows.values() for l in (resp.get("outlinks") or [])
    ]
    hmap = _hash_map(spark, all_urls)

    oracle = run_crawl_oracle(
        serp_rows,
        resp_rows,
        robots_rows,
        hmap,
        iterations=cfg.iterations,
        window_ms=cfg.window_ms,
        max_per_host=cfg.max_per_host,
        outlink_priority_decay=OUTLINK_PRIORITY_DECAY,
    )
    assert spark_seen == oracle.seen, (
        f"seen-set mismatch: spark-only={list(spark_seen - oracle.seen)[:5]} "
        f"oracle-only={list(oracle.seen - spark_seen)[:5]}"
    )
    golden = sorted(oracle.crawl_order)
    assert spark_order == golden, (
        f"crawl-order mismatch at "
        f"{[i for i, (a, b) in enumerate(zip(spark_order, golden)) if a != b][:5]}"
    )


def test_crawl_order_parity_with_ttl(spark, t1_dir, tmp_path):
    """TTL re-crawl must stay exactly order-parity: expired URLs
    rediscovered via outlinks re-dequeue identically in engine and
    oracle (the re-crawl rows make (iter, seq, url_hash) non-unique per
    url_hash, so this exercises the whole TTL path)."""
    cfg = CrawlConfig(iterations=5, max_per_host=10, window_ms=10_000,
                      ttl_iters=2)
    catalog = SnapshotCatalog(str(tmp_path / "cat_ttl"))
    run_crawl(spark, catalog, t1_dir, cfg)
    results = catalog.read(spark, "results")
    spark_order = sorted(
        (r["iter"], r["seq"], r["url_hash"])
        for r in results.select("iter", "seq", "url_hash").collect()
    )
    serp_rows = [r.asDict() for r in spark.read.parquet(
        f"{t1_dir}/serp_results.parquet").collect()]
    resp_rows = {
        r["url"]: r.asDict()
        for r in spark.read.parquet(f"{t1_dir}/fetch_responses.parquet").collect()
    }
    robots_rows = [r.asDict() for r in spark.read.parquet(
        f"{t1_dir}/robots.parquet").collect()]
    all_urls = [r["url"] for r in serp_rows] + [
        l for resp in resp_rows.values() for l in (resp.get("outlinks") or [])
    ]
    oracle = run_crawl_oracle(
        serp_rows, resp_rows, robots_rows, _hash_map(spark, all_urls),
        iterations=cfg.iterations, window_ms=cfg.window_ms,
        max_per_host=cfg.max_per_host,
        outlink_priority_decay=OUTLINK_PRIORITY_DECAY,
        ttl_iters=cfg.ttl_iters,
    )
    assert spark_order == sorted(oracle.crawl_order)
    # TTL actually re-crawled something (else this test is vacuous)
    hashes = [h for _, _, h in spark_order]
    assert len(hashes) > len(set(hashes)), "no re-crawl happened under TTL"


def test_image_gates_in_crawl_results(spark, t1_dir, tmp_path):
    """Decoded dims + phash equal the stored truth (PSNR gate holds by
    codec tests + pinned phash); caption byte-equal (BASELINE metric)."""
    cfg = CrawlConfig(iterations=2, max_per_host=10, window_ms=10_000)
    catalog = SnapshotCatalog(str(tmp_path / "cat2"))
    run_crawl(spark, catalog, t1_dir, cfg)
    results = catalog.read(spark, "results").filter(F.col("decode_ok"))
    images = spark.read.parquet(f"{t1_dir}/images.parquet").select(
        "image_id",
        F.col("w").alias("w_true"),
        F.col("h").alias("h_true"),
        F.col("phash").alias("phash_true"),
        F.col("caption").alias("caption_true"),
    )
    joined = results.join(images, "image_id")
    n = joined.count()
    assert n > 0
    bad = joined.filter(
        (F.col("w") != F.col("w_true"))
        | (F.col("h") != F.col("h_true"))
        | (F.col("phash") != F.col("phash_true"))
        | ~F.col("caption").eqNullSafe(F.col("caption_true"))
    ).count()
    assert bad == 0
