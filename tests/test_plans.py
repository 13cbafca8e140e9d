"""Plan-quality gates: the physical plans must keep the properties the
engine's scale story depends on — filter/column pushdown into the parquet
scan, broadcast for small-side joins, whole-stage codegen for the narrow
stages, and no Python UDF in JVM-expressible paths."""

import contextlib
import io

import pyspark.sql.functions as F

SF_DIR = "/root/testdata/sf0.001"


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_filter_and_column_pushdown(spark):
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    q = li.filter(F.col("l_shipdate") < "1996-01-01").select(
        "l_orderkey", "l_extendedprice"
    )
    plan = _plan(q)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThan(l_shipdate" in plan
    # pruned scan: only the 3 referenced columns in ReadSchema
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_orderkey" in read_schema and "l_extendedprice" in read_schema
    assert "l_quantity" not in read_schema


def test_robots_join_is_broadcast(spark, t1_dir):
    from nightcrawler_ds_pipeline_spark.crawl.politeness import robots_filter
    from nightcrawler_ds_pipeline_spark.crawl.loop import seed_frontier

    serp = spark.read.parquet(f"{t1_dir}/serp_results.parquet")
    robots = spark.read.parquet(f"{t1_dir}/robots.parquet")
    plan = _plan(robots_filter(seed_frontier(serp), robots))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_seen_antijoin_shape(spark, t1_dir):
    from nightcrawler_ds_pipeline_spark.crawl.loop import seed_frontier
    from nightcrawler_ds_pipeline_spark.crawl.seen import filter_unseen

    serp = spark.read.parquet(f"{t1_dir}/serp_results.parquet")
    frontier = seed_frontier(serp)
    seen = frontier.limit(10).select("url_hash", "canonical_url",
                                     F.lit(0).alias("seen_iter"))
    plan = _plan(filter_unseen(frontier, seen, None))
    assert "LeftAnti" in plan  # exact anti-join is the decider


def test_whole_stage_codegen_on_narrow_stages(spark):
    from nightcrawler_ds_pipeline_spark.operators.filters import add_swiss_features

    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    urls = orders.select(
        F.concat(F.lit("https://x.ch/p/"), F.col("o_orderkey")).alias("url"),
        F.lit("10 CHF").alias("price"),
    )
    plan = _plan(add_swiss_features(urls))
    assert "codegen id" in plan  # fused into whole-stage codegen
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_bucketed_seen_side_has_no_exchange(spark, tmp_path):
    """SCALE.md §2: the exact anti-join's 160 GB seen side stops shuffling
    once the seen table is stored bucketed by url_hash — only the (already
    Bloom-pruned) candidate side exchanges. Evidence: one Exchange total in
    the bucketed plan, two in the unbucketed plan."""
    import pyspark.sql.functions as F

    spark.sql(f"CREATE DATABASE IF NOT EXISTS bdemo LOCATION '{tmp_path}/wh'")
    keys = spark.range(0, 50_000).select(
        F.xxhash64(F.col("id").cast("string")).alias("url_hash")
    )
    keys.write.mode("overwrite").format("parquet").bucketBy(
        8, "url_hash"
    ).sortBy("url_hash").saveAsTable("bdemo.seen_bucketed")
    keys.write.mode("overwrite").format("parquet").saveAsTable(
        "bdemo.seen_plain"
    )
    cands = spark.range(25_000, 75_000).select(
        F.xxhash64(F.col("id").cast("string")).alias("url_hash")
    )
    # disable AQE broadcast so the join shape (SMJ) is what scale would use
    with_conf = [
        ("spark.sql.autoBroadcastJoinThreshold", "-1"),
        ("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1"),
    ]
    old = {k: spark.conf.get(k, None) for k, _ in with_conf}
    try:
        for k, v in with_conf:
            spark.conf.set(k, v)
        bucketed = cands.join(
            spark.table("bdemo.seen_bucketed"), "url_hash", "left_anti"
        )
        plain = cands.join(
            spark.table("bdemo.seen_plain"), "url_hash", "left_anti"
        )
        n_ex_bucketed = _plan(bucketed).count("Exchange")
        n_ex_plain = _plan(plain).count("Exchange")
        assert n_ex_bucketed < n_ex_plain, (n_ex_bucketed, n_ex_plain)
        # results identical either way
        assert bucketed.count() == plain.count() == 25_000
    finally:
        for k, v in old.items():
            if v is not None:
                spark.conf.set(k, v)
        spark.sql("DROP TABLE IF EXISTS bdemo.seen_bucketed")
        spark.sql("DROP TABLE IF EXISTS bdemo.seen_plain")
        spark.sql("DROP DATABASE IF EXISTS bdemo")


def test_decode_stage_has_no_bytes_output(spark, t1_dir):
    # the binary column must not survive past the decode UDF (it would ship
    # Python→JVM and enter downstream shuffles)
    from nightcrawler_ds_pipeline_spark.functions.image_udfs import decode_images

    imgs = spark.read.parquet(f"{t1_dir}/images.parquet")
    out = decode_images(imgs.select("image_id", "bytes"))
    assert "bytes" not in out.columns
    assert {"w_decoded", "h_decoded", "phash_decoded", "decode_ok"} <= set(out.columns)


def test_dup_ngram_plan_has_no_cartesian(spark):
    """Span-level dedup must stay equi-join shaped: no CartesianProduct /
    BroadcastNestedLoopJoin anywhere (the all-pairs trap this operator
    exists to avoid), and the shared-shingle aggregate is partial+final
    (map-side combine)."""
    from nightcrawler_ds_pipeline_spark.operators.dedup import (
        text_dup_ngram_stats,
    )

    df = text_dup_ngram_stats(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "partial_count" in plan or "HashAggregate" in plan
