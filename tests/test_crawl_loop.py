"""End-to-end crawl loop invariants on the t1 fixture tier."""

import pyspark.sql.functions as F
import pytest

from nightcrawler_ds_pipeline_spark.crawl.loop import CrawlConfig, run_crawl
from nightcrawler_ds_pipeline_spark.crawl.tables import SnapshotCatalog


@pytest.fixture(scope="module")
def crawl_state(spark, t1_dir, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("catalog"))
    catalog = SnapshotCatalog(root)
    cfg = CrawlConfig(iterations=3, max_per_host=10, window_ms=10_000)
    summary = run_crawl(spark, catalog, t1_dir, cfg)
    return catalog, summary, cfg


def test_loop_progresses(crawl_state, spark):
    catalog, summary, _ = crawl_state
    assert summary["start_iter"] == 0
    assert len(summary["iterations"]) >= 2
    assert summary["iterations"][0]["dequeued"] > 0


def test_no_url_fetched_twice(crawl_state, spark):
    catalog, _, _ = crawl_state
    results = catalog.read(spark, "results")
    total = results.count()
    distinct = results.select("url_hash").distinct().count()
    assert total == distinct > 0


def test_seen_set_equals_fetched(crawl_state, spark):
    catalog, _, _ = crawl_state
    seen = catalog.read(spark, "seen")
    results = catalog.read(spark, "results")
    assert seen.select("url_hash").distinct().count() == seen.count()
    fetched_keys = {r["url_hash"] for r in results.select("url_hash").collect()}
    seen_keys = {r["url_hash"] for r in seen.select("url_hash").collect()}
    assert fetched_keys == seen_keys


def test_crawl_order_deterministic(crawl_state, spark):
    catalog, _, _ = crawl_state
    results = catalog.read(spark, "results")
    rows = results.select("iter", "seq", "priority_check") if False else results
    per_iter = (
        rows.groupBy("iter").agg(F.count("*").alias("n"), F.max("seq").alias("mx"),
                                 F.min("seq").alias("mn")).collect()
    )
    for r in per_iter:
        assert r["mn"] == 1 and r["mx"] == r["n"]  # seq is 1..n dense


def test_politeness_budget_respected(crawl_state, spark, t1_dir):
    catalog, _, cfg = crawl_state
    results = catalog.read(spark, "results")
    robots = spark.read.parquet(f"{t1_dir}/robots.parquet")
    per_host = results.groupBy("iter", "host").count()
    joined = per_host.join(robots.select("host", "crawl_delay_ms"), "host", "left")
    for r in joined.collect():
        delay = r["crawl_delay_ms"] if r["crawl_delay_ms"] is not None else 1000
        # token buckets accrue up to 2 windows (politeness.py cap), so the
        # per-iteration ceiling is the 2-window budget
        budget = cfg.max_per_host if delay <= 0 else max(
            1, min(cfg.max_per_host, (2 * cfg.window_ms) // delay)
        )
        assert r["count"] <= budget, f"host {r['host']} over budget"


def test_robots_disallow_never_fetched(crawl_state, spark, t1_dir):
    catalog, _, _ = crawl_state
    results = catalog.read(spark, "results")
    robots = spark.read.parquet(f"{t1_dir}/robots.parquet")
    dis = {r["host"]: r["disallow_prefixes"] for r in robots.collect()}
    for r in results.select("host", "canonical_url").collect():
        from urllib.parse import urlparse

        path = urlparse(r["canonical_url"]).path
        for prefix in dis.get(r["host"], []) or []:
            assert not path.startswith(prefix)


def test_phash_dup_flagging(crawl_state, spark):
    catalog, _, _ = crawl_state
    results = catalog.read(spark, "results")
    uniq = results.filter(F.col("decode_ok") & ~F.col("is_phash_dup"))
    # unique-image rows have globally unique phashes
    assert uniq.count() == uniq.select("phash").distinct().count()
    # every dup row's phash exists among unique rows
    dups = results.filter(F.col("is_phash_dup")).select("phash").distinct()
    missing = dups.join(uniq.select("phash").distinct(), "phash", "left_anti").count()
    assert missing == 0


def test_corrupt_bytes_become_error_rows(crawl_state, spark):
    catalog, _, _ = crawl_state
    results = catalog.read(spark, "results")
    bad = results.filter(~F.col("error") & F.col("image_id").isNotNull() & ~F.col("decode_ok"))
    # corrupt fixtures exist and are contained as rows, not exceptions
    assert results.filter(~F.col("decode_ok")).count() > 0
    assert bad.count() >= 0


def test_lineage_commit_and_resume_noop(crawl_state, spark, t1_dir):
    catalog, summary, cfg = crawl_state
    done = catalog.latest_iter("lineage")
    assert done == summary["iterations"][-1]["iter"]
    # resume with same config → nothing new to do
    again = run_crawl(spark, catalog, t1_dir, cfg)
    assert again["iterations"] == []
    assert again["start_iter"] == done + 1


def test_perfbench_loop_actions_name_lines_of_the_loop():
    """perfbench/spans.LOOP_ACTIONS attributes the loop's driver actions to
    layers by (function, source line) of crawl/loop.py. A loop edit that
    changes one of those lines silently turns the matching per-layer
    metric (crawl.politeness.dequeue_s, crawl.fetch.fetch_dedup_s) into 0."""
    import ast
    import pathlib

    from nightcrawler_ds_pipeline_spark.crawl import loop

    spans_py = pathlib.Path(__file__).resolve().parents[1] / "perfbench" / "spans.py"
    loop_actions = next(
        ast.literal_eval(n.value)
        for n in ast.parse(spans_py.read_text()).body
        if isinstance(n, ast.Assign) and getattr(n.targets[0], "id", "") == "LOOP_ACTIONS"
    )
    src = pathlib.Path(loop.__file__).read_text().splitlines()
    funcs = {
        n.name: n for n in ast.walk(ast.parse("\n".join(src)))
        if isinstance(n, ast.FunctionDef)
    }
    assert loop_actions
    for fn, line in loop_actions:
        assert fn in funcs, f"{fn} is not a function of crawl/loop.py"
        node = funcs[fn]
        body = [
            text.split("#")[0].strip()
            for text in src[node.lineno - 1 : node.end_lineno]
        ]
        assert line in body, f"{line!r} is not a line of loop.{fn}"


def test_phash_dedup_decodes_each_image_once(spark, t1_dir):
    """_phash_dedup is one pass over the fetched batch: its plan has exactly
    the Python eval nodes of its input (the decode), so the fetch+decode
    subtree runs once. A split into decoded/failed rows plus a union doubles
    them and decodes every image twice."""
    from nightcrawler_ds_pipeline_spark.crawl import politeness
    from nightcrawler_ds_pipeline_spark.crawl.fetch import fetch_batch
    from nightcrawler_ds_pipeline_spark.crawl.loop import _phash_dedup, seed_frontier
    from tests.test_plan_shapes import plan_shape

    frontier = seed_frontier(spark.read.parquet(f"{t1_dir}/serp_results.parquet"))
    batch = politeness.assign_global_seq(frontier, frontier.count())
    fetched = fetch_batch(
        batch,
        spark.read.parquet(f"{t1_dir}/fetch_responses.parquet"),
        spark.read.parquet(f"{t1_dir}/images.parquet"),
    )
    hist = spark.createDataFrame([(1,)], "phash long")
    python_nodes = plan_shape(fetched)[2]
    assert python_nodes > 0
    assert plan_shape(_phash_dedup(fetched, hist))[2] == python_nodes
    assert plan_shape(_phash_dedup(fetched, None))[2] == python_nodes
