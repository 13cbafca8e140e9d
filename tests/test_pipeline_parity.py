"""Pipeline parity: the Spark 11-stage chain vs the pure-Python reference
oracle on identical fixture inputs — final rows byte-equal, stage counts
equal (SURVEY.md §5.2)."""

import pyspark.sql.functions as F
from pyspark.sql.classic.dataframe import DataFrame

from nightcrawler_ds_pipeline_spark.pipeline.reference_oracle import (
    run_reference_pipeline,
)
from nightcrawler_ds_pipeline_spark.pipeline.stages import (
    PipelineConfig,
    run_text_pipeline,
    run_url_pipeline,
    s02_keyword_enrichment,
)


def _inputs(spark, t1_dir):
    serp = spark.read.parquet(f"{t1_dir}/serp_results.parquet")
    responses = spark.read.parquet(f"{t1_dir}/fetch_responses.parquet")
    return serp, responses


def test_full_pipeline_matches_reference_oracle(spark, t1_dir, monkeypatch):
    serp, responses = _inputs(spark, t1_dir)
    cfg = PipelineConfig(country="CH")
    # a CH run counts serpapi, zyte, processing_raw, processing_filtered and
    # page_type once each; the pass-throughs reuse a count and the sink is
    # never counted (DataFrame here is the session's concrete class)
    n_counts = [0]
    count = DataFrame.count

    def counting(self):
        n_counts[0] += 1
        return count(self)

    monkeypatch.setattr(DataFrame, "count", counting)
    out = run_text_pipeline(serp, responses, cfg)
    spark_rows = sorted(
        (r["url"], r["title"], r["root"], r["uid"], r["score"], r["page_type"],
         r["result_sold_CH"])
        for r in out.collect()
    )
    monkeypatch.undo()
    assert n_counts[0] == 5

    serp_rows = [r.asDict() for r in serp.collect()]
    resp_rows = {r["url"]: r.asDict() for r in responses.collect()}
    golden, golden_counts = run_reference_pipeline(serp_rows, resp_rows, "CH")
    golden_rows = sorted(
        (g["url"], g["title"], g["root"], g["uid"], g["score"], g["page_type"],
         g["result_sold_CH"])
        for g in golden
    )

    assert spark_rows == golden_rows
    for stage, n in golden_counts.items():
        assert cfg.stage_counts.get(stage) == n, (
            f"stage {stage}: spark={cfg.stage_counts.get(stage)} oracle={n}"
        )


def test_pass_all_countries(spark, t1_dir):
    serp, responses = _inputs(spark, t1_dir)
    cfg = PipelineConfig(country="XX")  # non-CH → no country filter (s05:58-67)
    out = run_text_pipeline(serp, responses, cfg)
    assert cfg.stage_counts["processing_filtered"] == cfg.stage_counts["processing_raw"]
    assert out.count() == cfg.stage_counts["processing_raw"]


def test_url_pipeline_matches_text_pipeline_row(spark, t1_dir):
    """E1 url input: a 1-row seed runs the text chain from zyte on. Its row
    equals the text pipeline's row for that url except ``root``, which is
    the synthesized seed's offer_root."""
    serp, responses = _inputs(spark, t1_dir)
    ok = responses.filter(~F.col("error")).select("url")
    url = (
        serp.filter(F.col("offer_root") != "REVERSE_IMAGE_SEARCH")
        .join(ok, "url").orderBy("url").first()["url"]
    )
    text = run_text_pipeline(serp, responses, PipelineConfig(country="XX"))
    [want] = text.filter(F.col("url") == url).collect()
    cfg = PipelineConfig(country="XX")
    [got] = run_url_pipeline(spark, url, "kw", responses, cfg).collect()
    assert got.asDict() == {**want.asDict(), "root": "DEFAULT"}
    assert cfg.stage_counts["url_seed"] == 1


def test_keyword_enrichment_blacklist_noop_parity(spark, t1_dir):
    serp, _ = _inputs(spark, t1_dir)
    strict = PipelineConfig(strict_reference_parity=True)
    loose = PipelineConfig(strict_reference_parity=False)
    n_strict = s02_keyword_enrichment(serp, strict).count()
    n_loose = s02_keyword_enrichment(serp, loose).count()
    # strict replicates the reference no-op → never fewer rows than intended
    assert n_strict >= n_loose


def test_images_array_distinct(spark, t1_dir):
    serp, responses = _inputs(spark, t1_dir)
    from nightcrawler_ds_pipeline_spark.pipeline.stages import s01_serp_scan, s04_zyte_fetch

    cfg = PipelineConfig()
    df = s04_zyte_fetch(s01_serp_scan(serp, cfg), responses, cfg)
    dup = df.filter(F.size("images") != F.size(F.array_distinct("images"))).count()
    assert dup == 0


def test_image_pipeline_page_cap_boundary(spark):
    """The reverse-image 4-page cap (page_size 10 × max_pages 4 = 40) must
    BITE on the dense RIS tier (60 rows/keyword): exactly 40 seeds per
    keyword survive, position 40 in, position 41 out."""
    import pyspark.sql.functions as F

    from nightcrawler_ds_pipeline_spark.fixtures import write_fixture_parquet
    from nightcrawler_ds_pipeline_spark.pipeline.stages import (
        PipelineConfig,
        run_image_pipeline,
    )

    fx = write_fixture_parquet("t1")
    ris = spark.read.parquet(f"{fx}/serp_ris.parquet")
    per_kw = ris.groupBy("keyword").count().collect()
    assert per_kw and all(r["count"] == 60 for r in per_kw)  # cap must bite

    responses = spark.read.parquet(f"{fx}/fetch_responses.parquet")
    cfg = PipelineConfig(country="XX")
    out = run_image_pipeline(ris, responses, cfg)
    n_out = out.count()
    # seed stage: exactly page_size*max_pages per keyword
    assert cfg.stage_counts["reverse_image_search"] == 40 * len(per_kw)
    # tail chain only drops error rows (~5%) — output stays near the cap
    assert 0 < n_out <= 40 * len(per_kw)

    # boundary: the kept seed set is exactly positions 1..40 per keyword
    kept_urls = {
        r["url"]
        for r in ris.filter(F.col("position") <= 40).select("url").collect()
    }
    dropped_urls = {
        r["url"]
        for r in ris.filter(F.col("position") > 40).select("url").collect()
    }
    out_urls = {r["url"] for r in out.select("url").collect()}
    assert out_urls <= kept_urls
    assert not (out_urls & dropped_urls)
