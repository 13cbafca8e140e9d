"""E3 parity: re-running the pipeline from a mid-stage checkpoint must give
exactly the full run's output (reference: extractor --step=zyte resumes from
the serpapi file; processor resumes from the zyte file)."""

import pytest

from nightcrawler_ds_pipeline_spark.crawl.tables import SnapshotCatalog
from nightcrawler_ds_pipeline_spark.pipeline.runner import run_from
from nightcrawler_ds_pipeline_spark.pipeline.stages import PipelineConfig


def _rows(df):
    return sorted(tuple(str(x) for x in r) for r in df.collect())


def test_resume_from_mid_stage_equals_full_run(spark, t1_dir, tmp_path):
    serp = spark.read.parquet(f"{t1_dir}/serp_results.parquet")
    responses = spark.read.parquet(f"{t1_dir}/fetch_responses.parquet")
    cat = SnapshotCatalog(str(tmp_path / "cat"))

    full = run_from(spark, cat, serp, responses, PipelineConfig(), "serpapi")
    golden = _rows(full)

    # resume at processing_raw (reads the committed zyte checkpoint)
    resumed = run_from(spark, cat, serp, responses, PipelineConfig(), "processing_raw")
    assert _rows(resumed) == golden

    # resume at processing_filtered (reads the swiss-flags checkpoint)
    resumed = run_from(
        spark, cat, serp, responses, PipelineConfig(), "processing_filtered"
    )
    assert _rows(resumed) == golden

    # the s08-s11 pass-throughs write no checkpoint of their own ...
    for name in ("blocked_content", "content_domain", "suspiciousness", "ranker"):
        assert cat.read(spark, f"stage_{name}") is None
    # ... so resuming at or after one reads the page_type checkpoint
    for stage in ("content_domain", "ranker"):
        resumed = run_from(spark, cat, serp, responses, PipelineConfig(), stage)
        assert _rows(resumed) == golden


def test_resume_without_checkpoint_fails_cleanly(spark, t1_dir, tmp_path):
    serp = spark.read.parquet(f"{t1_dir}/serp_results.parquet")
    responses = spark.read.parquet(f"{t1_dir}/fetch_responses.parquet")
    cat = SnapshotCatalog(str(tmp_path / "empty"))
    with pytest.raises(ValueError, match="missing checkpoint"):
        run_from(spark, cat, serp, responses, PipelineConfig(), "page_type")
    with pytest.raises(ValueError, match="unknown stage"):
        run_from(spark, cat, serp, responses, PipelineConfig(), "nope")
