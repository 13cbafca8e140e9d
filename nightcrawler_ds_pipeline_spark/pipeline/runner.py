"""Staged pipeline runner with per-stage checkpoints and mid-pipeline resume.

The reference checkpoints a JSON file after every stage (base.py:285-309)
and can re-enter the pipeline at any stage from that file (E3:
cli/extractor.py:63-114 re-runs only Zyte from the serpapi checkpoint;
cli/processor.py:54-83 re-runs only DataProcessor from the zyte
checkpoint). Here every stage of ``stages.pipeline_stages`` except the
pass-through (``None``) entries writes a snapshot table ``stage_<name>``,
and ``run_from`` re-enters at any named stage by reading the snapshot of the
nearest earlier stage that wrote one — the snapshot layer's atomic commits
make partial runs safe.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from nightcrawler_ds_pipeline_spark.crawl.tables import SnapshotCatalog
from nightcrawler_ds_pipeline_spark.pipeline.stages import (
    PipelineConfig,
    pipeline_stages,
    run_stages,
)


def run_from(
    spark: SparkSession,
    catalog: SnapshotCatalog,
    serp: DataFrame,
    responses: DataFrame,
    cfg: PipelineConfig | None = None,
    start_stage: str = "serpapi",
) -> DataFrame:
    """Run the pipeline starting at ``start_stage``; earlier stages are read
    from their checkpoint snapshots (they must exist — like the reference's
    `--step=zyte --urlpath=<checkpoint>`)."""
    stages = pipeline_stages(responses)
    names = [name for name, _ in stages]
    if start_stage not in names:
        raise ValueError(f"unknown stage {start_stage!r}; one of {names}")
    idx = names.index(start_stage)
    df = serp
    # a pass-through entry writes no checkpoint: its output is its input
    prev = next((name for name, fn in reversed(stages[:idx]) if fn is not None), None)
    if prev is not None:
        df = catalog.read(spark, f"stage_{prev}")
        if df is None:
            raise ValueError(f"cannot resume at {start_stage!r}: missing checkpoint stage_{prev}")
    return run_stages(df, stages[idx:], cfg or PipelineConfig(), catalog)
