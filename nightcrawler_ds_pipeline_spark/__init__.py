"""nightcrawler_ds_pipeline_spark — a from-scratch PySpark-native crawl engine.

Re-expresses the observable semantics of the reference
``crficbm-ui/nightcrawler-ds-pipeline`` (an 11-stage row-at-a-time Python CLI,
see SURVEY.md) as an idiomatic Spark batch crawl loop:

- URL frontier + fetch scheduler over snapshot (Iceberg-style) tables
- partitioned Bloom-filter URL-seen set keyed by ``xxhash64(canonical_url)``
  (exact membership always confirmed by a left-anti join — the Bloom filter is
  a shuffle reducer, never the decider)
- per-host politeness token buckets expressed as a salted groupBy-host
  priority dequeue
- vectorized pandas/Arrow UDFs for image decode + perceptual-hash dedup
- per-partition lineage rows for exact checkpoint resume

Everything here derives from public knowledge only: the Apache Spark / PySpark
API and the reference repo's observable behavior.
"""

__version__ = "0.2.0"


def __getattr__(name):  # lazy top-level API (avoids importing Spark at pkg import)
    _API = {
        "run_crawl": ("nightcrawler_ds_pipeline_spark.crawl.loop", "run_crawl"),
        "CrawlConfig": ("nightcrawler_ds_pipeline_spark.crawl.loop", "CrawlConfig"),
        "SnapshotCatalog": (
            "nightcrawler_ds_pipeline_spark.crawl.tables", "SnapshotCatalog"
        ),
        "get_spark": ("nightcrawler_ds_pipeline_spark.session", "get_spark"),
        "parse_robots": (
            "nightcrawler_ds_pipeline_spark.functions.robots", "parse_robots"
        ),
        "run_text_pipeline": (
            "nightcrawler_ds_pipeline_spark.pipeline.stages", "run_text_pipeline"
        ),
        "run_image_pipeline": (
            "nightcrawler_ds_pipeline_spark.pipeline.stages", "run_image_pipeline"
        ),
        "PipelineConfig": (
            "nightcrawler_ds_pipeline_spark.pipeline.stages", "PipelineConfig"
        ),
        "build_queries": ("nightcrawler_ds_pipeline_spark.registry", "build_queries"),
    }
    if name in _API:
        import importlib

        mod, attr = _API[name]
        return getattr(importlib.import_module(mod), attr)
    raise AttributeError(name)
