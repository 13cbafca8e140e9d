"""The reference's 11-stage pipeline as pure DataFrame→DataFrame functions.

Stage order mirrors cli/full_pipeline.py:84-215; each stage = monotone
schema widening (withColumn) + optional filter, so Catalyst fuses the narrow
stages into one WholeStageCodegen pass. Reference quirks are replicated
exactly behind ``strict_reference_parity`` (default True):

- P9: ``result_sold_CH`` ignores ``ch_de_in_url`` (the s05:128-133 key-
  mismatch bug — see operators/filters.py).
- P13: the keyword blacklist is a NO-OP (the s02:69-74 call site discards
  the filter's return value).
- Zyte stage REPLACES the result list — error rows vanish from the pipeline
  (s04_zyte.py:110-112 + base.py:318-327 replace semantics).
- stages s06/s08/s09/s10/s11 are pass-throughs that only re-count
  (s06:12-35, s08:11-34, s09:12-35, s10:11-34, s11:12-36).

``pipeline_stages`` is the one stage table: each name is a ``stage_counts``
key and a ``runner.run_from`` re-entry point; ``run_stages`` walks it.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from nightcrawler_ds_pipeline_spark.crawl.backends import normalize_responses
from nightcrawler_ds_pipeline_spark.crawl.tables import SnapshotCatalog
from nightcrawler_ds_pipeline_spark.functions.text import (
    checksum_uid_col,
    price_concat_col,
)
from nightcrawler_ds_pipeline_spark.operators.filters import (
    KEYWORD_BLACKLIST,
    add_swiss_features,
    contains_any,
)
from nightcrawler_ds_pipeline_spark.operators.llm import classify_delivery_policy
from nightcrawler_ds_pipeline_spark.pipeline.enrichment import aggregate_keywords


@dataclass
class PipelineConfig:
    country: str = "CH"
    max_results_per_source: int = 0  # 0 = all (s01:144-146)
    hard_cap: int = 200  # serp_api.py:98-114
    page_type_threshold: float = 0.4  # s07:17
    page_type_method: str = "zyte"  # s07:95-102: "zyte" | "infer" (P12)
    # S9: "passthrough" (reference main path, s06:12-35) | "llm_stub"
    # (deterministic prompt-rule classifier, operators/llm.py)
    delivery_policy_method: str = "passthrough"
    fetch_backend: str = "zyte"  # S8: "zyte" | "diffbot" (crawl/backends.py)
    # reverse-image flow pagination (L5/S4: the reference pages through
    # result pages and hard-stops at 4 — s03 + serp_api.py page loop)
    ris_page_size: int = 10
    ris_max_pages: int = 4
    strict_reference_parity: bool = True
    stage_counts: dict = field(default_factory=dict)  # numberOfResultsAfterStage


def s01_serp_scan(serp: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """S1-S3: per-source projection, per-source truncation, hard cap.

    Caps apply per (keyword, offer_root) in deterministic position order
    (the reference truncates each source's URL list, s01:144-148)."""
    df = serp.filter(F.col("offer_root") != "REVERSE_IMAGE_SEARCH")
    w = Window.partitionBy("keyword", "offer_root").orderBy("position")
    df = df.withColumn("__rn", F.row_number().over(w))
    if cfg.max_results_per_source > 0:
        df = df.filter(F.col("__rn") <= cfg.max_results_per_source)
    return df.filter(F.col("__rn") <= cfg.hard_cap).drop("__rn")


def s02_keyword_enrichment(serp: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """Keyword enrichment aggregate (A1) with the blacklist NO-OP replicated.

    With strict parity the blacklist does nothing (reference discards the
    filter result, s02:69-74); behind the flag it drops blacklisted rows."""
    df = serp.filter(F.col("keyword_enriched").isNotNull())
    if not cfg.strict_reference_parity:
        df = df.filter(
            ~contains_any(F.lower(F.col("keyword_enriched")), KEYWORD_BLACKLIST)
        )
    return aggregate_keywords(df)


def s04_zyte_fetch(df: DataFrame, responses: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """S6: fetch + product extraction. REPLACE semantics: error rows and
    unfetched URLs vanish (s04_zyte.py:110-112). price concat per F9; image
    set-dedup per L7 (array_distinct). S8: ``cfg.fetch_backend`` selects the
    response adapter — diffbot-shaped rows normalize to this schema first."""
    resp = normalize_responses(responses, cfg.fetch_backend).select(
        "url",
        F.col("error"),
        "product_name",
        "product_price",
        "currency_raw",
        "description",
        "probability",
        "main_image_url",
        "image_urls",
        "seconds_taken",
    )
    joined = df.join(resp, "url", "inner").filter(~F.col("error"))
    return (
        joined.withColumn("title", F.coalesce(F.col("product_name"), F.lit("")))
        .withColumn("price", price_concat_col("product_price", "currency_raw"))
        .withColumn("full_description", F.coalesce(F.col("description"), F.lit("")))
        .withColumn("zyte_probability", F.col("probability"))
        .withColumn("zyte_execution_time", F.coalesce(F.col("seconds_taken"), F.lit(0.0)))
        .withColumn(
            "images",
            F.array_distinct(
                F.concat(
                    F.when(
                        F.col("main_image_url").isNotNull(),
                        F.array(F.col("main_image_url")),
                    ).otherwise(F.array()),
                    F.coalesce(F.col("image_urls"), F.array()),
                )
            ),
        )
        .drop("product_name", "product_price", "currency_raw", "description",
              "probability", "main_image_url", "image_urls", "seconds_taken", "error")
    )


def s05_swiss_flags(df: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """P8/P9: swiss feature flags (+bug-parity OR-reduce)."""
    return add_swiss_features(df, "url", "price")


def s05_country_filter(df: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """P10: keep CH-sold rows on a CH run; other countries pass all
    (s05:58-67)."""
    return df.filter(F.col("result_sold_CH")) if cfg.country == "CH" else df


def s06_delivery_policy(df: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """S9: pass-through on the reference main path (s06:12-35). With
    ``delivery_policy_method="llm_stub"`` attaches the prompt-rule
    classification columns (is_shipping_<c>_answer/_justification +
    request-memo key) the reference's LLM stage would produce."""
    if cfg.delivery_policy_method == "llm_stub":
        df = classify_delivery_policy(
            df, text_col="full_description", country=cfg.country.lower()
        )
    return df


def s07_page_type(df: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """P11/P12: pageType detection, method-dispatched like s07:95-102.

    - "zyte" (main path, P11): threshold on the extraction probability;
      null/0 proba → OTHER (strict >, s07:40-53).
    - "infer" (P12): the binary-inference branch (s07:57-83) — requires an
      ``html`` column and raises per-row when it's absent/empty (the
      reference's ``ValueError("Item does not contain HTML content")``);
      the endpoint itself is dummy-implemented upstream (s07:71-78,
      ``proba = 0.5``), which we replicate, so every html-bearing row
      scores 0.5 against the threshold.
    """
    if cfg.page_type_method == "infer":
        html = F.col("html") if "html" in df.columns else F.lit(None).cast("string")
        proba = F.when(
            html.isNull() | (F.length(html) == 0),
            F.raise_error(F.lit("Item does not contain HTML content")),
        ).otherwise(F.lit(0.5))
    else:
        proba = F.coalesce(F.col("zyte_probability"), F.lit(0.0))
    return df.withColumn(
        "page_type",
        F.when(proba > cfg.page_type_threshold, F.lit("ecommerce_product"))
        .otherwise(F.lit("other")),
    )


def db_sink_projection(df: DataFrame) -> DataFrame:
    """S12: final result projection with uid = checksum(url-before-?_title)
    (full_pipeline.py:197-215; score hardcoded 0 at line 209)."""
    return df.select(
        F.col("url"),
        F.col("title"),
        F.col("offer_root").alias("root"),
        checksum_uid_col("url", "title").alias("uid"),
        F.lit(0.0).alias("score"),
        F.col("page_type"),
        F.col("result_sold_CH"),
    )


# (name, fn(df, cfg) -> df), or (name, None) for a pass-through
Stage = tuple[str, Callable[[DataFrame, PipelineConfig], DataFrame] | None]


def pipeline_stages(
    responses: DataFrame, seed: Stage = ("serpapi", s01_serp_scan)
) -> list[Stage]:
    """The stage table, in handle_request order (full_pipeline.py:84-215).
    The image/url entries swap the ``seed`` stage and run the same chain
    (full_pipeline.py:99-215). s05 is two counted halves, s08-s11 are
    pass-throughs, and the last entry is the sink."""
    return [
        seed,
        ("zyte", lambda df, cfg: s04_zyte_fetch(df, responses, cfg)),
        ("processing_raw", s05_swiss_flags),
        ("processing_filtered", s05_country_filter),
        ("delivery_policy", s06_delivery_policy),
        ("page_type", s07_page_type),
        ("blocked_content", None),
        ("content_domain", None),
        ("suspiciousness", None),
        ("ranker", None),  # stub (s11:20-36)
        ("final", lambda df, _cfg: db_sink_projection(df)),
    ]


def run_stages(
    df: DataFrame, stages: list[Stage], cfg: PipelineConfig,
    catalog: SnapshotCatalog | None = None,
) -> DataFrame:
    """Apply ``stages`` in order, recording numberOfResultsAfterStage
    (base.py:323-327) for all but the last entry, the sink. A stage that
    returns its input keeps the previous count (if any) and starts no job. A
    ``catalog`` checkpoints each stage as ``stage_<name>`` (base.py:285-309)
    and the walk counts and continues from the re-read snapshot; a ``None``
    entry writes no checkpoint (``runner.run_from`` re-enters after it from
    the nearest earlier one)."""
    n = None
    for i, (name, fn) in enumerate(stages):
        out = df if fn is None else fn(df, cfg)
        changed = out is not df or n is None
        if catalog is not None and fn is not None:
            catalog.write(out, f"stage_{name}", mode="overwrite", meta={"stage": name})
            out = catalog.read(out.sparkSession, f"stage_{name}")
        if i < len(stages) - 1:
            if changed:
                n = out.count()
            cfg.stage_counts[name] = n
        df = out
    return df


def run_text_pipeline(
    serp: DataFrame, responses: DataFrame, cfg: PipelineConfig | None = None
) -> DataFrame:
    """E1 (text keyword): the full fullrun chain."""
    return run_stages(serp, pipeline_stages(responses), cfg or PipelineConfig())


def run_image_pipeline(
    serp: DataFrame, responses: DataFrame, cfg: PipelineConfig | None = None
) -> DataFrame:
    """E1 (image input): reverse-image-search seeds — rows must carry a
    thumbnail (P7, s03:161) — then the same chain (full_pipeline.py:131-150)."""
    cfg = cfg or PipelineConfig()
    ris = serp.filter(
        (F.col("offer_root") == "REVERSE_IMAGE_SEARCH")
        & F.col("image_url").isNotNull()
    )
    # pagination with the 4-page hard cap: results arrive in pages of
    # ris_page_size per keyword and the reference stops after ris_max_pages
    # — relationally, keep per-keyword rank <= page_size*max_pages. The
    # early-exit (an empty page ends paging) is implied for dense position
    # sequences; the bounded-scan form is operators/pagination.py.
    w = Window.partitionBy("keyword").orderBy("position", "url")
    cap = cfg.ris_page_size * cfg.ris_max_pages
    seeds = (
        ris.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= cap)
        .select("url", "offer_root")
        .distinct()  # image-set dedup: the same url found via two thumbs
    )
    stages = pipeline_stages(responses, ("reverse_image_search", None))
    return run_stages(seeds, stages, cfg)


def run_url_pipeline(
    spark, url: str, keyword: str, responses: DataFrame,
    cfg: PipelineConfig | None = None,
) -> DataFrame:
    """E1 (url input): synthesize a 1-row seed (full_pipeline.py:104-113)
    then the same chain."""
    cfg = cfg or PipelineConfig()
    seed = spark.createDataFrame(
        [(keyword, "DEFAULT", 1, url, None, None, -1.0, None, None)],
        "keyword string, offer_root string, position int, url string, "
        "image_url string, keyword_enriched string, keyword_volume double, "
        "keyword_language string, keyword_location string",
    )
    return run_stages(seed, pipeline_stages(responses, ("url_seed", None)), cfg)
