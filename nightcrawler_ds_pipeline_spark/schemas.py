"""Single source-of-truth StructTypes for every engine table.

The reference models its pipeline as a widening chain of dataclasses
(``nightcrawler/base.py:140-246``); here each stage is a fixed StructType and
stages evolve schemas monotonically via ``withColumn``. The crawl-native
tables (frontier / seen / robots / lineage) come from BASELINE.json's
``north_rule``; the ``images`` table is the verbatim ``input_hint`` shape.
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# BASELINE.json input_hint — verbatim:
# (image_id:string, bytes:binary, w:int32, h:int32, fmt:string,
#  caption:string, phash:int64)
# ---------------------------------------------------------------------------
IMAGES = T.StructType(
    [
        T.StructField("image_id", T.StringType(), False),
        T.StructField("bytes", T.BinaryType(), True),
        T.StructField("w", T.IntegerType(), True),
        T.StructField("h", T.IntegerType(), True),
        T.StructField("fmt", T.StringType(), True),
        T.StructField("caption", T.StringType(), True),
        T.StructField("phash", T.LongType(), True),
    ]
)

# Search-result seed rows — mirrors ExtractSerpapiData (reference
# nightcrawler/base.py:140-160): keyword, offerRoot enum, url, imageUrl,
# enrichment fields with the −1.0 keywordVolume sentinel (base.py:149-151).
SERP_RESULTS = T.StructType(
    [
        T.StructField("keyword", T.StringType(), False),
        T.StructField("offer_root", T.StringType(), False),
        T.StructField("position", T.IntegerType(), False),
        T.StructField("url", T.StringType(), False),
        T.StructField("image_url", T.StringType(), True),
        T.StructField("keyword_enriched", T.StringType(), True),
        T.StructField("keyword_volume", T.DoubleType(), True),
        T.StructField("keyword_language", T.StringType(), True),
        T.StructField("keyword_location", T.StringType(), True),
    ]
)

# Zyte-shaped fetch fixture rows — mirrors the product payload consumed at
# reference s04_zyte.py:110-143 (product.name/price/currencyRaw/description/
# mainImage/images/metadata.probability, httpResponseBody, error rows).
FETCH_RESPONSES = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("error", T.BooleanType(), False),
        T.StructField("product_name", T.StringType(), True),
        T.StructField("product_price", T.StringType(), True),
        T.StructField("currency_raw", T.StringType(), True),
        T.StructField("description", T.StringType(), True),
        T.StructField("probability", T.DoubleType(), True),
        T.StructField("main_image_url", T.StringType(), True),
        T.StructField("image_urls", T.ArrayType(T.StringType()), True),
        T.StructField("http_response_body", T.BinaryType(), True),
        T.StructField("seconds_taken", T.DoubleType(), True),
        # outlinks discovered on the page → new frontier edges
        T.StructField("outlinks", T.ArrayType(T.StringType()), True),
    ]
)

# Crawl frontier (engine-native; north_rule). Hash-partitioned by host with
# skew salt; priority ties broken by url_hash asc for deterministic ordering.
FRONTIER = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("canonical_url", T.StringType(), False),
        T.StructField("url_hash", T.LongType(), False),
        T.StructField("host", T.StringType(), False),
        T.StructField("priority", T.DoubleType(), False),
        T.StructField("discovered_iter", T.IntegerType(), False),
        T.StructField("parent_url_hash", T.LongType(), True),
    ]
)

# Exact URL-seen set (ground truth behind the Bloom pre-filter).
SEEN = T.StructType(
    [
        T.StructField("url_hash", T.LongType(), False),
        T.StructField("canonical_url", T.StringType(), False),
        T.StructField("seen_iter", T.IntegerType(), False),
    ]
)

# robots.txt politeness cache (north_rule): crawl-delay token buckets.
ROBOTS = T.StructType(
    [
        T.StructField("host", T.StringType(), False),
        T.StructField("crawl_delay_ms", T.IntegerType(), False),
        T.StructField("disallow_prefixes", T.ArrayType(T.StringType()), True),
        T.StructField("fetched_at_iter", T.IntegerType(), False),
    ]
)

# Fetch/crawl results appended per iteration. `seq` is the deterministic
# within-iteration crawl order (politeness dequeue order).
RESULTS = T.StructType(
    [
        T.StructField("iter", T.IntegerType(), False),
        T.StructField("seq", T.LongType(), False),
        T.StructField("url", T.StringType(), False),
        T.StructField("canonical_url", T.StringType(), False),
        T.StructField("url_hash", T.LongType(), False),
        T.StructField("host", T.StringType(), False),
        T.StructField("error", T.BooleanType(), False),
        T.StructField("image_id", T.StringType(), True),
        T.StructField("w", T.IntegerType(), True),
        T.StructField("h", T.IntegerType(), True),
        T.StructField("fmt", T.StringType(), True),
        T.StructField("caption", T.StringType(), True),
        T.StructField("phash", T.LongType(), True),
        T.StructField("decode_ok", T.BooleanType(), True),
        T.StructField("is_phash_dup", T.BooleanType(), True),
    ]
)

# Per-(iteration, partition) lineage rows → exact resume (north_rule).
LINEAGE = T.StructType(
    [
        T.StructField("iter", T.IntegerType(), False),
        T.StructField("partition_id", T.IntegerType(), False),
        T.StructField("stage", T.StringType(), False),
        T.StructField("rows_in", T.LongType(), False),
        T.StructField("rows_out", T.LongType(), False),
        T.StructField("run_ts", T.StringType(), False),
    ]
)

# Per-stage metrics — the reference's numberOfResultsAfterStage
# (base.py:323-327) and additive usage counters (base.py:329-339).
METRICS = T.StructType(
    [
        T.StructField("iter", T.IntegerType(), False),
        T.StructField("stage", T.StringType(), False),
        T.StructField("rows", T.LongType(), False),
        T.StructField("counters", T.MapType(T.StringType(), T.LongType()), True),
    ]
)
