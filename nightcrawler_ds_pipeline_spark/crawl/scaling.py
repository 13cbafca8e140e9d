"""The scaling workload: one steady-state crawl mega-batch.

BASELINE.json requires fetch+dedup throughput scaling efficiency ≥ 0.8 from
N to 4N executors. The multi-iteration loop at fixture scale is dominated by
fixed per-job driver overhead (Amdahl — ~10-20 s of stage/driver latency per
run regardless of cores), so it cannot evidence compute scaling. The honest
steady-state unit is one politeness mega-batch shaped exactly like a
production loop ITERATION — and like the production loop it STARTS FROM
MATERIALIZED TABLES (the catalog parquet snapshots, which already store
canonical_url/url_hash/host — canonicalization happens once at edge
creation, loop.py step 5c, not per iteration):

  read frontier/seen/bloom parquet (untimed one-time synth+write) →
  Bloom membership pre-pass (co-partitioned probe) → exact left-anti seen
  join → salted per-host top-K dequeue → FETCH+DECODE (mapInPandas: per-URL
  payload materializes executor-side — as in a real crawl, where bytes
  arrive at the fetcher — then image decode + 64-bit pHash) → within-batch
  phash dedup + outlink-edge canonicalization (pandas UDF, the per-
  iteration kernel that DOES run on fetch output) → aggregate.

Payloads are synthesized deterministically per url_hash (the sandbox's
stand-in for the network fetch: encode of a seeded tile) and NEVER shuffled
— matching the production design where decoded stats, not payloads, move
between stages. Same input at local[8] and local[32] (N vs 4N executors per
the task brief) → urls/sec at both → efficiency. ``profile_scaling_stages``
times each pipeline prefix separately so regressions are attributed to a
stage, not asserted.
"""

from __future__ import annotations

import time
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nightcrawler_ds_pipeline_spark.codecs import decode_image, encode_image, phash64
from nightcrawler_ds_pipeline_spark.crawl.seen import (
    build_bloom_partitions,
    filter_unseen,
)
from nightcrawler_ds_pipeline_spark.functions.urls import with_canonical

NUM_HOSTS = 5000
_SIZES = [(32, 32), (48, 64), (64, 64)]

FETCH_OUT_COLS = "url_hash long, host string, w int, h int, phash long, decode_ok boolean"


def synth_frontier(spark: SparkSession, n_urls: int) -> DataFrame:
    """Deterministic n-row URL frontier, generated distributedly."""
    base = spark.range(n_urls)
    url = F.concat(
        F.lit("https://shop"),
        (F.col("id") % NUM_HOSTS).cast("string"),
        F.lit(".example.com/p/"),
        F.col("id").cast("string"),
        F.when(F.col("id") % 4 == 0, F.lit("?utm_source=serp&aa=bb"))
        .when(F.col("id") % 4 == 1, F.lit("?srsltid=XYZ"))
        .otherwise(F.lit("")),
    )
    return base.select(
        url.alias("url"),
        ((F.col("id") * 2654435761) % 1000 / 1000.0).alias("priority"),
        F.col("id"),
    )


def _synth_fetch_decode_batch(pdf: pd.DataFrame) -> pd.DataFrame:
    """The fetch+decode stage: per-URL payload materializes here (network
    stand-in: deterministic encode of a seeded tile), then decode + phash.
    ~0.9 ms/url of pure per-row CPU — the 1000-executor profile."""
    n = len(pdf)
    w = np.zeros(n, dtype="int32")
    h = np.zeros(n, dtype="int32")
    ph = np.zeros(n, dtype="int64")
    ok = np.zeros(n, dtype=bool)
    hashes = pdf["url_hash"].to_numpy()
    for i, uh in enumerate(hashes):
        key = int(uh) & 0x7FFFFFFF
        rng = np.random.default_rng(key)
        hh, ww = _SIZES[key % 3]
        yy, xx = np.mgrid[0:hh, 0:ww]
        grad = ((yy * 255 // max(hh - 1, 1)) + (xx * 255 // max(ww - 1, 1))) // 2
        px = np.clip(
            np.stack([grad, 255 - grad, (grad + 85) % 256], axis=-1)
            + rng.integers(-32, 32, (hh, ww, 3)),
            0,
            255,
        ).astype(np.uint8)
        fmt = "png" if key % 5 != 4 else "jpg"
        try:
            dec = decode_image(encode_image(px, fmt))  # the fetch+decode
        except Exception:
            continue
        h[i], w[i] = dec.shape[0], dec.shape[1]
        ph[i] = phash64(dec)
        ok[i] = True
    return pd.DataFrame(
        {
            "url_hash": pdf["url_hash"].values,
            "host": pdf["host"].values,
            "w": w,
            "h": h,
            "phash": ph,
            "decode_ok": ok,
        }
    )


def _probe_unit(seed: int) -> int:
    rng = np.random.default_rng(seed)
    for i in range(200):
        hh, ww = _SIZES[i % 3]
        px = rng.integers(0, 256, (hh, ww, 3)).astype(np.uint8)
        phash64(decode_image(encode_image(px, "png" if i % 5 else "jpg")))
    return 0


def hw_ceiling_probe(levels: tuple[int, ...] = (8, 32)) -> dict:
    """Single-box hardware ceiling for the fetch+decode kernel: the same
    per-URL work under plain multiprocessing at each parallelism level.
    On one box, raising active cores drops per-core throughput (memory
    bandwidth / turbo), which bounds ANY framework's single-box scaling;
    a real N→4N cluster adds machines with constant per-core clocks, so
    the transferable number is spark_speedup / hw_speedup."""
    import multiprocessing as mp

    out = {}
    for n in levels:
        units = n * 24
        best = 0.0
        with mp.Pool(n) as p:
            p.map(_probe_unit, range(n))  # warm the pool
            for _ in range(2):  # best-of-2 to damp scheduler noise
                t0 = time.time()
                p.map(_probe_unit, range(units))
                best = max(best, units / (time.time() - t0))
        out[n] = round(best, 2)
    return out


def prepare_scaling_inputs(
    spark: SparkSession,
    n_urls: int,
    out_dir: str,
    seen_fraction_mod: int = 10,
) -> str:
    """One-time, UNTIMED input materialization (the catalog-snapshot
    analogue): frontier with canonical_url/url_hash/host precomputed (as
    the production frontier table stores them), the ~30%% seen set, and
    its Bloom sketch table — all parquet."""
    import os
    import shutil

    from nightcrawler_ds_pipeline_spark.crawl.seen import BLOOM_SCHEMA

    # fingerprint the materialized schemas into the marker: when a table's
    # schema evolves (e.g. the bloom rows gained num_partitions), stale
    # cached inputs must regenerate, not crash the probe with a missing
    # column mid-bench
    from nightcrawler_ds_pipeline_spark.crawl.seen import DEFAULT_NUM_PARTITIONS

    fingerprint = (
        f"v3 P={DEFAULT_NUM_PARTITIONS} bloom={BLOOM_SCHEMA.simpleString()}\n"
    )
    marker = os.path.join(out_dir, "_COMPLETE")
    if os.path.exists(marker):
        with open(marker) as f:
            if f.read() == fingerprint:
                return out_dir
        shutil.rmtree(out_dir, ignore_errors=True)
        os.makedirs(out_dir, exist_ok=True)
    frontier = with_canonical(synth_frontier(spark, n_urls), "url")
    frontier.write.mode("overwrite").parquet(f"{out_dir}/frontier.parquet")
    frontier = spark.read.parquet(f"{out_dir}/frontier.parquet")
    seen = frontier.filter(F.col("id") % seen_fraction_mod < 3).select(
        "url_hash", "canonical_url", F.lit(0).alias("seen_iter")
    )
    seen.write.mode("overwrite").parquet(f"{out_dir}/seen.parquet")
    seen = spark.read.parquet(f"{out_dir}/seen.parquet")
    build_bloom_partitions(seen).write.mode("overwrite").parquet(
        f"{out_dir}/bloom.parquet"
    )
    with open(marker, "w") as f:
        f.write(fingerprint)
    return out_dir


def _batch_stage(spark: SparkSession, input_dir: str, max_per_host: int):
    """probe → anti-join → salted dequeue, reading materialized inputs.
    Projects down to (url_hash, host, priority) BEFORE the dequeue window
    so the shuffle moves ~24 B/row, not the full frontier width."""
    frontier = spark.read.parquet(f"{input_dir}/frontier.parquet")
    seen = spark.read.parquet(f"{input_dir}/seen.parquet")
    bloom = spark.read.parquet(f"{input_dir}/bloom.parquet")
    candidates = filter_unseen(
        frontier.select("url_hash", "host", "priority"), seen, bloom
    )
    # salted per-host top-K (politeness dequeue shape; budget unbounded so
    # the batch is the full unseen set — steady-state max load)
    w1 = Window.partitionBy("host", F.pmod(F.col("url_hash"), F.lit(8))).orderBy(
        F.col("priority").desc(), F.col("url_hash").asc()
    )
    return (
        candidates.withColumn("__r", F.row_number().over(w1))
        .filter(F.col("__r") <= max_per_host)
        .select("url_hash", "host")
    )


def _fetched_stage(spark: SparkSession, batch):
    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield _synth_fetch_decode_batch(pdf)

    # AQE coalesces the window output by BYTES (rows are ~16 B) and would
    # run this CPU-bound UDF on a handful of tasks; spread it explicitly —
    # 4× cores for load balance against per-partition variance.
    par = spark.sparkContext.defaultParallelism * 4
    return batch.repartition(par).mapInPandas(op, schema=FETCH_OUT_COLS)


def _full_job(spark: SparkSession, input_dir: str, max_per_host: int):
    fetched = _fetched_stage(spark, _batch_stage(spark, input_dir, max_per_host))
    # outlink-edge canonicalization: the per-iteration kernel that DOES run
    # on fetch output (loop.py 5c) — one synthetic outlink per fetched row
    out_url = F.concat(
        F.lit("https://"),
        F.col("host"),
        F.lit("/next/"),
        F.col("url_hash").cast("string"),
        F.lit("?utm_source=crawl&x=1"),
    )
    edges = with_canonical(fetched.withColumn("url", out_url), "url")
    # within-batch exact phash dedup + final one-pass aggregate
    w_dup = Window.partitionBy("phash").orderBy(F.col("url_hash"))
    out = edges.withColumn(
        "is_dup", F.col("decode_ok") & (F.row_number().over(w_dup) > 1)
    )
    return out.agg(
        F.count("*").alias("n"),
        F.sum(F.when(F.col("decode_ok"), 1).otherwise(0)).alias("n_ok"),
        F.sum(F.when(F.col("is_dup"), 1).otherwise(0)).alias("n_dup"),
        F.count_distinct(F.col("url_hash")).alias("n_edges"),
    )


def run_scaling_workload(
    spark: SparkSession,
    n_urls: int = 2_000_000,
    input_dir: str | None = None,
    max_per_host: int = 1 << 30,
) -> dict:
    """One crawl mega-batch over the materialized inputs; throughput stats.

    ``input_dir`` defaults to a per-size dir under /tmp; inputs are built
    (untimed) on first use and reused across reps and parallelism levels —
    identical bytes in, like the driver's identical parquet testdata."""
    import tempfile, os

    if input_dir is None:
        input_dir = os.path.join(
            tempfile.gettempdir(), f"ncds_scaling_{n_urls}"
        )
    os.makedirs(input_dir, exist_ok=True)
    prepare_scaling_inputs(spark, n_urls, input_dir)

    t0 = time.time()
    agg = _full_job(spark, input_dir, max_per_host).collect()[0]
    wall = time.time() - t0
    return {
        "n_urls": n_urls,
        "batch": int(agg["n"]),
        "decoded_ok": int(agg["n_ok"]),
        "phash_dups": int(agg["n_dup"]),
        "sec": round(wall, 2),
        "urls_per_sec": round(int(agg["n"]) / wall, 1),
    }


def profile_scaling_stages(
    spark: SparkSession,
    n_urls: int = 2_000_000,
    input_dir: str | None = None,
    max_per_host: int = 1 << 30,
) -> dict:
    """Per-stage wall times via cumulative-prefix materialization: each
    entry is the wall of running the pipeline UP TO that stage, so
    stage cost ≈ difference of adjacent prefixes (attribution, not
    assertion — BASELINE.md uses this to locate the non-scaling part)."""
    import tempfile, os

    if input_dir is None:
        input_dir = os.path.join(
            tempfile.gettempdir(), f"ncds_scaling_{n_urls}"
        )
    os.makedirs(input_dir, exist_ok=True)
    prepare_scaling_inputs(spark, n_urls, input_dir)

    def _noop(df) -> float:
        t0 = time.time()
        df.write.format("noop").mode("overwrite").save()
        return round(time.time() - t0, 2)

    frontier = spark.read.parquet(f"{input_dir}/frontier.parquet")
    seen = spark.read.parquet(f"{input_dir}/seen.parquet")
    bloom = spark.read.parquet(f"{input_dir}/bloom.parquet")
    prof = {}
    prof["scan_frontier"] = _noop(frontier.select("url_hash", "host", "priority"))
    prof["probe_antijoin"] = _noop(
        filter_unseen(frontier.select("url_hash", "host", "priority"), seen, bloom)
    )
    batch = _batch_stage(spark, input_dir, max_per_host)
    prof["dequeue"] = _noop(batch)
    prof["fetch_decode"] = _noop(_fetched_stage(spark, batch))
    t0 = time.time()
    _full_job(spark, input_dir, max_per_host).collect()
    prof["full_job"] = round(time.time() - t0, 2)
    return prof
