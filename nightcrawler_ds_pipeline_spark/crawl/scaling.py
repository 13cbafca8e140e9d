"""The scaling workload: one steady-state crawl mega-batch on the loop's
own kernels.

BASELINE.json requires fetch+dedup throughput scaling efficiency ≥ 0.8 from
N to 4N executors. The multi-iteration loop at fixture scale is dominated by
fixed per-job driver overhead (Amdahl — ~10-20 s of stage/driver latency per
run regardless of cores), so it cannot evidence compute scaling. The honest
steady-state unit is ONE iteration of ``crawl/loop.py`` run by the loop's
own kernels over MATERIALIZED TABLES (frontier with canonical_url/url_hash/
host, seen set, Bloom sketch, robots — all parquet, written once, untimed):

  `seen.filter_unseen` → `politeness.robots_filter` + `dequeue_gated` →
  cached count + `assign_global_seq` → FETCH+DECODE stand-in (mapInPandas:
  the per-URL payload materializes executor-side, as bytes arrive at a real
  fetcher, then image decode + 64-bit pHash) → `loop._phash_dedup` →
  `loop._next_frontier` (remaining frontier + canonicalized outlink edges).

Every robots row has crawl_delay_ms = 0, so each host's budget is
``max_per_host`` (1<<30) and the batch is the whole unseen set. Payloads
(encodes of a seeded tile per url_hash) are NEVER shuffled — decoded stats,
not payloads, move between stages. Same input at local[8] and local[32] (N
vs 4N executors) → urls/sec at both → efficiency. ``profile_scaling_stages``
times each iteration prefix so regressions are attributed to a stage.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import time
from collections.abc import Iterator
from contextlib import closing

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nightcrawler_ds_pipeline_spark.codecs import decode_image, encode_image, phash64
from nightcrawler_ds_pipeline_spark.crawl import politeness
from nightcrawler_ds_pipeline_spark.crawl.loop import (
    FRONTIER_COLS,
    _next_frontier,
    _phash_dedup,
    _unpersist,
)
from nightcrawler_ds_pipeline_spark.crawl.seen import (
    BLOOM_SCHEMA,
    DEFAULT_NUM_PARTITIONS,
    build_bloom_partitions,
    filter_unseen,
)
from nightcrawler_ds_pipeline_spark.functions.urls import with_canonical

NUM_HOSTS = 5000
_SIZES = [(32, 32), (48, 64), (64, 64)]
# the iteration prefixes profile_scaling_stages times, in loop order
PREFIXES = ("scan_frontier", "probe_antijoin", "dequeue", "fetch_decode", "next_frontier")

FETCH_OUT_COLS = (
    "url_hash long, host string, seq long, priority double, error boolean, "
    "outlinks array<string>, w int, h int, phash long, decode_ok boolean"
)


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
    ~0.9 ms/url of pure per-row CPU — the 1000-executor profile. Emits the
    columns the dedup and frontier kernels read: every fetch succeeds and
    each page has one synthetic outlink."""
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
    return pdf[["url_hash", "host", "seq", "priority"]].assign(
        error=False,
        outlinks=[
            [f"https://{host}/next/{uh}?utm_source=crawl&x=1"]
            for host, uh in zip(pdf["host"], hashes)
        ],
        w=w,
        h=h,
        phash=ph,
        decode_ok=ok,
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
    analogue), all parquet: the frontier with every loop frontier column
    (plus ``id``, which picks the seen rows), the ~30%% seen set, its Bloom
    sketch table, and one robots row per host with crawl_delay_ms = 0."""
    # fingerprint the materialized schemas into the marker: when a table's
    # schema evolves (e.g. the bloom rows gained num_partitions), stale
    # cached inputs must regenerate, not crash the probe with a missing
    # column mid-bench
    fingerprint = (
        f"v4 P={DEFAULT_NUM_PARTITIONS} bloom={BLOOM_SCHEMA.simpleString()} "
        f"frontier={','.join(FRONTIER_COLS)} robots\n"
    )
    marker = os.path.join(out_dir, "_COMPLETE")
    if os.path.exists(marker):
        with open(marker) as f:
            if f.read() == fingerprint:
                return out_dir
        shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir, exist_ok=True)
    frontier = (
        with_canonical(synth_frontier(spark, n_urls), "url")
        .withColumn("discovered_iter", F.lit(0))
        .withColumn("parent_url_hash", F.lit(None).cast("long"))
        .select(*FRONTIER_COLS, "id")
    )
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
    frontier.select("host").distinct().select(
        "host",
        F.lit(0).alias("crawl_delay_ms"),
        F.array().cast("array<string>").alias("disallow_prefixes"),
    ).write.mode("overwrite").parquet(f"{out_dir}/robots.parquet")
    with open(marker, "w") as f:
        f.write(fingerprint)
    return out_dir


def _read_inputs(spark: SparkSession, n_urls: int, input_dir: str | None) -> dict:
    """The materialized inputs, built on first use. ``input_dir`` defaults
    to a per-size dir under the temp dir, reused across reps and
    parallelism levels, so every level reads identical bytes."""
    if input_dir is None:
        input_dir = os.path.join(tempfile.gettempdir(), f"ncds_scaling_{n_urls}")
    prepare_scaling_inputs(spark, n_urls, input_dir)
    tables = ("frontier", "seen", "bloom", "robots")
    return {t: spark.read.parquet(f"{input_dir}/{t}.parquet") for t in tables}


def _fetched_stage(batch: DataFrame) -> DataFrame:
    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield _synth_fetch_decode_batch(pdf)

    # the numbered batch is ONE range partition up to SINGLE_WINDOW_MAX rows
    # (AQE coalesces by bytes above it): spread this CPU-bound UDF
    # explicitly, 4× cores for load balance against per-partition variance.
    par = batch.sparkSession.sparkContext.defaultParallelism * 4
    return (
        batch.select("url_hash", "host", "seq", "priority")
        .repartition(par)
        .mapInPandas(op, schema=FETCH_OUT_COLS)
    )


def _iteration(
    inputs: dict[str, DataFrame], max_per_host: int
) -> Iterator[tuple[str, DataFrame]]:
    """One crawl iteration on the loop's kernels, yielded as (prefix, frame)
    in PREFIXES order; each frame is built only when the caller advances.
    The frames the loop caches are cached here too, and released when the
    generator finishes or is closed."""
    frontier, seen = inputs["frontier"].select(*FRONTIER_COLS), inputs["seen"]
    cached: list[DataFrame] = []
    try:
        yield "scan_frontier", frontier
        candidates = filter_unseen(frontier, seen, inputs["bloom"])
        yield "probe_antijoin", candidates
        # robots gate once: the dequeue and the remaining frontier read it
        gated = politeness.robots_filter(candidates, inputs["robots"]).cache()
        pre_batch = politeness.dequeue_gated(gated, max_per_host=max_per_host).cache()
        cached += [gated, pre_batch]
        batch = politeness.assign_global_seq(pre_batch, pre_batch.count()).cache()
        cached.append(batch)
        yield "dequeue", batch
        # cached: the aggregate and the frontier derivation both read it
        deduped = _phash_dedup(_fetched_stage(batch), None).cache()
        cached.append(deduped)
        yield "fetch_decode", deduped
        new_seen = batch.select("url_hash")
        yield "next_frontier", _next_frontier(gated, batch, deduped, new_seen, seen, 0)
    finally:
        _unpersist(*cached)


def _noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def run_scaling_workload(
    spark: SparkSession,
    n_urls: int = 2_000_000,
    input_dir: str | None = None,
    max_per_host: int = 1 << 30,
) -> dict:
    """One crawl mega-batch over the materialized inputs: the dedup
    aggregate, then the next frontier into a noop sink; throughput stats."""
    inputs = _read_inputs(spark, n_urls, input_dir)
    t0 = time.time()
    for prefix, df in _iteration(inputs, max_per_host):
        if prefix == "fetch_decode":
            agg = df.agg(
                F.count("*").alias("batch"),
                F.count_if("decode_ok").alias("decoded_ok"),
                F.count_if("is_phash_dup").alias("phash_dups"),
            ).collect()[0]
        elif prefix == "next_frontier":
            _noop(df)
    wall = time.time() - t0
    out = {k: int(v) for k, v in agg.asDict().items()}
    return {
        "n_urls": n_urls,
        **out,
        "sec": round(wall, 2),
        "urls_per_sec": round(out["batch"] / wall, 1),
    }


def profile_scaling_stages(
    spark: SparkSession,
    n_urls: int = 2_000_000,
    input_dir: str | None = None,
    max_per_host: int = 1 << 30,
) -> dict:
    """Per-stage wall times via cumulative-prefix materialization: each
    PREFIXES entry is the wall of running a fresh iteration UP TO and
    including that stage, so stage cost ≈ difference of adjacent prefixes
    (attribution, not assertion — BASELINE.md uses this to locate the
    non-scaling part); ``full_job`` is one `run_scaling_workload` job."""
    inputs = _read_inputs(spark, n_urls, input_dir)
    prof = {}
    for prefix in PREFIXES:
        t0 = time.time()
        with closing(_iteration(inputs, max_per_host)) as stages:
            _noop(next(df for name, df in stages if name == prefix))
        prof[prefix] = round(time.time() - t0, 2)
    prof["full_job"] = run_scaling_workload(spark, n_urls, input_dir, max_per_host)["sec"]
    return prof
