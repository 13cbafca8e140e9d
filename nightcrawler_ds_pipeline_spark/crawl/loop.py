"""The crawl loop: iterative batch jobs over snapshot tables (north_rule).

Each iteration is one batch job:
  1. read frontier (committed state only) → not-seen filter (Bloom pre-pass
     + exact anti-join, `seen.filter_unseen`)
  2. robots gate (`politeness.robots_filter`) + per-host token-bucket
     priority dequeue (`politeness.dequeue_gated`) → deterministic
     (priority desc, url_hash asc) crawl order `seq`
  3. fetch + decode + phash (`fetch.fetch_batch`)
  4. phash dedup: exact-duplicate images flagged against both the historical
     results and earlier rows of the same batch
  5. append results + seen rows + new frontier edges; overwrite the advanced
     seen sketch and the remaining frontier
  6. append per-partition lineage rows LAST — the lineage commit finalizes
     the iteration; resume replays from the last finalized iteration and
     ignores any newer uncommitted snapshots (exact resume).
  7. expire the snapshots that this iteration's overwrites superseded
     (`SnapshotCatalog.expire_snapshots`), so overwrite tables keep one
     snapshot on disk however long the crawl runs.

An iteration whose gated frontier is non-empty but dequeues nothing (every
host out of tokens) skips steps 3-4 and commits through the same block: the
bucket state, the advanced sketch and an "empty" lineage row.

The reference's analogue of this loop is the fixed 11-stage chain in
cli/full_pipeline.py:84-215 with a JSON checkpoint after every stage and
file-based resume (cli/extractor.py:63-114); here stage boundaries are
snapshot commits and the "cache hit suppresses re-fetch" behavior
(api_caller.py:48-80) is the seen-set membership test.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nightcrawler_ds_pipeline_spark import schemas
from nightcrawler_ds_pipeline_spark.crawl import politeness
from nightcrawler_ds_pipeline_spark.crawl.fetch import fetch_batch
from nightcrawler_ds_pipeline_spark.crawl.seen import (
    DEFAULT_NUM_PARTITIONS,
    BloomSketch,
    CuckooSketch,
    filter_unseen,
)
from nightcrawler_ds_pipeline_spark.crawl.tables import SnapshotCatalog
from nightcrawler_ds_pipeline_spark.functions.urls import with_canonical

# CTR click-share prior for seed priorities — the reference's rank-based
# traffic model (single shared definition, see constants.py).
from nightcrawler_ds_pipeline_spark.constants import RANK_CLICK_SHARES  # noqa: E402

# an outlink inherits its parent's priority times this factor
OUTLINK_PRIORITY_DECAY = 0.5
# per-iteration counters: the summary row and the metrics table rows
COUNTERS = ("dequeued", "results", "new_unique_images", "errors")


@dataclass
class CrawlConfig:
    iterations: int = 3
    window_ms: int = politeness.DEFAULT_WINDOW_MS
    max_per_host: int = politeness.DEFAULT_MAX_PER_HOST
    num_salts: int = politeness.DEFAULT_NUM_SALTS
    bloom_partitions: int = DEFAULT_NUM_PARTITIONS
    run_ts: str = "1970-01-01_00-00-00"  # injected, never wall-clock
    # TTL re-crawl (reference cache_duration, api_caller.py:24,74: an
    # expired cache entry no longer suppresses the re-fetch). A seen entry
    # older than ttl_iters iterations stops suppressing: the URL re-enters
    # the frontier when rediscovered and is re-dequeued exactly once. None
    # = seen forever. The Bloom keeps ALL historical keys (it cannot
    # delete — expired entries only cost false positives, and the Bloom
    # never decides); the cuckoo filter (crawl/cuckoo.py) is the
    # deletion-capable sketch for TTL-heavy workloads.
    ttl_iters: int | None = None
    # Bloom pre-pass size gate: while the seen set has fewer rows than this,
    # skip building/merging/probing sketches entirely — `filter_unseen`
    # degrades to the exact anti-join (the decider either way), which is
    # strictly cheaper at small scale (the P=256 sketch build/merge/probe is
    # 3 fixed ~256-task stages per iteration, pure overhead for a few-k-row
    # batch; measured 1.8× t2 crawl slowdown). Crossing the threshold
    # rebuilds the sketches once from the full seen table.
    bloom_min_seen: int = 100_000
    # which pre-pass sketch to maintain above the gate: "bloom" (OR-merge,
    # keeps history — cannot delete) or "cuckoo" (multiset insert/delete —
    # TTL expiries are pruned, so the sketch tracks the ACTIVE seen set;
    # north_rule "bloom/cuckoo URL-seen"). Either way the sketch never
    # decides: the exact anti-join against the active seen table does.
    sketch: str = "bloom"
    # cuckoo capacity per partition (slots = 4 × buckets; ~95% fillable).
    # Size for the ACTIVE seen set: buckets × 4 × bloom_partitions ≥
    # active URLs / 0.95, or the per-partition insert raises loudly.
    cuckoo_buckets: int = 1 << 14
    # robots.txt cache TTL (north_rule "robots.txt cache"): entries older
    # than this many iterations are re-fetched from the robots source and
    # re-stamped; the cache lives in the catalog ("robots" table) with the
    # same commit/rollback semantics as the rest of the state. None
    # (default) = read the source directly each iteration (always fresh —
    # the reference-parity behavior on static fixtures).
    robots_max_age_iters: int | None = None
    # compact the append-mode state tables (seen/results) every k committed
    # iterations — bounds the small-file count the next iteration scans
    # (SnapshotCatalog.compact; the Iceberg rewrite_data_files analogue)
    compact_every: int | None = None

    def __post_init__(self) -> None:
        if self.sketch not in ("bloom", "cuckoo"):
            # fail at construction, not as a missing-column AnalysisException
            # three stages into the first iteration
            raise ValueError(
                f"CrawlConfig.sketch must be 'bloom' or 'cuckoo', got "
                f"{self.sketch!r}"
            )


FRONTIER_COLS = [f.name for f in schemas.FRONTIER.fields]
RESULT_COLS = [f.name for f in schemas.RESULTS.fields if f.name != "iter"]


def _best_per_url(df: DataFrame) -> DataFrame:
    """One row per url_hash: max priority wins, then the smallest url —
    deterministic."""
    w = Window.partitionBy("url_hash").orderBy(
        F.col("priority").desc(), F.col("url").asc()
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def seed_frontier(serp: DataFrame) -> DataFrame:
    """Seed the frontier from search-result fixtures (the reference's S1-S4
    scans): canonicalize, CTR-share × volume priority, dedup by url_hash."""
    shares = F.array(*[F.lit(s) for s in RANK_CLICK_SHARES])
    share = F.element_at(shares, F.least(F.col("position"), F.lit(20)))
    volume = F.greatest(F.coalesce(F.col("keyword_volume"), F.lit(1.0)), F.lit(1.0))
    seeded = (
        with_canonical(serp, "url")
        .withColumn("priority", (share * volume).cast("double"))
        .withColumn("discovered_iter", F.lit(0).cast("int"))
        .withColumn("parent_url_hash", F.lit(None).cast("long"))
    )
    return _best_per_url(seeded).select(*FRONTIER_COLS)


def _phash_dedup(fetched: DataFrame, history_phash: DataFrame | None) -> DataFrame:
    """is_phash_dup: exact phash already in history, or an earlier row (by
    deterministic seq) of this batch.

    One pass over ``fetched``: a split into decoded and failed rows plus a
    union would run the whole fetch+decode subtree twice. Failed or
    imageless rows all share phash=0, so they are keyed by their own
    url_hash: they neither pile into ONE window partition (a straggler task
    at scale) nor match anything, and their is_phash_dup is False."""
    key = F.when(F.col("decode_ok"), F.col("phash")).otherwise(F.col("url_hash"))
    w = Window.partitionBy("decode_ok", key).orderBy(F.col("seq").asc())
    dup = F.row_number().over(w) > 1
    if history_phash is not None:
        # no broadcast hint: the phash history grows without bound across
        # iterations — AQE broadcasts while it's small and falls back to a
        # shuffle join once it isn't.
        hist = history_phash.select(
            F.lit(True).alias("__hist_ok"), F.col("phash").alias("__hist_phash")
        ).distinct()
        on = (F.col("decode_ok") == F.col("__hist_ok")) & (key == F.col("__hist_phash"))
        fetched = fetched.join(hist, on, "left")
        dup = dup | F.col("__hist_ok").isNotNull()
    out = fetched.withColumn("is_phash_dup", F.col("decode_ok") & dup)
    return out.drop("__hist_ok", "__hist_phash")


def _next_frontier(gated, batch, deduped, new_seen, seen, it: int) -> DataFrame:
    """remaining (gated − dequeued) ∪ new outlink edges, one per url.

    Edges come only from successful fetches (the parity oracle skips error
    responses; an error page's partial outlinks are not crawled) and drop
    every key of this batch, the still-active seen set and the remaining
    frontier — one combined anti-join against the union of the three key
    sets instead of three sequential ones (an anti-join needs no distinct
    on its right side)."""
    remaining = gated.select(*FRONTIER_COLS).join(
        batch.select("url_hash"), "url_hash", "left_anti"
    )
    outlinks = (
        deduped.filter(~F.col("error") & F.col("outlinks").isNotNull())
        .select(
            F.col("url_hash").alias("parent_url_hash"),
            (F.col("priority") * OUTLINK_PRIORITY_DECAY).alias("priority"),
            F.explode("outlinks").alias("url"),
        )
    )
    edges = (
        with_canonical(outlinks, "url")
        .withColumn("discovered_iter", F.lit(it + 1).cast("int"))
        .select(*FRONTIER_COLS)
    )
    exclude = new_seen.select("url_hash").unionByName(remaining.select("url_hash"))
    if seen is not None:
        exclude = exclude.unionByName(seen.select("url_hash"))
    edges = _best_per_url(edges).join(exclude, "url_hash", "left_anti")
    return remaining.unionByName(edges.select(*FRONTIER_COLS))


def _expiring(seen_full, new_seen, it: int, ttl_iters: int | None) -> DataFrame | None:
    """Seen rows becoming inactive at the NEXT iteration (seen_iter ==
    it+1-ttl). Must include new_seen: at ttl_iters=1 this iteration's own
    rows expire immediately (insert+delete nets to zero copies)."""
    frames = [df.select("url_hash", "seen_iter") for df in (seen_full, new_seen) if df is not None]
    if ttl_iters is None or not frames:
        return None
    all_seen = reduce(DataFrame.unionByName, frames)
    return all_seen.filter(F.col("seen_iter") == it + 1 - ttl_iters)


def _unpersist(*dfs: DataFrame | None) -> None:
    for df in dfs:
        if df is not None:
            df.unpersist()


def run_crawl(
    spark: SparkSession,
    catalog: SnapshotCatalog,
    fixtures_dir: str,
    config: CrawlConfig | None = None,
) -> dict:
    """Run (or resume) the crawl loop against fixture tables.

    Returns a summary dict with per-iteration metrics.
    """
    cfg = config or CrawlConfig()
    serp = spark.read.parquet(f"{fixtures_dir}/serp_results.parquet")
    responses = spark.read.parquet(f"{fixtures_dir}/fetch_responses.parquet")
    robots = spark.read.parquet(f"{fixtures_dir}/robots.parquet")
    images = spark.read.parquet(f"{fixtures_dir}/images.parquet")

    # the commit point: the newest lineage snapshot in the manifest
    start_iter = catalog.latest_iter("lineage") + 1
    # exact resume: drop any snapshots a crash left behind for iterations
    # whose lineage never committed — otherwise re-running the iteration
    # would append a second copy of its rows
    catalog.rollback_above(start_iter - 1)
    summary: list[dict] = []

    # seen-set size for the Bloom gate: one count at (re)start, then
    # maintained incrementally (+= n_batch per committed iteration) — no
    # extra action inside the loop
    seen0 = catalog.read(spark, "seen", max_iter=start_iter - 1)
    seen_count = seen0.count() if seen0 is not None else 0
    sk = (
        BloomSketch(cfg.bloom_partitions)
        if cfg.sketch == "bloom"
        else CuckooSketch(cfg.bloom_partitions, cfg.cuckoo_buckets, cfg.ttl_iters)
    )

    for it in range(start_iter, cfg.iterations):
        committed = it - 1

        frontier = catalog.read(spark, "frontier", max_iter=committed)
        if frontier is None:
            frontier = seed_frontier(serp)
        seen_full = catalog.read(spark, "seen", max_iter=committed)
        # TTL: only still-fresh seen rows suppress a re-fetch — the exact
        # anti-join against the ACTIVE set decides, so an expired URL
        # passes and gets re-dequeued (cfg.ttl_iters docstring). seen_full
        # keeps the history for sketch rebuilds.
        seen = seen_full
        if seen_full is not None and cfg.ttl_iters is not None:
            seen = seen_full.filter(F.col("seen_iter") > it - cfg.ttl_iters)

        # The probe-side sketch must OVER-approximate the active seen set
        # (a "definitely not seen" verdict bypasses the exact anti-join),
        # so a stored sketch is usable only if it is both FRESH — written
        # at the same iteration as the newest seen snapshot; an
        # accrual-only or below-gate iteration commits lineage without a
        # sketch write — and VALID for this run: every key of sk.meta
        # (modulus, and the cuckoo's maintenance TTL) equals the stored
        # meta; a catalog written without a key rebuilds. Checked every
        # iteration from the snapshot manifest alone (no Spark job); the
        # in-row modulus checks of the probe and update stay as the safety
        # net. On any mismatch the seen table is the source of truth.
        use_sketch = seen_count >= cfg.bloom_min_seen
        sketch = rebuilt = None
        if use_sketch and seen is not None:
            stored = catalog.latest_meta(sk.table, max_iter=committed)
            fresh = (
                catalog.latest_iter(sk.table, max_iter=committed)
                >= catalog.latest_iter("seen", max_iter=committed)
                and sk.meta.items() <= stored.items()
            )
            if fresh:
                sketch = catalog.read(spark, sk.table, max_iter=committed)
            else:
                # cache: the rebuilt sketch (a full-seen-set applyInPandas
                # pass) feeds BOTH the probe and the 5b advance write —
                # uncached it would execute twice
                sketch = rebuilt = sk.build(seen_full, seen).cache()

        # 1. not-seen filter (sketch pre-pass via the map-side
        # co-partitioned probe — sketches never visit the driver; exact
        # anti-join decider). Not cached: its only consumer is `gated`,
        # which is itself cached — a second cache layer here was one extra
        # memory-write pass per iteration (r6).
        candidates = filter_unseen(
            frontier, seen, sketch, num_partitions=cfg.bloom_partitions, sketch=cfg.sketch
        )

        # 2. robots gate ONCE (dequeue, remaining-frontier rewrite and
        # bucket accounting all reuse it), then the token-bucket dequeue —
        # unspent time rolls over so skipped slow hosts catch up later
        bucket_state = catalog.read(spark, "politeness", max_iter=committed)
        # robots cache with TTL refresh (opt-in): stale entries re-fetch
        # from the source and the refreshed cache snapshots into the
        # catalog — written pre-commit like the other state tables, so a
        # crash before the lineage finalizer rolls it back with the rest
        if cfg.robots_max_age_iters is not None:
            robots_cur = politeness.refresh_robots(
                catalog.read(spark, "robots", max_iter=committed),
                robots,
                it,
                cfg.robots_max_age_iters,
            )
            catalog.write(
                robots_cur, "robots", mode="overwrite", meta={"iter": it}
            )
            robots_cur = catalog.read(spark, "robots", max_iter=it)
        else:
            robots_cur = robots
        gated = politeness.robots_filter(candidates, robots_cur).cache()
        # dequeue, cache, count — then number with the count so big batches
        # take the range-partitioned two-pass path (no global
        # single-partition window anywhere in the loop)
        pre_batch = politeness.dequeue_gated(
            gated,
            window_ms=cfg.window_ms,
            max_per_host=cfg.max_per_host,
            num_salts=cfg.num_salts,
            bucket_state=bucket_state,
        ).cache()
        n_batch = pre_batch.count()
        # nothing dequeuable and nothing gated: the crawl is done. A gated
        # frontier that dequeues nothing means slow hosts are merely out of
        # tokens — the iteration still commits (accrual only) so their
        # buckets refill; without it hosts with crawl_delay > window starve.
        if n_batch == 0 and gated.limit(1).count() == 0:
            _unpersist(pre_batch, gated, rebuilt)
            break
        batch = politeness.assign_global_seq(pre_batch, n_batch).cache()
        meta = {"iter": it}

        # 5a. new seen rows = everything dequeued this iteration
        new_seen = None
        if n_batch:
            new_seen = batch.select(
                "url_hash", "canonical_url", F.lit(it).cast("int").alias("seen_iter")
            )

        # 5b. advanced sketch (overwrite snapshot) — only above the size
        # gate; below it no sketch is maintained, and the first above-gate
        # iteration rebuilds it via the freshness check above. The cuckoo
        # also deletes the rows expiring at the NEXT iteration, so the
        # stored sketch matches the active set the next probe runs against.
        # Accrual iterations advance too: each seen generation is deleted
        # from the cuckoo exactly once, at exactly its expiry iteration (a
        # skipped deletion lingers forever — catching up later with <= would
        # double-delete keys re-seen since). When advance changes nothing
        # only a rebuild is persisted, so the next iteration need not
        # re-derive it; rewriting an unchanged multi-MB snapshot every
        # token-starved iteration would only grow the manifest.
        next_sketch = None
        if use_sketch:
            expiring = _expiring(seen_full, new_seen, it, cfg.ttl_iters)
            next_sketch = sk.advance(sketch, new_seen, expiring)
            if next_sketch is None:
                next_sketch = rebuilt
        # the validity meta travels with the snapshot (freshness check above)
        sk_meta = {**meta, **sk.meta}

        # 5c. token-bucket accounting for the next iteration
        new_buckets = politeness.next_bucket_state(
            gated.select("host", "crawl_delay_ms"), batch, bucket_state,
            window_ms=cfg.window_ms,
        )

        deduped = None
        if n_batch:
            # 3. fetch + decode + phash (n_batch proves the broadcast-size gate)
            fetched = fetch_batch(batch, responses, images, batch_count=n_batch)

            # 4. phash dedup vs history + within-batch
            history = catalog.read(spark, "results", max_iter=committed)
            hist_phash = (
                history.filter(F.col("decode_ok") & ~F.col("is_phash_dup")).select("phash")
                if history is not None
                else None
            )
            # Cached: deduped feeds results AND the outlink edge derivation —
            # without the cache the frontier write re-runs the whole
            # fetch+decode chain (measured 2× the fetch cost per iteration).
            deduped = _phash_dedup(fetched, hist_phash).cache()
            results = deduped.select(F.lit(it).cast("int").alias("iter"), *RESULT_COLS)
            # 5d. remaining = gated - dequeued + new edges
            next_frontier = _next_frontier(gated, batch, deduped, new_seen, seen, it)

        # 6. commit snapshots — lineage strictly last (the commit point).
        # The non-lineage snapshots are mutually independent once the
        # shared caches are materialized, and each is a small job whose
        # stragglers leave most of local[N] idle — so materialize the shared
        # lineage ONCE (batch via a cheap count on the cached dequeue,
        # deduped via the one-pass metrics aggregate, which runs the whole
        # fetch+decode chain), then run the writes CONCURRENTLY from a small
        # thread pool (guide §2.6: actions are only sequential because the
        # driver calls them sequentially; concurrent jobs back-fill each
        # other's task tails). Crash semantics are unchanged: any subset of
        # these snapshots without the lineage finalizer is rolled back by
        # rollback_above on resume, in whatever order it was written.
        batch.count()  # materialize the cached dequeue before fan-out

        counts = dict.fromkeys(COUNTERS, 0)
        with ThreadPoolExecutor(max_workers=4) as pool:
            # EARLY writes — depend only on the just-materialized batch /
            # gated caches, so they overlap the metrics aggregate below
            # (which runs the whole fetch+decode chain). Each entry is
            # (df, table, mode, meta) in SnapshotCatalog.write order.
            early = [(new_buckets, "politeness", "overwrite", meta)]
            if n_batch:
                early.append((new_seen, "seen", "append", meta))
            if next_sketch is not None:
                early.append((next_sketch, sk.table, "overwrite", sk_meta))
            futures = [pool.submit(catalog.write, *w) for w in early]

            if n_batch:
                # one-pass metrics aggregate (vs one action per counter);
                # also materializes the deduped cache that results/frontier
                # read — it must run BEFORE those writes are submitted (two
                # concurrent consumers of a not-yet-materialized cache would
                # both compute)
                mrow = deduped.agg(
                    F.count("*").alias("results"),
                    F.sum(
                        F.when(
                            F.col("decode_ok") & ~F.col("is_phash_dup"), 1
                        ).otherwise(0)
                    ).alias("new_unique_images"),
                    F.sum(
                        F.when(F.col("error") | ~F.col("decode_ok"), 1).otherwise(0)
                    ).alias("errors"),
                ).collect()[0]
                counts.update({k: int(v or 0) for k, v in mrow.asDict().items()})
                counts["dequeued"] = n_batch
                metrics = spark.createDataFrame(
                    [(it, k, v, None) for k, v in counts.items()],
                    schema=schemas.METRICS,
                )
                late = [
                    (results, "results", "append", meta),
                    (next_frontier, "frontier", "overwrite", meta),
                    (metrics, "metrics", "append", meta),
                ]
                futures += [pool.submit(catalog.write, *w) for w in late]
            for f in futures:
                f.result()  # surface any write error BEFORE the commit point

        if n_batch:
            lineage = (
                deduped.groupBy(F.spark_partition_id().alias("partition_id"))
                .agg(F.count("*").alias("rows_out"))
                .select(
                    F.lit(it).cast("int").alias("iter"),
                    F.col("partition_id").cast("int"),
                    F.lit("fetch").alias("stage"),
                    F.lit(n_batch).cast("long").alias("rows_in"),
                    F.col("rows_out").cast("long"),
                    F.lit(cfg.run_ts).alias("run_ts"),
                )
            )
        else:
            lineage = spark.createDataFrame(
                [(it, -1, "empty", 0, 0, cfg.run_ts)], schema=schemas.LINEAGE
            )
        catalog.write(lineage, "lineage", mode="append", meta=meta)  # COMMIT

        # post-commit maintenance: compaction rewrites only FINALIZED state
        # (its snapshot carries meta.iter = it, so crash-resume semantics
        # are unchanged — see SnapshotCatalog.compact)
        if cfg.compact_every and (it + 1) % cfg.compact_every == 0:
            catalog.compact(spark, "seen")
            catalog.compact(spark, "results")
        # retention: expire what this iteration's overwrites and compactions
        # superseded; resume starts at the newest lineage, so it never needs
        # them. A table this iteration left alone costs one manifest read
        # and loses only what a crash inside an earlier expiry left behind.
        for table in (sk.table, "robots", "politeness", "frontier", "seen", "results"):
            catalog.expire_snapshots(table)

        seen_count += n_batch
        summary.append({"iter": it, **counts})
        _unpersist(batch, pre_batch, deduped, gated, rebuilt)

    return {"start_iter": start_iter, "iterations": summary}
