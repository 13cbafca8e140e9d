"""Per-host politeness scheduler: robots gate + token-bucket priority dequeue.

north_rule: "per-host politeness scheduler (robots.txt cache + crawl-delay
token buckets) expressed as a salted groupBy-host priority queue". Reference
analogue: the strictly sequential one-URL-at-a-time fetch loop
(s04_zyte.py:74-91 with ``use_concurrency: false``) — the engine's explicit
per-host budget generalizes that to a cluster.

Mechanics:
- robots gate: broadcast join frontier ⋈ robots on host; drop URLs whose
  path starts with any disallow prefix (JVM-side ``exists``/``startswith``).
- budget: floor(available / crawl_delay_ms) clamped to [0, max_per_host],
  delay ≤ 0 → max_per_host, from the accrued token level
  (`token_bucket_cols`, the one definition of the bucket arithmetic).
- dequeue (`dequeue_gated`, over the `robots_filter` output): top-budget
  URLs per host by (priority desc, url_hash asc) — a deterministic total
  order (SURVEY.md §7 hard-point a). Implemented as TWO-PHASE top-K so one
  hot host can't serialize a shuffle partition (hard-point b): phase 1
  ranks within (host, salt) buckets and keeps at most `budget` per bucket;
  phase 2 re-ranks the ≤ budget×num_salts survivors per host. Budgets are
  computed on the TRUE host before salting, so splitting never inflates a
  host's allowance.
- crawl order (`assign_global_seq`): the dequeued batch numbered 1..n in
  the same total order, given the batch's count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

DEFAULT_WINDOW_MS = 60_000
DEFAULT_MAX_PER_HOST = 100
DEFAULT_NUM_SALTS = 8
DEFAULT_CRAWL_DELAY_MS = 1000
# assign_global_seq: batches up to this many rows are numbered in one range
# partition; larger ones in RANGE_PARTITIONS
SINGLE_WINDOW_MAX = 100_000
RANGE_PARTITIONS = 256


def robots_filter(frontier: DataFrame, robots: DataFrame) -> DataFrame:
    """Drop URLs disallowed by robots; attach crawl_delay_ms (default for
    unknown hosts). Robots is small (one row per host) → broadcast join."""
    r = robots.select("host", "crawl_delay_ms", "disallow_prefixes")
    joined = frontier.join(F.broadcast(r), "host", "left")
    path = F.coalesce(F.parse_url(F.col("canonical_url"), F.lit("PATH")), F.lit("/"))
    disallowed = F.exists(
        F.coalesce(F.col("disallow_prefixes"), F.array()),
        lambda p: path.startswith(p),
    )
    return (
        joined.filter(~disallowed)
        .withColumn(
            "crawl_delay_ms",
            F.coalesce(F.col("crawl_delay_ms"), F.lit(DEFAULT_CRAWL_DELAY_MS)),
        )
        .drop("disallow_prefixes")
    )


def token_bucket_cols(tokens_ms, window_ms: int, max_per_host: int = DEFAULT_MAX_PER_HOST):
    """The token-bucket arithmetic as (available, budget) Columns over a
    ``crawl_delay_ms`` column — the Column twin of the scalar
    ``streaming.politeness_stream.compute_budget``.

    available = min(2·window, tokens + window): unspent time rolls over,
    capped at two windows (null tokens = a host with no stored level).
    budget = floor(available / crawl_delay_ms) clamped to [0, max_per_host];
    delay ≤ 0 → max_per_host. The clamp floor is 0 (not 1): a host with
    crawl_delay_ms > available gets no fetch this window and accrues tokens
    instead — matching the parity oracle exactly."""
    available = F.least(
        F.lit(2 * window_ms), F.coalesce(tokens_ms, F.lit(0)) + F.lit(window_ms)
    )
    raw = F.when(F.col("crawl_delay_ms") <= 0, F.lit(max_per_host)).otherwise(
        F.floor(available / F.col("crawl_delay_ms"))
    )
    budget = F.greatest(F.lit(0), F.least(F.lit(max_per_host), raw)).cast("int")
    return available, budget


def dequeue_gated(
    gated: DataFrame,
    window_ms: int = DEFAULT_WINDOW_MS,
    max_per_host: int = DEFAULT_MAX_PER_HOST,
    num_salts: int = DEFAULT_NUM_SALTS,
    bucket_state: DataFrame | None = None,
) -> DataFrame:
    """Politeness-budgeted deterministic dequeue of the next fetch batch,
    over an already robots-gated frontier (`robots_filter`; callers that
    need the gated set for other purposes — remaining-frontier rewrite,
    bucket accounting — compute it once and pass it here).

    Output = frontier columns + crawl_delay_ms, host_budget; number it with
    `assign_global_seq` once its count is known.

    With ``bucket_state`` (host, tokens_ms — persisted between iterations),
    budgets come from the accrued token level: available = min(cap,
    tokens + window); budget = floor(available / delay). Unspent time rolls
    over (capped at 2 windows), so a slow host skipped this iteration can
    catch up next — a real token bucket, not a per-iteration allowance.
    """
    if bucket_state is not None:
        state = bucket_state.select("host", "tokens_ms")
        gated = gated.join(F.broadcast(state), "host", "left")
    else:
        # no stored levels: null tokens = a host's first window
        gated = gated.withColumn("tokens_ms", F.lit(None).cast("long"))
    _, budget = token_bucket_cols(F.col("tokens_ms"), window_ms, max_per_host)
    gated = gated.withColumn("host_budget", budget).drop("tokens_ms")

    # phase 1: per-(host, salt) top-budget — spreads hot hosts across tasks
    salted = gated.withColumn(
        "__salt", F.pmod(F.col("url_hash"), F.lit(num_salts)).cast("int")
    )
    w1 = Window.partitionBy("host", "__salt").orderBy(
        F.col("priority").desc(), F.col("url_hash").asc()
    )
    survivors = (
        salted.withColumn("__r1", F.row_number().over(w1))
        .filter(F.col("__r1") <= F.col("host_budget"))
        .drop("__r1", "__salt")
    )

    # phase 2: exact per-host top-budget over the pruned survivors
    w2 = Window.partitionBy("host").orderBy(
        F.col("priority").desc(), F.col("url_hash").asc()
    )
    return (
        survivors.withColumn("__r2", F.row_number().over(w2))
        .filter(F.col("__r2") <= F.col("host_budget"))
        .drop("__r2")
    )


def assign_global_seq(
    batch: DataFrame,
    count: int,
    single_window_threshold: int = SINGLE_WINDOW_MAX,
) -> DataFrame:
    """Global dense 1..n ``seq`` by (priority desc, url_hash asc).

    One mechanism at every size — repartitionByRange on the total order,
    number rows within each sorted partition, then add per-partition offsets
    (a classic zipWithIndex): no single-task stage ever sees the whole batch
    and no plan node is an UNPARTITIONED window (the WindowExec "No
    Partition Defined" scale hazard). Batches of at most
    ``single_window_threshold`` rows use ONE range partition — same
    execution shape as a global sort, but the per-partition window still
    carries a defined partition spec; larger ones use RANGE_PARTITIONS. seq is a
    pure function of the data: range boundaries only decide which partition
    a row lands in, and offsets are computed from the partitions actually
    produced, so the numbering equals the global rank in the total order
    regardless of sampling (url_hash is unique within a batch — total
    order, no boundary ties).

    ``count`` is the caller's row count of ``batch`` (the crawl loop counts
    its cached dequeue anyway): no eager count here, which would recompute
    the dequeue windows before the caller can cache."""
    order = [F.col("priority").desc(), F.col("url_hash").asc()]
    num_range_partitions = 1 if count <= single_window_threshold else RANGE_PARTITIONS
    ranged = (
        batch.repartitionByRange(num_range_partitions, *order)
        .sortWithinPartitions(*order)
        .withColumn("__pid", F.spark_partition_id())
    )
    w_part = Window.partitionBy("__pid").orderBy(*order)
    with_local = ranged.withColumn(
        "__local", F.row_number().over(w_part).cast("long")
    )
    if num_range_partitions == 1:
        # single range partition ⇒ every offset is 0: the counts/offsets
        # self-join below would add two shuffle stages per call for a
        # constant — seq is just the partition-local rank (the window above
        # keeps its defined partition spec; r6 crawl-loop latency cut)
        return with_local.withColumn("seq", F.col("__local")).drop(
            "__pid", "__local"
        )
    # offsets: cumulative count of lower-pid partitions, via a ≤P×P self-join
    # on the ≤P-row counts frame (P = RANGE_PARTITIONS) — windowless by design
    counts = with_local.groupBy("__pid").agg(F.count("*").alias("__cnt"))
    lower = counts.select(
        F.col("__pid").alias("__lo_pid"), F.col("__cnt").alias("__lo_cnt")
    )
    offsets = (
        counts.join(lower, F.col("__lo_pid") < F.col("__pid"), "left")
        .groupBy("__pid")
        .agg(F.coalesce(F.sum("__lo_cnt"), F.lit(0)).alias("__offset"))
    )
    return (
        with_local.join(F.broadcast(offsets), "__pid")
        .withColumn("seq", (F.col("__offset") + F.col("__local")).cast("long"))
        .drop("__pid", "__local", "__offset")
    )


def next_bucket_state(
    gated_hosts: DataFrame,
    batch: DataFrame,
    bucket_state: DataFrame | None,
    window_ms: int = DEFAULT_WINDOW_MS,
) -> DataFrame:
    """Token accounting after a dequeue: for every host present this
    iteration, new tokens = min(cap, old + window) − dequeued × delay.

    ``gated_hosts`` = (host, crawl_delay_ms) distinct, from the robots-gated
    candidates; hosts not seen this iteration keep their stored level (they
    re-enter via the left join next time they appear)."""
    spent = batch.groupBy("host").agg(F.count("*").alias("n_dequeued"))
    hosts = gated_hosts.select("host", "crawl_delay_ms").distinct()
    if bucket_state is not None:
        hosts = hosts.join(bucket_state.select("host", "tokens_ms"), "host", "left")
    else:
        hosts = hosts.withColumn("tokens_ms", F.lit(None).cast("long"))
    available, _ = token_bucket_cols(F.col("tokens_ms"), window_ms)
    new_state = (
        hosts.join(spent, "host", "left")
        .withColumn(
            "tokens_ms",
            (
                available
                - F.coalesce(F.col("n_dequeued"), F.lit(0))
                * F.greatest(F.col("crawl_delay_ms"), F.lit(0))
            ).cast("long"),
        )
        .select("host", "tokens_ms")
    )
    if bucket_state is not None:
        # carry forward hosts absent from this iteration's frontier
        absent = bucket_state.select("host", "tokens_ms").join(
            new_state.select("host"), "host", "left_anti"
        )
        new_state = new_state.unionByName(absent)
    return new_state


def refresh_robots(
    cached: DataFrame | None,
    source: DataFrame,
    current_iter: int,
    max_age_iters: int,
) -> DataFrame:
    """robots.txt cache TTL maintenance (north_rule "robots.txt cache"):
    entries fetched within ``max_age_iters`` iterations are served from
    cache; stale or missing hosts are re-fetched from ``source`` (the
    network stand-in — in production, a fetch of /robots.txt) and stamped
    ``fetched_at_iter = current_iter``. A host absent from the source is
    evicted when its cache entry EXPIRES (fresh entries serve until then —
    standard serve-until-expiry cache semantics). One left-anti join on host — the robots table is one row per
    host, far below broadcast range at any realistic host count.

    Reference analogue: the per-API response-cache TTLs
    (helpers/api/serp_api.py:44, zyte_api.py:28-32) applied to the robots
    fetch instead of the page fetch."""
    cols = ["host", "crawl_delay_ms", "disallow_prefixes", "fetched_at_iter"]
    stamped = source.select(
        "host",
        "crawl_delay_ms",
        "disallow_prefixes",
        F.lit(current_iter).cast("int").alias("fetched_at_iter"),
    )
    if cached is None:
        return stamped
    fresh = cached.select(*cols).filter(
        F.col("fetched_at_iter") > current_iter - max_age_iters
    )
    refetched = stamped.join(fresh.select("host"), "host", "left_anti")
    return fresh.unionByName(refetched)
