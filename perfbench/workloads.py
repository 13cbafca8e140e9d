"""The benchmark's workloads: a closed loop with one client (this driver
process); each step starts only after the previous one committed.

Each workload warms up untimed (the crawl's cold iteration 0; for the
queries, one pass over them), measures whole units until ``--seconds``
have been measured, and checks every output. It returns a ``Result``: the
end-to-end figures from the untraced units and, for a traced run, the
per-layer figures of one more, traced unit.
"""

from __future__ import annotations

import math
import os
import shutil
import time
from dataclasses import dataclass, field

import numpy as np

import inputs
import spans
import stats

SKETCH_TTL = 2
# iteration 0 is the cold warm-up; iteration 1 is measured. It inserts
# its URLs into the sketch and deletes iteration 0's (ttl 2); the
# re-crawls of expired URLs would start at iteration 2, which a run
# cannot afford (see README)
CRAWL_ITERATIONS = 2

# the registry queries bench.py calls HEADLINE (copied so the benchmark
# does not import bench.py, which is to be retired)
HEADLINE = [
    "agg_pricing_summary",
    "agg_url_traffic",
    "window_ctr_volume",
    "window_host_dequeue",
    "filter_swiss_flags",
    "dedup_exact",
    "dedup_minhash_lsh_pairs",
    "dedup_embedding_pairs",
    "sim_topk_bruteforce",
    "sim_ann_suite",
    "text_token_counts",
    "text_lang_quality",
    "robots_parse",
    "corpus_curation",
    "image_phash_suite",
    "text_dup_decontam_suite",
    "text_normalize",
]

# the headline queries an untraced run measures: the nine that take under
# 2 s each warm, one or more from every operator module but scans,
# curation and multimodal. All 17 take ~40 s a pass, more than a run can
# spend; a traced run times all 17.
MEASURED_QUERIES = [
    "agg_pricing_summary",
    "agg_url_traffic",
    "window_ctr_volume",
    "filter_swiss_flags",
    "dedup_exact",
    "dedup_minhash_lsh_pairs",
    "sim_topk_bruteforce",
    "text_token_counts",
    "text_lang_quality",
]

CRAWL_TABLES = ["frontier", "seen", "results", "politeness", "metrics", "lineage", "cuckoo"]


@dataclass
class Result:
    setup_s: float
    step_latencies: list[float]  # measured steps, seconds
    units: int  # URLs fetched+deduped, or queries run, in measured steps
    attempted: int
    failed: int
    peak_rss_mb: float
    detail: dict = field(default_factory=dict)
    # traced run only: per-layer figures, the wall-clock windows (epoch s)
    # of the traced steps for the event log, and how many steps they hold
    layers: dict = field(default_factory=dict)
    trace_windows: list = field(default_factory=list)
    trace_steps: int = 1
    tracer: spans.Tracer | None = None


@dataclass
class Ctx:
    spark: object
    work: str
    seed: int
    seconds: float
    trace: bool
    session_s: float


def _timed_setups(ctx: Ctx, write, reps: int = 3) -> tuple[str, float]:
    """Generate the seeded inputs ``reps`` times into fresh directories;
    keep the last, return it with the median generation time."""
    times, out = [], None
    for r in range(reps):
        if out:
            shutil.rmtree(out, ignore_errors=True)
        out = os.path.join(ctx.work, f"inputs-{r}")
        t0 = time.perf_counter()
        write(ctx.seed, out)
        times.append(time.perf_counter() - t0)
    return out, stats.median(times)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# --- crawl_wide_ttl ----------------------------------------------------------


def _crawl_catalog(tracer: spans.Tracer):
    from nightcrawler_ds_pipeline_spark.crawl.tables import SnapshotCatalog

    class TimedCatalog(SnapshotCatalog):
        """Records when each iteration's lineage commit returns, and a span
        around every snapshot write."""

        def __init__(self, root: str):
            super().__init__(root)
            self.commits: list[tuple[float, float]] = []  # (perf, epoch)

        def write(self, df, table, *args, **kwargs):
            with tracer.span(f"crawl.tables.write.{table}"):
                out = super().write(df, table, *args, **kwargs)
            if table == "lineage":
                self.commits.append((time.perf_counter(), time.time()))
                tracer.end()
                tracer.begin("crawl.loop.iteration")
            return out

    return TimedCatalog


class Crawler:
    """Runs the workload's crawl on fresh catalogs and checks each one
    against the reference oracle."""

    def __init__(self, ctx: Ctx, fixture: str, tracer: spans.Tracer):
        self.ctx, self.fixture, self.tracer = ctx, fixture, tracer
        self.catalog_cls = _crawl_catalog(tracer)
        self.oracle = None
        self.runs = 0

    def run(self):
        """One crawl. Returns (catalog, iterations, error), each iteration
        with its latency (start, or the previous commit, to its lineage
        commit), wall-clock window and result count."""
        from nightcrawler_ds_pipeline_spark.crawl.loop import CrawlConfig, run_crawl

        cfg = CrawlConfig(
            iterations=CRAWL_ITERATIONS,
            sketch="cuckoo",
            ttl_iters=SKETCH_TTL,
            bloom_min_seen=0,
        )
        catalog = self.catalog_cls(os.path.join(self.ctx.work, f"crawl-{self.runs}"))
        self.runs += 1
        start = (time.perf_counter(), time.time())
        error = None
        summary = {"iterations": []}
        self.tracer.begin("crawl.loop.iteration")
        try:
            summary = run_crawl(self.ctx.spark, catalog, self.fixture, cfg)
        except Exception as exc:  # counted as failed steps
            error = repr(exc)
        finally:
            self.tracer.end()  # the tail after the last commit; not an iteration
        bounds = [start, *catalog.commits]
        iters = [
            {
                "latency": bounds[i + 1][0] - bounds[i][0],
                "window": (bounds[i][1], bounds[i + 1][1]),
                "results": it["results"],
            }
            for i, it in enumerate(summary["iterations"])
        ]
        return catalog, iters, error

    def failed(self, catalog, iters, error) -> int:
        """Failed iterations: missing after a raise, or whose crawl order
        differs from the oracle's; the seen set is checked with the last."""
        if self.oracle is None:
            self.oracle = _crawl_oracle(self.ctx.spark, self.fixture)
        spark = self.ctx.spark
        got: dict[int, list] = {}
        results = catalog.read(spark, "results")
        if results is not None:
            for r in results.select("iter", "seq", "url_hash").collect():
                got.setdefault(r["iter"], []).append((r["iter"], r["seq"], r["url_hash"]))
        want: dict[int, list] = {}
        for row in self.oracle.crawl_order:
            want.setdefault(row[0], []).append(row)
        bad = sum(
            sorted(got.get(i, [])) != sorted(want.get(i, [])) for i in range(len(iters))
        )
        seen = catalog.read(spark, "seen")
        seen_keys = {r[0] for r in seen.select("url_hash").collect()} if seen else set()
        if seen_keys != self.oracle.seen and bad < len(iters):
            bad += 1
        return bad + (CRAWL_ITERATIONS - len(iters) if error else 0)


def _crawl_oracle(spark, fixture):
    from pyspark.sql import functions as F

    from nightcrawler_ds_pipeline_spark.crawl.reference_crawl_oracle import (
        run_crawl_oracle,
    )
    from nightcrawler_ds_pipeline_spark.functions.urls import canonicalize

    import pyarrow.parquet as pq

    def rows(name):
        return pq.read_table(os.path.join(fixture, f"{name}.parquet")).to_pylist()

    serp, robots = rows("serp_results"), rows("robots")
    responses = {r["url"]: r for r in rows("fetch_responses")}
    urls = [r["url"] for r in serp] + [
        u for r in responses.values() for u in (r.get("outlinks") or [])
    ]
    canon = sorted({canonicalize(u) for u in urls})
    # the oracle shares the engine's key function: Spark's xxhash64
    hashes = spark.createDataFrame([(c,) for c in canon], "cu string").select(
        "cu", F.xxhash64("cu").alias("h")
    )
    hmap = {r["cu"]: r["h"] for r in hashes.collect()}
    return run_crawl_oracle(
        serp, responses, robots, hmap,
        iterations=CRAWL_ITERATIONS, ttl_iters=SKETCH_TTL,
    )


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
    )


def _rate(iters: list[dict]) -> float:
    return stats.ratio_or_zero(
        sum(it["results"] for it in iters), sum(it["latency"] for it in iters)
    )


def crawl_wide_ttl(ctx: Ctx) -> Result:
    fixture, gen_s = _timed_setups(ctx, inputs.write_crawl_fixture)
    tracer = spans.Tracer()
    crawler = Crawler(ctx, fixture, tracer)

    measured: list[dict] = []
    warmup_s = 0.0
    attempted = failed = 0
    errors = []
    cpu0 = stats.tree_cpu_s()
    while not measured or sum(it["latency"] for it in measured) < ctx.seconds:
        catalog, iters, error = crawler.run()
        if crawler.runs == 1 and iters:
            warmup_s = iters[0]["latency"]
        measured += iters[1:]
        attempted += CRAWL_ITERATIONS
        failed += crawler.failed(catalog, iters, error)
        if error or len(iters) < CRAWL_ITERATIONS:
            errors.append(error or "a crawl committed fewer iterations than asked")
            break
    cpu_s = stats.tree_cpu_s() - cpu0
    peak = stats.tree_peak_rss_mb()
    latencies = [it["latency"] for it in measured]
    result = Result(
        setup_s=ctx.session_s + gen_s + warmup_s,
        step_latencies=latencies,
        units=sum(it["results"] for it in measured),
        attempted=attempted,
        failed=failed,
        peak_rss_mb=peak,
        detail={
            "crawls": crawler.runs,
            "crawl_cpu_s": cpu_s,
            "warmup_s": warmup_s,
            "gen_s": gen_s,
            "urls_per_s": _rate(measured),
            "iter_p50_s": stats.median(latencies) if latencies else None,
            "iter_latency_s": latencies,
            "iter_results": [it["results"] for it in measured],
            "errors": errors,
        },
    )
    if ctx.trace:
        result.layers = _trace_crawl(ctx, crawler, result)
    return result


def _trace_crawl(ctx: Ctx, crawler: Crawler, result: Result) -> dict:
    """Per-layer figures from iterations 1.. of one more crawl, traced. It
    runs after the measured crawl, so warmer: ``trace.overhead_frac`` reads
    low."""
    tracer = crawler.tracer
    tracer.enabled = True
    with spans.traced_actions(tracer):
        catalog, iters, error = crawler.run()
    tracer.enabled = False
    result.attempted += CRAWL_ITERATIONS
    result.failed += crawler.failed(catalog, iters, error)
    steady = iters[1:]
    k = max(len(steady), 1)
    iter_spans = tracer.named("crawl.loop.iteration")[1 : len(iters)]
    iter_ids = {s.id for s in iter_spans}
    self_t = spans.self_times(tracer.spans)

    def per_iter(prefix: str) -> float:
        return sum(s.dur for s in tracer.named(prefix) if s.parent in iter_ids) / k

    layers = {
        "crawl.politeness.dequeue_s": per_iter("crawl.politeness.dequeue"),
        "crawl.fetch.fetch_dedup_s": per_iter("crawl.fetch.fetch_dedup"),
        "crawl.loop.other_s": sum(self_t[i] for i in iter_ids) / k,
        "crawl.tables.state_bytes": _dir_bytes(catalog.root),
        "trace.overhead_frac": 1.0 - stats.ratio_or_zero(
            _rate(steady), result.detail["urls_per_s"]
        ),
    }
    for t in CRAWL_TABLES:
        layers[f"crawl.tables.write_s.{t}"] = per_iter(f"crawl.tables.write.{t}")
    # first snapshot write of the iteration to its lineage commit
    paths = []
    for it_span in iter_spans:
        writes = [s for s in tracer.named("crawl.tables.write.") if s.parent == it_span.id]
        if writes:
            paths.append(max(s.end for s in writes) - min(s.start for s in writes))
    layers["crawl.tables.commit_path_s"] = sum(paths) / k
    layers.update(_seen_probe(ctx, crawler.fixture, catalog, len(iters) - 1, tracer))
    result.trace_windows = [it["window"] for it in steady]
    result.trace_steps = k
    result.tracer = tracer
    return layers


def _seen_probe(ctx, fixture, catalog, last_iter, tracer) -> dict:
    """Time the layers' public functions on the traced crawl's final state:
    the cuckoo probe of every URL the fixture can reach against the active
    seen set, one sketch update, image decode, URL canonicalization."""
    from pyspark.sql import functions as F

    from nightcrawler_ds_pipeline_spark.crawl.seen import (
        DEFAULT_NUM_PARTITIONS,
        cuckoo_suspect_keys,
        update_cuckoo_tables,
    )
    from nightcrawler_ds_pipeline_spark.functions.image_udfs import decode_images
    from nightcrawler_ds_pipeline_spark.functions.urls import with_canonical

    spark = ctx.spark
    serp = spark.read.parquet(f"{fixture}/serp_results.parquet").select("url")
    outl = spark.read.parquet(f"{fixture}/fetch_responses.parquet").select(
        F.explode("outlinks").alias("url")
    )
    urls = serp.unionByName(outl).cache()
    urls.count()
    out = {}

    def timed(name, fn):
        tracer.enabled = True
        with tracer.span(name):
            value = fn()
        tracer.enabled = False
        out[name + "_s"] = tracer.spans[-1].dur
        return value

    timed("functions.urls.canonicalize", lambda: _noop(with_canonical(urls, "url")))
    cands = with_canonical(urls, "url").select("url_hash").distinct().cache()
    n_cands = cands.count()
    seen = catalog.read(spark, "seen")
    active = seen.filter(F.col("seen_iter") > last_iter + 1 - SKETCH_TTL)
    sketch = catalog.read(spark, "cuckoo").cache()
    sketch.count()
    suspects = cuckoo_suspect_keys(
        cands, sketch, num_partitions=DEFAULT_NUM_PARTITIONS
    ).cache()
    n_susp = timed("crawl.seen.probe", suspects.count)
    confirmed = suspects.join(active.select("url_hash"), "url_hash", "left_semi").count()
    newest = seen.filter(F.col("seen_iter") == last_iter)
    timed(
        "crawl.seen.update",
        lambda: _noop(
            update_cuckoo_tables(
                sketch, newest, newest, num_partitions=DEFAULT_NUM_PARTITIONS
            )
        ),
    )
    images = spark.read.parquet(f"{fixture}/images.parquet").cache()
    n_img = images.count()
    timed("functions.image_udfs.decode", lambda: _noop(decode_images(images)))
    for df in (urls, cands, sketch, suspects, images):
        df.unpersist()
    out.update(
        {
            "crawl.seen.candidates": n_cands,
            "crawl.seen.suspects": n_susp,
            "crawl.seen.confirmed_seen": confirmed,
            "crawl.seen.fp_rate": stats.ratio_or_zero(
                n_susp - confirmed, n_cands - confirmed
            ),
            "functions.image_udfs.images_per_s": stats.ratio_or_zero(
                n_img, out["functions.image_udfs.decode_s"]
            ),
        }
    )
    return out


# --- headline_queries --------------------------------------------------------


def _coarse(v):
    # sort key only: sums of doubles differ in their last bits between
    # Spark and DuckDB, so rows are ordered by 6 significant digits and
    # then compared with a relative tolerance
    return f"{v:.6g}" if isinstance(v, float) else str(v)


def _same(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        if a != a or b != b:  # NaN
            return a != a and b != b
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    return a == b


def _rows_match(rows: list[dict], cols: list[str], other: list[dict], other_cols) -> bool:
    """Column names, row count, and rows compared order-insensitively
    (columns by name, floats to a relative 1e-9)."""
    if sorted(cols) != sorted(other_cols) or len(rows) != len(other):
        return False
    names = sorted(cols)

    def ordered(rs):
        tuples = [tuple(r[c] for c in names) for r in rs]
        return sorted(tuples, key=lambda t: tuple(_coarse(x) for x in t))

    return all(
        _same(a, b)
        for ra, rb in zip(ordered(rows), ordered(other))
        for a, b in zip(ra, rb)
    )


def _check_query(con, oracle: dict, name: str, rows, cols) -> bool:
    if name not in oracle:
        return len(rows) > 0  # rows-only query (no DuckDB oracle exists)
    res = con.sql(oracle[name])
    duck = [dict(zip(res.columns, r)) for r in res.fetchall()]
    return _rows_match([r.asDict() for r in rows], cols, duck, res.columns)


def _query_module(fn) -> str:
    return fn.__module__.rsplit(".", 1)[-1]


def _query_pass(ctx, queries, order, tables, tracer=None) -> list[tuple]:
    """One pass in ``order``: (name, latency or None if it raised, rows,
    columns or the error) per query."""
    out = []
    for name in order:
        fn = queries[name]
        t0 = time.perf_counter()
        try:
            if tracer is None:
                df = fn(ctx.spark, tables)
                rows = df.collect()
            else:
                with tracer.span(f"operators.{_query_module(fn)}.{name}"):
                    df = fn(ctx.spark, tables)
                    rows = df.collect()
        except Exception as exc:  # a raised query is a failed step
            out.append((name, None, None, repr(exc)))
            continue
        out.append((name, time.perf_counter() - t0, rows, df.columns))
    return out


def _check_passes(tables: str, oracle: dict, passes: list[list[tuple]]) -> tuple[int, list]:
    """Failed steps over all passes, and the queries whose output differs
    from the oracle's. Each query's first output is checked (the tables do
    not change during a run); its verdict holds for every pass."""
    import duckdb

    con = duckdb.connect()
    for t in inputs.QUERY_TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{tables}/{t}.parquet'")
    checked: dict[str, bool] = {}
    for name, lat, rows, cols in (r for p in passes for r in p):
        if lat is not None and name not in checked:
            checked[name] = _check_query(con, oracle, name, rows, cols)
    con.close()
    failed = sum(
        lat is None or not checked[name] for p in passes for name, lat, _, _ in p
    )
    return failed, [n for n, ok in checked.items() if not ok]


def headline_queries(ctx: Ctx) -> Result:
    fixtures_root = os.environ["SPARK_GRAFT_FIXTURES"]

    def write(seed, out):
        inputs.write_image_fixture(seed, fixtures_root)
        inputs.write_query_tables(seed, out)

    tables, gen_s = _timed_setups(ctx, write)
    from nightcrawler_ds_pipeline_spark.registry import build_oracle_sql, build_queries

    queries, oracle = build_queries(), build_oracle_sql()
    rng = np.random.default_rng(ctx.seed)
    order = list(MEASURED_QUERIES)
    rng.shuffle(order)
    traced_order = list(HEADLINE)
    rng.shuffle(traced_order)

    # warm-up: one untimed pass starts the Python workers and compiles the
    # queries' code paths; a traced run warms every query it traces
    t0 = time.perf_counter()
    warm = _query_pass(ctx, queries, traced_order if ctx.trace else order, tables)
    warmup_s = time.perf_counter() - t0

    runs: list[tuple] = []
    while not runs or sum(r[1] or 0.0 for r in runs) < ctx.seconds:
        one = _query_pass(ctx, queries, order, tables)
        runs += one
        if any(r[1] is None for r in one):
            break
    peak = stats.tree_peak_rss_mb()
    latencies = [lat for _, lat, _, _ in runs if lat is not None]
    per_query: dict[str, list[float]] = {}
    for name, lat, _, _ in runs:
        if lat is not None:
            per_query.setdefault(name, []).append(lat)
    medians = [stats.median(v) for v in per_query.values()]
    result = Result(
        setup_s=ctx.session_s + gen_s + warmup_s,
        step_latencies=latencies,
        units=len(latencies),
        attempted=0,
        failed=0,
        peak_rss_mb=peak,
        detail={
            "passes": len(runs) // len(order),
            "order": order,
            "warmup_s": warmup_s,
            "gen_s": gen_s,
            "queries_total_s": sum(medians),
            "queries_geomean_s": stats.geomean(medians) if medians else None,
            "query_s": {n: stats.median(v) for n, v in per_query.items()},
        },
    )
    passes = [warm, runs]
    if ctx.trace:
        traced = _trace_queries(ctx, queries, traced_order, tables, result)
        passes.append(traced)
    result.attempted = sum(len(p) for p in passes)
    result.failed, result.detail["mismatched"] = _check_passes(tables, oracle, passes)
    result.detail["errors"] = {
        name: cols for p in passes for name, lat, _, cols in p if lat is None
    }
    return result


def _trace_queries(ctx, queries, order, tables, result: Result) -> list[tuple]:
    """Per-query spans from one more pass over all the headline queries,
    traced; returns the pass. ``trace.overhead_frac`` compares the
    measured queries in it with the measured pass, which ran less warm, so
    it reads low."""
    tracer = spans.Tracer()
    tracer.enabled = True
    start = time.time()
    traced = _query_pass(ctx, queries, order, tables, tracer)
    result.trace_windows = [(start, time.time())]
    tracer.enabled = False
    layers = {f"{s.name}_s": s.dur for s in tracer.spans}
    done = [lat for name, lat, _, _ in traced if lat is not None and name in MEASURED_QUERIES]
    layers["trace.overhead_frac"] = 1.0 - stats.ratio_or_zero(
        stats.ratio_or_zero(len(done), sum(done)),
        stats.ratio_or_zero(result.units, sum(result.step_latencies)),
    )
    result.layers = layers
    result.trace_steps = len(order)
    result.tracer = tracer
    return traced


WORKLOADS = {
    "crawl_wide_ttl": crawl_wide_ttl,
    "headline_queries": headline_queries,
}
