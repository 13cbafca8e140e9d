#!/usr/bin/env python
"""spark-submit entry point for the crawl loop (north_rule: "run via
spark-submit --py-files on a multi-executor cluster").

Local sandbox:
    spark-submit --master 'local[32]' \
        --py-files <(cd /root/repo && zip -r - nightcrawler_ds_pipeline_spark) \
        jobs/run_crawl_job.py --fixtures /tmp/ncds_fixtures/t2 \
        --catalog /tmp/crawl_state --iterations 3

Cluster: same invocation with --master spark://... / yarn / k8s; the state
catalog root moves to a shared filesystem. Run one writer process per
catalog root: the catalog's commit lock is in-process only. Resume is
automatic: re-running with the same --catalog continues after the last
lineage-committed iteration. Superseded state is reclaimed after each
commit, so the catalog holds one copy of each overwrite table. Every
flag's default is the matching ``CrawlConfig`` field.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    from nightcrawler_ds_pipeline_spark.crawl.loop import CrawlConfig, run_crawl

    d = CrawlConfig()
    ap = argparse.ArgumentParser(description="nightcrawler-ds-pipeline-spark crawl")
    ap.add_argument("--fixtures", required=False, default=None,
                    help="fixture dir (serp/fetch/robots/images parquet); "
                         "default: generate tier t2 under /tmp")
    ap.add_argument("--catalog", required=True, help="state catalog root dir")
    ap.add_argument("--iterations", type=int, default=d.iterations)
    ap.add_argument("--window-ms", type=int, default=d.window_ms)
    ap.add_argument("--max-per-host", type=int, default=d.max_per_host)
    ap.add_argument("--num-salts", type=int, default=d.num_salts)
    ap.add_argument("--run-ts", default=d.run_ts,
                    help="injected run timestamp (never wall-clock)")
    ap.add_argument("--sketch", choices=("bloom", "cuckoo"), default=d.sketch,
                    help="seen-set pre-pass sketch; cuckoo prunes TTL "
                         "expiries (deletion-capable)")
    ap.add_argument("--bloom-min-seen", type=int, default=d.bloom_min_seen,
                    help="skip sketch maintenance below this seen-set size "
                         "(exact anti-join decides either way)")
    ap.add_argument("--ttl-iters", type=int, default=d.ttl_iters,
                    help="seen entries older than this many iterations stop "
                         "suppressing re-fetch (reference cache_duration)")
    ap.add_argument("--compact-every", type=int, default=d.compact_every,
                    help="compact append-mode state tables every k iterations")
    ap.add_argument("--robots-max-age", type=int, default=d.robots_max_age_iters,
                    help="robots.txt cache TTL in iterations (stale entries "
                         "re-fetch from the source; default: always fresh)")
    args = ap.parse_args()

    from nightcrawler_ds_pipeline_spark.crawl.tables import SnapshotCatalog
    from nightcrawler_ds_pipeline_spark.session import get_spark

    fixtures = args.fixtures
    if fixtures is None:
        from nightcrawler_ds_pipeline_spark.fixtures import write_fixture_parquet

        fixtures = write_fixture_parquet("t2")

    # this job scans the 20 KB-binary images table and may run under a
    # small spark-submit heap: cap the vectorized reader batch (512 rows ×
    # 20 KB ≈ 10 MB/task) unless the operator overrides it
    os.environ.setdefault("SPARK_GRAFT_COLUMNAR_BATCH", "512")
    spark = get_spark(app_name="ncds-crawl-job")
    catalog = SnapshotCatalog(args.catalog)
    cfg = CrawlConfig(
        iterations=args.iterations,
        window_ms=args.window_ms,
        max_per_host=args.max_per_host,
        num_salts=args.num_salts,
        run_ts=args.run_ts,
        sketch=args.sketch,
        bloom_min_seen=args.bloom_min_seen,
        ttl_iters=args.ttl_iters,
        compact_every=args.compact_every,
        robots_max_age_iters=args.robots_max_age,
    )
    summary = run_crawl(spark, catalog, fixtures, cfg)
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
