#!/usr/bin/env python
"""spark-submit entry point for the STREAMING frontier: discovery URLs →
watermark-bounded seen filter → per-host token-bucket politeness →
exactly-once catalog commits (north_rule front half as one continuous
query; see streaming/frontier.py and SCALE.md §4c for state sizing).

Local sandbox:
    spark-submit --master 'local[4]' \
        --py-files <(zip -r - nightcrawler_ds_pipeline_spark) \
        jobs/run_stream_frontier_job.py --source /tmp/disc_in \
        --sink /tmp/frontier_cat --checkpoint /tmp/frontier_ckpt

Drop parquet files with schema (url string, event_ts timestamp_ntz,
priority double, crawl_delay_ms long) into --source; each invocation
drains everything available (availableNow) and exits — re-invoke with the
same dirs to resume every state piece exactly-once (seen keys, token
levels, pending queues, committed micro-batches). The query needs a
worker-side google.protobuf (compat.py) and fails loudly without one.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser(
        description="nightcrawler-ds-pipeline-spark streaming frontier"
    )
    ap.add_argument("--source", required=True,
                    help="watched dir of discovery parquet files")
    ap.add_argument("--sink", required=True,
                    help="SnapshotCatalog root; dequeued rows commit to "
                         "table 'dequeued'")
    ap.add_argument("--checkpoint", required=True,
                    help="checkpoint dir of the one query (RocksDB state)")
    ap.add_argument("--seen-horizon", default="1 hour",
                    help="watermark delay bounding seen-state (re-admission "
                         "after this horizon)")
    ap.add_argument("--window-ms", type=int, default=None,
                    help="politeness window per micro-batch")
    ap.add_argument("--max-per-host", type=int, default=None,
                    help="hard per-host dequeue cap")
    ap.add_argument("--delay-lookup", default=None,
                    help="static parquet (host, crawl_delay_ms) — the "
                         "engine-owned robots crawl-delay cache, broadcast-"
                         "joined per micro-batch; wins over feed delays")
    ap.add_argument("--max-pending-per-host", type=int, default=None,
                    help="carry-over pending-queue cap per host; evictions "
                         "commit to the 'overflow' table (re-discovery), "
                         "never to 'dequeued'")
    ap.add_argument("--carry-over", action="store_true",
                    help="keep budget-clipped rows in per-host state so "
                         "they compete in later drains (batch-loop "
                         "rows-stay-in-frontier semantics)")
    args = ap.parse_args()

    from nightcrawler_ds_pipeline_spark.crawl.tables import SnapshotCatalog
    from nightcrawler_ds_pipeline_spark.session import get_spark
    from nightcrawler_ds_pipeline_spark.streaming import run_streaming_frontier

    spark = get_spark(app_name="ncds-stream-frontier-job")
    delay_lookup = (
        spark.read.parquet(args.delay_lookup) if args.delay_lookup else None
    )
    counts = run_streaming_frontier(
        spark,
        args.source,
        SnapshotCatalog(args.sink),
        args.checkpoint,
        delay=args.seen_horizon,
        window_ms=args.window_ms,
        max_per_host=args.max_per_host,
        carry_over=args.carry_over,
        max_pending_per_host=args.max_pending_per_host,
        delay_lookup=delay_lookup,
    )
    print(json.dumps({**counts, "sink": args.sink}))


if __name__ == "__main__":
    main()
