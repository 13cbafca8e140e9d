"""Structured Streaming: the windowed agg over the events stream must agree
with its batch twin (SURVEY §2.10 — the engine is batch-first; this pins the
streaming analogue)."""

import pyspark.sql.functions as F

SF_DIR = "/root/testdata/sf0.001"


def test_stream_window_agg_matches_batch(spark, tmp_path):
    batch = spark.read.parquet(f"{SF_DIR}/events.parquet")
    schema = batch.schema

    # stream source dir must contain only the events table
    import shutil

    src = tmp_path / "stream_src"
    src.mkdir()
    shutil.copy(f"{SF_DIR}/events.parquet", src / "events.parquet")
    stream = (
        spark.readStream.schema(schema)
        .parquet(str(src))
        # parquet stores TIMESTAMP_NTZ; watermarks need TIMESTAMP (with tz)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "5 minutes"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))
    )
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("stream_out")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    streamed = {
        (r["window"]["start"], r["event_type"]): (r["n"], r["sum_value"])
        for r in spark.sql("SELECT * FROM stream_out").collect()
    }
    batched = {
        (r["window"]["start"], r["event_type"]): (r["n"], r["sum_value"])
        for r in (
            batch.groupBy(F.window("ts", "5 minutes"), "event_type")
            .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))
            .collect()
        )
    }
    assert streamed == batched
    assert len(streamed) > 0


def test_stream_seen_dedup_across_microbatches(spark, tmp_path):
    """Streaming twin of the URL-seen set (S13): dropDuplicates on
    url_hash holds the seen keys as streaming state, so a URL that
    re-arrives in a later micro-batch is suppressed — the readStream form
    of the loop's anti-join."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    src = tmp_path / "dedup_src"
    src.mkdir()
    stream = spark.readStream.schema("url_hash long, iter int").parquet(str(src))
    out = stream.dropDuplicates(["url_hash"])
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("seen_out")
        .option("checkpointLocation", str(tmp_path / "dedup_ckpt"))
        .start()
    )
    try:
        # batch 0: hashes 0..99; batch 1: 50..149 (50 re-arrivals)
        for it, lo in enumerate((0, 50)):
            pdf = pd.DataFrame(
                {"url_hash": range(lo, lo + 100), "iter": [it] * 100}
            )
            pdf["iter"] = pdf["iter"].astype("int32")
            pq.write_table(
                pa.Table.from_pandas(pdf, preserve_index=False),
                str(src / f"b{it}.parquet"),
            )
            q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.sql("SELECT * FROM seen_out").collect()
    assert len(rows) == 150  # 100 + only the 50 genuinely-new
    by_iter = {}
    for r in rows:
        by_iter.setdefault(r["iter"], set()).add(r["url_hash"])
    assert by_iter[0] == set(range(0, 100))
    assert by_iter[1] == set(range(100, 150))  # re-arrivals suppressed


def test_stream_watermark_drops_too_late_events(spark, tmp_path):
    """Watermark semantics exercised, not just configured: an event arriving
    OLDER than the current watermark must be dropped from the windowed agg
    (append mode), while on-time events count — the eviction contract that
    bounds streaming state at corpus scale."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    src = tmp_path / "late_src"
    src.mkdir()

    def write_batch(name, ts_list):
        # microsecond precision: pyarrow's default ns TIMESTAMP(NANOS) is
        # unreadable as Spark timestamp_ntz
        tbl = pa.table(
            {
                "ts": pa.array(pd.to_datetime(ts_list), type=pa.timestamp("us")),
                "k": pa.array(["e"] * len(ts_list)),
            }
        )
        pq.write_table(tbl, src / name)

    stream = (
        spark.readStream.schema("ts timestamp_ntz, k string")
        .parquet(str(src))
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "5 minutes"))
        .agg(F.count("*").alias("n"))
    )
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("late_out")
        .option("checkpointLocation", str(tmp_path / "late_ckpt"))
        .start()
    )
    try:
        # batch 1: two on-time events in the 10:00 window; a 10:21 event
        # advances the watermark to 10:11 once the batch commits
        write_batch("b1.parquet", ["2024-01-01 10:00", "2024-01-01 10:02",
                                   "2024-01-01 10:21"])
        q.processAllAvailable()
        # batch 2: 10:01 arrives BEHIND the 10:11 watermark -> must be
        # dropped; 10:40 is on time and advances the watermark to 10:30
        write_batch("b2.parquet", ["2024-01-01 10:01", "2024-01-01 10:40"])
        q.processAllAvailable()
        # batch 3: flush — 11:30 pushes the watermark past every earlier
        # window end so the finalized windows all emit
        write_batch("b3.parquet", ["2024-01-01 11:30"])
        q.processAllAvailable()
    finally:
        q.stop()

    got = {
        str(r["window"]["start"])[11:16]: r["n"]
        for r in spark.sql("SELECT * FROM late_out").collect()
    }
    # the late 10:01 event did NOT land in the 10:00 window
    assert got.get("10:00") == 2, got
    assert got.get("10:20") == 1, got
    assert got.get("10:40") == 1, got
    # append mode emitted each finalized window exactly once
    assert len(got) == len(spark.sql("SELECT * FROM late_out").collect())


def test_streaming_seen_filter_watermark_bounded(spark, tmp_path):
    """streaming_seen_filter: canonicalize→xxhash64 seen key (the batch
    loop's key, functions/urls.py) under dropDuplicatesWithinWatermark —
    tracking-param variants suppressed within the horizon, state evicted
    by the event-time watermark so a re-arrival after the horizon
    re-admits (the streaming analogue of CrawlConfig.ttl_iters)."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from nightcrawler_ds_pipeline_spark.functions.urls import canonicalize
    from nightcrawler_ds_pipeline_spark.streaming import streaming_seen_filter

    src = tmp_path / "url_src"
    src.mkdir()

    def write_batch(name, rows):
        tbl = pa.table(
            {
                "url": pa.array([u for u, _ in rows]),
                "event_ts": pa.array(
                    pd.to_datetime([t for _, t in rows]), type=pa.timestamp("us")
                ),
            }
        )
        pq.write_table(tbl, src / name)

    stream = (
        spark.readStream.schema("url string, event_ts timestamp_ntz")
        .parquet(str(src))
        .withColumn("event_ts", F.col("event_ts").cast("timestamp"))
    )
    out = streaming_seen_filter(stream, delay="10 minutes")
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("seen_wm_out")
        .option("checkpointLocation", str(tmp_path / "seen_ckpt"))
        .start()
    )
    A = "https://shop.example/p/1?utm_source=x"
    A_variant = "https://shop.example/p/1?utm_source=other"  # same canonical
    B = "https://other.example/q"
    C = "https://late.example/r"
    try:
        # batch 1: A + its tracking-param variant (one keeper), B, and C
        # at 10:30 which advances the watermark to 10:20 for batch 2
        write_batch(
            "b1.parquet",
            [
                (A, "2024-01-01 10:00"),
                (A_variant, "2024-01-01 10:01"),
                (B, "2024-01-01 10:02"),
                (C, "2024-01-01 10:30"),
            ],
        )
        q.processAllAvailable()
        # batch 2: A's state (10:00 + 10 min < watermark 10:20) is evicted
        # -> re-admitted; C's state (10:30 + 10 min > 10:20) is live -> its
        # near-duplicate is suppressed
        write_batch(
            "b2.parquet",
            [(A, "2024-01-01 10:25"), (C + "?utm_medium=m", "2024-01-01 10:32")],
        )
        q.processAllAvailable()
    finally:
        q.stop()

    rows = spark.sql("SELECT url, url_hash, host FROM seen_wm_out").collect()
    from collections import Counter

    by_host = Counter(r["host"] for r in rows)
    # A emitted twice (once per horizon), B and C once each
    assert by_host == {"shop.example": 2, "other.example": 1, "late.example": 1}
    # the two A emissions carry the SAME url_hash (canonical key identity)
    a_hashes = {r["url_hash"] for r in rows if r["host"] == "shop.example"}
    assert len(a_hashes) == 1
    # and it matches the batch path's key for the variant spelling
    batch_hash = (
        spark.range(1)
        .select(F.xxhash64(F.lit(canonicalize(A_variant))).alias("h"))
        .head()["h"]
    )
    assert a_hashes == {batch_hash}


def test_catalog_stream_writer_exactly_once(spark, tmp_path):
    """foreachBatch → SnapshotCatalog: one snapshot per micro-batch stamped
    with stream_batch_id; a REPLAYED batch (crash after catalog commit,
    before checkpoint advance) is skipped, so the table is exactly-once.
    Restart with the same checkpoint appends only the new micro-batch."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from nightcrawler_ds_pipeline_spark.crawl.tables import SnapshotCatalog
    from nightcrawler_ds_pipeline_spark.streaming import (
        catalog_stream_writer,
        committed_stream_batch_max,
    )

    src = tmp_path / "cat_src"
    src.mkdir()
    catalog = SnapshotCatalog(str(tmp_path / "cat"))
    writer = catalog_stream_writer(catalog, "results", meta={"origin": "stream"})

    def write_input(name, ids):
        pq.write_table(
            pa.table({"image_id": pa.array([f"img{i:04d}" for i in ids])}),
            src / name,
        )

    def run_drain():
        stream = spark.readStream.schema("image_id string").parquet(str(src))
        q = (
            stream.writeStream.foreachBatch(writer)
            .option("checkpointLocation", str(tmp_path / "cat_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    write_input("b1.parquet", range(100))
    run_drain()
    assert catalog.read(spark, "results").count() == 100
    b_max = committed_stream_batch_max(catalog, "results")
    assert b_max >= 0

    # simulate the replay crash-window: engine re-delivers the SAME batch id
    replay_df = spark.createDataFrame(
        pd.DataFrame({"image_id": [f"img{i:04d}" for i in range(100)]})
    )
    writer(replay_df, b_max)
    assert catalog.read(spark, "results").count() == 100  # skipped, not doubled
    assert len(catalog.snapshots("results")) == 1

    # restart from the same checkpoint with one new input file
    write_input("b2.parquet", range(100, 130))
    run_drain()
    assert catalog.read(spark, "results").count() == 130
    ids = [
        s["meta"]["stream_batch_id"] for s in catalog.snapshots("results")
    ]
    assert ids == sorted(ids) and len(ids) == 2  # one snapshot per batch
    assert all(s["meta"]["origin"] == "stream" for s in catalog.snapshots("results"))

    # compaction (even with vacuum) must carry the stream_batch_id
    # watermark into the surviving overwrite snapshot: a crash-replay after
    # compaction would otherwise see max = -1 and append the last
    # micro-batch a second time, breaking the exactly-once contract
    b_max2 = committed_stream_batch_max(catalog, "results")
    assert b_max2 > b_max
    catalog.compact(spark, "results", vacuum=True)
    assert len(catalog.snapshots("results")) == 1
    assert committed_stream_batch_max(catalog, "results") == b_max2
    writer(replay_df, b_max2)
    assert catalog.read(spark, "results").count() == 130


def test_expire_snapshots_preserves_stream_batch_watermark(spark, tmp_path):
    """expire_snapshots dropping superseded streaming appends must stamp
    their max stream_batch_id onto a surviving snapshot — here the
    superseding overwrite carries no batch id of its own (it did not come
    from compact), so without the carry-forward the watermark resets."""
    from nightcrawler_ds_pipeline_spark.crawl.tables import SnapshotCatalog
    from nightcrawler_ds_pipeline_spark.streaming import (
        catalog_stream_writer,
        committed_stream_batch_max,
    )

    catalog = SnapshotCatalog(str(tmp_path / "exp_cat"))
    writer = catalog_stream_writer(catalog, "t")
    df = spark.range(5).selectExpr("id")
    writer(df, 0)
    writer(df, 1)
    catalog.write(df, "t", mode="overwrite")  # manual overwrite, no batch id
    n = catalog.expire_snapshots("t")
    assert n == 2
    assert committed_stream_batch_max(catalog, "t") == 1
    writer(df, 1)  # replay of the last streaming batch: must be skipped
    assert catalog.read(spark, "t").count() == 5


def test_streaming_frontier_end_to_end(spark, tmp_path):
    """Composed streaming frontier (discovery → seen filter → token-bucket
    dequeue → catalog): dup variants suppressed at admit, hot host clipped
    to its politeness budget by priority, and a second drain resumes every
    state piece — seen keys, token levels, committed micro-batches."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from nightcrawler_ds_pipeline_spark.crawl.tables import SnapshotCatalog
    from nightcrawler_ds_pipeline_spark.streaming import run_streaming_frontier

    src = tmp_path / "disc"
    src.mkdir()
    catalog = SnapshotCatalog(str(tmp_path / "cat"))

    def write_disc(name, rows):
        # rows: (url, ts, priority, delay_ms)
        tbl = pa.table(
            {
                "url": pa.array([r[0] for r in rows]),
                "event_ts": pa.array(
                    pd.to_datetime([r[1] for r in rows]), type=pa.timestamp("us")
                ),
                "priority": pa.array([float(r[2]) for r in rows]),
                "crawl_delay_ms": pa.array([r[3] for r in rows], type=pa.int64()),
            }
        )
        pq.write_table(tbl, src / name)

    hot = [
        (f"https://hot.example/p/{i}", "2024-01-01 10:00", i, 1000)
        for i in range(1, 9)
    ]
    other = [
        ("https://other.example/a", "2024-01-01 10:00", 1.0, 100),
        ("https://other.example/b", "2024-01-01 10:00", 2.0, 100),
    ]
    dups = [  # tracking-param variants of hot/p/1 — one canonical key
        ("https://hot.example/p/1?utm_source=x", "2024-01-01 10:01", 9.0, 1000),
        ("https://hot.example/p/1?utm_source=y", "2024-01-01 10:02", 9.0, 1000),
    ]
    write_disc("d1.parquet", hot + other + dups)

    def drain():
        return run_streaming_frontier(
            spark,
            str(src),
            catalog,
            str(tmp_path / "ck"),
            delay="1 hour",
            window_ms=3000,
            max_per_host=100,
        )

    c1 = drain()
    # hot/p/1 admitted once (first arrival wins; 2 variants suppressed);
    # hot: budget = 3000ms // 1000ms = 3; other: 3000 // 100 = 30 -> both
    assert c1["dequeued"] == 5
    deq = catalog.read(spark, "dequeued").toPandas()
    hot1 = deq[deq.host == "hot.example"].sort_values("rank_in_host")
    assert list(hot1["priority"]) == [8.0, 7.0, 6.0]  # top-3 by priority
    assert list(hot1["rank_in_host"]) == [1, 2, 3]

    # drain 2: one already-seen URL, outranking 4 new hot URLs
    write_disc(
        "d2.parquet",
        [("https://hot.example/p/2?utm_medium=m", "2024-01-01 10:10", 20.0, 1000)]
        + [
            (f"https://hot.example/q/{i}", "2024-01-01 10:10", 10.0 + i, 1000)
            for i in range(4)
        ],
    )
    c2 = drain()
    # token state carried: spent all 3000 in drain 1 -> available 3000
    # again -> 3 of the 4 new hot rows pass, the lowest-priority one clipped
    assert c2["dequeued"] == 8
    deq2 = catalog.read(spark, "dequeued").toPandas()
    # seen state survived the restart: the p/2 variant was suppressed
    # (admitted, it would have taken the first budget slot)
    assert not (deq2.priority == 20.0).any()
    q_rows = deq2[deq2.priority >= 10.0]
    assert sorted(q_rows["priority"]) == [11.0, 12.0, 13.0]
    # exactly-once catalog commits: monotone stream_batch_ids, one per batch
    ids = [s["meta"]["stream_batch_id"] for s in catalog.snapshots("dequeued")]
    assert ids == sorted(ids) and len(set(ids)) == len(ids)


def test_streaming_frontier_delay_lookup_governs_budget(spark, tmp_path):
    """delay_lookup (the engine-owned robots crawl-delay cache) is
    broadcast-joined after the seen filter and WINS over feed-supplied
    delays: per-host budgets follow the lookup."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from nightcrawler_ds_pipeline_spark.crawl.tables import SnapshotCatalog
    from nightcrawler_ds_pipeline_spark.streaming import run_streaming_frontier

    src = tmp_path / "dl_disc"
    src.mkdir()
    catalog = SnapshotCatalog(str(tmp_path / "dl_cat"))

    rows = [
        (f"https://fast.example/p/{i}", "2024-01-01 10:00", float(i)) for i in range(10)
    ] + [
        (f"https://slow.example/p/{i}", "2024-01-01 10:00", float(i)) for i in range(10)
    ]
    pq.write_table(
        pa.table(
            {
                "url": pa.array([r[0] for r in rows]),
                "event_ts": pa.array(
                    pd.to_datetime([r[1] for r in rows]), type=pa.timestamp("us")
                ),
                "priority": pa.array([r[2] for r in rows]),
                # feed knows no delays — the engine's cache must govern
                "crawl_delay_ms": pa.array([None] * len(rows), type=pa.int64()),
            }
        ),
        src / "d1.parquet",
    )
    lookup = spark.createDataFrame(
        [("fast.example", 100), ("slow.example", 5000)],
        "host string, crawl_delay_ms long",
    )
    counts = run_streaming_frontier(
        spark,
        str(src),
        catalog,
        str(tmp_path / "dl_ck"),
        delay="1 hour",
        window_ms=10_000,
        max_per_host=100,
        delay_lookup=lookup,
    )
    deq = catalog.read(spark, "dequeued").toPandas()
    per_host = deq.groupby("host").size().to_dict()
    # budgets: fast 10000//100 = 100 -> all 10; slow 10000//5000 = 2
    assert per_host == {"fast.example": 10, "slow.example": 2}


def test_streaming_frontier_empty_source_is_clean(spark, tmp_path):
    """A drain over an empty discovery dir is clean: zero counts, no
    crash."""
    from nightcrawler_ds_pipeline_spark.crawl.tables import SnapshotCatalog
    from nightcrawler_ds_pipeline_spark.streaming import run_streaming_frontier

    src = tmp_path / "empty_disc"
    src.mkdir()
    counts = run_streaming_frontier(
        spark,
        str(src),
        SnapshotCatalog(str(tmp_path / "empty_cat")),
        str(tmp_path / "empty_ck"),
    )
    assert counts == {"dequeued": 0, "overflow": 0}


def test_streaming_seen_filter_rocksdb_state(spark, tmp_path):
    """SCALE.md §4c sizes seen-filter state for RocksDB — prove the
    provider works under dropDuplicatesWithinWatermark too: same dedup
    result, checkpoint state dir carries RocksDB zips, not .delta files."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from nightcrawler_ds_pipeline_spark.streaming import streaming_seen_filter

    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        src = tmp_path / "rdb_src"
        src.mkdir()
        urls = [f"https://r.example/{i}?utm_source=a" for i in range(200)]
        dups = [u.replace("=a", "=b") for u in urls[:80]]
        pq.write_table(
            pa.table(
                {
                    "url": pa.array(urls + dups),
                    "event_ts": pa.array(
                        pd.to_datetime(["2024-01-01 10:00"] * 280),
                        type=pa.timestamp("us"),
                    ),
                }
            ),
            src / "b1.parquet",
        )
        stream = (
            spark.readStream.schema("url string, event_ts timestamp_ntz")
            .parquet(str(src))
            .withColumn("event_ts", F.col("event_ts").cast("timestamp"))
        )
        q = (
            streaming_seen_filter(stream, delay="30 minutes")
            .writeStream.outputMode("append")
            .format("memory")
            .queryName("rdb_out")
            .option("checkpointLocation", str(tmp_path / "rdb_ckpt"))
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        assert spark.sql("SELECT count(*) c FROM rdb_out").head()["c"] == 200
        state_files = [
            p
            for p in (tmp_path / "rdb_ckpt" / "state").rglob("*")
            if p.is_file()
        ]
        assert any(p.suffix == ".zip" for p in state_files), state_files
        assert not any(p.suffix == ".delta" for p in state_files)
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def test_stream_stream_interval_join_fetch_extract(spark, tmp_path):
    """Watermarked stream-stream join: extract events match their fetch
    row only inside [fetch_ts, fetch_ts+5min]; with leftOuter, a fetch
    whose partner never comes emits NULL-padded once the (global, min of
    both sides) watermark proves no partner can arrive."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from nightcrawler_ds_pipeline_spark.streaming import (
        join_fetch_extract_streams,
    )

    fsrc, esrc = tmp_path / "fsrc", tmp_path / "esrc"
    fsrc.mkdir(), esrc.mkdir()

    def write(dirp, name, ts_col, rows):
        tbl = pa.table(
            {
                "image_id": pa.array([r[0] for r in rows]),
                ts_col: pa.array(
                    pd.to_datetime([r[1] for r in rows]), type=pa.timestamp("us")
                ),
                ("status" if ts_col == "fetch_ts" else "caption"): pa.array(
                    [r[2] for r in rows]
                ),
            }
        )
        pq.write_table(tbl, dirp / name)

    def mk_stream(dirp, ts_col, extra_col):
        return (
            spark.readStream.schema(
                f"image_id string, {ts_col} timestamp_ntz, {extra_col} string"
            )
            .parquet(str(dirp))
            .withColumn(ts_col, F.col(ts_col).cast("timestamp"))
        )

    joined = join_fetch_extract_streams(
        mk_stream(fsrc, "fetch_ts", "status"),
        mk_stream(esrc, "extract_ts", "caption"),
        how="leftOuter",
    )
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName("ss_join_out")
        .option("checkpointLocation", str(tmp_path / "ss_ckpt"))
        .start()
    )
    try:
        write(fsrc, "f1.parquet", "fetch_ts", [
            ("img1", "2024-01-01 10:00", "ok"),
            ("img2", "2024-01-01 10:00", "ok"),
            ("img3", "2024-01-01 10:00", "ok"),
        ])
        write(esrc, "e1.parquet", "extract_ts", [
            ("img1", "2024-01-01 10:02", "a red vase"),   # inside the lag
            ("img2", "2024-01-01 10:30", "too late"),      # outside 5 min
        ])
        q.processAllAvailable()
        # advance BOTH watermarks far enough to close every fetch row's
        # join window (10:00 + 5min lag + 10min watermark < 11:00)
        write(fsrc, "f2.parquet", "fetch_ts", [("tick", "2024-01-01 11:00", "ok")])
        write(esrc, "e2.parquet", "extract_ts", [("tick2", "2024-01-01 11:00", "x")])
        q.processAllAvailable()
        q.processAllAvailable()
    finally:
        q.stop()

    rows = spark.sql(
        "SELECT image_id, status, caption FROM ss_join_out"
    ).collect()
    by_id = {r["image_id"]: r["caption"] for r in rows}
    assert by_id.get("img1") == "a red vase"       # matched inside interval
    assert by_id.get("img2") is None               # partner outside interval
    assert by_id.get("img3") is None               # no partner at all
    assert "img1" in by_id and "img2" in by_id and "img3" in by_id
    # exactly one output row per fetch row (no duplicate matches)
    assert sum(r["image_id"].startswith("img") for r in rows) == 3


def test_multi_stateful_dedup_then_windowed_agg_single_query(spark, tmp_path):
    """Spark 4 chains SOME stateful operators in one append-mode query:
    dropDuplicatesWithinWatermark → windowed count works (this test). A
    custom applyInPandasWithState op cannot follow another stateful op, a
    transformWithStateInPandas one can — which is why streaming/frontier.py
    runs its dequeue on transformWithState and stays one query."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    src = tmp_path / "ms_src"
    src.mkdir()
    rows = [(i % 50, "2024-01-01 10:00") for i in range(200)]  # 4x dups
    rows += [(100 + i, "2024-01-01 10:07") for i in range(30)]  # 2nd window
    rows += [(999, "2024-01-01 11:00")]  # flush ticker
    pq.write_table(
        pa.table(
            {
                "url_hash": pa.array([r[0] for r in rows], type=pa.int64()),
                "ts": pa.array(
                    pd.to_datetime([r[1] for r in rows]), type=pa.timestamp("us")
                ),
            }
        ),
        src / "b1.parquet",
    )
    stream = (
        spark.readStream.schema("url_hash long, ts timestamp_ntz")
        .parquet(str(src))
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    q = (
        stream.withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark(["url_hash"])
        .groupBy(F.window("ts", "5 minutes"))
        .agg(F.count("*").alias("n"))
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("ms_out")
        .option("checkpointLocation", str(tmp_path / "ms_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        str(r["window"]["start"])[11:16]: r["n"]
        for r in spark.sql("SELECT * FROM ms_out").collect()
    }
    # dedup upstream of the agg: 200 arrivals -> 50 distinct in 10:00
    assert got.get("10:00") == 50, got
    assert got.get("10:05") == 30, got


def test_streaming_frontier_overflow_routed_to_own_table(spark, tmp_path):
    """carry_over + a tiny pending cap: budget-evicted rows (rank 0) are
    committed to the 'overflow' catalog table for re-discovery, NEVER to
    'dequeued' — a consumer fetching from 'dequeued' must not crawl
    evictions (ADVICE r4)."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from nightcrawler_ds_pipeline_spark.crawl.tables import SnapshotCatalog
    from nightcrawler_ds_pipeline_spark.streaming import run_streaming_frontier

    src = tmp_path / "ovf_disc"
    src.mkdir()
    catalog = SnapshotCatalog(str(tmp_path / "ovf_cat"))
    rows = [
        (f"https://hot.example/p/{i}", "2024-01-01 10:00", float(i), 1000)
        for i in range(1, 11)
    ]
    pq.write_table(
        pa.table(
            {
                "url": pa.array([r[0] for r in rows]),
                "event_ts": pa.array(
                    pd.to_datetime([r[1] for r in rows]), type=pa.timestamp("us")
                ),
                "priority": pa.array([r[2] for r in rows]),
                "crawl_delay_ms": pa.array([r[3] for r in rows], type=pa.int64()),
            }
        ),
        src / "d1.parquet",
    )
    counts = run_streaming_frontier(
        spark,
        str(src),
        catalog,
        str(tmp_path / "ovf_ck"),
        delay="1 hour",
        window_ms=3000,  # delay 1000 -> budget 3
        max_per_host=100,
        carry_over=True,
        max_pending_per_host=2,
    )
    # 10 urls, budget 3, cap 2 -> 3 dequeued, 2 pending, 5 overflow
    assert counts["dequeued"] == 3
    assert counts["overflow"] == 5
    deq = catalog.read(spark, "dequeued").toPandas()
    assert set(deq["rank_in_host"]) == {1, 2, 3}
    assert sorted(deq["priority"], reverse=True) == [10.0, 9.0, 8.0]
    ovf = catalog.read(spark, "overflow").toPandas()
    assert set(ovf["rank_in_host"]) == {0}
    # evictions are the LOWEST priorities (cap keeps the best pending)
    assert sorted(ovf["priority"]) == [1.0, 2.0, 3.0, 4.0, 5.0]


def test_batch_ttl_matches_stream_watermark_horizon(spark, tmp_path):
    """Batch↔stream TTL parity (VERDICT r4 #6): one workload replayed
    through BOTH seen paths with matched horizons admits identical URL
    sets per round.

    Mapping: batch iteration ``it`` suppresses a key seen at iteration
    ``s`` iff ``s > it - ttl_iters`` (loop.py:218). Streaming
    ``dropDuplicatesWithinWatermark(delay)`` holds a key's state until the
    watermark (prev batch max event time − delay) passes first_seen +
    delay, so with one micro-batch per iteration and Δ between iteration
    timestamps, suppression at batch ``b`` means ``(b−s−1)·Δ < 2·delay``
    — identical to the batch rule iff ``2·delay/Δ = ttl_iters − 1``.
    Here Δ = 10 min, ttl_iters = 2 → any 0 < delay ≤ Δ/2; delay = 4 min
    stays clear of the eviction boundary."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pyspark.sql import functions as F  # noqa: F811 (module alias)

    from nightcrawler_ds_pipeline_spark.crawl.seen import filter_unseen
    from nightcrawler_ds_pipeline_spark.functions.urls import with_canonical
    from nightcrawler_ds_pipeline_spark.streaming import streaming_seen_filter

    A, B, C = (
        "https://a.example/p/1",
        "https://b.example/p/2",
        "https://c.example/p/3",
    )
    # (url, iteration): A,B at 0; A re-arrives at 1 (suppressed) with new
    # C; everything re-arrives at 2 — A,B expired (seen at 0, ttl 2 ⇒
    # re-admit at 0+2) but C (seen at 1) stays suppressed until round 3
    rounds = [[A, B], [A, C], [A, B, C]]
    ttl_iters = 2
    ts_of = {0: "2024-01-01 10:00", 1: "2024-01-01 10:10", 2: "2024-01-01 10:20"}

    # --- batch path: the loop's TTL rule over the REAL anti-join operator
    seen_rows = []  # (url_hash, seen_iter)
    batch_admitted = []
    for it, urls in enumerate(rounds):
        frontier = with_canonical(
            spark.createDataFrame([(u,) for u in urls], "url string")
        )
        seen = (
            spark.createDataFrame(seen_rows, "url_hash long, seen_iter int")
            if seen_rows
            else None
        )
        if seen is not None:
            seen = seen.filter(F.col("seen_iter") > it - ttl_iters)
        admitted = filter_unseen(frontier, seen, None)
        got = {r["url"] for r in admitted.select("url").collect()}
        batch_admitted.append(got)
        keyed = with_canonical(
            spark.createDataFrame([(u,) for u in sorted(got)], "url string")
        )
        seen_rows += [
            (r["url_hash"], it) for r in keyed.select("url_hash").collect()
        ]

    # --- stream path: one micro-batch per iteration, matched horizon
    src = tmp_path / "ttl_src"
    src.mkdir()
    stream = (
        spark.readStream.schema("url string, event_ts timestamp_ntz")
        .parquet(str(src))
        .withColumn("event_ts", F.col("event_ts").cast("timestamp"))
    )
    out = streaming_seen_filter(stream, delay="4 minutes")
    q = (
        out.select("url", "event_ts")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("ttl_parity_out")
        .option("checkpointLocation", str(tmp_path / "ttl_ck"))
        .start()
    )
    try:
        for it, urls in enumerate(rounds):
            pq.write_table(
                pa.table(
                    {
                        "url": pa.array(urls),
                        "event_ts": pa.array(
                            pd.to_datetime([ts_of[it]] * len(urls)),
                            type=pa.timestamp("us"),
                        ),
                    }
                ),
                src / f"b{it}.parquet",
            )
            q.processAllAvailable()
    finally:
        q.stop()
    stream_rows = spark.sql("SELECT url, event_ts FROM ttl_parity_out").collect()
    stream_admitted = [set() for _ in rounds]
    rev_ts = {pd.Timestamp(v): k for k, v in ts_of.items()}
    for r in stream_rows:
        stream_admitted[rev_ts[pd.Timestamp(r["event_ts"])]].add(r["url"])

    assert batch_admitted == [{A, B}, {C}, {A, B}]
    assert stream_admitted == batch_admitted
