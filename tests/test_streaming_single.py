"""Streaming frontier (one transformWithState query): carry-over
semantics across a restart, the empty pending-queue write, and the
spark-submit job driven for two drains."""

import importlib.util
import json
import os

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

JOB = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "jobs",
    "run_stream_frontier_job.py",
)


def _write_disc(src, name, rows):
    """rows: (url, ts, priority, delay_ms)"""
    pq.write_table(
        pa.table(
            {
                "url": pa.array([r[0] for r in rows]),
                "event_ts": pa.array(
                    pd.to_datetime([r[1] for r in rows]), type=pa.timestamp("us")
                ),
                "priority": pa.array([float(r[2]) for r in rows]),
                "crawl_delay_ms": pa.array([r[3] for r in rows], type=pa.int64()),
            }
        ),
        src / name,
    )


def test_single_query_carry_over_restart(spark, tmp_path):
    """carry_over=True across a RESTART of the same checkpoint: pending
    rows held in ListState compete with (and outrank) new arrivals on the
    next drain — the batch loop's rows-stay-in-frontier semantics in one
    query."""
    from nightcrawler_ds_pipeline_spark.crawl.tables import SnapshotCatalog
    from nightcrawler_ds_pipeline_spark.streaming import run_streaming_frontier

    src = tmp_path / "co_disc"
    src.mkdir()
    catalog = SnapshotCatalog(str(tmp_path / "co_cat"))

    def drain():
        return run_streaming_frontier(
            spark,
            str(src),
            catalog,
            str(tmp_path / "co_ck"),
            delay="1 hour",
            window_ms=3000,
            max_per_host=100,
            carry_over=True,
        )

    _write_disc(
        src,
        "d1.parquet",
        [
            (f"https://hot.example/p/{i}", "2024-01-01 10:00", i, 1000)
            for i in range(1, 9)
        ],
    )
    c1 = drain()
    assert c1 == {"dequeued": 3, "overflow": 0}  # budget 3000//1000
    deq1 = catalog.read(spark, "dequeued").toPandas()
    assert sorted(deq1["priority"], reverse=True) == [8.0, 7.0, 6.0]

    # restart: one low-priority arrival wakes the host; carried pending
    # (5,4,3,2,1) outranks it — budget dequeues 5,4,3
    _write_disc(
        src,
        "d2.parquet",
        [("https://hot.example/p/99", "2024-01-01 11:30", 0.5, 1000)],
    )
    c2 = drain()
    assert c2["dequeued"] == 6
    deq2 = catalog.read(spark, "dequeued").toPandas()
    new = deq2[~deq2["url_hash"].isin(deq1["url_hash"])]
    assert sorted(new["priority"], reverse=True) == [5.0, 4.0, 3.0]


def test_carry_over_all_dequeued_leaves_empty_pending(spark, tmp_path):
    """carry_over=True with every row inside the budget: the pending queue
    ends empty, which must clear the ListState (the state store rejects an
    empty list value and used to abort the query with EMPTY_LIST_VALUE)."""
    from nightcrawler_ds_pipeline_spark.crawl.tables import SnapshotCatalog
    from nightcrawler_ds_pipeline_spark.streaming import run_streaming_frontier

    src = tmp_path / "ep_disc"
    src.mkdir()
    _write_disc(
        src,
        "d1.parquet",
        [
            ("https://hot.example/p/1", "2024-01-01 10:00", 1.0, 1000),
            ("https://hot.example/p/2", "2024-01-01 10:00", 2.0, 1000),
        ],
    )
    counts = run_streaming_frontier(
        spark,
        str(src),
        SnapshotCatalog(str(tmp_path / "ep_cat")),
        str(tmp_path / "ep_ck"),
        delay="1 hour",
        window_ms=3000,  # delay 1000 -> budget 3 >= 2 rows
        max_per_host=100,
        carry_over=True,
    )
    assert counts == {"dequeued": 2, "overflow": 0}


def test_stream_frontier_job_two_drains(spark, tmp_path, monkeypatch, capsys):
    """jobs/run_stream_frontier_job.py end to end: two drains over the same
    dirs with --carry-over --delay-lookup print the committed counts, and
    the removed hand-off flag --work is rejected."""
    spec = importlib.util.spec_from_file_location("stream_frontier_job", JOB)
    job = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(job)

    src = tmp_path / "job_disc"
    src.mkdir()
    lookup = str(tmp_path / "delays.parquet")
    pq.write_table(
        pa.table(
            {
                "host": pa.array(["hot.example"]),
                "crawl_delay_ms": pa.array([1000], type=pa.int64()),
            }
        ),
        lookup,
    )
    sink = str(tmp_path / "job_cat")
    argv = [
        "run_stream_frontier_job.py",
        "--source", str(src),
        "--sink", sink,
        "--checkpoint", str(tmp_path / "job_ck"),
        "--window-ms", "3000",
        "--max-per-host", "100",
        "--carry-over",
        "--delay-lookup", lookup,
    ]

    # main() re-applies get_spark's builder confs to the shared session
    partitions = spark.conf.get("spark.sql.shuffle.partitions")

    def drain():
        monkeypatch.setattr("sys.argv", argv)
        try:
            job.main()
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", partitions)
        return json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    # the feed knows no delays: the lookup's 1000 ms gives budget 3
    _write_disc(
        src,
        "d1.parquet",
        [
            (f"https://hot.example/p/{i}", "2024-01-01 10:00", i, None)
            for i in range(1, 9)
        ],
    )
    assert drain() == {"dequeued": 3, "overflow": 0, "sink": sink}
    # one low-priority arrival wakes the host; 3 carried rows outrank it
    _write_disc(
        src,
        "d2.parquet",
        [("https://hot.example/p/99", "2024-01-01 11:30", 0.5, None)],
    )
    assert drain() == {"dequeued": 6, "overflow": 0, "sink": sink}

    monkeypatch.setattr("sys.argv", argv + ["--work", str(tmp_path / "w")])
    with pytest.raises(SystemExit) as exc:
        job.main()
    assert exc.value.code == 2
    assert "unrecognized arguments: --work" in capsys.readouterr().err
