"""assign_global_seq: the scalable two-pass numbering must equal the
single-window path exactly (same total order)."""

import pyspark.sql.functions as F

from nightcrawler_ds_pipeline_spark.crawl.politeness import assign_global_seq


def _mk(spark, n=5000):
    return spark.range(n).select(
        ((F.col("id") * 37) % 100 / 10.0).alias("priority"),
        F.xxhash64(F.col("id").cast("string")).alias("url_hash"),
        F.col("id"),
    )


def test_two_pass_equals_window(spark):
    df = _mk(spark)
    small = assign_global_seq(df, 5000)
    # force two-pass by a count above the threshold
    large = assign_global_seq(df, 5000, single_window_threshold=1)
    a = {r["url_hash"]: r["seq"] for r in small.collect()}
    b = {r["url_hash"]: r["seq"] for r in large.collect()}
    assert a == b
    # dense 1..n
    seqs = sorted(a.values())
    assert seqs == list(range(1, len(seqs) + 1))
    # order respects (priority desc, url_hash asc)
    rows = sorted(
        ((r["seq"], r["priority"], r["url_hash"]) for r in small.collect())
    )
    for (s1, p1, h1), (s2, p2, h2) in zip(rows, rows[1:]):
        assert (p1 > p2) or (p1 == p2 and h1 < h2)


def test_loop_wiring_engages_two_pass(spark):
    """The loop-style call (dequeue without seq → count → number) must
    hit the range-partitioned path above the threshold and still produce the
    exact dense order; below it, the constant-key single window. Neither
    plan may contain an UNDEFINED window partitioning (the WindowExec scale
    hazard)."""
    from nightcrawler_ds_pipeline_spark.crawl.politeness import (
        dequeue_gated,
    )

    df = _mk(spark, 2000).select(
        "priority",
        "url_hash",
        F.concat(F.lit("h"), (F.col("id") % 7).cast("string")).alias("host"),
        F.lit(0).alias("crawl_delay_ms"),
    )
    pre = dequeue_gated(df, max_per_host=1000)
    assert "seq" not in pre.columns
    n = pre.count()
    two_pass = assign_global_seq(pre, n, single_window_threshold=100)
    one_pass = assign_global_seq(pre, n)
    a = {r["url_hash"]: r["seq"] for r in two_pass.collect()}
    b = {r["url_hash"]: r["seq"] for r in one_pass.collect()}
    assert a == b and sorted(a.values()) == list(range(1, n + 1))
    for plan_df in (two_pass, one_pass):
        plan = plan_df._jdf.queryExecution().executedPlan().toString()
        # every Window node must carry a partition spec (no 'Window [..], [..ASC..]'
        # with an empty partition list → no "No Partition Defined" warnings)
        for line in plan.splitlines():
            ls = line.strip().lstrip("+-*( ")
            if ls.startswith("Window "):
                # shape: Window [exprs], [partSpec], [orderSpec] — partSpec
                # is the 2nd bracket group and must be non-empty
                groups = []
                depth = 0
                cur = ""
                for ch in ls[len("Window "):]:
                    if ch == "[":
                        depth += 1
                        cur = "" if depth == 1 else cur + ch
                    elif ch == "]":
                        depth -= 1
                        if depth == 0:
                            groups.append(cur)
                        else:
                            cur += ch
                    elif depth > 0:
                        cur += ch
                assert len(groups) >= 3 and groups[1].strip() != "", ls
