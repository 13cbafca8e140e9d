"""Streaming politeness: the token-bucket dequeue as a CUSTOM STATEFUL
Structured Streaming operator (``transformWithStateInPandas``).

The batch loop treats one iteration as one politeness window
(crawl/politeness.py). The streaming form treats one MICRO-BATCH as one
window: per host, the ``TwsPoliteness`` processor keeps ``tokens_ms`` (and
the host's last known crawl delay) as value state across micro-batches
and emits exactly the rows the budget allows, by the same deterministic
(priority desc, url_hash asc) order. Identical arithmetic to
`dequeue_gated` + `next_bucket_state` (available = min(2·window, tokens +
window); budget = floor(available/delay) clamped to [0, max_per_host];
spent = n_allowed × delay) — pinned equal in tests/test_streaming_state.py.

A transformWithState operator may run downstream of another stateful
operator, so streaming/frontier.py chains the watermark-bounded seen
filter straight into this operator in ONE query. It needs the RocksDB
state store provider and a worker-side ``google.protobuf``
(compat.ensure_tws_python_env).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.stateful_processor import (
    StatefulProcessor,
    StatefulProcessorHandle,
)

from nightcrawler_ds_pipeline_spark.crawl.politeness import (
    DEFAULT_CRAWL_DELAY_MS,
    DEFAULT_MAX_PER_HOST,
    DEFAULT_WINDOW_MS,
)

OUT_SCHEMA = (
    "iter int, host string, url_hash long, priority double, rank_in_host int"
)
OVERFLOW_RANK = 0  # rank_in_host sentinel: evicted from the pending cap,
# NOT dequeued — route these back to discovery instead of fetching them

_BUCKET_SCHEMA = "tokens_ms long, delay_ms long"
_PENDING_SCHEMA = "iter int, url_hash long, priority double"


# one definition of the scalar token bucket, equal to the batch loop's
# Column arithmetic (pinned in tests/test_token_buckets.py)
def compute_budget(
    tokens: int, delay: int, window_ms: int, max_per_host: int
) -> tuple[int, int]:
    """(available, budget) under the batch loop's token-bucket arithmetic:
    available = min(2*window, tokens + window); budget = floor(available /
    delay) clamped to [0, max_per_host] (unlimited-rate hosts get the
    hard cap)."""
    available = min(2 * window_ms, tokens + window_ms)
    if delay <= 0:
        return available, max_per_host
    return available, max(0, min(max_per_host, available // delay))


def emit_ranked(host, ordered: pd.DataFrame, start_rank: int = 1) -> pd.DataFrame:
    """Project dequeue output rows with per-host rank (OUT_SCHEMA order)."""
    out = ordered[["iter", "url_hash", "priority"]].copy()
    out.insert(1, "host", host)
    out["rank_in_host"] = range(start_rank, start_rank + len(out))
    return out[["iter", "host", "url_hash", "priority", "rank_in_host"]]


def first_nonnull_delay(pdf: pd.DataFrame, fallback: int) -> int:
    """First NON-NULL crawl_delay_ms in the batch (int(NaN) would raise
    inside a stateful UDF and fail the whole micro-batch)."""
    s = pdf["crawl_delay_ms"].dropna()
    return int(s.iloc[0]) if len(s) else fallback


class TwsPoliteness(StatefulProcessor):
    """Per-host token-bucket dequeue as a transformWithState processor.

    One micro-batch = one politeness window. State: a (tokens_ms,
    delay_ms) value row per host; a micro-batch whose rows all lack a
    delay reuses the host's stored one. With ``carry_over`` also the
    bounded pending queue as a ListState (top ``max_pending_per_host`` by
    dequeue order, evictions emitted with rank OVERFLOW_RANK).
    ``flush_interval_ms`` registers a processing-time timer whenever
    pending rows remain so they drain on refreshed budgets without a new
    arrival (timeMode must be "ProcessingTime")."""

    def __init__(
        self,
        window_ms: int = DEFAULT_WINDOW_MS,
        max_per_host: int = DEFAULT_MAX_PER_HOST,
        carry_over: bool = False,
        max_pending_per_host: int = 10_000,
        flush_interval_ms: int | None = None,
    ):
        self.window_ms = window_ms
        self.max_per_host = max_per_host
        self.carry_over = carry_over
        self.max_pending_per_host = max_pending_per_host
        self.flush_interval_ms = flush_interval_ms

    def init(self, handle: StatefulProcessorHandle) -> None:
        self.bucket = handle.getValueState("bucket", _BUCKET_SCHEMA)
        self.pending = handle.getListState("pending", _PENDING_SCHEMA)
        self.handle = handle

    def _load(self) -> tuple[int, int]:
        if self.bucket.exists():
            tokens, delay = self.bucket.get()
            return int(tokens), int(delay)
        return 0, DEFAULT_CRAWL_DELAY_MS

    def _load_pending(self) -> pd.DataFrame:
        rows = list(self.pending.get()) if self.carry_over else []
        return pd.DataFrame(
            {
                "iter": pd.array([r[0] for r in rows], dtype="int32"),
                "url_hash": pd.array([r[1] for r in rows], dtype="int64"),
                "priority": pd.array([r[2] for r in rows], dtype="float64"),
            }
        )

    def _window(
        self, host: str, fresh: pd.DataFrame, tokens: int, delay: int, now_ms: int
    ) -> Iterator[pd.DataFrame]:
        """One politeness window over pending + fresh rows (the shared
        batch-loop arithmetic); persists state and yields output frames."""
        merged = pd.concat(
            [self._load_pending(), fresh], ignore_index=True
        ).sort_values(["priority", "url_hash"], ascending=[False, True])
        available, budget = compute_budget(
            tokens, delay, self.window_ms, self.max_per_host
        )
        take = merged.head(int(budget))
        rest = merged.iloc[len(take):]
        if self.carry_over:
            keep = rest.head(self.max_pending_per_host)
            overflow = rest.iloc[len(keep):]
        else:  # pass-once contract: clipped rows are gone
            keep = rest.iloc[0:0]
            overflow = rest.iloc[0:0]
        spent = len(take) * delay if delay > 0 else 0
        self.bucket.update((available - spent, delay))
        if self.carry_over:
            if len(keep):
                self.pending.put(
                    [
                        (int(r.iter), int(r.url_hash), float(r.priority))
                        for r in keep.itertuples()
                    ]
                )
                if self.flush_interval_ms is not None:
                    self.handle.registerTimer(now_ms + self.flush_interval_ms)
            else:  # the state store rejects an empty list value
                self.pending.clear()
        if len(take):
            yield emit_ranked(host, take)
        if len(overflow):
            out = emit_ranked(host, overflow)
            out["rank_in_host"] = OVERFLOW_RANK
            yield out

    def handleInputRows(self, key, rows, timerValues) -> Iterator[pd.DataFrame]:
        host = key[0]
        pdf = pd.concat(list(rows), ignore_index=True)
        tokens, delay = self._load()
        if len(pdf):
            delay = first_nonnull_delay(pdf, delay)
        fresh = pdf[["iter", "url_hash", "priority"]]
        yield from self._window(
            host, fresh, tokens, delay, timerValues.getCurrentProcessingTimeInMs()
        )

    def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
        host = key[0]
        tokens, delay = self._load()
        fresh = self._load_pending().iloc[0:0]
        yield from self._window(
            host, fresh, tokens, delay, timerValues.getCurrentProcessingTimeInMs()
        )


def streaming_token_bucket_dequeue(
    frontier_stream: DataFrame,
    window_ms: int = DEFAULT_WINDOW_MS,
    max_per_host: int = DEFAULT_MAX_PER_HOST,
    carry_over: bool = False,
    max_pending_per_host: int = 10_000,
    flush_interval_ms: int | None = None,
) -> DataFrame:
    """frontier_stream columns: iter, host, url_hash, priority,
    crawl_delay_ms. Returns the politeness-allowed rows per micro-batch
    with per-host rank; host token levels persist as processor state.

    ``carry_over=False`` (default) keeps the original pass-once contract:
    budget-clipped rows are gone (batch-parity arithmetic pinned in
    test_streaming_state.py). ``carry_over=True`` closes the semantic gap
    with the batch loop, where un-dequeued rows STAY in the frontier: the
    clipped remainder is held in state (a bounded per-host pending queue,
    top ``max_pending_per_host`` by the dequeue order) and competes with
    new arrivals in later micro-batches. Rows evicted from the cap are
    emitted with ``rank_in_host = 0`` (OVERFLOW_RANK) rather than silently
    dropped — the caller re-routes them to discovery. State per host is
    O(max_pending_per_host) scalars; at 10^7 live hosts keep the cap small
    and the store on RocksDB (SCALE.md §4b/4c).

    ``flush_interval_ms`` (carry-over only) arms a processing-time timer
    so pending rows drain on a refreshed budget even when no new row for
    the host arrives — needed for CONTINUOUS triggers; in availableNow
    drains the query terminates before zero-data batches fire, so pending
    drains on the next invocation or arrival (same caveat as the ingest
    TTL: drive continuous queries with a periodic trigger and poll).

    The query must run under the RocksDB state store provider.
    """
    return frontier_stream.groupBy("host").transformWithStateInPandas(
        TwsPoliteness(
            window_ms=window_ms,
            max_per_host=max_per_host,
            carry_over=carry_over,
            max_pending_per_host=max_pending_per_host,
            flush_interval_ms=flush_interval_ms,
        ),
        outputStructType=OUT_SCHEMA,
        outputMode="Append",
        timeMode="ProcessingTime" if flush_interval_ms is not None else "None",
    )
