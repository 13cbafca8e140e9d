"""Spans recorded from the benchmark's own files, their self time, and the
Spark event-log totals.

A span is (name, start, end, parent). Spans are kept in memory and written
out once when the run ends. The benchmark opens them around the calls it
makes into the package's public functions, around every catalog write, and
around the DataFrame actions the crawl loop issues on the driver.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import linecache
import os
import sys
import threading
import time
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None

    @property
    def dur(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end) intervals (children may overlap:
    the crawl loop writes snapshots from a thread pool)."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the part of it its direct children cover
    (children clipped to the parent's interval)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    by_id = {s.id: s for s in spans}
    for s in spans:
        if s.parent in by_id:
            p = by_id[s.parent]
            lo, hi = max(s.start, p.start), min(s.end, p.end)
            if hi > lo:
                kids.setdefault(s.parent, []).append((lo, hi))
    return {s.id: s.dur - covered(kids.get(s.id, [])) for s in spans}


class Tracer:
    """In-memory span recorder. The parent of a new span is the innermost
    span open on the same thread; spans opened on pool threads fall back
    to the innermost span open on the thread that enabled tracing."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.enabled = False
        self._ids = itertools.count()
        self._local = threading.local()
        self._root_stack: list[int] = []
        self._open: dict[int, tuple[str, float, int | None]] = {}
        self._main = threading.get_ident()

    def _stack(self) -> list[int]:
        if threading.get_ident() == self._main:
            return self._root_stack
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def begin(self, name: str) -> None:
        """Open a span on the current thread; ``end`` closes it. For spans
        whose boundaries are not one block of code (crawl iterations end
        inside the loop, at the lineage commit)."""
        if not self.enabled:
            return
        stack = self._stack()
        parent = stack[-1] if stack else (
            self._root_stack[-1] if self._root_stack else None
        )
        sid = next(self._ids)
        stack.append(sid)
        self._open[sid] = (name, time.perf_counter(), parent)

    def end(self) -> None:
        stack = self._stack()
        if not stack or stack[-1] not in self._open:
            return
        sid = stack.pop()
        name, start, parent = self._open.pop(sid)
        self.spans.append(Span(sid, name, start, time.perf_counter(), parent))

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        self.begin(name)
        try:
            yield
        finally:
            self.end()

    def named(self, prefix: str) -> list[Span]:
        return [s for s in self.spans if s.name.startswith(prefix)]

    def dump(self, path: str) -> None:
        st = self_times(self.spans)
        with open(path, "w") as f:
            json.dump(
                [{**asdict(s), "self": st[s.id]} for s in self.spans], f
            )


# --- DataFrame actions issued by the crawl loop ------------------------------

_LOOP_FILE = os.path.join("crawl", "loop.py")
# driver actions of crawl/loop.py, keyed by (function, source-line text);
# anything else the loop runs becomes crawl.loop.action
LOOP_ACTIONS = {
    ("run_crawl", "n_batch = pre_batch.count()"): "crawl.politeness.dequeue",
    ("run_crawl", ").collect()[0]"): "crawl.fetch.fetch_dedup",
    ("run_crawl", "batch.count()"): "crawl.loop.materialize_batch",
}


def _loop_action_name(default: str) -> str:
    f = sys._getframe(2)
    while f is not None:
        if f.f_code.co_filename.endswith(_LOOP_FILE):
            line = linecache.getline(f.f_code.co_filename, f.f_lineno).strip()
            key = (f.f_code.co_name, line.split("#")[0].strip())
            return LOOP_ACTIONS.get(key, default)
        f = f.f_back
    return default


@contextlib.contextmanager
def traced_actions(tracer: Tracer):
    """Wrap DataFrame.count/collect/first while tracing: each call made
    from crawl/loop.py becomes a span named after the loop step it runs."""
    # the session's concrete DataFrame class (pyspark.sql.DataFrame is an
    # abstract base whose actions the classic implementation overrides)
    from pyspark.sql.classic.dataframe import DataFrame

    originals = {m: getattr(DataFrame, m) for m in ("count", "collect", "first")}

    def wrap(fn):
        def inner(self, *a, **k):
            if not tracer.enabled:
                return fn(self, *a, **k)
            with tracer.span(_loop_action_name("crawl.loop.action")):
                return fn(self, *a, **k)

        return inner

    for m, fn in originals.items():
        setattr(DataFrame, m, wrap(fn))
    try:
        yield
    finally:
        for m, fn in originals.items():
            setattr(DataFrame, m, fn)


# --- Spark event log ---------------------------------------------------------

EVENT_LOG_CONF = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
}


def event_log_totals(log_dir: str, windows: list[tuple[float, float]]) -> dict:
    """Jobs submitted inside any of the wall-clock ``windows`` (epoch
    seconds), their submitted stages and finished tasks, and the task
    metrics summed over those tasks."""
    files = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
    jobs = stages = tasks = 0
    run_ms = gc_ms = shuffle_read = shuffle_write = spill = 0
    job_stages: set[int] = set()
    for path in files:
        with open(path) as f:
            events = [json.loads(line) for line in f if line.strip()]
        for ev in events:
            if ev["Event"] == "SparkListenerJobStart":
                t = ev["Submission Time"] / 1000.0
                if any(lo <= t <= hi for lo, hi in windows):
                    jobs += 1
                    job_stages.update(ev["Stage IDs"])
        for ev in events:
            kind = ev["Event"]
            if kind == "SparkListenerStageSubmitted":
                stages += ev["Stage Info"]["Stage ID"] in job_stages
            elif kind == "SparkListenerTaskEnd" and ev["Stage ID"] in job_stages:
                tasks += 1
                m = ev.get("Task Metrics") or {}
                run_ms += m.get("Executor Run Time", 0)
                gc_ms += m.get("JVM GC Time", 0)
                sr = m.get("Shuffle Read Metrics", {})
                shuffle_read += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                shuffle_write += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return {
        "jobs": jobs,
        "stages": stages,
        "tasks": tasks,
        "executor_run_s": run_ms / 1000.0,
        "gc_s": gc_ms / 1000.0,
        "shuffle_read_bytes": shuffle_read,
        "shuffle_write_bytes": shuffle_write,
        "spill_bytes": spill,
    }
