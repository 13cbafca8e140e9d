"""Fixture-cache retirement semantics (ADVICE r4 #2) and the stateful
politeness UDF's null-delay guard (ADVICE r4 #3).

The retirement scheme (generate.py::_retire_stale_cache) renames an
outdated cache aside instead of deleting it, so an in-flight reader that
already planned a scan against the old dir's file listing never sees a
half-deleted dir. os.rename does NOT update a directory's own mtime, so
the 1-hour sweep grace must be stamped explicitly at retirement time —
otherwise a cache generated hours ago (the normal case: caches persist
across sessions) would be retired and immediately reaped by the same
invocation's sweep, re-opening the race the rename was written to close.
"""

import os
import time

import pandas as pd

from nightcrawler_ds_pipeline_spark.fixtures.generate import _retire_stale_cache
from nightcrawler_ds_pipeline_spark.streaming.politeness_stream import (
    first_nonnull_delay,
)


def _make_cache(path: str, age_s: float) -> None:
    os.makedirs(path)
    with open(os.path.join(path, "_COMPLETE"), "w") as f:
        f.write("old-version")
    old = time.time() - age_s
    os.utime(path, (old, old))


def test_freshly_retired_cache_survives_same_invocation_sweep(tmp_path):
    """A cache GENERATED hours ago but retired just now must NOT be swept
    by the sweep that runs in the same invocation (the in-flight-reader
    grace measures time since RETIREMENT, not since generation)."""
    out = str(tmp_path / "t9")
    _make_cache(out, age_s=7200)  # generated 2h ago — normal persisted cache
    _retire_stale_cache(out)
    assert not os.path.exists(out)  # renamed aside
    stale = [e for e in os.listdir(tmp_path) if e.startswith("t9.stale-")]
    assert len(stale) == 1  # retired copy still on disk for in-flight readers
    # the retirement stamp is fresh, not the 2h-old generation mtime
    assert time.time() - os.path.getmtime(tmp_path / stale[0]) < 60


def test_old_retired_copies_are_swept(tmp_path):
    """Retired copies from PREVIOUS runs (grace expired) are reaped by the
    next retirement's sweep; fresh ones are kept."""
    out = str(tmp_path / "t9")
    old_retired = str(tmp_path / "t9.stale-1-deadbeef")
    _make_cache(old_retired, age_s=7200)  # retired 2h ago — grace expired
    fresh_retired = str(tmp_path / "t9.stale-2-cafebabe")
    _make_cache(fresh_retired, age_s=0)
    _make_cache(out, age_s=7200)
    _retire_stale_cache(out)
    assert not os.path.exists(old_retired)
    assert os.path.exists(fresh_retired)
    # unrelated siblings are never touched
    assert len([e for e in os.listdir(tmp_path) if e.startswith("t9.stale-")]) == 2


def test_first_nonnull_delay_skips_leading_null():
    """ADVICE r4 #3: a NULL crawl_delay_ms in the FIRST row of a host's
    micro-batch (plausible under the frontier's coalesce(lookup, feed))
    must not raise int(NaN) inside the stateful UDF."""
    pdf = pd.DataFrame({"crawl_delay_ms": [None, 250.0, 100.0]})
    assert first_nonnull_delay(pdf, fallback=999) == 250


def test_first_nonnull_delay_all_null_falls_back():
    pdf = pd.DataFrame({"crawl_delay_ms": [None, None]})
    assert first_nonnull_delay(pdf, fallback=123) == 123
    assert first_nonnull_delay(pd.DataFrame({"crawl_delay_ms": []}), 7) == 7
