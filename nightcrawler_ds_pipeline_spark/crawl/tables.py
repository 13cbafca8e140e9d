"""Snapshot table layer — Iceberg-semantics state store on parquet.

The crawl loop's state (frontier, seen-set, Bloom sketches, robots cache,
results, lineage) lives in tables with **atomic snapshot commits**: a writer
stages parquet files into a new snapshot directory, then commits by
atomically replacing the table's manifest (``os.replace``). Readers only see
committed snapshots, so a crash mid-iteration leaves no partial state — this
is what makes resume *exact* (north_rule: per-partition lineage + resumable
checkpoints; reference analogue: the per-stage JSON checkpoints at
base.py:285-309 and file resume at helpers/utils_io.py:20-51).

On a real cluster this layer is Apache Iceberg (append / overwrite
snapshots); ``SnapshotCatalog`` provides the same commit semantics on plain
parquet. Every snapshot carries a ``meta`` dict — the crawl loop tags
snapshots with their iteration id and readers filter ``meta["iter"] <=
committed``, which is how un-finalized iterations are rolled back for free.

One lifecycle rule: a read sees only the live set (the last overwrite and
the appends after it), and once an iteration's lineage commits, the crawl
loop expires every snapshot that an overwrite of that iteration superseded.
Resume only ever starts at the newest lineage, so nothing it could roll
back to is expired. There is no time travel: an expired snapshot is gone
from the manifest and the disk.

Each entry also records its ``schema`` string; a scan merges parquet
footers (``mergeSchema``: additive evolution, old rows read NULL for a new
column) only when the entries it reads hold more than one schema (entries
without one count as the same unknown schema). Every manifest
read-modify-write of a table holds that table's re-entrant lock, so
concurrent writers of one table never lose a commit while writers of
different tables run in parallel. The lock is in-process only: two
processes must not write one table.
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import time
import uuid

from pyspark.sql import DataFrame, SparkSession


class SnapshotCatalog:
    """Minimal ACID-ish table catalog: append/overwrite snapshots on parquet."""

    def __init__(self, root: str):
        self.root = root
        self._locks: dict[str, threading.RLock] = {}
        os.makedirs(root, exist_ok=True)

    # -- manifest helpers ---------------------------------------------------
    def _table_dir(self, table: str) -> str:
        return os.path.join(self.root, table)

    def _manifest_path(self, table: str) -> str:
        return os.path.join(self._table_dir(table), "_snapshots.json")

    def _lock(self, table: str) -> threading.RLock:
        return self._locks.setdefault(table, threading.RLock())

    def _load_manifest(self, table: str) -> list[dict]:
        path = self._manifest_path(table)
        if not os.path.exists(path):
            return []
        with open(path) as f:
            return json.load(f)

    def _commit_manifest(self, table: str, snapshots: list[dict]) -> None:
        path = self._manifest_path(table)
        tmp = path + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(snapshots, f, indent=1)
        os.replace(tmp, path)  # atomic commit point

    def _snaps(self, table: str, max_iter: int | None = None) -> list[dict]:
        """Committed entries in commit order, with ``meta.iter <= max_iter``
        when given (no ``iter`` counts as -1)."""
        return [
            s
            for s in self._load_manifest(table)
            if max_iter is None or s["meta"].get("iter", -1) <= max_iter
        ]

    # -- public API ---------------------------------------------------------
    def write(
        self,
        df: DataFrame,
        table: str,
        mode: str = "append",
        meta: dict | None = None,
    ) -> int:
        """Stage parquet for ``df`` then atomically commit a snapshot."""
        if mode not in ("append", "overwrite"):
            raise ValueError(f"bad mode {mode!r}")
        tdir = self._table_dir(table)
        os.makedirs(tdir, exist_ok=True)
        with self._lock(table):
            snapshots = self._load_manifest(table)
            snap_id = (snapshots[-1]["id"] + 1) if snapshots else 0
            data_dir = os.path.join(tdir, f"snap-{snap_id:06d}-{uuid.uuid4().hex[:8]}")
            df.write.mode("overwrite").parquet(data_dir)
            snapshots.append({"id": snap_id, "dir": data_dir, "mode": mode,
                              "meta": meta or {},
                              "schema": df.schema.simpleString()})
            self._commit_manifest(table, snapshots)
        return snap_id

    def snapshots(self, table: str) -> list[dict]:
        return self._load_manifest(table)

    def latest_iter(self, table: str, max_iter: int | None = None) -> int:
        """Max ``meta.iter`` among committed snapshots (``<= max_iter`` when
        given), or -1 if none — manifest-only, no data scan. The crawl
        loop's commit point is ``latest_iter("lineage")``; it also detects
        a stale sketch snapshot (older than the seen table it must
        over-approximate)."""
        return max(
            (s["meta"].get("iter", -1) for s in self._snaps(table, max_iter)),
            default=-1,
        )

    def latest_meta(self, table: str, max_iter: int | None = None) -> dict:
        """Meta dict of the newest committed snapshot (``<= max_iter`` when
        given), or {} — manifest-only. The crawl loop stores sketch-validity
        config (e.g. the cuckoo's ttl_iters) here so a resume under a
        different config can detect and rebuild."""
        snaps = self._snaps(table, max_iter)
        return dict(snaps[-1]["meta"]) if snaps else {}

    def exists(self, table: str) -> bool:
        return bool(self._load_manifest(table))

    def read(
        self,
        spark: SparkSession,
        table: str,
        max_iter: int | None = None,
    ) -> DataFrame | None:
        """Union of live snapshots: everything since the last overwrite,
        optionally restricted to snapshots with ``meta['iter'] <= max_iter``
        (exact-resume rollback of un-finalized iterations). None when no
        snapshot is visible."""
        return _scan(spark, _live(self._snaps(table, max_iter)))

    def read_incremental(
        self,
        spark: SparkSession,
        table: str,
        after_iter: int,
        until_iter: int | None = None,
    ) -> DataFrame | None:
        """Incremental consumption (the Iceberg incremental-read analogue):
        only the APPEND snapshots with ``after_iter < meta.iter``
        (``<= until_iter`` when given). Downstream consumers — e.g. a
        training-data pipeline ingesting each iteration's new results —
        read just the delta instead of rescanning the whole table (at the
        10^10 design point the results table is TBs; one iteration's
        appends are GBs). Raises if an OVERWRITE snapshot lands inside the
        requested window: an overwrite breaks append-delta semantics, and
        consuming across it silently would replay rows.

        When ``until_iter`` is None the window is capped at the last
        LINEAGE-COMMITTED iteration (same discipline as ``read(max_iter=
        committed)``): a crash can leave an append whose finalizer never
        landed, and ``rollback_above`` will delete it on resume — a
        consumer that ingested it would hold rows that no longer exist and
        a cursor already past the re-run iteration. Catalogs without a
        lineage table (raw use outside the loop) stay unbounded; a lineage
        table that EXISTS but has no committed snapshot (crash before the
        first finalizer, or a resume rollback) caps the window at -1 — an
        unbounded window there would ingest exactly the orphan appends
        ``rollback_above`` is about to delete.

        The plan holds data-dir paths, not a manifest: in a crawl with
        ``compact_every``, consume a held plan before the next compaction,
        because the loop's retention then deletes the appends that the
        compaction replaced."""
        if until_iter is None and os.path.isdir(self._table_dir("lineage")):
            until_iter = self.latest_iter("lineage")
        window = [
            s
            for s in self._snaps(table, max_iter=until_iter)
            if s["meta"].get("iter", -1) > after_iter
        ]
        bad = [s for s in window if s["mode"] != "append"]
        if bad:
            raise ValueError(
                f"incremental read of {table!r} after iter {after_iter}: "
                f"snapshot {bad[0]['id']} (iter {bad[0]['meta'].get('iter')}) "
                "is an overwrite — delta semantics end at an overwrite; "
                "re-baseline from read() instead"
            )
        return _scan(spark, window)

    def rollback_above(self, max_iter: int) -> None:
        """Drop snapshots from un-finalized iterations (meta.iter > max_iter)
        across ALL tables. Called on resume: a crash can leave committed
        snapshots for an iteration whose lineage (the finalizer) never
        landed; without this, re-running the iteration would append a second
        copy and duplicate rows forever."""
        for table in list(os.listdir(self.root)):
            if not os.path.isdir(self._table_dir(table)):
                continue
            with self._lock(table):
                keep = self._snaps(table, max_iter)
                if len(keep) != len(self._load_manifest(table)):
                    self._commit_manifest(table, keep)

    def expire_snapshots(self, table: str) -> int:
        """Drop snapshots superseded by a later overwrite (the Iceberg
        ``expire_snapshots`` analogue): manifest entries that no current
        read path can reach — every snapshot before the last overwrite —
        are removed and their data dirs deleted. Live snapshots are never
        touched. Returns the number expired.

        A later ``rollback_above`` below the overwrite's iteration cannot
        re-expose expired snapshots — run expiration only on lineage-
        committed history (the crawl loop does so after each commit)."""
        with self._lock(table):
            snaps = self._snaps(table)
            kept = _live(snaps)
            dead = snaps[: len(snaps) - len(kept)]
            if not dead:
                return 0
            # streaming sinks (streaming/catalog_sink.py) skip replayed
            # micro-batches by max(meta.stream_batch_id) over the manifest:
            # carry an expired maximum onto the newest survivor (live
            # snapshots always survive, so ``kept`` is never empty)
            dead_sb = _stream_batch_max(dead)
            if dead_sb > _stream_batch_max(kept):
                kept[-1] = {
                    **kept[-1],
                    "meta": {**kept[-1]["meta"], "stream_batch_id": dead_sb},
                }
            self._commit_manifest(table, kept)
        for s in dead:
            shutil.rmtree(s["dir"], ignore_errors=True)
        return len(dead)

    def remove_orphans(self, table: str, grace_s: float = 3600.0) -> int:
        """Delete ``snap-*`` data dirs not referenced by the manifest (the
        Iceberg ``remove_orphan_files`` analogue). Orphans accrue from two
        real paths: ``rollback_above`` (drops manifest entries, keeps dirs)
        and a writer that crashed after staging parquet but before its
        manifest commit. ``grace_s`` skips dirs younger than the grace
        window so an IN-FLIGHT writer's staging dir is never swept — same
        caveat as Iceberg's ``older_than`` retention (pass 0 only when no
        writer can be active). Returns the number of dirs removed."""
        tdir = self._table_dir(table)
        if not os.path.isdir(tdir):
            return 0
        referenced = {
            os.path.basename(s["dir"]) for s in self._load_manifest(table)
        }
        now = time.time()
        removed = 0
        for name in os.listdir(tdir):
            path = os.path.join(tdir, name)
            if (
                name.startswith("snap-")
                and os.path.isdir(path)
                and name not in referenced
                and now - os.path.getmtime(path) >= grace_s
            ):
                shutil.rmtree(path, ignore_errors=True)
                removed += 1
        return removed

    def compact(
        self, spark: SparkSession, table: str, num_files: int | None = None
    ) -> int | None:
        """Rewrite the table's LIVE state as one overwrite snapshot (the
        Iceberg `rewrite_data_files` analogue). Append-mode tables grow one
        snapshot per iteration — at 10^10 scale thousands of small files
        per table — so periodic compaction keeps the scan-side file count
        bounded. The compacted snapshot carries the max iter seen, so
        exact resume at or above that iteration is unaffected. Until
        ``expire_snapshots`` reclaims the superseded snapshots, a
        ``rollback_above`` below it drops the compaction and re-exposes
        them; the crawl loop expires them right after compacting, since
        its resume never goes below a committed iteration.

        Returns the new snapshot id, or None if there is nothing to do.
        """
        with self._lock(table):
            snaps = self._snaps(table)
            live = _live(snaps)
            if len(live) <= 1:
                return None
            if num_files is None:
                num_files = max(1, spark.sparkContext.defaultParallelism)
            meta = {"iter": max(s["meta"].get("iter", -1) for s in snaps),
                    "compacted_from": [s["id"] for s in live]}
            return self.write(_scan(spark, live).coalesce(num_files), table,
                              mode="overwrite", meta=meta)


def _live(snaps: list[dict]) -> list[dict]:
    """The entries a current read sees: the last overwrite and every
    append committed after it (all entries when there is no overwrite)."""
    start = max(
        (i for i, s in enumerate(snaps) if s["mode"] == "overwrite"), default=0
    )
    return snaps[start:]


def _scan(spark: SparkSession, snaps: list[dict]) -> DataFrame | None:
    """One parquet scan over ``snaps``' data dirs, or None for no entries.
    Footer schemas are merged only when the entries hold more than one
    recorded schema (an entry without one counts as ``None``)."""
    if not snaps:
        return None
    reader = spark.read
    if len({s.get("schema") for s in snaps}) > 1:
        reader = reader.option("mergeSchema", "true")
    return reader.parquet(*[s["dir"] for s in snaps])


def _stream_batch_max(snaps: list[dict]) -> int:
    return max((s["meta"].get("stream_batch_id", -1) for s in snaps), default=-1)

