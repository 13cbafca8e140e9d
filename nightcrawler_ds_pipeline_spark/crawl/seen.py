"""URL-seen set: partitioned Bloom pre-filter + exact anti-join decider.

north_rule: "partitioned Bloom-filter (plus cuckoo-filter fallback) URL-seen
set keyed by canonicalized-URL xxhash64". Reference analogue: the sha256
params-keyed response cache (helpers/api/api_caller.py:48-80) — a cache hit
suppresses the re-fetch; here membership in the seen set suppresses it.

Correctness contract (SURVEY.md §7 hard-point c): the Bloom filter is a
**shuffle reducer, never the decider**. A Bloom positive is always confirmed
by an exact ``left_anti`` join against the seen table; a Bloom negative is
definitely-new and skips the join entirely. At 10^10 URLs the seen table is
far beyond broadcast range, so the anti-join is a sort-merge shuffle — the
Bloom pre-pass shrinks its probe side to (true hits + ε·false positives).

Layout: partition p = pmod(url_hash, P); each partition owns an m-bit
sketch with k hashes derived from the already-uniform xxhash64 key via
splitmix64 double hashing (public-domain construction). Sketches OR-merge
across iterations and persist as one binary row per partition.

Both sketches — this Bloom and the deletion-capable cuckoo below — share
one probe: candidates' keys are shuffled by pmod(key, P) and cogrouped with
their OWN partition's sketch row via ``applyInPandas``; each task touches
exactly one sketch, **no sketch ever visits the driver** (SCALE.md §2: at
the design point the sketch table is ~12.5 GB — collect+broadcast would ship
it to the driver and then to every executor). Only the per-sketch
membership test differs. ``BloomSketch`` / ``CuckooSketch`` are the crawl
loop's handle on each: catalog table, validity meta, build and advance.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from nightcrawler_ds_pipeline_spark.crawl.cuckoo import CuckooFilter

# P must stay ≫ max(cores, shuffle partitions): the probe cogroups by
# pmod(key, P), and with P ≈ shuffle-partition count the balls-in-bins hash
# assignment hands some reducers 2-3 sketch groups and others none — the
# probe stage then runs at the speed of its worst bucket exactly when the
# core count is high (measured: P=32 on 32 cores cost 3.8 s vs 1.8 s on 8
# cores for the same 2 M-key probe). 256 locally; 4096 at the 10^10 design
# point (SCALE.md §2) — geometry travels inside the sketch rows either way.
DEFAULT_NUM_PARTITIONS = 256
DEFAULT_BITS_PER_PARTITION = 1 << 20  # 128 KiB/partition locally; scale at prod
DEFAULT_NUM_HASHES = 7

# one row per pmod(key, P) partition; num_partitions is stored IN the rows
# so probes can detect a modulus mismatch (silent false negatives otherwise)
BLOOM_SCHEMA = T.StructType(
    [
        T.StructField("partition_id", T.IntegerType(), False),
        T.StructField("num_partitions", T.IntegerType(), False),
        T.StructField("num_bits", T.LongType(), False),
        T.StructField("num_hashes", T.IntegerType(), False),
        T.StructField("bitset", T.BinaryType(), False),
        T.StructField("num_items", T.LongType(), False),
    ]
)

_SPLITMIX_1 = np.uint64(0x9E3779B97F4A7C15)
_SPLITMIX_2 = np.uint64(0xBF58476D1CE4E5B9)
_SPLITMIX_3 = np.uint64(0x94D049BB133111EB)


def _splitmix64(x: np.ndarray) -> np.ndarray:
    with np.errstate(over="ignore"):
        z = (x + _SPLITMIX_1).astype(np.uint64)
        z = (z ^ (z >> np.uint64(30))) * _SPLITMIX_2
        z = (z ^ (z >> np.uint64(27))) * _SPLITMIX_3
        return z ^ (z >> np.uint64(31))


def _bit_positions(hashes: np.ndarray, num_bits: int, num_hashes: int) -> np.ndarray:
    """(n, k) bit indices via double hashing h1 + i*h2 (Kirsch–Mitzenmacher)."""
    u = hashes.astype(np.int64).view(np.uint64)
    h1 = _splitmix64(u)
    h2 = _splitmix64(h1) | np.uint64(1)
    i = np.arange(num_hashes, dtype=np.uint64)[None, :]
    with np.errstate(over="ignore"):
        pos = (h1[:, None] + i * h2[:, None]) % np.uint64(num_bits)
    return pos.astype(np.int64)


def _pid(key: str, num_partitions: int):
    return F.pmod(F.col(key), F.lit(num_partitions)).cast("int")


def _check_modulus(stored: int, expected: int, what: str) -> None:
    # a modulus mismatch silently places keys in the WRONG sketch
    # → sketch false negatives → duplicate crawls; fail loudly
    if stored != expected:
        raise ValueError(
            f"{what} modulus {expected} != stored sketch modulus {stored}: "
            "the sketch was built with a different bloom_partitions — "
            "rebuild it from the seen table"
        )


def _suspect_keys(
    candidates: DataFrame, sketch_df: DataFrame, contains, key: str, num_partitions: int, what: str
) -> DataFrame:
    """Map-side co-partitioned probe → the sketch-POSITIVE key set.

    Candidates' keys shuffle by pmod(key, P); each cogroup task probes its
    rows against its own partition's sketch row (one 128 KiB–16 MiB binary
    blob per task, read executor-side) with ``contains(sketch_row, keys)``.
    The sketch table never crosses the driver, so the probe scales with P,
    not with Σ sketch bytes.
    """
    out_schema = T.StructType([T.StructField(key, T.LongType(), False)])

    def probe(cand_pdf: pd.DataFrame, sk_pdf: pd.DataFrame) -> pd.DataFrame:
        # no sketch row for this partition → no key of it was ever inserted
        if cand_pdf.empty or sk_pdf.empty:
            return pd.DataFrame({key: pd.Series([], dtype="int64")})
        row = sk_pdf.iloc[0]
        _check_modulus(int(row["num_partitions"]), num_partitions, what)
        keys = cand_pdf[key].to_numpy(dtype=np.int64)
        return pd.DataFrame({key: keys[contains(row, keys)]})

    keyed = candidates.select(key).withColumn("__pid", _pid(key, num_partitions))
    return (
        keyed.groupBy("__pid")
        .cogroup(sketch_df.groupBy("partition_id"))
        .applyInPandas(probe, schema=out_schema)
    )


def build_bloom_partitions(
    df: DataFrame,
    key: str = "url_hash",
    num_partitions: int = DEFAULT_NUM_PARTITIONS,
    num_bits: int = DEFAULT_BITS_PER_PARTITION,
    num_hashes: int = DEFAULT_NUM_HASHES,
) -> DataFrame:
    """Build one Bloom sketch per pmod(key, P) partition via applyInPandas."""

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        pid = int(pdf["__pid"].iloc[0])
        keys = pdf[key].to_numpy(dtype=np.int64)
        bits = np.zeros(num_bits // 8, dtype=np.uint8)
        pos = _bit_positions(keys, num_bits, num_hashes).ravel()
        np.bitwise_or.at(bits, pos >> 3, (1 << (pos & 7)).astype(np.uint8))
        return pd.DataFrame(
            {
                "partition_id": [pid],
                "num_partitions": [num_partitions],
                "num_bits": [num_bits],
                "num_hashes": [num_hashes],
                "bitset": [bits.tobytes()],
                "num_items": [len(keys)],
            }
        )

    keyed = df.select(key).withColumn("__pid", _pid(key, num_partitions))
    return keyed.groupBy("__pid").applyInPandas(build, schema=BLOOM_SCHEMA)


def merge_bloom_tables(a: DataFrame, b: DataFrame) -> DataFrame:
    """OR-merge two compatible Bloom tables partition-wise (pure Spark agg)."""
    both = a.unionByName(b)

    def merge(pdf: pd.DataFrame) -> pd.DataFrame:
        # sketches are only OR-compatible with identical geometry — a
        # silent mix (e.g. num_bits changed between runs) would corrupt
        # membership into FALSE NEGATIVES, i.e. duplicate crawls
        if (
            pdf["num_bits"].nunique() > 1
            or pdf["num_hashes"].nunique() > 1
            or pdf["num_partitions"].nunique() > 1
        ):
            raise ValueError(
                "incompatible Bloom sketch geometry in partition "
                f"{int(pdf['partition_id'].iloc[0])}: num_partitions="
                f"{sorted(pdf['num_partitions'].unique())} num_bits="
                f"{sorted(pdf['num_bits'].unique())} num_hashes="
                f"{sorted(pdf['num_hashes'].unique())} — rebuild the Bloom "
                "from the seen table instead of merging across configs"
            )
        acc = None
        for raw in pdf["bitset"].values:
            arr = np.frombuffer(raw, dtype=np.uint8)
            acc = arr.copy() if acc is None else (acc | arr)
        first = pdf.iloc[0]
        return pd.DataFrame(
            {
                "partition_id": [first["partition_id"]],
                "num_partitions": [first["num_partitions"]],
                "num_bits": [first["num_bits"]],
                "num_hashes": [first["num_hashes"]],
                "bitset": [acc.tobytes()],
                "num_items": [int(pdf["num_items"].sum())],
            }
        )

    return both.groupBy("partition_id").applyInPandas(merge, schema=BLOOM_SCHEMA)


def _bloom_contains(row: pd.Series, keys: np.ndarray) -> np.ndarray:
    bits = np.frombuffer(row["bitset"], dtype=np.uint8)
    pos = _bit_positions(keys, int(row["num_bits"]), int(row["num_hashes"]))
    return ((bits[pos >> 3] & (1 << (pos & 7)).astype(np.uint8)) != 0).all(axis=1)


def bloom_suspect_keys(
    candidates: DataFrame,
    bloom_df: DataFrame,
    key: str = "url_hash",
    num_partitions: int = DEFAULT_NUM_PARTITIONS,
) -> DataFrame:
    """Co-partitioned Bloom probe → a (key) DataFrame of maybe-seen keys —
    true hits + Bloom false positives; never misses a truly-seen key (no
    false negatives)."""
    return _suspect_keys(
        candidates, bloom_df, _bloom_contains, key, num_partitions, "Bloom probe"
    )


def filter_unseen(
    candidates: DataFrame,
    seen_df: DataFrame | None,
    sketch_df: DataFrame | None,
    key: str = "url_hash",
    num_partitions: int = DEFAULT_NUM_PARTITIONS,
    sketch: str = "bloom",
) -> DataFrame:
    """Exact not-seen filter with a sketch pre-pass (J2, the workhorse join).

    The sketch never decides: the result always comes from an exact join
    against the seen table, the sketch only shrinks that join's probe side
    to (true hits + ε false positives). Without a sketch (or without a seen
    table) this degrades gracefully to the exact path alone.

    suspects = the co-partitioned probe of ``sketch`` (map-side cogroup, no
    driver collect); confirmed-seen = suspects ⋉ seen; result = candidates
    ▷ confirmed-seen. Because neither sketch has false negatives,
    confirmed-seen ≡ candidates ∩ seen, so the result is exactly candidates
    \\ seen. confirmed-seen is small (≈ the re-seen fraction of the batch),
    so AQE turns the final anti-join into a broadcast — the full-width
    candidate rows are never shuffled.
    """
    if sketch not in _SUSPECT_KEYS:
        raise ValueError(f"filter_unseen: unknown sketch {sketch!r}")
    if seen_df is None:
        return candidates
    seen_keys = seen_df.select(key)
    if sketch_df is None:
        return candidates.join(seen_keys, key, "left_anti")
    suspect_keys = _SUSPECT_KEYS[sketch](candidates, sketch_df, key, num_partitions)
    confirmed_seen = suspect_keys.join(seen_keys, key, "left_semi")
    return candidates.join(confirmed_seen, key, "left_anti")


# --- cuckoo-filter sketch (deletion-capable; the TTL-workload path) ----------
# Same partitioned layout and co-partitioned probe as the Bloom, but the
# per-partition sketch is a cuckoo table (crawl/cuckoo.py) with MULTISET
# insert/delete: each seen append inserts one fingerprint copy, each TTL
# expiry deletes one, so a URL re-seen before its old entry expires keeps a
# copy per active row and the sketch tracks the ACTIVE seen set instead of
# accumulating false-positive history the way the Bloom must.
CUCKOO_SCHEMA = T.StructType(
    [
        T.StructField("partition_id", T.IntegerType(), False),
        T.StructField("num_partitions", T.IntegerType(), False),
        T.StructField("num_buckets", T.LongType(), False),
        T.StructField("table", T.BinaryType(), False),
        T.StructField("num_items", T.LongType(), False),
    ]
)

DEFAULT_CUCKOO_BUCKETS = 1 << 14  # ×4 slots ×2 B = 128 KiB/partition


def _cuckoo_row(pid: int, num_partitions: int, cf) -> pd.DataFrame:
    return pd.DataFrame(
        {
            "partition_id": [pid],
            "num_partitions": [num_partitions],
            "num_buckets": [cf.num_buckets],
            "table": [cf.to_bytes()],
            "num_items": [cf.num_items],
        }
    )


def build_cuckoo_partitions(
    df: DataFrame,
    key: str = "url_hash",
    num_partitions: int = DEFAULT_NUM_PARTITIONS,
    num_buckets: int = DEFAULT_CUCKOO_BUCKETS,
) -> DataFrame:
    """One cuckoo sketch per pmod(key, P) partition via applyInPandas."""

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        pid = int(pdf["__pid"].iloc[0])
        cf = CuckooFilter(num_buckets=num_buckets)
        for k in pdf[key].to_numpy(dtype=np.int64):
            if not cf.insert(int(k)):
                raise ValueError(
                    f"cuckoo partition {pid} full at {cf.num_items} items — "
                    "increase num_buckets or num_partitions"
                )
        return _cuckoo_row(pid, num_partitions, cf)

    keyed = df.select(key).withColumn("__pid", _pid(key, num_partitions))
    return keyed.groupBy("__pid").applyInPandas(build, schema=CUCKOO_SCHEMA)


def update_cuckoo_tables(
    sketches: DataFrame | None,
    additions: DataFrame | None,
    deletions: DataFrame | None,
    key: str = "url_hash",
    num_partitions: int = DEFAULT_NUM_PARTITIONS,
    num_buckets: int = DEFAULT_CUCKOO_BUCKETS,
) -> DataFrame:
    """Apply (insert additions, delete deletions) per partition — cogrouped
    so no sketch visits the driver. Deleting a key with no stored copy is a
    no-op (expiry of a row whose sketch predates it, or a rebuilt sketch)."""

    def ops_frame(df: DataFrame | None, op: int) -> DataFrame | None:
        if df is None:
            return None
        return df.select(
            F.col(key), F.lit(op).alias("__op"), _pid(key, num_partitions).alias("__pid")
        )

    adds = ops_frame(additions, 1)
    dels = ops_frame(deletions, -1)
    if adds is None and dels is None:
        raise ValueError("update_cuckoo_tables: nothing to apply")
    ops = adds if dels is None else (dels if adds is None else adds.unionByName(dels))

    def update(ops_pdf: pd.DataFrame, sk_pdf: pd.DataFrame) -> pd.DataFrame:
        if not sk_pdf.empty:
            row = sk_pdf.iloc[0]
            _check_modulus(int(row["num_partitions"]), num_partitions, "cuckoo update")
            cf = CuckooFilter.from_bytes(row["table"], int(row["num_buckets"]))
            pid = int(row["partition_id"])
        else:
            cf = CuckooFilter(num_buckets=num_buckets)
            pid = int(ops_pdf["__pid"].iloc[0])
        # all inserts before all deletes: a key added AND expiring in the
        # same update (ttl_iters=1) must net to zero copies regardless of
        # the shuffle's row order
        kk = ops_pdf[key].to_numpy(dtype=np.int64)
        oo = ops_pdf["__op"].to_numpy(dtype=np.int64)
        for k in kk[oo > 0]:
            if not cf.insert(int(k)):
                raise ValueError(
                    f"cuckoo partition {pid} full at {cf.num_items} items"
                )
        for k in kk[oo < 0]:
            cf.delete(int(k))
        return _cuckoo_row(pid, num_partitions, cf)

    if sketches is None:
        return ops.groupBy("__pid").applyInPandas(
            lambda pdf: update(pdf, pd.DataFrame()), schema=CUCKOO_SCHEMA
        )
    return (
        ops.groupBy("__pid")
        .cogroup(sketches.groupBy("partition_id"))
        .applyInPandas(update, schema=CUCKOO_SCHEMA)
    )


def _cuckoo_contains(row: pd.Series, keys: np.ndarray) -> np.ndarray:
    return CuckooFilter.from_bytes(row["table"], int(row["num_buckets"])).contains(keys)


def cuckoo_suspect_keys(
    candidates: DataFrame,
    cuckoo_df: DataFrame,
    key: str = "url_hash",
    num_partitions: int = DEFAULT_NUM_PARTITIONS,
) -> DataFrame:
    """Co-partitioned cuckoo probe → the maybe-seen key set (same contract
    as bloom_suspect_keys: false positives possible, never false negatives
    for keys whose inserts were applied)."""
    return _suspect_keys(
        candidates, cuckoo_df, _cuckoo_contains, key, num_partitions, "cuckoo probe"
    )


_SUSPECT_KEYS = {"bloom": bloom_suspect_keys, "cuckoo": cuckoo_suspect_keys}


# --- the crawl loop's handle on each sketch ----------------------------------
# A stored sketch is valid for a run only while every key of ``meta``
# equals the meta it was written with (the loop checks this from the
# snapshot manifest alone — no Spark job). ``build`` derives the sketch from
# the seen table; ``advance`` folds one iteration's new and expiring seen
# rows in, returning None when that leaves the sketch unchanged.


@dataclass(frozen=True)
class BloomSketch:
    """OR-merge Bloom. It cannot delete, so it is built from the FULL seen
    history and keeps TTL-expired keys on purpose — they only cost false
    positives, and the exact anti-join decides."""

    num_partitions: int = DEFAULT_NUM_PARTITIONS
    table = "bloom"

    @property
    def meta(self) -> dict:
        return {"num_partitions": self.num_partitions}

    def build(self, seen_full: DataFrame, active: DataFrame) -> DataFrame:
        return build_bloom_partitions(seen_full, num_partitions=self.num_partitions)

    def advance(self, sketch, new, expiring) -> DataFrame | None:
        if new is None:
            return None
        added = build_bloom_partitions(new, num_partitions=self.num_partitions)
        return added if sketch is None else merge_bloom_tables(sketch, added)


@dataclass(frozen=True)
class CuckooSketch:
    """Multiset insert/delete cuckoo. It tracks the ACTIVE seen set: built
    from the TTL-filtered rows, each seen generation deleted exactly once,
    at exactly its expiry iteration."""

    num_partitions: int = DEFAULT_NUM_PARTITIONS
    num_buckets: int = DEFAULT_CUCKOO_BUCKETS
    ttl_iters: int | None = None
    table = "cuckoo"

    @property
    def meta(self) -> dict:
        # the stored content depends on the TTL it was maintained under: a
        # resume with a LONGER (or no) TTL re-activates generations the old
        # sketch already deleted — probing it would under-approximate the
        # active set and silently re-crawl seen URLs
        return {"num_partitions": self.num_partitions, "ttl_iters": self.ttl_iters}

    def build(self, seen_full: DataFrame, active: DataFrame) -> DataFrame:
        return build_cuckoo_partitions(
            active, num_partitions=self.num_partitions, num_buckets=self.num_buckets
        )

    def advance(self, sketch, new, expiring) -> DataFrame | None:
        if new is None and expiring is None:
            return None
        return update_cuckoo_tables(
            sketch,
            new,
            expiring,
            num_partitions=self.num_partitions,
            num_buckets=self.num_buckets,
        )
