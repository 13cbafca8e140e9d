"""Connected components over near-duplicate candidate pairs → dedup groups.

The missing last step of a real dedup pipeline: LSH (MinHash / SimHash /
embedding) emits candidate PAIRS, but keep/drop decisions need GROUPS —
every document labeled with the canonical (minimum) id of its duplicate
cluster, including transitive duplicates that never shared a band.

Algorithm: alternating large-star / small-star (Kiveris et al., "Connected
Components in MapReduce and Beyond", SoCC'14) — the standard shuffle-based
CC algorithm, converging in O(log n) rounds:

- large-star(u): attach every neighbor v > u to m = min(N(u) ∪ {u})
- small-star(u): over edges directed high→low, attach every neighbor
  (all ≤ u) and u itself to m = min(N(u) ∪ {u})

Each round is one groupBy(node) + one equi-join on node id — plain hash
shuffles on the node key that AQE can re-plan for skew; per-round state
is localCheckpoint()ed so the lineage (and task closure) stays O(1) in
the round count. The only driver-side data is a (count, checksum) pair
per round for the convergence test — never the edge set itself, so the
same loop runs unchanged on a 10^10-edge frontier.

Small-graph fast path: when the deduped edge set is at most
``local_edges_max`` rows (exact count — the same scalar the fingerprint
already computes), the edges are Arrow-collected and labeled with a
driver-side union-find instead of running the distributed fixpoint. This
is the standard broadcast-threshold pattern (GraphFrames'
connectedComponents does the same): after heavy upstream pruning the star
rounds are pure job-scheduling latency — measured at a LEVEL-INDEPENDENT
~27 s for 5 rounds at local[8] AND local[32] on a 1M-doc corpus (2.2M
post-LSH star edges — measured, not the "~10^4" first estimate), an
Amdahl floor that was 22% of the clean 32-core curation wall. The local
path factorizes the ids (longs or strings), runs union-find over int
codes (~2.6 s / 2.2M edges measured), and crosses the driver twice via
Arrow — identical min-id fixpoint. The collected set is bounded by an
exact pre-counted threshold (default 4M edges ≈ 64 MB of id arrays) —
at 10^10-doc scale (≈2×10^10 edges by the measured edges/doc ratio)
the edge set exceeds the threshold and the distributed fixpoint runs
unchanged.

Reference tie-in: the reference dedups row-at-a-time inside one process
(s05_dataprocessor.py drop_duplicates); transitive grouping at cluster
scale needs exactly this operator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from nightcrawler_ds_pipeline_spark.registry import register
from nightcrawler_ds_pipeline_spark.operators.sqlfrags import read_table
from nightcrawler_ds_pipeline_spark.operators.dedup import (
    dedup_minhash_lsh_pairs,
    minhash_pairs_sql,
)


# Collect-and-label threshold for the small-graph fast path. 4×10^6 edges
# Arrow-collect to two ~32 MB id arrays (int codes) — safe at any
# realistic driver heap — and cover the measured bench-scale edge sets
# (1M-doc corpus ⇒ 2.2M post-LSH star edges) with headroom. Above it the
# distributed star fixpoint runs, as it must at 10^8+ edges.
LOCAL_EDGES_MAX = 4_000_000

# Byte ceiling for the collected edge frame when ids are STRINGS (URLs,
# image ids). The row-count gate's "≈64 MB" arithmetic assumes fixed-width
# int64 ids; a string cell costs its UTF-8 bytes PLUS ~56 B of Python/pandas
# object overhead, so a 4M-edge URL graph (~80-char ids) is >1 GB of driver
# memory. The estimate (total id bytes + 2×56 B per edge) comes from the
# same aggregate that fingerprints the edge set — no extra job — and graphs
# over the ceiling run the distributed fixpoint instead. It counts bytes
# (octet_length), not characters: a non-ASCII id costs up to 4 B per char.
# Integral ids are bounded by LOCAL_EDGES_MAX alone.
#
# The ceiling bounds the collected FRAME, not the driver's peak: while
# `_local_components` runs, the Arrow batches, the pandas object columns,
# their concatenation and the factorized codes are alive together, so peak
# driver memory is about 1.5-2× the estimate (≈0.75-1 GB at the default).
LOCAL_EDGE_BYTES_MAX = 512 * 1024 * 1024
_STRING_CELL_OVERHEAD = 56


def _local_components(pdf) -> "pandas.DataFrame":  # noqa: F821
    """Min-id connected components over a collected two-column edge frame —
    the driver-side twin of the star fixpoint.

    Ids (int64 or string) are factorized to dense codes, the codes are
    rank-remapped so code order == id order (min over codes == min over
    ids), and a path-compressing union-find roots every merge under the
    smaller code. Measured 2.6 s on a 2.2M-edge / 1.2M-node worst-case
    random graph — vs the distributed fixpoint's ~27 s of round-scheduling
    latency on the same size. Returns a (node, component) pandas frame in
    the input dtype.
    """
    import numpy as np
    import pandas as pd

    both = pd.concat([pdf.iloc[:, 0], pdf.iloc[:, 1]], ignore_index=True)
    codes, uniques = pd.factorize(both)
    uniques = np.asarray(uniques)
    order = np.argsort(uniques, kind="stable")
    rank = np.empty(len(order), dtype=np.int64)
    rank[order] = np.arange(len(order))
    ids_sorted = uniques[order]
    n_edges = len(pdf)
    u = rank[codes[:n_edges]].tolist()
    v = rank[codes[n_edges:]].tolist()

    parent = list(range(len(ids_sorted)))

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while x != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for a, b in zip(u, v):
        ra, rb = find(a), find(b)
        if ra == rb:
            continue
        if rb < ra:
            ra, rb = rb, ra
        parent[rb] = ra
    # flatten: path compression keeps trees shallow, so numpy pointer
    # doubling reaches the fixpoint in a couple of passes
    par = np.asarray(parent, dtype=np.int64)
    while True:
        pp = par[par]
        if np.array_equal(pp, par):
            break
        par = pp
    return pd.DataFrame({"node": ids_sorted, "component": ids_sorted[par]})


def _edge_fingerprint(
    edges: DataFrame, with_bytes: bool = False
) -> tuple[int, int] | tuple[int, int, int]:
    """(count, order-independent checksum) of an edge set — the convergence
    probe. Two scalars cross the driver per round, never rows. With
    ``with_bytes`` (string-id gate, first call only) the same action also
    returns total id bytes for the collect-footprint estimate."""
    aggs = [
        F.count("*").alias("n"),
        F.coalesce(
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")), F.lit(0)
        ).alias("h"),
    ]
    if with_bytes:
        aggs.append(
            F.coalesce(
                F.sum((F.octet_length("u") + F.octet_length("v")).cast("long")),
                F.lit(0),
            ).alias("c")
        )
    row = edges.agg(*aggs).collect()[0]
    if with_bytes:
        return int(row["n"]), int(row["h"]), int(row["c"])
    return int(row["n"]), int(row["h"])


# Both star steps compute "per node u, the minimum over its incident
# rows" and then emit per-ROW edges to that minimum. A groupBy(u) +
# join-back references the incident-edge frame in two different subplans
# (one under a partial agg), which defeats exchange reuse — the frame is
# exchanged (and its lineage re-executed) twice per star. A window min
# over partitionBy(u) is the same algebra in ONE exchange with no join;
# the per-node sort it adds is on the same key the groupBy would have
# shuffled on. (Same fix as dedup.minhash_band_star_edges_df — measured
# there at 2× the map-side cost.)


def _large_star(edges: DataFrame) -> DataFrame:
    both = edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    with_min = both.withColumn(
        "m", F.least(F.min("v").over(Window.partitionBy("u")), F.col("u"))
    )
    # NO distinct here: the output is ≤|E| rows with or without it (each
    # input row emits at most one (v, m) edge), small-star's window min is
    # multiset-insensitive, and small-star's own trailing distinct
    # canonicalizes the round — so a distinct here is a pure extra shuffle
    # barrier per round, at toy scale AND at 10^10 edges (r5: one of the
    # four sequential exchanges in every fixpoint round, deleted).
    return (
        with_min.filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .filter(F.col("u") != F.col("v"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    directed = edges.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).filter(F.col("u") != F.col("v"))
    with_min = directed.withColumn("m", F.min("v").over(Window.partitionBy("u")))
    nbr_edges = with_min.select(F.col("v").alias("u"), F.col("m").alias("v"))
    self_edges = with_min.select("u", F.col("m").alias("v"))
    return (
        nbr_edges.union(self_edges)
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def connected_components(
    edges: DataFrame,
    nodes: DataFrame | None = None,
    max_rounds: int = 30,
    verify: bool = True,
    stats: dict | None = None,
    local_edges_max: int | None = LOCAL_EDGES_MAX,
    local_edge_bytes_max: int | None = LOCAL_EDGE_BYTES_MAX,
) -> DataFrame:
    """Label every node with the MINIMUM node id of its component.

    ``edges``: two same-typed orderable columns (first = one endpoint,
    second = the other; direction ignored, self-loops fine) — longs, strings,
    anything with a total order. ``nodes``: optional one-column frame of ALL
    node ids — isolated nodes (no edges) come back labeled with themselves.
    Returns (node, component), one row per node. Deterministic: the fixpoint
    of star rounds is unique (a star forest rooted at each component's
    minimum), independent of partitioning.

    ``stats``, when given, receives {edges_sec, rounds, rounds_sec} — the
    scaling bench's Amdahl attribution (the fixpoint's per-round latency is
    level-independent at bench scale).

    ``local_edges_max``: small-graph threshold (module docstring). The
    deduped edge count is measured EXACTLY (the fingerprint scalar) before
    any collect; at or below the threshold a driver-side union-find labels
    the graph (identical min-id fixpoint, `stats["local_edges"]` set,
    rounds = 0), above it the distributed star rounds run. Pass ``None``
    or ``0`` to force the distributed path (tests exercise both).

    Partitioning inside the fixpoint: the eager rounds run with AQE's
    ``coalescePartitions.parallelismFirst`` OFF (restored after). The star
    edge sets shrink toward the forest within a couple of rounds; with the
    parallelism-first default every tiny round still schedules
    cores×stages near-empty tasks, and that scheduling floor — not data —
    was 35 of the 96 s curation wall at local[32]/10^6 docs (r5 measured).
    Bytes-first coalescing collapses each round to a handful of tasks;
    at real scale, where round inputs are large, it sizes partitions by
    bytes exactly as the default would.
    """
    import time as _time

    spark = edges.sparkSession
    _PF = "spark.sql.adaptive.coalescePartitions.parallelismFirst"
    saved_pf = spark.conf.get(_PF, None)
    spark.conf.set(_PF, "false")
    _t0 = _time.time()
    rounds = 0
    try:
        ecols = edges.columns
        e = (
            edges.select(F.col(ecols[0]).alias("u"), F.col(ecols[1]).alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # lazy localCheckpoint + fingerprint-as-materializer: the
        # fingerprint aggregate is the action that materializes each
        # round's checkpoint, so a round costs ONE job instead of an
        # eager-checkpoint job followed by a fingerprint job — at toy
        # edge counts the fixpoint is pure job latency and this halves it
        e = e.localCheckpoint(eager=False)
        # string ids: the same fingerprint action also measures total id
        # bytes, so the local gate can bound the COLLECTED footprint, not
        # just the row count (module constant docstring)
        from pyspark.sql import types as T

        id_is_string = isinstance(e.schema["u"].dataType, T.StringType)
        gate_bytes = bool(local_edges_max) and id_is_string and bool(
            local_edge_bytes_max
        )
        if gate_bytes:
            n, h, id_bytes = _edge_fingerprint(e, with_bytes=True)
        else:
            n, h = _edge_fingerprint(e)
        if stats is not None:
            stats["edges_sec"] = round(_time.time() - _t0, 2)
        _t0 = _time.time()
        local = bool(local_edges_max) and 0 < n <= local_edges_max
        if local and gate_bytes:
            local = (
                id_bytes + 2 * _STRING_CELL_OVERHEAD * n <= local_edge_bytes_max
            )
        label_pdf = None
        if local:
            # bounded by the exact count above; the checkpoint the
            # fingerprint just materialized makes this Arrow collect one
            # cheap read, not a lineage re-execution
            label_pdf = _local_components(e.toPandas())
            if stats is not None:
                stats["rounds"] = 0
                stats["local_edges"] = n
                stats["rounds_sec"] = round(_time.time() - _t0, 2)
        else:
            # one star round per job (a two-rounds-per-job variant was
            # tried and measured WORSE: the fused job serializes twice the
            # stages under AQE and pays a full wasted identity double-round
            # at the fixpoint — r5, 1M-doc corpus: rounds_sec 37 s → 72 s)
            for _ in range(max_rounds):
                if n == 0:
                    break
                e = _small_star(_large_star(e)).localCheckpoint(eager=False)
                rounds += 1
                n2, h2 = _edge_fingerprint(e)
                if (n2, h2) == (n, h):
                    break
                n, h = n2, h2
            else:  # pragma: no cover — star rounds converge in O(log n) ≪ 30
                raise RuntimeError(
                    f"connected_components: no fixpoint in {max_rounds} rounds"
                )
            if stats is not None:
                stats["rounds"] = rounds
                stats["rounds_sec"] = round(_time.time() - _t0, 2)
    finally:
        if saved_pf is None:
            spark.conf.unset(_PF)
        else:
            spark.conf.set(_PF, saved_pf)
    if label_pdf is not None:
        # union-find is exact — no collision guard needed (verify= is a
        # fingerprint-convergence safeguard, and the local path doesn't
        # converge by fingerprint); Arrow createDataFrame back
        from pyspark.sql import types as T

        utype = e.schema["u"].dataType
        out = spark.createDataFrame(
            label_pdf,
            T.StructType(
                [
                    T.StructField("node", utype, False),
                    T.StructField("component", utype, False),
                ]
            ),
        )
    else:
        # fixpoint edge set is a star forest: u → component root (= min id)
        labels = e.groupBy("u").agg(F.min("v").alias("component")).select(
            F.col("u").alias("node"), "component"
        )
        # collision guard (verify=True): convergence is detected by a 64-bit
        # fingerprint, so a per-round ~2^-64 checksum collision could stop
        # the loop on a non-star edge set and silently mislabel. In a true
        # star forest no edge target is itself re-attached elsewhere — any v
        # that also appears as a source u with component != itself fails
        # loudly (one scalar count per call). Callers that accept the 2^-64
        # risk on the hot path pass verify=False to skip the extra action.
        if verify:
            bad = (
                e.select(F.col("v").alias("node"))
                .distinct()
                .join(
                    labels.filter(F.col("component") != F.col("node")),
                    "node",
                    "left_semi",
                )
                .count()
            )
            if bad:
                raise RuntimeError(
                    "connected_components: fixpoint is not a star forest "
                    f"({bad} non-root edge targets) — fingerprint collision?"
                )
        roots = e.select(F.col("v").alias("node")).distinct().join(
            labels.select("node"), "node", "left_anti"
        ).withColumn("component", F.col("node"))
        out = labels.union(roots)
    if nodes is not None:
        ncol = nodes.columns[0]
        allnodes = nodes.select(F.col(ncol).alias("node")).distinct()
        isolated = allnodes.join(out.select("node"), "node", "left_anti").withColumn(
            "component", F.col("node")
        )
        out = out.union(isolated)
    return out


# --- registered query: MinHash-LSH pairs → transitive dedup groups -----------
# Oracle: DuckDB recursive CTE (min-label reachability) over the SAME pair
# SQL as dedup_minhash_lsh_pairs — an algorithm-independent ground truth.
@register(
    "dedup_connected_components",
    oracle=f"""
    WITH RECURSIVE {minhash_pairs_sql("(SELECT doc_id, text FROM documents WHERE doc_id < 200)")},
    edges AS (
      SELECT id_a AS u, id_b AS v FROM pairs
      UNION ALL SELECT id_b, id_a FROM pairs
    ),
    nodes AS (SELECT DISTINCT doc_id FROM documents WHERE doc_id < 200),
    reach(n, lbl) AS (
      SELECT doc_id, doc_id FROM nodes
      UNION
      SELECT e.v, r.lbl FROM reach r JOIN edges e ON e.u = r.n
    ),
    comp AS (
      SELECT n AS doc_id, MIN(lbl) AS group_id FROM reach GROUP BY n
    )
    SELECT doc_id, CAST(group_id AS BIGINT) AS group_id,
           CAST(COUNT(*) OVER (PARTITION BY group_id) AS BIGINT) AS group_size
    FROM comp ORDER BY doc_id
    """,
)
def dedup_connected_components(spark, sf_dir):
    pairs = dedup_minhash_lsh_pairs(spark, sf_dir)
    nodes = (
        read_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 200)
        .select("doc_id")
    )
    cc = connected_components(pairs.select("id_a", "id_b"), nodes=nodes)
    sizes = cc.groupBy("component").agg(F.count("*").alias("group_size"))
    return (
        cc.join(sizes, "component")
        .select(
            F.col("node").alias("doc_id"),
            F.col("component").alias("group_id"),
            F.col("group_size").cast("long").alias("group_size"),
        )
        .orderBy("doc_id")
    )


# --- reuse: phash near-dup pairs → image dup groups (rows-only; binary
# codec upstream has no SQL twin — pytest pins a planted-cluster case) -------
def image_phash_groups(spark, sf_dir, pairs: DataFrame | None = None):
    from nightcrawler_ds_pipeline_spark.operators.multimodal import (
        image_phash_neardup,
    )

    # nodes=None: every endpoint of a pair is labeled by the CC fixpoint
    # itself, and materializing a separate node frame would re-run the
    # whole binary decode+phash lineage a second time (only the edge set
    # is checkpointed inside connected_components). ``pairs`` lets the
    # image_phash_suite composite pass an already-checkpointed near-dup
    # edge frame so the banded self-join is not executed a second time.
    if pairs is None:
        pairs = image_phash_neardup(spark, sf_dir)
    cc = connected_components(pairs.select("id_a", "id_b"))
    return (
        cc.select(
            F.col("node").alias("image_id"),
            F.col("component").alias("group_id"),
        )
        .orderBy("image_id")
    )
