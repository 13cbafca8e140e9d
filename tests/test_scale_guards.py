"""Round-6 ADVICE guards: byte-aware CC collect gate + LSH banding assert.

1. connected_components' driver union-find fast path gates on EDGE COUNT;
   for string ids (URLs, image ids) the collected pandas footprint is
   count x (chars + ~56 B object overhead per cell), so a 4M-edge URL
   graph would be multiple GB. The gate now also estimates bytes for
   string ids (from the same fingerprint aggregate — no extra job) and
   falls back to the distributed fixpoint above `local_edge_bytes_max`.
   Both paths are equivalent (pinned in test_components); these tests pin
   the ROUTING.

2. minhash_pairs_sql / banded-pair builders silently truncated trailing
   hashes when num_hashes % band_size != 0 (range(num_hashes // band_size)).
   CurationConfig validates, but direct callers ran weaker banding with no
   error. Both now fail loudly, matching CurationConfig's message shape.
"""

import pytest

from nightcrawler_ds_pipeline_spark.operators import components as C
from nightcrawler_ds_pipeline_spark.operators.dedup import (
    minhash_band_pairs_df,
    minhash_band_star_edges_df,
    minhash_pairs_sql,
)


def _labels(df):
    return {(r["node"], r["component"]) for r in df.collect()}


def test_long_string_ids_route_to_distributed(spark):
    # two chains of long string ids: tiny edge count, but the byte cap is
    # set below the estimated footprint -> distributed fixpoint must run
    a, b, c, d = (f"https://example.com/{x}" * 4 for x in "abcd")
    edges = spark.createDataFrame(
        [(a, b), (b, c), (c, d)], ["u", "v"]
    )
    stats = {}
    out = C.connected_components(
        edges, stats=stats, local_edge_bytes_max=64
    )
    assert stats["rounds"] >= 1  # distributed path
    assert "local_edges" not in stats
    root = min(a, b, c, d)
    assert _labels(out) == {(x, root) for x in (a, b, c, d)}


def test_non_ascii_ids_gate_on_bytes_not_chars(spark):
    # ids of mostly 3-byte UTF-8 chars: the cap sits just above the
    # estimate by CHARACTERS and below the estimate by BYTES, so only a
    # byte-sized gate routes this graph to the distributed fixpoint
    from tests.test_components import _union_find

    a, b, c, d, x = ("日本語のページ" + k for k in "abcdx")
    pairs = [(b, a), (c, b), (d, x)]
    overhead = 2 * C._STRING_CELL_OVERHEAD * len(pairs)
    cap = sum(len(u) + len(v) for u, v in pairs) + overhead
    assert sum(len(u.encode()) + len(v.encode()) for u, v in pairs) + overhead > cap
    stats = {}
    out = C.connected_components(
        spark.createDataFrame(pairs, ["u", "v"]), stats=stats, local_edge_bytes_max=cap
    )
    assert stats["rounds"] >= 1  # distributed path
    assert "local_edges" not in stats
    assert _labels(out) == set(_union_find([a, b, c, d, x], pairs).items())


def test_short_string_ids_stay_local(spark):
    # short ids under both gates -> local union-find (rounds == 0)
    edges = spark.createDataFrame([("i1", "i2"), ("i2", "i3")], ["u", "v"])
    stats = {}
    out = C.connected_components(edges, stats=stats)
    assert stats["rounds"] == 0 and stats["local_edges"] == 2
    assert _labels(out) == {("i1", "i1"), ("i2", "i1"), ("i3", "i1")}


def test_integral_ids_ignore_byte_cap(spark):
    # fixed-width ids are bounded by the row-count gate alone: a 1-byte
    # cap must not push an int graph off the local path
    edges = spark.createDataFrame([(1, 2), (2, 3)], ["u", "v"])
    stats = {}
    out = C.connected_components(edges, stats=stats, local_edge_bytes_max=1)
    assert stats["rounds"] == 0 and stats["local_edges"] == 2
    assert _labels(out) == {(1, 1), (2, 1), (3, 1)}


def test_minhash_pairs_sql_rejects_ragged_banding():
    with pytest.raises(ValueError, match="multiple"):
        minhash_pairs_sql("docs", num_hashes=8, band_size=3)
    with pytest.raises(ValueError, match="multiple"):
        minhash_pairs_sql("docs", num_hashes=8, band_size=0)
    # exact divisors still fine
    assert "band_key" in minhash_pairs_sql("docs", num_hashes=8, band_size=4)


def test_band_builders_reject_ragged_banding(spark):
    docs = spark.createDataFrame([(1, "a b c")], ["doc_id", "text"])
    with pytest.raises(ValueError, match="multiple"):
        minhash_band_pairs_df(docs, num_hashes=8, band_size=3)
    with pytest.raises(ValueError, match="multiple"):
        minhash_band_star_edges_df(docs, num_hashes=6, band_size=4)
