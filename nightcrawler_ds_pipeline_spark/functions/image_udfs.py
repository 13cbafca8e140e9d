"""Vectorized image UDFs (Arrow-batched; no per-row Python at the row level).

Implements the BASELINE.json ``input_hint`` image operations: decode image
``bytes`` → (w, h, phash, decode_ok) and hamming distance (the PSNR gate is
``codecs.psnr``). Decode
runs inside ``mapInPandas`` so each Arrow batch is processed as one unit and
wide binary columns never round-trip more than once. Corrupt payloads become
error rows, never exceptions (reference analogue: error rows at
s04_zyte.py:83-90,110-112).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nightcrawler_ds_pipeline_spark.codecs import decode_image, phash64

DECODE_COLS = "w_decoded int, h_decoded int, phash_decoded long, decode_ok boolean"


def _decode_batch(pdf: pd.DataFrame, bytes_col: str) -> pd.DataFrame:
    n = len(pdf)
    w = np.zeros(n, dtype="int32")
    h = np.zeros(n, dtype="int32")
    ph = np.zeros(n, dtype="int64")
    ok = np.zeros(n, dtype=bool)
    for i, data in enumerate(pdf[bytes_col].values):
        try:
            px = decode_image(data)
        except Exception:
            continue
        h[i], w[i] = px.shape[0], px.shape[1]
        ph[i] = phash64(px)
        ok[i] = True
    # drop the binary column from the OUTPUT: the payload must never ship
    # Python→JVM again (measured: 4 GB/210k rows — the round-trip was the
    # whole stage cost, not the codec)
    out = pdf.drop(columns=[bytes_col])
    out["w_decoded"] = w
    out["h_decoded"] = h
    out["phash_decoded"] = ph
    out["decode_ok"] = ok
    return out


def decode_images(
    df: DataFrame, bytes_col: str = "bytes", parallelism: int | None = None
) -> DataFrame:
    """bytes → (w_decoded, h_decoded, phash_decoded, decode_ok) via
    mapInPandas. The output schema EXCLUDES the binary column — the payload
    crosses the Arrow boundary exactly once (JVM→Python), never back.

    Decode is the CPU-heavy stage of the crawl loop; AQE sizes partitions
    for shuffle bytes, under-parallelizing a compute-bound Python stage —
    so repartition to the session parallelism first (round-robin)."""
    spark = df.sparkSession
    n = parallelism or spark.sparkContext.defaultParallelism
    df = df.repartition(n)
    schema_str = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}"
        for f in df.schema.fields
        if f.name != bytes_col
    )
    out_schema = f"{schema_str}, {DECODE_COLS}"

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield _decode_batch(pdf, bytes_col)

    return df.mapInPandas(op, schema=out_schema)


def hamming64_col(a, b):
    """JVM-side 64-bit hamming distance via bit_count(a XOR b) — codegen'd."""
    ca = F.col(a) if isinstance(a, str) else a
    cb = F.col(b) if isinstance(b, str) else b
    return F.bit_count(ca.bitwiseXOR(cb))
