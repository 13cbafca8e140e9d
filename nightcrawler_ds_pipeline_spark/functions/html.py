"""HTML payload decode — S7 (reference s04_zyte.py:148-155).

base64-decode is JVM-side (`F.unbase64`); charset detection + decode with
replacement needs Python (charset_normalizer), so it runs as an
Arrow-batched pandas UDF (`decode_html_udf`) over the decoded binary column. Errors
decode to '' (the reference logs and continues with html='', s04:115-119).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

try:
    from charset_normalizer import detect as _detect

    _HAS_CHARSET = True
except ImportError:  # pragma: no cover
    _detect = None
    _HAS_CHARSET = False


def decode_html_bytes(data: bytes | None) -> str:
    """Charset-detected decode with replacement; '' on any failure."""
    if data is None:
        return ""
    try:
        enc = "utf-8"
        if _HAS_CHARSET:
            enc = (_detect(bytes(data)) or {}).get("encoding") or "utf-8"
        return bytes(data).decode(enc, errors="replace")
    except Exception:
        return ""


@F.pandas_udf(T.StringType())
def decode_html_udf(data: pd.Series) -> pd.Series:  # pragma: no cover - spark
    return data.map(decode_html_bytes)
