"""Scalar text/hash functions (SURVEY.md §2.7) — JVM-side where possible.

Each mirrors a reference pure function (cited); builtin ``pyspark.sql.
functions`` compositions keep them inside whole-stage codegen. The
256-bit-modulus stable id and the run uuid are plain Python (no 256-bit
arithmetic in SQL).
"""

from __future__ import annotations

import hashlib
import uuid as _uuid

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def clean_short_text_col(col: Column | str) -> Column:
    """lower, strip newlines/tabs/quotes, '-'→' ', collapse whitespace.

    Reference: helpers/utils.py:162-172 (_clean_short_text).
    """
    c = F.lower(_c(col))
    c = F.regexp_replace(c, r"[\n\r\t]", " ")
    c = F.regexp_replace(c, r"[\"']", "")
    c = F.regexp_replace(c, r"-", " ")
    c = F.trim(c)
    return F.regexp_replace(c, r" +", " ")


def checksum_uid_col(url: Column | str, title: Column | str) -> Column:
    """Result uid = sha256 of '<url before ?>_<title>'.

    Reference: cli/full_pipeline.py:204 (`lu.checksum(f"{url.split('?')[0]}_{title}")`).
    The exact checksum algorithm lives in a non-public parent package, so we
    pin sha256-hex as ours and golden-test it (SURVEY.md F18).
    """
    base = F.concat_ws("_", F.split_part(_c(url), F.lit("?"), F.lit(1)),
                       F.coalesce(_c(title), F.lit("")))
    return F.sha2(base, 256)


def stable_hash_id(text: str) -> int:
    """sha256(text) as 256-bit int, mod 1e8. Reference: utils.py:141-147."""
    return int(hashlib.sha256(text.encode("utf-8")).hexdigest(), 16) % (10**8)


def run_uuid(*args) -> str:
    """Deterministic run id: sha1(concat(args)) → UUID string.

    Reference: helpers/utils.py:150-159 (_get_uuid); the run timestamp is an
    *injected* argument, never wall-clock (vs reference base.py:131-133).
    """
    concatenated = "".join(str(a) for a in args)
    digest = hashlib.sha1(concatenated.encode("utf-8")).hexdigest()
    return str(_uuid.UUID(digest[:32]))


def price_concat_col(price: Column | str, currency: Column | str) -> Column:
    """price = `f"{price} {currency}"`, collapsed to '' when both empty.

    Reference: s04_zyte.py:122-125 — the concat keeps the inner space, and a
    result of length ≤ 1 after strip becomes ''.
    """
    joined = F.concat(F.coalesce(_c(price), F.lit("")), F.lit(" "),
                      F.coalesce(_c(currency), F.lit("")))
    return F.when(F.length(F.trim(joined)) <= 1, F.lit("")).otherwise(joined)


def mask_token_col(col: Column | str, token: str) -> Column:
    """F17: mask a secret token inside a diagnostic/log string column —
    every occurrence becomes ``token[:5] + "*****"``.

    Reference: requests_wrapper.py:54-55 (`_mask_token_in_string`) — there
    the pattern side uses `re.escape(token)` (a literal match, same as the
    JVM-side literal `F.replace` here) and the replacement side wraps
    `token[:5]` in `re.escape` too, which for the alphanumeric API tokens
    this masks is the identity (re.sub renders escaped non-letters back to
    the plain char); the parity test pins agreement against a pure-python
    twin of the reference for those inputs. Empty token masks nothing
    (matches the reference's falsy `token_to_mask` guard).
    """
    if not token:
        return _c(col)
    return F.replace(_c(col), F.lit(token), F.lit(token[:5] + "*****"))
