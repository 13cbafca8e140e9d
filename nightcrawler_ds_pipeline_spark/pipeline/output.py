"""JSON-output parity.

The reference's ``to_dict`` drops fields equal to None, -1, or ''
(``ObjectUtilitiesContainer``, base.py:34-48) — nulls are ELIDED from the
serialized checkpoints, not written. ``elide_nullish`` reproduces that so a
JSON dump of engine result rows is byte-comparable with reference
checkpoints.
"""

from __future__ import annotations

from typing import Any

_ELIDED = (None, -1, -1.0, "")


def elide_nullish(d: dict[str, Any]) -> dict[str, Any]:
    """Drop None / -1 / '' values (reference base.py:34-48 semantics).

    NB the reference compares with ``==``, so -1.0 is elided like -1 but
    False is kept (False == -1 is False) and 0 is kept."""
    out = {}
    for k, v in d.items():
        if any(v is e or (type(v) == type(e) and v == e) for e in _ELIDED):
            continue
        if isinstance(v, float) and v == -1.0:
            continue
        out[k] = v
    return out
