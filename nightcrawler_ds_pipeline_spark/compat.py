"""Environment compatibility for ``transformWithStateInPandas``.

Spark 4's transformWithState drives its python runner over a protobuf
protocol (``pyspark/sql/streaming/proto/StateMessage_pb2``), so the worker
python needs ``google.protobuf`` — which is not pip-installed in this
sandbox (and pip installs are off-limits). A modern pure-python runtime
(6.32.0) already ships on disk inside the google-cloud-sdk appengine
platform; the only incompatibility is protobuf's conservative
gencode-newer-than-runtime gate (pyspark's gencode is 6.33 — one minor
ahead, no 6.33-only feature in the message).

``ensure_tws_python_env()`` makes the runner importable by prepending to
``PYTHONPATH``:

1. the package's ``_compat_shim`` dir, whose ``sitecustomize.py`` relaxes
   ONLY that version gate at interpreter startup (the runner is a separate
   python process launched by the JVM — in-process monkeypatching cannot
   reach it), and
2. the vendored runtime dir.

It must run BEFORE the JVM starts (child processes inherit the driver
env), which is why ``session.get_spark`` calls it unconditionally — the
call is two ``os.path`` checks when the env is already settled. No-op when
a real protobuf is installed; returns False when no runtime exists
anywhere, and the streaming frontier (streaming/frontier.py) then raises
RuntimeError — there is no fallback path.
"""

from __future__ import annotations

import importlib.util
import os
import sys

VENDORED_PROTOBUF_DIR = "/usr/lib/google-cloud-sdk/platform/google_appengine"
_SHIM_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "_compat_shim")


def has_native_protobuf() -> bool:
    try:
        return importlib.util.find_spec("google.protobuf") is not None
    except (ImportError, ModuleNotFoundError, ValueError):
        return False


def ensure_tws_python_env() -> bool:
    """Make ``google.protobuf`` importable for Spark's streaming python
    runners. Returns True when transformWithState can run (natively or via
    the vendored runtime + shim), False when no protobuf exists on disk."""
    if has_native_protobuf():
        return True
    if not os.path.isfile(
        os.path.join(VENDORED_PROTOBUF_DIR, "google", "protobuf", "__init__.py")
    ):
        return False
    parts = [
        p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p
    ]
    for p in (VENDORED_PROTOBUF_DIR, _SHIM_DIR):  # shim ends up FIRST
        if p not in parts:
            parts.insert(0, p)
    os.environ["PYTHONPATH"] = os.pathsep.join(parts)
    # the driver process may import the pb2 module too (schema validation
    # happens driver-side): append (never shadow real site-packages) and
    # apply the same narrow gate relaxation in-process
    if VENDORED_PROTOBUF_DIR not in sys.path:
        sys.path.append(VENDORED_PROTOBUF_DIR)
    try:
        from google.protobuf import runtime_version as _rv

        if not getattr(_rv.ValidateProtobufRuntimeVersion, "_ncds_tolerant", False):
            _orig = _rv.ValidateProtobufRuntimeVersion

            def _tolerant(*args, **kwargs):
                try:
                    _orig(*args, **kwargs)
                except _rv.VersionError:
                    pass

            _tolerant._ncds_tolerant = True
            _rv.ValidateProtobufRuntimeVersion = _tolerant
    except Exception:
        pass
    return True
