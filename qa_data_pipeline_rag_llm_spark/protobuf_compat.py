"""google.protobuf discovery for the transformWithStateInPandas path.

Spark 4's arbitrary-stateful-processing API (``transformWithStateInPandas``)
speaks a protobuf state protocol between the python worker and the JVM
state server (``pyspark/sql/streaming/proto/StateMessage_pb2.py``). The
protobuf WHEEL is not installed in this container and cannot be
downloaded (no network — VERDICT r08 ask #6 recorded the dead ends).
What the container DOES ship is a complete pure-Python protobuf runtime
vendored inside the public google-cloud-sdk
(``platform/google_appengine/google/protobuf``, version 6.32): same
public Apache-2.0 package, already on disk.

``ensure_protobuf()`` makes that runtime importable in BOTH this
process and Spark's python workers. It must run BEFORE the JVM/session
is created (``session.get_spark`` calls it first) because worker
processes inherit their environment from the JVM:

  * appends the SDK dir to ``sys.path`` (appends, so a real installed
    wheel always wins);
  * exports ``PYTHONPATH`` so python workers resolve the same runtime;
  * exports ``TEMPORARILY_DISABLE_PROTOBUF_VERSION_CHECK=true`` — the
    runtime (6.32) is one minor version OLDER than the gencode pyspark
    ships (6.33), which protobuf's conservative cross-version check
    rejects via its own documented escape hatch
    (``runtime_version.py:72``). Acceptable here because the tws/
    fallback parity test differential-tests the ENTIRE state protocol
    against an independent applyInPandasWithState implementation, so a
    wire-format incompatibility cannot pass silently — the exact risk
    that kept this path gated through r9.

Sessions built elsewhere (e.g. the driver's plain SparkSession) never
call this, so ``import google.protobuf`` fails there and the streaming
operators' ``auto`` mode keeps selecting the fallback — a worker
missing the env can never be handed a tws plan.
"""

from __future__ import annotations

import os
import sys

# Pure-python protobuf runtimes vendored inside public SDKs that ship in
# this container image. Probed in order; first importable wins.
KNOWN_RUNTIME_DIRS = (
    "/usr/lib/google-cloud-sdk/platform/google_appengine",
)

ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state."
    "RocksDBStateStoreProvider"
)


def ensure_protobuf() -> bool:
    """Make ``google.protobuf`` importable here and in python workers;
    True when a runtime is available (installed wheel or on-disk SDK
    copy), False when the host has none (callers keep their fallback)."""
    try:
        import google.protobuf  # noqa: F401 — installed wheel wins

        return True
    except ImportError:
        pass
    for d in KNOWN_RUNTIME_DIRS:
        if not os.path.isdir(os.path.join(d, "google", "protobuf")):
            continue
        if d not in sys.path:
            sys.path.append(d)
        try:
            import google.protobuf  # noqa: F401
        except ImportError:
            sys.path.remove(d)
            continue
        os.environ.setdefault(
            "TEMPORARILY_DISABLE_PROTOBUF_VERSION_CHECK", "true"
        )
        export_pythonpath(d)
        return True
    return False


def export_pythonpath(d: str) -> None:
    """Append ``d`` to the exported ``PYTHONPATH`` (once), which a JVM
    started afterwards passes on to every python worker."""
    existing = os.environ.get("PYTHONPATH", "")
    if d not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = existing + os.pathsep + d if existing else d
