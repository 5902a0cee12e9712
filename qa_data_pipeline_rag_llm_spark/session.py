"""SparkSession factory.

The reference builds a session per batch script with 1 GB heaps and default
shuffle settings (``/root/reference/REDDIT-Nettoyage-Posts.py:14-26``). Here a
single factory owns every scale-relevant knob so the same code runs on
``local[N]`` in tests and on a real cluster unchanged:

  * AQE on (runtime partition coalescing, skew-join splitting) — at 100 TB the
    right shuffle partition count is unknowable statically.
  * Arrow exchange on — any pandas_udf / toPandas boundary is batched, not
    row-pickled.
  * Session timezone pinned to UTC so timestamp semantics match the DuckDB
    oracle (duckdb timestamps are UTC-naive).
  * Python workers fork from the engine's daemon (``pyworker.py``: no
    per-task zip-archive re-reads), and the engine's parent directory is
    appended to the exported ``PYTHONPATH`` so workers import the engine
    from any driver cwd.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# local[N] task threads: the CPUs this process may run on, unless
# SPARK_GRAFT_CPUS says otherwise
DEFAULT_CPUS = int(
    os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
)


def get_spark(
    app_name: str = "qa_data_pipeline_rag_llm_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``shuffle_partitions`` defaults to the core count in LOCAL mode only;
    on a real cluster leave it None — the conf is then NOT pinned, so the
    deployment's own setting (a high initial number for AQE to coalesce)
    wins. Pre-r03 this pinned 32 even for cluster masters, capping every
    100 TB shuffle at 32 reducers (review r03).
    """
    # before the JVM exists: export the protobuf runtime env so python
    # workers can speak the transformWithStateInPandas state protocol
    # (no-op where a wheel is installed or no runtime exists on disk)
    from qa_data_pipeline_rag_llm_spark.protobuf_compat import (
        ensure_protobuf,
        export_pythonpath,
    )

    ensure_protobuf()
    # ...and the directory holding this package: the worker daemon and
    # UDFs pickled by reference import the engine by name, and a worker's
    # sys.path otherwise holds only the driver's cwd
    export_pythonpath(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    master = master or f"local[{DEFAULT_CPUS}]"
    if shuffle_partitions is None and master.startswith("local"):
        shuffle_partitions = DEFAULT_CPUS
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # --- correctness-critical ---
        .config("spark.sql.session.timeZone", "UTC")
        # testdata's events.ts is parquet TIMESTAMP(NANOS): read raw int64,
        # catalog.load_table converts ns→µs with integer division (exact)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # --- scale: adaptive execution ---
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # --- scale: python boundary is Arrow, never row-pickle ---
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # workers fork from a daemon without per-task zip re-reads
        .config(
            "spark.python.daemon.module",
            "qa_data_pipeline_rag_llm_spark.pyworker",
        )
        # --- scale: broadcast threshold (dims like region/nation always BHJ) ---
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # --- local-mode ergonomics ---
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
    )
    if shuffle_partitions is not None:
        builder = builder.config(
            "spark.sql.shuffle.partitions", str(shuffle_partitions)
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
