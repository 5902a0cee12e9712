"""Structured Streaming ingest + event-time operators over `events`.

The reference has NO streaming surface (SURVEY.md §2.11 — its closest
construct is polling-with-sleep at ``/root/reference/REDDIT-Ingestion.py:
57-59``). This module is the engine's scale extension: file-source streams,
event-time tumbling windows, watermarked late-data handling, and a custom
stateful operator via ``applyInPandasWithState``.

Batch/stream parity: the tumbling-window aggregation is the streaming twin
of ``plans.queries.events_hourly`` — with ``Trigger.AvailableNow`` + complete
mode the result is a total function of the input files, so the DuckDB oracle
checks the STREAMING path exactly like any batch query.

Scale notes: a windowed streaming agg shuffles once per micro-batch on the
group keys and keeps state in the state store (RocksDB on a real cluster);
the stateful op keeps integer per-key state — exact, no float drift.
"""

from __future__ import annotations

import sys
import uuid
from contextlib import contextmanager
from typing import Iterator, Tuple

import pandas as pd
from pyspark import cloudpickle
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)


# Ship this module's UDFs by VALUE: executor Python workers do not have the
# engine on their import path when the driver was launched elsewhere (the
# driver harness adds /root/repo to the driver's sys.path only).
cloudpickle.register_pickle_by_value(sys.modules[__name__])


# Probe-only pacing knob, scoped via paced_file_streams() — see the
# comment at its read site in read_events_stream.
_PACING_FILES_PER_TRIGGER: int | None = None


@contextmanager
def paced_file_streams(files_per_trigger: int):
    """Scope maxFilesPerTrigger pacing onto the file-source streams built
    inside the block (probe-only: paced drains advance the watermark
    between batches, which legitimately DROPS late rows — paced output
    need not equal the single-batch oracle, so this must never be active
    during a correctness or bench run; a `with` scope makes that a
    structural guarantee instead of an env-hygiene hope)."""
    global _PACING_FILES_PER_TRIGGER
    prev = _PACING_FILES_PER_TRIGGER
    _PACING_FILES_PER_TRIGGER = int(files_per_trigger)
    try:
        yield
    finally:
        _PACING_FILES_PER_TRIGGER = prev


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events parquet, ts normalized to µs
    TimestampType (same footer-probe + conversion as catalog.load_table)."""
    import os

    from qa_data_pipeline_rag_llm_spark.catalog import (
        events_read_schema,
        normalize_events_ts,
    )

    path = f"{sf_dir}/events.parquet"
    schema = events_read_schema(spark, path)
    if os.path.isdir(path):
        # Spark-written table: a DIRECTORY of part files — stream it
        # directly. The glob branch below silently matches ZERO files
        # here (pathGlobFilter applies to leaf files, and the file
        # source does not recurse), which made every file-source stream
        # read an empty input at probe scale (r10 sf1 sweep finding).
        reader = spark.readStream.schema(schema)
        # PROBE-ONLY pacing: split the drain into real micro-batches so
        # watermark advancement / state eviction is observable. Injected
        # by tools/streaming_probe.py via the paced_file_streams()
        # context manager — NOT an ambient env var (ADVICE r10: a
        # leftover export during a correctness/bench run would let the
        # watermark drop late rows and silently diverge from the
        # oracle; an explicit scope cannot leak across runs).
        if _PACING_FILES_PER_TRIGGER is not None:
            reader = reader.option(
                "maxFilesPerTrigger", str(_PACING_FILES_PER_TRIGGER)
            )
        raw = reader.parquet(path)
    else:
        # driver testdata: a single file inside sf_dir; the file source
        # requires a directory, so glob-filter to the events table
        raw = (
            spark.readStream.schema(schema)
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
        )
    return normalize_events_ts(raw)


def state_partitions_for_input(
    spark: SparkSession, sf_dir: str, tables: Tuple[str, ...] = ("events",)
) -> int:
    """Size a stateful streaming query's shuffle/state partitions to its
    input volume instead of inheriting the batch-shuffle default.

    Why: every state-store instance pays a fixed open/commit cost per
    micro-batch, and a stream-stream join keeps FOUR stores per
    partition (keyToNumValues + keyWithIndexToValue, each side). At
    32 partitions that is 128 instances; the r11 progress probe measured
    the join's FINAL batch — zero input rows, eviction only — spending
    74.8 s of task time in state commits alone. Interleaved A/B at
    sf0.1: 32 partitions → 7.8 s, 8 → 3.0 s, 4 → 2.5 s per run of the
    full-outer join (identical output hash). The fix is NOT "always 8":
    state partitioning is pinned into the checkpoint at first start and
    must hold the state at scale, so this grows with bytes on disk
    (one partition per 32 MB) and caps at the session's shuffle
    partitions — at probe sf10 and beyond it returns the session value,
    preserving the scale path while removing the small-input fixed cost.
    """
    import os

    total = 0
    for t in tables:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.isdir(p):
            for root, _, files in os.walk(p):
                total += sum(
                    os.path.getsize(os.path.join(root, f)) for f in files
                )
        elif os.path.exists(p):
            total += os.path.getsize(p)
    cur = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    # session cap is the OUTER bound (review r11): a session configured
    # below the floor-of-8 keeps its own, smaller value — the floor only
    # trims the default down, never pushes past what the session asked
    # for (state partitioning is sticky once a checkpoint exists)
    return min(cur, 8 + total // (32 << 20))


def run_to_completion(
    df: DataFrame, output_mode: str, state_partitions: int | None = None
) -> DataFrame:
    """Execute a streaming plan over all available input and return the
    final result as a batch DataFrame (memory sink + AvailableNow).

    ``state_partitions`` (from :func:`state_partitions_for_input`) scopes
    ``spark.sql.shuffle.partitions`` to this query: Structured Streaming
    pins the stateful-operator partition count from the conf at query
    start, so the override must wrap ``start()`` and is restored after
    the drain — batch plans built by the caller are unaffected."""
    spark_ = df.sparkSession
    key = "spark.sql.shuffle.partitions"
    prev = spark_.conf.get(key, None) if state_partitions else None
    if state_partitions:
        spark_.conf.set(key, str(state_partitions))
    name = f"q_{uuid.uuid4().hex}"
    try:
        q = (
            df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        if state_partitions:
            if prev is None:
                spark_.conf.unset(key)
            else:
                spark_.conf.set(key, prev)
    spark = df.sparkSession
    out = spark.table(name).localCheckpoint(eager=True)  # detach from sink
    q.stop()
    # release the memory sink's rows — ~20 streaming registry queries per
    # sweep would otherwise pin every result set in the driver for the
    # session's lifetime (review r03)
    spark.catalog.dropTempView(name)
    return out


def stream_hourly_counts(
    spark: SparkSession, sf_dir: str, watermark: str = "1 hour"
) -> DataFrame:
    """Tumbling 1-hour event-time window: (hour, event_type, n, total_value).

    ``total_value`` is summed exactly (value → decimal(18,6)) so the result
    is order-independent across micro-batches and shuffle partitions.
    """
    ev = read_events_stream(spark, sf_dir).withWatermark("ts", watermark)
    agg = ev.groupBy(F.window("ts", "1 hour"), "event_type").agg(
        F.count("*").alias("n"),
        F.round(
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 4
        ).alias("total_value"),
    )
    res = run_to_completion(agg, "complete", state_partitions_for_input(spark, sf_dir, tables=("events",)))
    return res.select(
        F.date_format(F.col("window.start"), "yyyy-MM-dd HH:00").alias("hour"),
        "event_type",
        "n",
        "total_value",
    )


# ------------------------------------------------- custom stateful operator
_VAL_SCALE = 1_000_000  # exact micro-units for double `value`

_STATE_SCHEMA = StructType(
    [
        StructField("n", LongType()),
        StructField("total_scaled", LongType()),
        # the "last event" watermark must live IN the state: computing it
        # from the current micro-batch alone returns a stale type whenever
        # the globally-latest event arrived in an earlier batch
        # (multi-file trigger / checkpoint restart — review r03)
        StructField("last_ts", LongType()),
        StructField("last_id", LongType()),
        StructField("last_type", StringType()),
    ]
)
_OUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("total_scaled", LongType()),
        StructField("last_event", StringType()),
    ]
)


def _update_user_totals(
    key: Tuple[int],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Per-user running totals with exact integer accumulation. Emits the
    updated state once per micro-batch the key appears in."""
    if state.exists:
        n, total, last_ts, last_id, last_type = state.get
    else:
        n, total, last_ts, last_id, last_type = 0, 0, -1, -1, ""
    last_key = (last_ts, last_id)
    for pdf in pdfs:
        n += len(pdf)
        # exact: value scaled to integer micro-units before summing
        total += int((pdf["value"] * _VAL_SCALE).round().astype("int64").sum())
        # deterministic "last": max (ts, event_id) tie-broken by event_id,
        # compared against the STATE's watermark so later batches with
        # older events cannot regress it
        idx = pdf[["ts", "event_id"]].astype("int64")
        pos = idx.sort_values(["ts", "event_id"]).index[-1]
        cand = (int(idx.loc[pos, "ts"]), int(idx.loc[pos, "event_id"]))
        if cand > last_key:
            last_key = cand
            last_type = str(pdf.loc[pos, "event_type"])
    state.update((n, total, last_key[0], last_key[1], last_type))
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "n_events": [n],
            "total_scaled": [total],
            "last_event": [last_type],
        }
    )


def stream_user_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): per-user running
    (count, exact total, latest event type). With AvailableNow the final
    emission equals the batch aggregate — oracle-checkable."""
    raw = read_events_stream(spark, sf_dir)
    out = raw.groupBy("user_id").applyInPandasWithState(
        _update_user_totals,
        outputStructType=_OUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    res = run_to_completion(out, "update", state_partitions_for_input(spark, sf_dir, tables=("events",)))
    # update mode re-emits a row per micro-batch; keep each user's final
    final = res.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"),
        F.max("total_scaled").alias("total_scaled"),
        F.max_by("last_event", "n_events").alias("last_event"),
    )
    return final.select(
        "user_id",
        "n_events",
        F.round(F.col("total_scaled") / _VAL_SCALE, 4).alias("total_value"),
        "last_event",
    )


def stream_sliding_counts(
    spark: SparkSession, sf_dir: str, watermark: str = "1 hour"
) -> DataFrame:
    """Sliding event-time window (1 h length, 30 min slide): every event
    lands in exactly two overlapping windows. Complete mode + AvailableNow
    → the final table is a total function of the input."""
    ev = read_events_stream(spark, sf_dir).withWatermark("ts", watermark)
    agg = ev.groupBy(F.window("ts", "1 hour", "30 minutes"), "event_type").agg(
        F.count("*").alias("n"),
        F.round(
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 4
        ).alias("total_value"),
    )
    res = run_to_completion(agg, "complete", state_partitions_for_input(spark, sf_dir, tables=("events",)))
    return res.select(
        F.date_format(F.col("window.start"), "yyyy-MM-dd HH:mm").alias("win_start"),
        "event_type",
        "n",
        "total_value",
    )


def stream_session_windows(
    spark: SparkSession, sf_dir: str, gap: str = "30 minutes"
) -> DataFrame:
    """Native session windows (session_window, 30 min inactivity gap) per
    user: the streaming twin of the batch lag+cumsum sessionization
    (plans.queries.sessionize_events uses the same gap)."""
    ev = read_events_stream(spark, sf_dir)
    agg = ev.groupBy(F.session_window("ts", gap), "user_id").agg(
        F.count("*").alias("n_events"),
        F.round(
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 4
        ).alias("total_value"),
    )
    res = run_to_completion(agg, "complete", state_partitions_for_input(spark, sf_dir, tables=("events",)))
    return res.select(
        "user_id",
        F.date_format(F.col("session_window.start"), "yyyy-MM-dd HH:mm:ss").alias(
            "sess_start"
        ),
        "n_events",
        "total_value",
    )


def stream_session_windows_watermarked(
    spark: SparkSession,
    sf_dir: str,
    gap: str = "30 minutes",
    delay: str = "1 hour",
) -> DataFrame:
    """The PRODUCTION session shape: watermarked, append-mode — finalized
    sessions emit and their state EVICTS when the watermark passes the
    session end, so the state store holds only open-or-recent sessions
    instead of every session ever (the complete-mode twin above trades
    that boundedness for exact totality; tools/streaming_probe.py
    measures the difference). Deterministic under the driver's
    single-batch drain: the final no-data batch fixes the watermark at
    max(ts) − delay (ms-floored, Spark tracks event-time stats in ms),
    so the emitted set is exactly the sessions with
    ``last_ts + gap <= watermark`` — SQL-expressible, fully oracled."""
    ev = read_events_stream(spark, sf_dir).withWatermark("ts", delay)
    agg = ev.groupBy(F.session_window("ts", gap), "user_id").agg(
        F.count("*").alias("n_events"),
        F.round(
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 4
        ).alias("total_value"),
    )
    res = run_to_completion(agg, "append", state_partitions_for_input(spark, sf_dir, tables=("events",)))
    return res.select(
        "user_id",
        F.date_format(F.col("session_window.start"), "yyyy-MM-dd HH:mm:ss").alias(
            "sess_start"
        ),
        "n_events",
        "total_value",
    )


def stream_dedup_rate_limited(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dropDuplicates: at most one event per (user, type, minute)
    survives — the Structured Streaming dedup-state operator. Which
    physical row survives a collision is nondeterministic, so the output
    aggregates only the surviving KEYS (deterministic by construction)."""
    ev = read_events_stream(spark, sf_dir)
    deduped = ev.withColumn(
        "minute", F.date_trunc("minute", "ts")
    ).dropDuplicates(["user_id", "event_type", "minute"])
    agg = deduped.groupBy("event_type").agg(F.count("*").alias("n_kept"))
    return run_to_completion(agg, "complete", state_partitions_for_input(spark, sf_dir, tables=("events",)))


def stream_to_parquet_foreach_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch sink: the production path for streaming→storage (and
    any sink Spark lacks a native connector for). Each micro-batch is a
    normal DataFrame written transactionally by batch_id; idempotent
    restarts come from overwriting the batch's own output partition.
    Here: events stream → per-batch distributed parquet append
    (partitioned by event_type for downstream pruning) → read the sink
    back and aggregate, proving no rows were lost or duplicated."""
    import shutil
    import tempfile

    out_dir = tempfile.mkdtemp(prefix="spark_graft_febatch_")
    try:
        ev = read_events_stream(spark, sf_dir)

        def write_batch(batch_df: DataFrame, batch_id: int) -> None:
            (
                batch_df.withColumn("batch_id", F.lit(batch_id))
                .write.mode("append")
                .partitionBy("event_type")
                .parquet(out_dir)
            )

        q = (
            ev.writeStream.foreachBatch(write_batch)
            .trigger(availableNow=True)
            .option("checkpointLocation", out_dir + "_ckpt")
            .start()
        )
        q.awaitTermination()
        back = spark.read.parquet(out_dir)
        return (
            back.groupBy("event_type")
            .agg(
                F.count("*").alias("n"),
                F.count_distinct("event_id").alias("n_distinct"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)
        shutil.rmtree(out_dir + "_ckpt", ignore_errors=True)


def stream_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dropDuplicatesWithinWatermark → count surviving (user, type) pairs
    per type. Unlike plain streaming dropDuplicates (whose key state lives
    forever), WithinWatermark evicts each key once the watermark passes
    it — bounded state on an unbounded stream. WHICH physical row
    survives a dup-set is engine-internal, so the query aggregates to the
    per-type distinct-pair count, which is deterministic."""
    ev = read_events_stream(spark, sf_dir).withWatermark("ts", "2 hours")
    deduped = ev.dropDuplicatesWithinWatermark(["user_id", "event_type"])
    agg = deduped.groupBy("event_type").agg(F.count("*").alias("n_pairs"))
    return run_to_completion(
        agg,
        "complete",
        state_partitions_for_input(spark, sf_dir, tables=("events",)),
    )


def stream_static_enriched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: the event stream joins a batch-computed user
    segment dimension (heavy = ≥70 lifetime events), then aggregates per
    (segment, event_type). The static side is planned per micro-batch;
    no streaming state is needed for the join itself."""
    from qa_data_pipeline_rag_llm_spark.catalog import load_table

    static_users = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("n_total"))
        .withColumn(
            "segment", F.when(F.col("n_total") >= 70, "heavy").otherwise("light")
        )
        .select("user_id", "segment")
    )
    ev = read_events_stream(spark, sf_dir)
    agg = (
        ev.join(static_users, "user_id")
        .groupBy("segment", "event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(
                F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 4
            ).alias("total_value"),
        )
    )
    return run_to_completion(agg, "complete", state_partitions_for_input(spark, sf_dir, tables=("events",)))


class _TypeProfileProcessor:
    """transformWithStateInPandas processor: per-user event-type profile
    held in composite MapState (event_type → count) — the state shape the
    older applyInPandasWithState API cannot express without serializing a
    whole dict into one value column. At scale each map entry is an
    individual RocksDB key, so updating one type does not rewrite the
    user's entire state."""

    def init(self, handle) -> None:
        self._counts = handle.getMapState("counts", "event_type string", "n bigint")

    def handleInputRows(self, key, rows, timerValues):
        # Batch the state protocol (VERDICT r11 ask #5): every MapState
        # call is a round trip to the JVM state server, so the old
        # per-type containsKey+getValue+updateValue (3 RPCs/type) plus a
        # trailing iterator cost ~3t+1 round trips per user per batch.
        # Merge the batch locally, drain the map ONCE, and write only
        # the types this batch touched — t+1 round trips, and the final
        # emission is computed from the local merge, not a re-read.
        batch: dict[str, int] = {}
        for pdf in rows:
            for et, c in pdf.groupby("event_type").size().items():
                batch[str(et)] = batch.get(str(et), 0) + int(c)
        d = {k[0]: v[0] for k, v in self._counts.iterator()}
        for et, c in batch.items():
            d[et] = d.get(et, 0) + c
            self._counts.updateValue((et,), (d[et],))
        items = sorted(d.items())
        total = sum(n for _, n in items)
        top = min(items, key=lambda kv: (-kv[1], kv[0]))[0]
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [total],
                "n_types": [len(items)],
                "top_type": [top],
            }
        )

    def close(self) -> None:
        pass


def _update_type_profile(
    key: Tuple[int],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """applyInPandasWithState twin of _TypeProfileProcessor: the map state
    is carried as two parallel arrays in one value (this API has no
    composite state — exactly the limitation transformWithState removes)."""
    types, counts = state.get if state.exists else ([], [])
    d = dict(zip(list(types), list(counts)))
    for pdf in pdfs:
        for et, c in pdf.groupby("event_type").size().items():
            d[str(et)] = d.get(str(et), 0) + int(c)
    items = sorted(d.items())
    state.update(([k for k, _ in items], [int(v) for _, v in items]))
    top = min(items, key=lambda kv: (-kv[1], kv[0]))[0]
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "n_events": [int(sum(d.values()))],
            "n_types": [len(items)],
            "top_type": [top],
        }
    )


def stream_user_type_profile(
    spark: SparkSession, sf_dir: str, impl: str = "auto"
) -> DataFrame:
    """Per-user event-type profile via transformWithStateInPandas (the
    Spark 4 arbitrary-state API): MapState-backed counts, deterministic
    top type (max count, lexicographic tie-break). Final emission equals
    the batch aggregate — oracle-checkable.

    The transformWithState state server needs ``google.protobuf`` (an
    installed wheel, or the on-disk SDK runtime ``protobuf_compat``
    prepares for engine sessions) plus a multi-column-family state
    store, so the tws query runs under the RocksDB provider — set for
    THIS query only and restored after (the HDFS-backed default that
    every other streaming query uses rejects tws's column families).
    Where no protobuf runtime exists the operator falls back to an
    applyInPandasWithState implementation with identical semantics, so
    the query's results are environment-independent. ``impl`` pins a
    path explicitly ('tws' / 'fallback') so
    ``tests/test_streaming.py``'s parity test can exercise BOTH on any
    box with a runtime (VERDICT r03 #8); 'auto' keeps the try-import
    selection. Sessions NOT built by ``session.get_spark`` (e.g. the
    driver's plain session) never prepared the worker env, and there
    ``import google.protobuf`` also fails — auto therefore can only
    pick tws when the workers can actually speak the protocol."""
    raw = read_events_stream(spark, sf_dir)
    out_ddl = "user_id bigint, n_events bigint, n_types int, top_type string"
    use_tws = False
    if impl != "fallback":
        try:
            import google.protobuf  # noqa: F401 — twS state protocol dependency

            use_tws = True
        except ImportError:
            if impl == "tws":
                raise
    if use_tws:
        from pyspark.sql.streaming.stateful_processor import StatefulProcessor

        from qa_data_pipeline_rag_llm_spark.protobuf_compat import (
            ROCKSDB_PROVIDER,
        )

        proc_cls = type(
            "_TypeProfile", (StatefulProcessor,), dict(_TypeProfileProcessor.__dict__)
        )
        out = raw.groupBy("user_id").transformWithStateInPandas(
            statefulProcessor=proc_cls(),
            outputStructType=out_ddl,
            outputMode="Update",
            timeMode="None",
        )
        key = "spark.sql.streaming.stateStore.providerClass"
        prev = spark.conf.get(key, None)
        spark.conf.set(key, ROCKSDB_PROVIDER)
        try:
            res = run_to_completion(
                out,
                "update",
                state_partitions_for_input(spark, sf_dir, tables=("events",)),
            )
        finally:
            if prev is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, prev)
    else:
        out = raw.groupBy("user_id").applyInPandasWithState(
            _update_type_profile,
            outputStructType=out_ddl,
            stateStructType="types array<string>, counts array<bigint>",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
        res = run_to_completion(
            out,
            "update",
            state_partitions_for_input(spark, sf_dir, tables=("events",)),
        )
    # update mode re-emits per micro-batch; keep each user's final row
    return (
        res.groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.max_by("n_types", "n_events").alias("n_types"),
            F.max_by("top_type", "n_events").alias("top_type"),
        )
    )


# same-user purchase in the 30 minutes after a click; with the 2-hour
# watermarks on both sides this range bounds the join state Spark keeps
_CLICK_PURCHASE_WINDOW = """
    c_user_id = p_user_id AND
    purchase_ts > click_ts AND
    purchase_ts <= click_ts + INTERVAL 30 MINUTES
"""


def _click_purchase_streams(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """The two watermarked sides of the click → purchase joins: clicks
    ``(c_user_id, click_ts, click_id)`` and purchases ``(p_user_id,
    purchase_ts, purchase_id, purchase_value)``, each behind a 2-hour
    watermark. Join them on ``_CLICK_PURCHASE_WINDOW``."""
    clicks = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user_id"),
            F.col("ts").alias("click_ts"),
            F.col("event_id").alias("click_id"),
        )
        .withWatermark("click_ts", "2 hours")
    )
    purchases = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("event_id").alias("purchase_id"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("purchase_ts", "2 hours")
    )
    return clicks, purchases


def _run_click_purchase_join(
    spark: SparkSession, sf_dir: str, how: str, *cols: str | Column
) -> DataFrame:
    """``how`` join of the two sides on the 30-minute window, projected
    to ``cols`` and run to completion in append mode."""
    clicks, purchases = _click_purchase_streams(spark, sf_dir)
    joined = clicks.join(
        purchases, F.expr(_CLICK_PURCHASE_WINDOW), how
    ).select(*cols)
    return run_to_completion(
        joined, "append", state_partitions_for_input(spark, sf_dir, tables=("events",))
    )


def _with_final_watermark(
    out: DataFrame, spark: SparkSession, sf_dir: str
) -> DataFrame:
    """``out`` plus ``__wm``: where the global watermark ends under
    ``Trigger.AvailableNow`` — ``min(max(click_ts), max(purchase_ts)) −
    2h`` — computed in-plan from the batch table as a broadcast 1-row
    frame, no driver action."""
    from qa_data_pipeline_rag_llm_spark.catalog import load_table

    ev = load_table(spark, sf_dir, "events")
    horizon = ev.agg(
        (
            F.least(
                F.max(F.when(F.col("event_type") == "click", F.col("ts"))),
                F.max(F.when(F.col("event_type") == "purchase", F.col("ts"))),
            )
            - F.expr("INTERVAL 2 HOURS")
        ).alias("__wm")
    )
    return out.crossJoin(F.broadcast(horizon))


def stream_stream_click_purchase_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER join, restricted to its deterministic
    subset (VERDICT r01 #6).

    Semantics: every click pairs with same-user purchases in the next 30
    minutes; clicks with no such purchase emit a NULL row — but only once
    the global watermark passes their join window, because until then the
    engine must keep the click in state (a purchase could still arrive).

    NULL-TAIL CAVEAT (why the raw output is nondeterministic): under
    ``Trigger.AvailableNow`` the final watermark lands at
    ``min(max(click_ts), max(purchase_ts)) − 2h``; unmatched clicks whose
    window end (click_ts + 30 min) has not passed that point are still
    sitting in the state store when the trigger exhausts its input, so
    their NULL rows are never emitted (verified empirically: the last
    ~watermark-horizon of unmatched clicks is exactly the missing set).
    On a live stream they would emit later; at end-of-input they are a
    boundary artifact. This operator therefore filters BOTH the streamed
    result and its oracle to the provably-final subset — matched rows
    (which emit on arrival, deterministically) plus NULL rows strictly
    below the final-watermark horizon.
    """
    out = _run_click_purchase_join(
        spark,
        sf_dir,
        "left_outer",
        F.col("c_user_id").alias("user_id"),
        "click_id",
        "click_ts",
        "purchase_id",
        "purchase_value",
    )
    return (
        _with_final_watermark(out, spark, sf_dir)
        .filter(
            F.col("purchase_id").isNotNull()
            | (F.col("click_ts") + F.expr("INTERVAL 30 MINUTES") < F.col("__wm"))
        )
        .select("user_id", "click_id", "purchase_id", "purchase_value")
    )


def stream_stream_click_purchase_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream FULL OUTER join, deterministic subset — completes the
    inner/left/full matrix. Same NULL-tail rule as the left join
    (:func:`stream_stream_click_purchase_left`), now applied on BOTH
    sides: unmatched clicks and unmatched purchases emit their NULL row
    only once the watermark passes their window, so each side filters to
    windows strictly below the final-watermark horizon. A purchase's join
    window is the 30 minutes BEFORE it, so its horizon bound is its own
    timestamp."""
    out = _run_click_purchase_join(
        spark,
        sf_dir,
        "full_outer",
        F.coalesce("c_user_id", "p_user_id").alias("user_id"),
        "click_id",
        "click_ts",
        "purchase_id",
        "purchase_ts",
    )
    matched = F.col("click_id").isNotNull() & F.col("purchase_id").isNotNull()
    click_final = F.col("click_ts") + F.expr("INTERVAL 30 MINUTES") < F.col("__wm")
    purchase_final = F.col("purchase_ts") < F.col("__wm")
    return (
        _with_final_watermark(out, spark, sf_dir)
        .filter(
            matched
            | (F.col("purchase_id").isNull() & click_final)
            | (F.col("click_id").isNull() & purchase_final)
        )
        .select("user_id", "click_id", "purchase_id")
    )


def stream_stream_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join with watermarks: each purchase pairs with
    the same user's clicks from the preceding 30 minutes. Inner-join rows
    emit as soon as both sides arrive; the two watermarks plus the
    time-range predicate bound the join state Spark must retain (without
    them, both sides buffer forever at 100 TB/day)."""
    return _run_click_purchase_join(
        spark,
        sf_dir,
        "inner",
        F.col("c_user_id").alias("user_id"),
        "click_id",
        "purchase_id",
        "purchase_value",
    )


def read_documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the documents parquet (explicit schema —
    the streaming reader cannot infer). Same dual layout handling as
    read_events_stream: a Spark-written DIRECTORY streams directly (the
    glob branch matches zero leaf files there), a single driver-testdata
    file goes through the glob filter."""
    import os

    from qa_data_pipeline_rag_llm_spark.schemas import TESTDATA_SCHEMAS

    path = f"{sf_dir}/documents.parquet"
    if os.path.isdir(path):
        return spark.readStream.schema(
            TESTDATA_SCHEMAS["documents"]
        ).parquet(path)
    return (
        spark.readStream.schema(TESTDATA_SCHEMAS["documents"])
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )


def stream_near_dup_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming MinHash near-dup GATE: each incoming doc (odd doc_id —
    the simulated ingest stream) is banded map-only and checked against
    the static band table of the historical corpus (even doc_id).

    This is the production admission-control shape: signatures are a pure
    per-row projection (operators/dedup.minhash_signatures — no explode,
    no shuffle, hence legal in a streaming plan), banding is a stateless
    generator, the history lookup is a stream-static LEFT join (static
    side re-planned per micro-batch; at scale a bucketed-by-band_key
    table), and the only stateful op is the final per-doc count. Output:
    (doc_id, n_band_hits, is_new) — is_new docs are safe to admit.
    """
    from qa_data_pipeline_rag_llm_spark.catalog import load_table
    from qa_data_pipeline_rag_llm_spark.operators.dedup import (
        minhash_bands,
        minhash_signatures,
    )

    hist = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 2 == 0
    )
    hist_bands = minhash_bands(minhash_signatures(hist)).select(
        F.col("doc").alias("hist_doc"), "band_id", "band_key"
    )

    stream = read_documents_stream(spark, sf_dir).filter(
        F.col("doc_id") % 2 == 1
    )
    s_bands = minhash_bands(minhash_signatures(stream))

    hit = F.when(F.col("hist_doc").isNotNull(), 1).otherwise(0)
    gated = (
        s_bands.join(hist_bands, ["band_id", "band_key"], "left_outer")
        .groupBy(F.col("doc").alias("doc_id"))
        .agg(F.sum(hit).alias("n_band_hits"))
        .select(
            "doc_id",
            "n_band_hits",
            (F.col("n_band_hits") == 0).alias("is_new"),
        )
    )
    return run_to_completion(gated, "complete", state_partitions_for_input(spark, sf_dir, tables=("documents",)))


def stream_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Gopher-rule quality GATE: each incoming doc (odd doc_id
    — the simulated ingest stream) gets the full hard-rule verdict as a
    pure per-row projection, no state at all.

    With stream_near_dup_gate this completes the streaming admission
    pipeline: rules first (stateless, this op), THEN the near-dup band
    lookup (stream-static join) — the same gate order the batch
    curation_decisions_documents applies. Append mode: a projection
    emits exactly one row per input doc.
    """
    from qa_data_pipeline_rag_llm_spark.plans.queries_curation import (
        gopher_verdict,
    )

    stream = read_documents_stream(spark, sf_dir).filter(
        F.col("doc_id") % 2 == 1
    )
    return run_to_completion(gopher_verdict(stream), "append")


# ---------------------------------------------------------------------------
# Streaming SCD2: the stateful twin of plans/queries_temporal's batch
# build. Emits a version row the moment a state RUN closes (the next
# distinct event type arrives); the open version lives only in state, so
# the output is correct under ANY micro-batching — an open version is
# simply not final until its successor shows up. Closed-version rows are
# append-mode immutable facts, the shape a downstream sink can upsert
# blindly.

_SCD2_STATE_SCHEMA = StructType(
    [
        StructField("cur_state", StringType()),
        StructField("cur_version", IntegerType()),
        StructField("cur_vfrom", LongType()),
    ]
)
_SCD2_OUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("version", IntegerType()),
        StructField("state", StringType()),
        StructField("valid_from_us", LongType()),
        StructField("valid_to_us", LongType()),
    ]
)
_SCD2_COLS = ["user_id", "version", "state", "valid_from_us", "valid_to_us"]


def _update_scd2_versions(
    key: Tuple[int],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Run-compress a user's event stream into closed SCD2 versions.

    The group's chunks are BUFFERED and sorted as one frame: Arrow
    slices a group at arbitrary record-batch boundaries and intra-group
    order is shuffle-fetch order, so sorting per chunk would run-compress
    out of (ts, event_id) order whenever a user straddles a boundary
    (review r03). NULL event types stay None (object dtype, no str
    coercion) — the batch kernel's eqNullSafe treats NULL as a real
    state, and this twin must match it. A batch whose earliest event
    predates the open version's valid_from fails LOUD: silently
    compressing it would invert intervals and diverge from the batch
    oracle forever (cross-batch ordering is the caller's replay
    contract, see stream_scd2_closed_versions)."""
    import numpy as np

    started = state.exists
    if started:
        cur_state, cur_version, cur_vfrom = state.get
    else:
        cur_state, cur_version, cur_vfrom = None, 0, -1
    uid, closed = key[0], []
    chunks = [p for p in pdfs if not p.empty]
    if chunks:
        batch = pd.concat(chunks, ignore_index=True)
        batch = batch.assign(
            _us=batch["ts"].astype("int64") // 1000
        ).sort_values(["_us", "event_id"])
        types = batch["event_type"].to_numpy(dtype=object)
        uss = batch["_us"].to_numpy()
        if started and int(uss[0]) < cur_vfrom:
            raise ValueError(
                f"scd2 stream: late event for user {uid} at "
                f"{int(uss[0])}µs predates open version start "
                f"{cur_vfrom}µs — replay must be time-ordered per user"
            )
        sentinel = object()  # unequal to every state, including None
        prev = np.empty(len(types), dtype=object)
        prev[0] = cur_state if started else sentinel
        prev[1:] = types[:-1]
        chg = np.fromiter(
            (a != b for a, b in zip(types, prev)),
            dtype=bool,
            count=len(types),
        )
        for i in np.flatnonzero(chg):
            if started:
                closed.append(
                    (uid, cur_version, cur_state, cur_vfrom, int(uss[i]))
                )
            started = True
            cur_state = types[i]
            cur_version += 1
            cur_vfrom = int(uss[i])
    state.update((cur_state, int(cur_version), int(cur_vfrom)))
    out = pd.DataFrame(closed, columns=_SCD2_COLS)
    yield out.astype(
        {
            "user_id": "int64",
            "version": "int32",
            "state": "object",
            "valid_from_us": "int64",
            "valid_to_us": "int64",
        }
    )


def stream_scd2_closed_versions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming SCD2 maintenance: per-user state versions emitted as
    they close. Output equals the batch build minus the still-open
    versions (oracle: O_SCD2_FULL WHERE NOT is_current).

    Replay contract: within a micro-batch, arrival order is irrelevant
    (the kernel buffers and sorts the group); ACROSS micro-batches each
    user's events must arrive time-ordered — true for time-partitioned
    file replay (this harness) and for any log whose producer appends in
    event order. A violating batch raises rather than silently
    corrupting version history; a watermarked buffer-and-delay front end
    is the standard fix when the transport can reorder."""
    raw = read_events_stream(spark, sf_dir)
    out = raw.groupBy("user_id").applyInPandasWithState(
        _update_scd2_versions,
        outputStructType=_SCD2_OUT_SCHEMA,
        stateStructType=_SCD2_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return run_to_completion(out, "append", state_partitions_for_input(spark, sf_dir, tables=("events",)))


# ------------------------------------------------- bounded-batch backfill
_BACKFILL_CLEANUP: set[str] = set()
BACKFILL_FILES = 8
BACKFILL_FILES_PER_TRIGGER = 2


def stream_backfill_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-batch historical backfill: Trigger.AvailableNow +
    maxFilesPerTrigger — the operational pattern for replaying a large
    file archive through a streaming pipeline WITHOUT one giant
    micro-batch. At 100 TB a naive availableNow over the whole archive
    builds a single batch whose shuffle must fit the cluster at once;
    capping files-per-trigger makes the backfill a sequence of
    executor-sized batches with checkpointed progress (kill/resume-safe),
    while the final aggregate is still a total function of the input.

    Output: per-type exact totals plus a ``multi_batch`` verdict column —
    TRUE iff the run really processed more than one micro-batch (the
    bound working is the point; a regression to one batch flips it).
    """
    import atexit
    import hashlib
    import os
    import shutil
    import uuid

    from qa_data_pipeline_rag_llm_spark.catalog import (
        events_read_schema,
        load_table,
        normalize_events_ts,
    )

    tag = hashlib.sha1(sf_dir.encode()).hexdigest()[:10] + f"_{os.getpid()}"
    src_dir = f"/tmp/spark_graft_backfill_{tag}"
    if src_dir not in _BACKFILL_CLEANUP:
        # materialize the archive as BACKFILL_FILES parquet files once
        # (the testdata table is a single file — one file = one batch)
        load_table(spark, sf_dir, "events").repartition(
            BACKFILL_FILES
        ).write.mode("overwrite").parquet(src_dir)
        _BACKFILL_CLEANUP.add(src_dir)
        atexit.register(shutil.rmtree, src_dir, True)

    raw = (
        spark.readStream.schema(events_read_schema(spark, src_dir))
        .option("maxFilesPerTrigger", str(BACKFILL_FILES_PER_TRIGGER))
        .parquet(src_dir)
    )
    ev = normalize_events_ts(raw)
    agg = ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.round(
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 4
        ).alias("total_value"),
    )
    name = f"q_{uuid.uuid4().hex}"
    # input-sized state partitions matter MOST here: the bounded drain
    # runs BACKFILL_FILES/BACKFILL_FILES_PER_TRIGGER micro-batches, so
    # every state-store instance pays its commit cost per batch
    key = "spark.sql.shuffle.partitions"
    prev_sp = spark.conf.get(key, None)
    spark.conf.set(
        key,
        str(state_partitions_for_input(spark, sf_dir, tables=("events",))),
    )
    try:
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        if prev_sp is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev_sp)
    n_batches = len(
        {p["batchId"] for p in q.recentProgress if p.get("numInputRows", 0) > 0}
    )
    out = spark.table(name).localCheckpoint(eager=True)
    q.stop()
    spark.catalog.dropTempView(name)
    return out.withColumn("multi_batch", F.lit(n_batches > 1))
