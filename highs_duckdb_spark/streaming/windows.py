"""Streaming window aggregations + stateful sessionization over events.

Scale notes: the file source is the stand-in for Kafka — swapping
``readStream.format("parquet")`` for ``format("kafka")`` changes nothing
downstream. Watermarks bound state (late data beyond the watermark is
dropped); window aggregations shuffle once on (window, keys); the
sessionizer keeps one state row per user, timing out via the watermark.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid
from collections.abc import Iterable

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import DataStreamWriter
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from highs_duckdb_spark.session import ensure_shipped, source_schema


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream of the events table (one parquet = one micro-batch
    under AvailableNow; a directory of files would stream incrementally)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # declared from the reader cache, not inferred: inference is a
    # footer-reading Spark job on every call
    batch_schema = source_schema(spark, "events", sf_dir)
    # the file source requires a directory: stream the sf dir, filtered to
    # the events file (a real deployment would point at a landing directory)
    stream = (
        spark.readStream.schema(batch_schema)
        .format("parquet")
        .option("pathGlobFilter", "events.parquet")
        .load(sf_dir)
    )
    ts_type = dict(stream.dtypes)["ts"]
    if ts_type == "bigint":
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_type == "timestamp_ntz":
        # Watermarks require TIMESTAMP; the session TZ is pinned to UTC so the
        # cast preserves wall-clock and window bounds match the batch side.
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return stream


def tumbling_window_agg(events: DataFrame) -> DataFrame:
    """1-hour tumbling windows per event_type with a 1-hour watermark."""
    return (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(
                F.lit(1e-9) + F.sum(F.col("value").cast("decimal(12,2)")).cast("double"), 4
            ).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )


def sliding_window_counts(events: DataFrame) -> DataFrame:
    """2-hour windows sliding every hour — each event lands in 2 windows."""
    return (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "2 hours", "1 hour").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("window_start"), "n")
    )


SESSION_GAP_MINUTES = 30

_SESSION_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("session_start", TimestampType()),
        StructField("session_end", TimestampType()),
        StructField("n_events", LongType()),
    ]
)
_STATE_SCHEMA = StructType(
    [
        StructField("start_us", LongType()),
        StructField("last_us", LongType()),
        StructField("n", LongType()),
    ]
)


def _sessionize_fn(
    key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterable[pd.DataFrame]:
    """Stateful kernel: accumulate per-user sessions split on 30-min gaps.

    Emits every CLOSED session; the open tail session is emitted when the
    state times out past the watermark (or never, on an unbounded stream —
    standard sessionization semantics).
    """
    gap_us = SESSION_GAP_MINUTES * 60 * 1_000_000
    if state.hasTimedOut:
        start_us, last_us, n = state.get
        state.remove()
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "session_start": [pd.Timestamp(start_us, unit="us")],
                "session_end": [pd.Timestamp(last_us, unit="us")],
                "n_events": [n],
            }
        )
        return

    # round 12: vectorized µs extraction — the per-element
    # `int(t.value // 1000)` generator ran once per EVENT per group;
    # ns→µs floor division on the int64 view is the identical integer
    # for every representable timestamp (ts arrives as datetime64[ns]).
    import numpy as np

    parts = [
        pdf["ts"].to_numpy(dtype="datetime64[ns]").astype(np.int64) // 1000
        for pdf in pdfs
    ]
    arr = np.concatenate(parts) if parts else np.empty(0, dtype=np.int64)
    arr.sort()
    ts_list = arr.tolist()
    if state.exists:
        start_us, last_us, n = state.get
    else:
        start_us = last_us = ts_list[0]
        n = 0
    closed = []
    for t in ts_list:
        if t - last_us > gap_us and n > 0:
            closed.append((start_us, last_us, n))
            start_us, n = t, 0
        last_us = max(last_us, t)
        n += 1
    state.update((start_us, last_us, n))
    state.setTimeoutTimestamp(last_us // 1000 + gap_us // 1000)
    if closed:
        yield pd.DataFrame(
            {
                "user_id": [key[0]] * len(closed),
                "session_start": [pd.Timestamp(s, unit="us") for s, _, _ in closed],
                "session_end": [pd.Timestamp(e, unit="us") for _, e, _ in closed],
                "n_events": [c for _, _, c in closed],
            }
        )


def sessionize_stream(events: DataFrame) -> DataFrame:
    """Gap-based sessions via applyInPandasWithState (custom stateful op)."""
    ensure_shipped(events.sparkSession)
    return (
        events.withWatermark("ts", "1 hour")
        .groupBy("user_id")
        .applyInPandasWithState(
            _sessionize_fn,
            outputStructType=_SESSION_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def checkpoint_path(tag: str) -> str:
    """A fresh checkpoint location for one streaming query, under
    ``tempfile.gettempdir()`` (so it follows TMPDIR)."""
    return os.path.join(tempfile.gettempdir(), f"hds_ckpt_{tag}_{uuid.uuid4().hex}")


def run_stream_to_table(stream_df: DataFrame, table: str, output_mode: str) -> None:
    """Execute a stream with AvailableNow into a memory sink table.

    Window aggregations use ``complete`` so windows still ahead of the final
    watermark are emitted (append would hold them back forever on a finite
    source); the stateful sessionizer only supports ``append``. The
    checkpoint is removed once the query has terminated: the memory sink
    holds the result and nothing resumes from it.
    """
    spark = stream_df.sparkSession
    # State-store partition count is fixed per checkpoint at stream start
    # and defaults to spark.sql.shuffle.partitions (200 on a vanilla
    # session) — 200 state tasks per stateful stage is pure scheduling
    # overhead at test scale. Each run here uses a fresh checkpoint, so
    # clamp for the duration of the (synchronous) run and restore. On a
    # real cluster you'd size this to the state volume instead.
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    clamped = min(int(prev), 8)
    spark.conf.set("spark.sql.shuffle.partitions", str(clamped))
    try:
        run_available_now(
            stream_df.writeStream.format("memory")
            .queryName(table)
            .outputMode(output_mode),
            table,
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def run_available_now(writer: DataStreamWriter, tag: str) -> None:
    """Run ``writer`` with Trigger.AvailableNow on a fresh checkpoint and
    wait for it to finish. The checkpoint is removed once the query has
    terminated: the run is synchronous and nothing resumes from it."""
    ckpt = checkpoint_path(tag)
    q = None
    try:
        q = (
            writer.trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.awaitTermination()
    finally:
        if q is None or not q.isActive:
            shutil.rmtree(ckpt, ignore_errors=True)


def dedup_stream(events: DataFrame) -> DataFrame:
    """Streaming exact dedup: first occurrence per (user_id, event_type).

    ``dropDuplicates`` keeps per-key state; the watermark bounds that state
    (keys older than the watermark are evicted — the standard unbounded-
    stream dedup pattern; use dropDuplicatesWithinWatermark for the
    time-scoped variant). Emits the deduped KEYS so the result is
    arrival-order independent and batch-comparable.
    """
    return (
        events.withWatermark("ts", "1 hour")
        .dropDuplicates(["user_id", "event_type"])
        .select("user_id", "event_type")
    )


# --- transformWithState (Spark 4 arbitrary-state API v2) -------------------

_TOTALS_OUTPUT_SCHEMA = StructType(
    [
        StructField("event_type", StringType()),
        StructField("n_events", LongType()),
        StructField("total_cents", LongType()),
    ]
)


def make_running_totals_processor():
    """The qs07 TransformWithState processor, constructed at module level so
    its state-transition logic is unit-testable WITHOUT the protobuf state
    wire (tests/test_streaming.py drives it with a fake handle/ValueState —
    the container lacks google.protobuf, so the live worker can't start
    here; see _transform_with_state_available)."""
    import numpy as np
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class RunningTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._totals = handle.getValueState("totals", "n BIGINT, cents BIGINT")

        def handleInputRows(self, key, rows, timerValues):
            n, cents = 0, 0
            if self._totals.exists():
                n, cents = self._totals.get()
            for pdf in rows:
                v = pdf["value"].to_numpy(dtype=np.float64) * 100.0
                # HALF_UP to integer cents (exact on the 2-decimal grid)
                c = np.where(v >= 0, np.floor(v + 0.5), np.ceil(v - 0.5)).astype(np.int64)
                n += len(pdf)
                cents += int(c.sum())
            self._totals.update((n, cents))
            yield pd.DataFrame(
                {"event_type": [key[0]], "n_events": [n], "total_cents": [cents]}
            )

        def close(self) -> None:
            pass

    return RunningTotals()


def running_totals_stream(events: DataFrame) -> DataFrame:
    """Per-event-type running totals via ``transformWithStateInPandas``.

    Spark 4's second-generation arbitrary-state API (TransformWithState):
    the processor owns named state variables through a handle instead of a
    single state tuple, and runs on the RocksDB state-store provider. One
    ValueState row per key holds (count, exact integer cents); each
    micro-batch emits the updated running totals for the keys it touched —
    on an unbounded stream this is the classic live-dashboard operator
    with O(keys) state.

    Determinism: values are accumulated as exact scaled integers (the
    functions/money.py convention, HALF_UP like Spark's round) so the
    running sum is order-independent and equals the oracle's DECIMAL sum.
    """
    ensure_shipped(events.sparkSession)

    return events.select("event_type", "value").groupBy("event_type").transformWithStateInPandas(
        statefulProcessor=make_running_totals_processor(),
        outputStructType=_TOTALS_OUTPUT_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )


def run_stream_with_rocksdb(stream_df: DataFrame, table: str, output_mode: str) -> None:
    """Like :func:`run_stream_to_table` but on the RocksDB state store
    (required by transformWithState; also the provider you would run at
    scale — changelog checkpointing, bounded memory)."""
    spark = stream_df.sparkSession
    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        run_stream_to_table(stream_df, table, output_mode)
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
