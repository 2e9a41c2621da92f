"""Event-time streaming analytics (SURVEY.md §2.9 / §2.12 streaming row).

The reference has only processing-time buffers; event-time windows,
watermarks, session windows and streaming dedup are the engine's
generalization. Every function here takes a (possibly streaming)
DataFrame with a ``ts`` timestamp column and returns the transformed
(streaming) DataFrame — the SAME logical plan serves batch and stream,
which is what the closed-input stream==batch tests assert.

:func:`run_on_closed_input` is the one closed-input drain: every
``streaming``-tagged catalog query and every stream==batch test runs
its operator through it, and it leaves the session as it found it (no
temp view, no active stream, shuffle width and state-store provider
restored).
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import normalize_event_time, parquet_schema

# State-store backend for every closed-input drain. At 100 TB of events
# the state store IS the scaling wall for stateful streaming (watermarked
# windows, dedup, stream-stream joins, applyInPandasWithState): the
# default HDFS-backed provider keeps every state row on the JVM heap, so
# state is bounded by executor memory; RocksDB spills to local disk with
# incremental checkpointing and is the provider a production deployment
# runs.
_ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)
_PROVIDER_CONF = "spark.sql.streaming.stateStore.providerClass"
_WIDTH_CONF = "spark.sql.shuffle.partitions"

# Shuffle width of a drain. Each stateful stage allocates one state-store
# instance PER shuffle partition, so the right width tracks the drain's
# STATE SIZE, not the data volume — fresh-process measurements at sf0.1
# (min-of-3 seconds):
#
#   width          8       2
#   q129 hll     3.98    3.41   (constant state, Arrow-scan bound)
#   q134 hist    3.41    1.50   (constant state)
#   q136 bloom   3.61    2.28   (constant state)
#   q113 cms     2.17    1.88   (constant state)
#   q73 join     3.26    3.46   (real join state — wants width)
#   q91 pandas   2.41    3.26   (python-stateful — wants width)
#
# so constant-state sketch drains pass ``partitions="2"`` and everything
# else keeps 8 (itself measured: 6.9 -> 2.3 s for the stream-stream join
# at 32 -> 8). On a real cluster the checkpoint fixes state partitioning
# per query — size it to the stream's key cardinality instead.
DEFAULT_DRAIN_WIDTH = "8"


def _event_time(df: DataFrame, col: str = "ts") -> DataFrame:
    """Defense-in-depth at every watermark site: watermarks require
    TimestampType (LTZ); normalize long-nanos / TIMESTAMP_NTZ encodings
    the same way sources.tables.load_table does, so these operators are
    safe even on a DataFrame that bypassed load_table."""
    return normalize_event_time(df, col)


def tumbling_counts(df: DataFrame, size: str = "1 hour", watermark: str = "2 hours") -> DataFrame:
    df = _event_time(df)
    src = df.withWatermark("ts", watermark) if df.isStreaming else df
    return (
        src.groupBy(F.window("ts", size).alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def sliding_counts(
    df: DataFrame, size: str = "1 hour", slide: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    df = _event_time(df)
    src = df.withWatermark("ts", watermark) if df.isStreaming else df
    return (
        src.groupBy(F.window("ts", size, slide).alias("w"))
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"), "n", "sum_value")
    )


def session_counts(df: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours") -> DataFrame:
    df = _event_time(df)
    src = df.withWatermark("ts", watermark) if df.isStreaming else df
    return (
        src.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("session_len"))
        .select("user_id", "session_len")
    )


def interval_join_counts(
    df: DataFrame,
    left_type: str = "click",
    right_type: str = "purchase",
    horizon: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Stream-stream interval join: pair every ``left_type`` event with
    the same user's ``right_type`` events in ``[ts, ts + horizon]``,
    counted per user.

    Streaming shape: two filtered views of ONE source joined on the
    equi-key plus a bounded event-time range; the watermark + range
    bound let Spark expire join state (without them, state grows
    unboundedly). Inner stream-stream joins emit matches as they are
    found, so an availableNow drain over a closed input produces the
    complete pair set. The same plan runs in batch (the oracle path).
    """
    df = _event_time(df)
    left = df.filter(F.col("event_type") == left_type).select(
        F.col("user_id").alias("l_user"), F.col("ts").alias("l_ts")
    )
    right = df.filter(F.col("event_type") == right_type).select(
        F.col("user_id").alias("r_user"), F.col("ts").alias("r_ts")
    )
    if df.isStreaming:
        left = left.withWatermark("l_ts", watermark)
        right = right.withWatermark("r_ts", watermark)
    pairs = left.join(
        right,
        (F.col("l_user") == F.col("r_user"))
        & (F.col("r_ts") >= F.col("l_ts"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr(f"INTERVAL {horizon}")),
    )
    return pairs.select(F.col("l_user").alias("user_id"), "l_ts", "r_ts")


def streaming_dedup(df: DataFrame, keys: list[str], watermark: str = "2 hours") -> DataFrame:
    df = _event_time(df)
    if df.isStreaming:
        return df.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(keys)
    return df.dropDuplicates(keys)


def run_on_closed_input(
    spark: SparkSession,
    parquet_path: str,
    op,
    output_mode: str = "append",
    partitions: str | None = None,
) -> DataFrame:
    """Replay a *closed* parquet input (one file or a directory of
    parts) through Structured Streaming — ``op`` applied to the stream,
    memory sink, availableNow — and return the fully materialized
    result. This is the FIXTURES.md rule: streaming answers are
    verified against the batch answer on the same closed input.

    Self-sufficient under ANY session, like ``load_table``: the reader
    schema comes from the parquet footer (no inference job), nanosAsLong
    is set (events.ts has shipped as TIMESTAMP(NANOS)), the session
    timezone is pinned to UTC (window-start strings must render in UTC
    for oracle hash parity), and ``ts`` is normalized across the parquet
    encodings events.parquet has shipped with (a no-op without a ``ts``
    column).

    The shuffle width (``partitions``, default
    :data:`DEFAULT_DRAIN_WIDTH`) and the RocksDB provider are scoped to
    the drain and restored afterwards. The result is bound to the memory
    sink's rows before its temp view is dropped, so the session gains
    no view: the rows live as long as the returned DataFrame."""
    tmp = tempfile.mkdtemp(prefix="closed_input_")
    name = f"sq_{uuid.uuid4().hex[:10]}"
    prev_width = spark.conf.get(_WIDTH_CONF)
    prev_provider = spark.conf.get(_PROVIDER_CONF, None)
    try:
        spark.conf.set(_WIDTH_CONF, partitions or DEFAULT_DRAIN_WIDTH)
        spark.conf.set(_PROVIDER_CONF, _ROCKSDB_PROVIDER)
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        schema = parquet_schema(spark, parquet_path)
        # The streaming file source wants a directory or a glob; glob a
        # single file in place (zero-copy).
        src = parquet_path if os.path.isdir(parquet_path) else parquet_path + "*"
        stream = normalize_event_time(spark.readStream.schema(schema).parquet(src), "ts")
        q = (
            op(stream)
            .writeStream.outputMode(output_mode)
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", f"{tmp}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.table(name)
    finally:
        spark.catalog.dropTempView(name)
        spark.conf.set(_WIDTH_CONF, prev_width)
        if prev_provider is None:
            spark.conf.unset(_PROVIDER_CONF)
        else:
            spark.conf.set(_PROVIDER_CONF, prev_provider)
        shutil.rmtree(tmp, ignore_errors=True)
