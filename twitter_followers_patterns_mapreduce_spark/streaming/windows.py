"""Structured-streaming forms of the event-time aggregations in
``operators/events.py`` — the same logical window aggregations with
watermarks for late data, per the public Structured Streaming model
(readStream → transform → writeStream).

The reference is batch-only (SURVEY.md §2.7); this is the engine's
streaming extension surface.  Batch/stream parity is by construction:
both forms share one aggregation body, and the batch-equivalence test
(tests/test_streaming.py) pins it.

At scale: state for windowed aggs lives in the executor state store,
bounded by the watermark; `availableNow` triggers give incremental
backfill over file sources with the same code path as live streams.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from twitter_followers_patterns_mapreduce_spark.operators.events import DEC, TS_FMT_SPARK

#: Schema of the harness ``events`` table with ts as a proper timestamp
#: (streaming file sources need an explicit schema — no inference pass).
EVENT_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def events_file_stream(spark: SparkSession, path: str) -> DataFrame:
    """File-source event stream: each parquet file under ``path`` becomes
    a micro-batch (the standard incremental-ingest pattern).  ``path``
    must be a DIRECTORY (FileStreamSource monitors it for new files —
    single-file inputs need a staging dir, see
    events_tumbling_hourly_streamed)."""
    return spark.readStream.schema(EVENT_STREAM_SCHEMA).parquet(path)


def _tumbling_agg(events: DataFrame) -> DataFrame:
    """Shared batch/stream aggregation body — single source of truth for
    the tumbling-hourly semantics (mirrors events.tumbling_hourly)."""
    return (
        events.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast(DEC)).cast("double").alias("sum_value"),
        )
        .select(
            F.date_format("w.start", TS_FMT_SPARK).alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def tumbling_hourly_stream(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Streaming tumbling 1-hour windows with a late-data watermark.

    In append mode a window emits once the watermark passes its end —
    exactly-once, bounded state.  Use output mode "complete" (memory
    sink / dashboards) to observe open windows too.
    """
    return _tumbling_agg(events.withWatermark("ts", watermark))


def sliding_window_stream(
    events: DataFrame,
    size: str = "1 hour",
    slide: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming SLIDING windows: each event contributes to size/slide
    overlapping windows (state rows multiply accordingly — the watermark
    still bounds them to lateness × rate × size/slide).  The default
    1 h / 30 min form is the streaming twin of the batch
    ``events.sliding_1h_30m`` and shares its oracle."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", size, slide).alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast(DEC)).cast("double").alias("sum_value"),
        )
        .select(
            F.date_format("w.start", TS_FMT_SPARK).alias("window_start"),
            "n_events",
            "sum_value",
        )
    )


def run_available_now(
    stream_df: DataFrame,
    query_name: str,
    output_mode: str = "complete",
    state_partitions: int | None = None,
):
    """Drain everything currently available through a memory sink and
    block until done; returns the StreamingQuery (already terminated).
    Results land in the in-memory table ``query_name``.

    ``state_partitions`` sizes the STATE STORE, not the data: a stateful
    streaming query commits one state-store delta per partition per
    micro-batch, so partition count is a per-batch fixed cost and must
    be sized to the stateful key cardinality / target state-file size —
    never inherited from the batch shuffle default (measured 2.2× on
    the sf0.1 interval join: 32 inherited partitions → 5.2 s, 8 sized
    ones → 2.3 s, identical rows).  The count binds at the query's
    first start (it lives in the checkpoint), which is why it is set
    around ``start()`` and restored after the drain.

    It stays an argument while every batch shuffle follows the core
    count (``session.py``): that 2.2× is the number of state stores
    each micro-batch commits, measured under a ``local[32]`` session,
    so a count derived from ``defaultParallelism`` would bring the
    cost back on exactly the hosts with many cores."""
    spark = stream_df.sparkSession
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    if state_partitions is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    try:
        q = (
            stream_df.writeStream.format("memory")
            .queryName(query_name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return q
    finally:
        if state_partitions is not None:
            spark.conf.set("spark.sql.shuffle.partitions", prev)


def segment_window_stream(
    events: DataFrame, user_segments: DataFrame, watermark: str = "2 hours"
) -> DataFrame:
    """Stream–static join: enrich the event stream with a static user→
    segment dimension, then window-aggregate per segment.

    The static side is re-read per micro-batch (picking up dim updates)
    and joined without any streaming state — only the windowed
    aggregate holds state, bounded by the watermark.  The 100 TB shape:
    broadcast the dim, stream stays partition-local.
    """
    return (
        events.withWatermark("ts", watermark)
        .join(F.broadcast(user_segments), "user_id")
        .groupBy(F.window("ts", "1 hour").alias("w"), "segment")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.date_format("w.start", TS_FMT_SPARK).alias("window_start"),
            "segment",
            "n_events",
        )
    )


def top_users_stream(events: DataFrame, k: int = 10) -> DataFrame:
    """Complete-mode streaming TOP-K: global per-user value totals,
    sorted and limited INSIDE the streaming query.  Sorting a streaming
    DataFrame is only legal in complete output mode — each micro-batch
    re-emits the full (tiny) ranked result from the aggregate state, so
    the sink always holds the current leaderboard: the live-dashboard
    class no watermarked/append query can express.  State is the
    per-user aggregate (|users| rows), never raw events; ties break on
    user_id so the leaderboard is total-ordered.  Value totals ride
    DECIMAL (exact, batching-order-independent) and surface as double."""
    return (
        events.groupBy("user_id")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.sum(F.col("value").cast(DEC)).cast("double").alias("total_value"),
        )
        .orderBy(F.desc("total_value"), F.asc("user_id"))
        .limit(k)
    )
