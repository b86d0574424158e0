"""Incrementally-maintained EWMA — the tenth gated streaming class:
a materialized VIEW-ON-VIEW (kernel smoothing over maintained bucket
state).

``operators/events.py::ewma_hourly`` is bucket aggregation + an 8-tap
kernel join.  The bucket grain (exact per-hour counts and value sums)
is SELF-MAINTAINABLE under inserts — merging a micro-batch is the same
groupBy-sum over ``old state ∪ delta`` — while the EWMA itself is NOT
(one new event shifts up to 8 downstream outputs).  So the stream
maintains the bucket view incrementally (cost ∝ |batch| + |buckets|
per micro-batch, never a rescan of event history) and re-derives the
kernel output from state on read: the classic IVM split of
"maintain the self-maintainable grain, recompute the cheap derivation".

State follows the versioned discipline of ``streaming/state.py``.

Exactness: state carries the DECIMAL(38,6) value sum and its
1e-6-scaled BIGINT twin; decimal/integer addition is associative, so
ANY batching of the same events converges to the same state — pinned
by stream == batch == oracle (``events_ewma_hourly``'s DuckDB oracle
is reused verbatim) and the multi-batch test.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from twitter_followers_patterns_mapreduce_spark.operators.events import (
    ewma_from_buckets,
    hourly_value_buckets,
)
from twitter_followers_patterns_mapreduce_spark.streaming.state import (
    Tables,
    drain,
    read_state,
    tables,
)


def state_tables(state_dir: str) -> Tables:
    return tables(
        state_dir,
        buckets="event_type STRING, h LONG, n_events LONG, s DECIMAL(38,6), s6 LONG",
    )


def ewma_event_stream(spark: SparkSession, path: str) -> DataFrame:
    """File-source event stream, one staged parquet file per micro-batch
    (``maxFilesPerTrigger=1``) — full event schema."""
    from twitter_followers_patterns_mapreduce_spark.streaming.windows import (
        EVENT_STREAM_SCHEMA,
    )

    return (
        spark.readStream.schema(EVENT_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )


def _merge_buckets(state: DataFrame, delta: DataFrame) -> DataFrame:
    """Bucket-view merge: same groupBy-sum as the batch bucketizer over
    state ∪ delta (counts and both sum representations are additive)."""
    return (
        state.unionByName(delta)
        .groupBy("event_type", "h")
        .agg(
            F.sum("n_events").cast("long").alias("n_events"),
            F.sum("s").cast("decimal(38,6)").alias("s"),
            F.sum("s6").cast("long").alias("s6"),
        )
    )


def ewma_apply_stream(
    spark: SparkSession,
    events_stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    batch_ids: list[int] | None = None,
) -> None:
    """Drain ``events_stream`` (availableNow) into the hourly bucket
    view under ``state_dir/v=<batch_id>``.  Blocks until drained."""

    def _merge(batch_df: DataFrame, prev: dict[str, DataFrame] | None) -> dict[str, DataFrame]:
        delta = hourly_value_buckets(batch_df)
        return {"buckets": delta if prev is None else _merge_buckets(prev["buckets"], delta)}

    drain(
        spark, events_stream, state_tables(state_dir), checkpoint_dir, _merge, batch_ids
    ).awaitTermination()


def read_ewma_view(spark: SparkSession, state_dir: str) -> DataFrame:
    """The current EWMA output: kernel stage re-derived from the latest
    committed bucket state (identical to the batch plan by shared code).
    """
    return ewma_from_buckets(read_state(spark, state_tables(state_dir))["buckets"])
