"""Streaming exact heavy hitters — incremental maintenance of the
per-key count view, with the SAME plain-SQL oracle as the batch
operator (``operators/events.py::heavy_hitters``).

Pattern: ``foreachBatch`` incremental view maintenance (the
``streaming/graph.py`` recipe applied to counts — COUNT is
self-maintainable under inserts): each micro-batch is aggregated ALONE
(|batch| rows) and merged into the persisted (user_id, n_events) view
by a full-outer coalesce-sum, so per-batch cost is O(|batch| + |keys|)
and the event history is never rescanned.  The φ-threshold filter runs
on the FINAL view — heavy hitters are a query over the maintained
count state, not extra streaming state.

Contrast with the batch operator's Misra-Gries pass: MG bounds memory
when only the hitters are ever needed; the streaming view maintains
EXACT counts for all keys (|keys| state) because the stream must keep
answering as data arrives.  Both end at the same exact answer — which
is what puts this under the oracle gate.

State follows the versioned discipline of ``streaming/state.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from twitter_followers_patterns_mapreduce_spark.streaming.state import (
    Tables,
    drain,
    read_state,
    tables,
)


def state_tables(state_dir: str) -> Tables:
    return tables(state_dir, counts="user_id LONG, n_events LONG")


def user_event_stream(spark: SparkSession, path: str) -> DataFrame:
    """File-source event-arrival stream, one staged parquet file per
    micro-batch (``maxFilesPerTrigger=1``)."""
    return (
        spark.readStream.schema("event_id LONG, user_id LONG")
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )


def merge_user_counts(prev: DataFrame, delta: DataFrame) -> DataFrame:
    """Aggregate-merge: full-outer on the key, coalesce-sum the counts —
    the IVM step for a distributive aggregate."""
    p = prev.select("user_id", F.col("n_events").alias("n_prev"))
    d = delta.select("user_id", F.col("n_events").alias("n_delta"))
    return p.join(d, "user_id", "full_outer").select(
        "user_id",
        (
            F.coalesce(F.col("n_prev"), F.lit(0))
            + F.coalesce(F.col("n_delta"), F.lit(0))
        )
        .cast("long")
        .alias("n_events"),
    )


def counts_apply_stream(
    spark: SparkSession,
    stream: DataFrame,
    state_dir: str,
    checkpoint: str,
    batch_ids: list[int] | None = None,
) -> None:
    """Drain the stream with availableNow, maintaining the count view."""

    def merge(batch: DataFrame, prev: dict[str, DataFrame] | None) -> dict[str, DataFrame]:
        delta = batch.groupBy("user_id").agg(
            F.count("*").cast("long").alias("n_events")
        )
        return {"counts": delta if prev is None else merge_user_counts(prev["counts"], delta)}

    drain(
        spark, stream, state_tables(state_dir), checkpoint, merge, batch_ids
    ).awaitTermination()


def heavy_hitters_from_view(spark: SparkSession, state_dir: str, phi: float) -> DataFrame:
    """The φ-threshold query over the maintained count view — identical
    output contract to the batch operator (user_id, n_events, share)."""
    counts = read_state(spark, state_tables(state_dir))["counts"]
    total = counts.agg(F.sum("n_events").cast("long").alias("n_total")).selectExpr(
        "n_total", "n_total - n_total AS _k"
    )
    return (
        counts.withColumn("_k", F.expr("pmod(n_events, 1)"))
        .join(F.broadcast(total), "_k")
        .where(
            F.col("n_events").cast("double")
            > F.lit(phi) * F.col("n_total").cast("double")
        )
        .selectExpr(
            "user_id", "n_events",
            "floor(CAST(n_events AS DOUBLE) / CAST(n_total AS DOUBLE) * 1e6)"
            " / 1e6 AS share",
        )
    )
