"""Streaming bottom-k uniform sample — incremental maintenance of the
deterministic h64 bottom-k state, with the SAME plain-SQL oracle as the
batch operator (``operators/events.py::bottomk_sample``).

Why this is the streaming sampling primitive: bottom-k state is
mergeable (bottom-k of a union == bottom-k of the partial bottom-ks),
so each micro-batch contributes its own |batch|-local bottom-k and the
persisted state never exceeds k rows — O(|batch| + k) per batch, the
event history never rescanned, and the final state is IDENTICAL to the
batch operator over the full table regardless of how the stream was
chunked.  A rand()-reservoir cannot make that promise (its state
depends on arrival order); the fixed-hash form is order-free, which is
exactly what puts it under the cross-engine oracle gate.

State follows the versioned discipline of ``streaming/state.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from twitter_followers_patterns_mapreduce_spark.functions.hashing import h64_sql
from twitter_followers_patterns_mapreduce_spark.streaming.state import (
    Tables,
    drain,
    read_state,
    tables,
)


def state_tables(state_dir: str) -> Tables:
    return tables(
        state_dir, sample="event_id LONG, user_id LONG, event_type STRING, hk LONG"
    )


def sample_event_stream(spark: SparkSession, path: str) -> DataFrame:
    """File-source event stream carrying the sample's output columns."""
    return (
        spark.readStream.schema("event_id LONG, user_id LONG, event_type STRING")
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )


def _bottomk(df: DataFrame, k: int) -> DataFrame:
    return df.orderBy(F.col("hk").asc(), F.col("event_id").asc()).limit(k)


def bottomk_apply_stream(
    spark: SparkSession,
    stream: DataFrame,
    state_dir: str,
    checkpoint: str,
    k: int = 200,
    batch_ids: list[int] | None = None,
) -> None:
    """Drain the stream with availableNow, maintaining bottom-k state."""
    h = h64_sql("CAST(event_id AS STRING)", "spark")

    def merge(batch: DataFrame, prev: dict[str, DataFrame] | None) -> dict[str, DataFrame]:
        delta = _bottomk(
            batch.selectExpr("event_id", "user_id", "event_type", f"{h} AS hk"), k
        )
        # mergeable: bottom-k of (previous state union batch bottom-k)
        return {"sample": delta if prev is None else _bottomk(prev["sample"].unionAll(delta), k)}

    drain(
        spark, stream, state_tables(state_dir), checkpoint, merge, batch_ids
    ).awaitTermination()


def bottomk_from_view(spark: SparkSession, state_dir: str) -> DataFrame:
    """Read the maintained sample — identical output contract to the
    batch operator (event_id, user_id, event_type, hk)."""
    return read_state(spark, state_tables(state_dir))["sample"]
