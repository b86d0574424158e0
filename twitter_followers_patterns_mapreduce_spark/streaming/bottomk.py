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

Durability: versioned ``v=<batch_id>`` dirs with strictly-below
predecessor reads (the ``streaming/graph.py`` recipe) — a retried batch
merges against its predecessor and overwrites its own version
idempotently.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from twitter_followers_patterns_mapreduce_spark.functions.hashing import h64_sql
from twitter_followers_patterns_mapreduce_spark.streaming.graph import (
    _latest_version,
    _prune_versions,
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

    def merge(batch: DataFrame, batch_id: int) -> None:
        if batch_ids is not None:
            batch_ids.append(batch_id)
        prev = _latest_version(state_dir, below=batch_id)
        delta = _bottomk(
            batch.selectExpr("event_id", "user_id", "event_type", f"{h} AS hk"), k
        )
        out = (
            delta
            if prev is None
            # mergeable: bottom-k of (previous state union batch bottom-k)
            else _bottomk(
                spark.read.schema(delta.schema).parquet(f"{state_dir}/v={prev}").unionAll(delta), k
            )
        )
        out.write.mode("overwrite").parquet(f"{state_dir}/v={batch_id}")
        _prune_versions(state_dir)

    (
        stream.writeStream.foreachBatch(merge)
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def bottomk_from_view(spark: SparkSession, state_dir: str) -> DataFrame:
    """Read the maintained sample — identical output contract to the
    batch operator (event_id, user_id, event_type, hk)."""
    v = _latest_version(state_dir)
    if v is None:
        raise FileNotFoundError(f"no sample state at {state_dir}")
    return spark.read.parquet(f"{state_dir}/v={v}")
