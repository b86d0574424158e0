"""Incremental SCD2 maintenance from a change-feed stream.

The batch build (`operators/relational.py::orders_scd2_history`) folds
the WHOLE feed at once; a warehouse ingests the feed in arrivals.  This
module applies each micro-batch with a ``foreachBatch`` merge that
rebuilds ONLY the affected keys' validity intervals against the
accumulated dimension state — the engine-side semantics of ``MERGE
INTO`` on a dimension table, expressed with vanilla parquet state (a
table format with ACID upserts replaces the versioned-directory step at
scale, nothing else changes).

Order-insensitive by construction: versions ride IN the feed rows, and
the merge re-folds ``old versions ∪ batch versions`` per affected key,
so any batching of the same feed converges to the same table — pinned
by the shared DuckDB oracle (stream == batch == oracle) and by
``tests/test_streaming_scd2.py``.

State follows the versioned discipline of ``streaming/state.py``; a
batch replayed after a crash re-folds from the same predecessor, so it
never unfolds already-merged rows or unions its own rows twice.

Why ``foreachBatch`` and not a stateful operator: interval folding
needs a per-key window over ALL versions accumulated so far — streaming
state stores can't express the rewrite of previously-emitted rows
(closing an interval), while a merge against batch-engine state can.
The reference is batch-only (SURVEY.md §2.7); its closest analogue is
re-running the whole job on the grown input.

Scale shape per batch: one broadcast semi/anti-join of the state
against the batch's (small) key set + the interval window over affected
keys only — cost ∝ |batch| + |touched history|, never ∝ |dimension|
(with a table format the anti-join side becomes the format's
deletion-vector write; here the untouched rows are rewritten because
parquet has no in-place delete, which is the documented local stand-in).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from twitter_followers_patterns_mapreduce_spark.operators.relational import fold_scd2
from twitter_followers_patterns_mapreduce_spark.streaming.state import (
    Tables,
    drain,
    read_state,
    tables,
)

#: Schema of staged feed files (vf matches the parquet o_orderdate type).
FEED_SCHEMA = "o_orderkey LONG, version INT, priority STRING, vf TIMESTAMP_NTZ"


def state_tables(state_dir: str) -> Tables:
    return tables(
        state_dir,
        dim="o_orderkey LONG, version INT, priority STRING, valid_from STRING,"
        " valid_to STRING, is_current BOOLEAN",
    )


def scd2_feed_stream(spark: SparkSession, path: str) -> DataFrame:
    """File-source change-feed stream: one staged file per micro-batch
    (``maxFilesPerTrigger=1``), the incremental-ingest replay shape."""
    return (
        spark.readStream.schema(FEED_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )


def read_scd2_state(spark: SparkSession, state_dir: str) -> DataFrame:
    """The current SCD2 dimension — latest committed version."""
    return read_state(spark, state_tables(state_dir))["dim"]


def scd2_apply_stream(
    spark: SparkSession,
    feed: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    batch_ids: list[int] | None = None,
) -> None:
    """Drain ``feed`` (availableNow) into the SCD2 state under
    ``state_dir/v=<batch_id>`` via per-batch incremental merges.  Blocks
    until drained.  ``batch_ids`` (if given) collects the micro-batch
    ids that ran — test hook proving multi-batch incrementality."""

    def _merge(batch_df: DataFrame, prev: dict[str, DataFrame] | None) -> dict[str, DataFrame]:
        new_rows = batch_df.select(
            "o_orderkey", "version", "priority", F.col("vf").cast("timestamp_ntz")
        )
        if prev is None:
            return {"dim": fold_scd2(new_rows)}
        state = prev["dim"]
        keys = new_rows.select("o_orderkey").distinct()
        untouched = state.join(F.broadcast(keys), "o_orderkey", "left_anti")
        # un-fold touched keys' intervals back to feed rows; the
        # re-fold recomputes their valid_to/is_current from scratch
        old_feed = state.join(F.broadcast(keys), "o_orderkey", "left_semi").select(
            "o_orderkey",
            "version",
            "priority",
            F.col("valid_from").cast("timestamp_ntz").alias("vf"),
        )
        return {"dim": untouched.unionByName(fold_scd2(old_feed.unionByName(new_rows)))}

    drain(
        spark, feed, state_tables(state_dir), checkpoint_dir, _merge, batch_ids
    ).awaitTermination()
