"""Streaming domain-mixture IVM — per-source corpus totals maintained
as versioned micro-batch state (seventeenth gated streaming class).

``operators/corpus.py::corpus_mixture_ivm`` proves delta maintenance ≡
full recompute for ONE base+delta step; this module runs the same
mergeable state through a real micro-batch stream: each batch
aggregates its slice to |sources| rows and folds them into the standing
(source, n_docs, n_chars) table by union → re-aggregate (the additive
-state rule shared with ``orders_monthly_ivm`` / ``join_delta_ivm``).
Per-batch cost is |batch| + |sources|; state is |sources| rows
regardless of stream length — the cheapest possible standing mixture.

State follows the versioned discipline of ``streaming/state.py``.

The gate: per-source totals form a commutative monoid, so the streamed
state is ORDER-FREE and equals the one-shot aggregate over the full
table — the registered query therefore shares
``corpus_mixture_ivm_oracle``'s full-recompute SQL directly, with no
staged-recursion unroll (contrast ``dedup_admit.py``, whose greedy
admission IS order-dependent and needs the per-stage CTE oracle).

Reference parity note: the reference (Twitter-Followers-Patterns
MapReduce) is batch-only; this is extension surface (SURVEY.md §2.7).
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

#: Schema of staged document-feed files (the mixture needs no text).
DOCS_MIX_SCHEMA = "doc_id LONG, source STRING, n_chars LONG"


def state_tables(state_dir: str) -> Tables:
    return tables(state_dir, sources="source STRING, n_docs LONG, n_chars LONG")


def docs_mix_stream(spark: SparkSession, path: str) -> DataFrame:
    """File-source document-metadata stream, one staged file per batch."""
    return (
        spark.readStream.schema(DOCS_MIX_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )


def _source_counts(df: DataFrame) -> DataFrame:
    return df.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("n_chars"),
    )


def mixture_apply_stream(
    spark: SparkSession,
    stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    batch_ids: list[int] | None = None,
) -> None:
    """Drain ``stream`` (availableNow) into the versioned per-source
    state: per batch, one |batch| aggregation + a 2·|sources|-row
    merge aggregation.  Blocks until drained."""

    def _merge(batch_df: DataFrame, prev: dict[str, DataFrame] | None) -> dict[str, DataFrame]:
        bstate = _source_counts(batch_df)
        if prev is None:
            return {"sources": bstate}
        return {
            "sources": prev["sources"]
            .unionByName(bstate)
            .groupBy("source")
            .agg(
                F.sum("n_docs").cast("long").alias("n_docs"),
                F.sum("n_chars").cast("long").alias("n_chars"),
            )
        }

    drain(
        spark, stream, state_tables(state_dir), checkpoint_dir, _merge, batch_ids
    ).awaitTermination()


def mixture_recipe_from_state(
    spark: SparkSession, state_dir: str, keep_div: int = 2
) -> DataFrame:
    """The temperature recipe recomputed from the standing |sources|-row
    state — latest committed version, O(|sources|) refresh."""
    from twitter_followers_patterns_mapreduce_spark.operators.corpus import (
        mixture_recipe_from_counts,
    )

    return mixture_recipe_from_counts(
        read_state(spark, state_tables(state_dir))["sources"], keep_div
    )
