"""Streamed Bloom runtime-filter maintenance (twentieth gated
streaming class) — the ``join_bloom_prefilter`` word table kept
continuously fresh as dim-table rows arrive, so the fact-side prune is
always ready without ever rebuilding the filter from the full dim
history.

Pattern: ``foreachBatch`` + mergeable-state IVM.  ``bit_or`` over
word-packed lanes is a COMMUTATIVE MONOID (``operators/planner.py::
bloom_build_words``), so per batch the filter update is: anti-join the
batch's predicate-passing keys against the standing key set (genuinely
new keys only — re-arrivals are no-ops), build probe words for the
|Δ| new keys alone, and fold them into the standing word table by
union → re-aggregate ``bit_or``.  Per-batch cost is |Δ|·k_hash probe
rows + a ≤m/32-row merge; the word table is fixed-size regardless of
stream length.  Deletions would need a counting filter — inserts-only
here, like every Bloom filter in production join pruning.

State is two tables, ``dkeys`` + ``words``, under the versioned
discipline of ``streaming/state.py``.

Order-independence gate: set union and bit_or are both commutative, so
the drained state equals the one-shot build under ANY chunking and the
registered query shares ``bloom_prefilter_oracle``'s full-recompute
SQL directly — the fact-side scoring (``bloom_score``) runs against
the standing state, and the no-false-negative soundness boolean is the
gate companion.

Reference parity note: the reference (Twitter-Followers-Patterns
MapReduce) is batch-only; this is extension surface (SURVEY.md §2.7).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from twitter_followers_patterns_mapreduce_spark.operators.planner import (
    bloom_build_words,
    bloom_score,
)
from twitter_followers_patterns_mapreduce_spark.streaming.state import (
    Tables,
    drain,
    read_state,
    tables,
)

#: Schema of staged dim-feed files (part-key + the predicate column).
DIM_FEED_SCHEMA = "p_partkey LONG, p_size LONG"


def state_tables(state_dir: str) -> Tables:
    return tables(state_dir, dkeys="k LONG", words="word_idx LONG, word LONG")


def dim_file_stream(spark: SparkSession, path: str) -> DataFrame:
    """File-source dim-arrival stream, one staged file per micro-batch."""
    return (
        spark.readStream.schema(DIM_FEED_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )


def bloom_apply_stream(
    spark: SparkSession,
    stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    dim_pred: str = "p_size < 15",
    dim_key: str = "p_partkey",
    m_bits: int = 16384,
    k_hash: int = 4,
    batch_ids: list[int] | None = None,
) -> None:
    """Drain ``stream`` (availableNow) into the versioned key-set +
    word-table state: per batch one anti-join, a |Δ|-key probe build,
    and a ≤m/32-row bit_or merge.  Blocks until drained."""

    def _merge(batch_df: DataFrame, prev: dict[str, DataFrame] | None) -> dict[str, DataFrame]:
        bkeys = (
            batch_df.where(dim_pred)
            .selectExpr(f"CAST({dim_key} AS BIGINT) AS k")
            .distinct()
        )
        if prev is None:
            new_keys = bkeys.localCheckpoint(eager=False)
            return {"dkeys": new_keys, "words": bloom_build_words(new_keys, m_bits, k_hash)}
        new_keys = bkeys.join(prev["dkeys"], "k", "left_anti").localCheckpoint(
            eager=False
        )
        return {
            "dkeys": prev["dkeys"].unionByName(new_keys),
            "words": prev["words"]
            .unionByName(bloom_build_words(new_keys, m_bits, k_hash))
            .groupBy("word_idx")
            .agg(F.expr("bit_or(word)").alias("word")),
        }

    drain(
        spark, stream, state_tables(state_dir), checkpoint_dir, _merge, batch_ids
    ).awaitTermination()


def bloom_state(spark: SparkSession, state_dir: str) -> tuple[DataFrame, DataFrame]:
    """(dkeys, words) — the standing filter at the newest version
    committed in both tables."""
    state = read_state(spark, state_tables(state_dir))
    return state["dkeys"], state["words"]


def bloom_score_from_state(
    spark: SparkSession,
    state_dir: str,
    fact: DataFrame,
    fact_key: str,
    m_bits: int = 16384,
    k_hash: int = 4,
) -> DataFrame:
    """The 1-row prefilter summary of ``fact`` probed against the
    STANDING filter state — identical contract to the batch twin."""
    dkeys, words = bloom_state(spark, state_dir)
    return bloom_score(fact, dkeys, words, fact_key, m_bits, k_hash)
