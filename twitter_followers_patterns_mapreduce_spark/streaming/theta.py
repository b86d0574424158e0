"""Streaming theta-sketch distinct view — mergeable distinct-count
state maintained across micro-batches (fifteenth gated streaming
class).

Exact streaming COUNT(DISTINCT) needs the full key set as state
(O(|keys|), unbounded); a theta sketch is the mergeable fixed-size
replacement: each micro-batch builds a |batch|-local sketch and UNIONS
it into the accumulated state sketch — distinct-union is exactly what
theta sketches are closed under, the property that lets per-day/
per-partition sketches roll up at 100 TB without re-reading history
(the batch-side consumers: ``events_theta_retention``,
``events_sliding_distinct_theta``, ``join_key_overlap_theta``).

State is one (sk BINARY) row per version, under the versioned
discipline of ``streaming/state.py``.  lgK=14 (16384 nominal entries)
is sized to the largest gated SF — sf0.1 has 1.5k distinct users (exact
mode) and even sf1's 15k stays below nominal; past exact mode rsd ≈
0.8%, so the 8% readout bound is ~10σ and the oracle's TRUE pin
survives estimation mode (the round-9 default-k hazard, handled the
same way as events.py::sliding_distinct_theta).

The gate: the drained sketch's estimate must sit within
max(rel_tol·exact, 2) of the exact distinct computed from the replayed
table — streamed union == batch sketch == plain-SQL COUNT(DISTINCT).
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

#: lgK shared by every agg/union in this module AND sized to the
#: largest gated SF (see module docstring).
THETA_LGK = 14

#: Schema of staged key-feed files.
KEY_SCHEMA = "event_id LONG, user_id LONG"


def state_tables(state_dir: str) -> Tables:
    return tables(state_dir, sketch="sk BINARY")


def key_stream(spark: SparkSession, path: str) -> DataFrame:
    """File-source key stream, one staged file per micro-batch."""
    return (
        spark.readStream.schema(KEY_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )


def theta_apply_stream(
    spark: SparkSession,
    stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    batch_ids: list[int] | None = None,
) -> None:
    """Drain ``stream`` (availableNow) into the versioned theta state:
    per batch, one |batch|-local sketch agg + a ≤2-row union agg.
    Blocks until drained."""

    def _merge(batch_df: DataFrame, prev: dict[str, DataFrame] | None) -> dict[str, DataFrame]:
        bsk = batch_df.agg(
            F.expr(f"theta_sketch_agg(user_id, {THETA_LGK})").alias("sk")
        )
        if prev is None:
            return {"sketch": bsk}
        return {
            "sketch": prev["sketch"].unionByName(bsk).agg(
                F.expr(f"theta_union_agg(sk, {THETA_LGK})").alias("sk")
            )
        }

    drain(
        spark, stream, state_tables(state_dir), checkpoint_dir, _merge, batch_ids
    ).awaitTermination()


def distinct_from_state(
    spark: SparkSession,
    state_dir: str,
    df: DataFrame,
    key_col: str = "user_id",
    rel_tol: float = 0.08,
) -> DataFrame:
    """(n_users, ok) readout: exact COUNT(DISTINCT) from the replayed
    table (the gate's cost) next to the drained sketch's estimate,
    asserted within max(rel_tol·exact, 2)."""
    state = read_state(spark, state_tables(state_dir))["sketch"].selectExpr(
        "theta_sketch_estimate(sk) AS est"
    )
    exact = df.agg(
        F.countDistinct(key_col).cast("long").alias("n_users")
    )
    # 1 × 1 declared cross: exact companion × drained state estimate
    return exact.crossJoin(F.broadcast(state)).selectExpr(
        "n_users",
        f"abs(CAST(est AS DOUBLE) - n_users)"
        f" <= greatest({rel_tol!r} * n_users, CAST(2 AS DOUBLE)) AS ok",
    )
