"""Streaming KLL quantile view — a mergeable quantile sketch maintained
as versioned micro-batch state (fourteenth gated streaming class).

The batch operators (``operators/stats.py::kll_quantile_profile`` /
``_merged``) build the sketch in one pass / one merge level; here each
micro-batch builds a |batch|-local KLL sketch and merges it into the
accumulated state sketch — the property that makes KLL THE streaming
quantile structure at 100 TB/day: state is one fixed-size sketch (k=200
⇒ ~a few KB) regardless of stream length, and per-batch cost is
|batch| + one 2-row merge.  Exact ``percentile`` as streaming state
would hold every value ever seen.

State is one (sk BINARY, n BIGINT) row per version, under the
versioned discipline of ``streaming/state.py``.

The gate: the final state sketch's quantile estimates must satisfy the
SAME rank-error band as the batch build (est(q) ∈ [exact(q−ε),
exact(q+ε)]), so the registered query shares
``kll_quantile_profile_oracle`` with the batch form — streamed
maintenance == batch build == plain-SQL oracle, the CMS-streamed
discipline applied to quantiles.
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

#: Schema of staged value-feed files.
VALUE_SCHEMA = "event_id LONG, value DOUBLE"


def state_tables(state_dir: str) -> Tables:
    return tables(state_dir, sketch="sk BINARY, n LONG")


def value_stream(spark: SparkSession, path: str) -> DataFrame:
    """File-source value stream, one staged file per micro-batch."""
    return (
        spark.readStream.schema(VALUE_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )


def kll_apply_stream(
    spark: SparkSession,
    stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    batch_ids: list[int] | None = None,
) -> None:
    """Drain ``stream`` (availableNow) into the versioned KLL state:
    per batch, one |batch|-local sketch agg + a ≤2-row merge agg.
    Blocks until drained."""

    def _merge(batch_df: DataFrame, prev: dict[str, DataFrame] | None) -> dict[str, DataFrame]:
        bsk = batch_df.selectExpr("CAST(value AS DOUBLE) AS x").agg(
            F.expr("kll_sketch_agg_double(x)").alias("sk"),
            F.expr("CAST(COUNT(*) AS BIGINT)").alias("n"),
        )
        if prev is None:
            return {"sketch": bsk}
        return {
            "sketch": prev["sketch"].unionByName(bsk).agg(
                F.expr("kll_merge_agg_double(sk)").alias("sk"),
                F.expr("CAST(SUM(n) AS BIGINT)").alias("n"),
            )
        }

    drain(
        spark, stream, state_tables(state_dir), checkpoint_dir, _merge, batch_ids
    ).awaitTermination()


def kll_profile_from_state(
    spark: SparkSession,
    state_dir: str,
    df: DataFrame,
    value_col: str,
    probes: tuple[float, ...] | None = None,
    eps: float = 0.02,
) -> DataFrame:
    """(q, n, exact_q, kll_ok) readout of the drained state sketch —
    the batch profile's contract, with the sketch coming from streaming
    state and the exact companions from the replayed table (the gate's
    cost, exactly the kll/theta discipline)."""
    from twitter_followers_patterns_mapreduce_spark.operators.stats import (
        _KLL_PROBES,
        _kll_probe_readout,
    )

    probes = probes or _KLL_PROBES
    state = read_state(spark, state_tables(state_dir))["sketch"].select("sk")
    lohiq = []
    for q in probes:
        lohiq += [max(0.0, q - eps), q, min(1.0, q + eps)]
    arr = ", ".join(f"CAST({v_!r} AS DOUBLE)" for v_ in lohiq)
    exact = df.selectExpr(f"CAST({value_col} AS DOUBLE) AS x").agg(
        F.expr(f"percentile(x, array({arr}))").alias("ex"),
        F.expr("CAST(COUNT(*) AS BIGINT)").alias("n"),
    )
    one = exact.crossJoin(F.broadcast(state))  # 1 × 1 declared cross
    return _kll_probe_readout(one, probes)
