"""Streamed incremental triangle maintenance (nineteenth gated
streaming class) — the reference's headline statistic (the RS/RJ raw
closure count, ``rsjoin/RSJoinTriangleCount.java``) kept continuously
fresh as edge arrivals drain through a micro-batch stream.

Pattern: ``foreachBatch`` + graph IVM.  ``operators/graph.py::
triangle_count_ivm`` proves the delta algebra for ONE base+delta step
(added = 3·|DUU| − 3·|DDU| + |DDD|, U = E ∪ D, every term starting
from a delta edge); this module folds that step per micro-batch into
standing two-table state:

* ``edges/v=<id>``  — the accumulated DISTINCT edge set (the graph),
* ``count/v=<id>``  — ONE row ``t_raw``: the maintained closure count.

Per batch: one anti-join (dedup vs the standing set) fixes D; ONE
tagged delta-closure pass (``operators/graph.py::delta_closures``)
joins D twice against U = old ∪ D, whose rows carry an "edge is in D"
flag, and weighs each closure 3 − 3·f2 + (f2∧f3).  The new count is a
single SUM over the old ``t_raw`` row and those weighted closure rows,
so the count write is one join pipeline and one aggregate — the base
graph's closures are never recounted.  The edge state is rewritten as
|old ∪ D| beside it (the full-state parquet rewrite per version is the
documented vanilla-Spark stand-in for a table-format MERGE, as in
``streaming/dedup_admit.py``).  Cross-batch duplicate arrivals are
admitted exactly once: the anti-join makes D genuinely new.

Order-independence gate: the final edge state is a SET (union is
commutative) and the maintained count is exact at every step, so the
drained count equals the one-shot closure count over the full edge
set under ANY chunking — the registered query therefore shares the
full-recompute SQL oracle directly, with the exact recount emitted as
the ``consistent`` companion boolean (the sketch-op discipline).

State follows the versioned discipline of ``streaming/state.py``, so a
crash-replayed batch re-derives (never double-counts) its delta, and a
crash between the two writes never pairs one batch's edges with
another's count.

Reference parity note: the reference (Twitter-Followers-Patterns
MapReduce) is batch-only; this is extension surface (SURVEY.md §2.7).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from twitter_followers_patterns_mapreduce_spark.operators.graph import (
    closure_count,
    delta_closures,
    directed_pairs,
)
from twitter_followers_patterns_mapreduce_spark.streaming.state import (
    Tables,
    drain,
    read_state,
    tables,
)

#: Schema of staged edge-feed files and of the ``edges/v=`` state.
EDGE_TRI_SCHEMA = "src LONG, dst LONG"
#: Schema of the ``count/v=`` state.
COUNT_TRI_SCHEMA = "t_raw LONG"


def state_tables(state_dir: str) -> Tables:
    return tables(state_dir, edges=EDGE_TRI_SCHEMA, count=COUNT_TRI_SCHEMA)


def edges_tri_stream(spark: SparkSession, path: str) -> DataFrame:
    """File-source edge-arrival stream, one staged file per micro-batch."""
    return (
        spark.readStream.schema(EDGE_TRI_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )


def _empty_edges(spark: SparkSession) -> DataFrame:
    return spark.range(0).selectExpr(
        "CAST(id AS LONG) AS src", "CAST(id AS LONG) AS dst"
    )


def triangles_apply_stream(
    spark: SparkSession,
    stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    batch_ids: list[int] | None = None,
) -> None:
    """Drain ``stream`` (availableNow) into the versioned edge-set +
    count state: per batch, one anti-join (dedup vs the standing set),
    one tagged delta-closure pass folded with the old count into one
    SUM, and two independent state writes (submitted in parallel
    threads).  Blocks until drained."""

    def _merge(batch_df: DataFrame, prev: dict[str, DataFrame] | None) -> dict[str, DataFrame]:
        b = directed_pairs(batch_df)
        if prev is None:
            old_edges = _empty_edges(spark)
            old_count = spark.range(1).selectExpr("CAST(0 AS BIGINT) AS t_raw")
        else:
            old_edges, old_count = prev["edges"], prev["count"]
        # only genuinely-new edges count (and re-arrivals are no-ops);
        # D feeds the closure pass, U's tag and the union write, so it
        # is checkpointed once.  eager=False does not make it lazy
        # under AQE: the call itself runs the anti-join's map stages as
        # Spark jobs, serially, before the two parallel state writes;
        # only the final stage waits for the first action
        d = b.join(old_edges, ["src", "dst"], "left_anti").localCheckpoint(
            eager=False
        )
        tagged = old_edges.withColumn("in_d", F.lit(False)).unionByName(
            d.withColumn("in_d", F.lit(True))
        )
        # t_raw' = t_raw + Σ closure weights: the old count is one more
        # weighted row of the same SUM
        new_count = (
            old_count.select(F.col("t_raw").alias("w"))
            .unionByName(delta_closures(d, tagged).select("w"))
            .agg(F.sum("w").cast("long").alias("t_raw"))
        )
        return {"edges": old_edges.unionByName(d), "count": new_count}

    drain(
        spark, stream, state_tables(state_dir), checkpoint_dir, _merge, batch_ids
    ).awaitTermination()


def triangle_view_from_state(spark: SparkSession, state_dir: str) -> DataFrame:
    """1 row from the standing state: the maintained closure count, the
    edge-set size, and the exact-recount gate companion ``consistent``
    (maintained == recount over the final edge set) — production would
    skip the recount; the gate is the point here.  Both tables are read
    at the newest version committed in both, so a crash between a
    batch's two writes shows the previous batch, never a torn pair."""
    state = read_state(spark, state_tables(state_dir))
    edges = state["edges"]
    maintained = state["count"].selectExpr(
        "t_raw", "t_raw - t_raw AS _k"
    )
    recount = closure_count(edges, edges, edges).selectExpr(
        "n AS recount", "n - n AS _k"
    )
    n_edges = edges.agg(F.count("*").cast("long").alias("n_edges")).selectExpr(
        "n_edges", "n_edges - n_edges AS _k"
    )
    return (
        maintained.join(F.broadcast(recount), "_k")
        .join(F.broadcast(n_edges), "_k")
        .selectExpr("t_raw", "n_edges", "t_raw = recount AS consistent")
    )
