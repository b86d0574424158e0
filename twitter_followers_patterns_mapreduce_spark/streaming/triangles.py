"""Streamed incremental triangle maintenance (nineteenth gated
streaming class) — the reference's headline statistic (the RS/RJ raw
closure count, ``rs/ReduceSideJoin.java``) kept continuously fresh as
edge arrivals drain through a micro-batch stream.

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
admitted exactly once: the anti-join makes D genuinely new.  State is
read with explicit schemas, so no version read pays a parquet-footer
schema-inference job.

Order-independence gate: the final edge state is a SET (union is
commutative) and the maintained count is exact at every step, so the
drained count equals the one-shot closure count over the full edge
set under ANY chunking — the registered query therefore shares the
full-recompute SQL oracle directly, with the exact recount emitted as
the ``consistent`` companion boolean (the sketch-op discipline).

State follows the keep-2 replay-idempotent version discipline of
``streaming/graph.py``: each batch merges against the version strictly
below its own id and overwrites its own ``v=<batch_id>``, so a
crash-replayed batch re-derives (never double-counts) its delta.

Reference parity note: the reference (Twitter-Followers-Patterns
MapReduce) is batch-only; this is extension surface (SURVEY.md §2.7).
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from twitter_followers_patterns_mapreduce_spark.operators.graph import (
    closure_count,
    delta_closures,
)
from twitter_followers_patterns_mapreduce_spark.streaming.graph import (
    _latest_version,
    _prune_versions,
)

#: Schema of staged edge-feed files and of the ``edges/v=`` state.
EDGE_TRI_SCHEMA = "src LONG, dst LONG"
#: Schema of the ``count/v=`` state.
COUNT_TRI_SCHEMA = "t_raw LONG"


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
    edges_dir = os.path.join(state_dir, "edges")
    count_dir = os.path.join(state_dir, "count")

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        if batch_ids is not None:
            batch_ids.append(batch_id)
        b = (
            batch_df.where(F.col("src") != F.col("dst"))
            .select("src", "dst")
            .distinct()
        )
        prev = _latest_version(edges_dir, below=batch_id)
        if prev is None:
            old_edges = _empty_edges(spark)
            old_count = spark.range(1).selectExpr("CAST(0 AS BIGINT) AS t_raw")
        else:
            old_edges = spark.read.schema(EDGE_TRI_SCHEMA).parquet(f"{edges_dir}/v={prev}")
            old_count = spark.read.schema(COUNT_TRI_SCHEMA).parquet(
                f"{count_dir}/v={_latest_version(count_dir, below=batch_id)}"
            )
        # only genuinely-new edges count (and re-arrivals are no-ops);
        # lazy checkpoint: D feeds the closure pass, U's tag and the
        # union write
        d = b.join(old_edges, ["src", "dst"], "left_anti").localCheckpoint(
            eager=False
        )
        u = old_edges.unionByName(d)
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

        # the two versioned writes are independent once D is fixed —
        # submit both, fail the batch if either write fails
        def _write(args: tuple) -> None:
            df, path = args
            df.write.mode("overwrite").parquet(path)

        writes = [
            (u, f"{edges_dir}/v={batch_id}"),
            (new_count, f"{count_dir}/v={batch_id}"),
        ]
        with ThreadPoolExecutor(max_workers=len(writes)) as pool:
            for fut in [pool.submit(_write, w) for w in writes]:
                fut.result()
        _prune_versions(edges_dir)
        _prune_versions(count_dir)

    q = (
        stream.writeStream.foreachBatch(_merge)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def triangle_view_from_state(spark: SparkSession, state_dir: str) -> DataFrame:
    """1 row from the standing state: the maintained closure count, the
    edge-set size, and the exact-recount gate companion ``consistent``
    (maintained == recount over the final edge set) — production would
    skip the recount; the gate is the point here."""
    edges_dir = os.path.join(state_dir, "edges")
    count_dir = os.path.join(state_dir, "count")
    ve = _latest_version(edges_dir)
    vc = _latest_version(count_dir)
    if ve is None or vc is None:
        raise FileNotFoundError(f"no triangle state at {state_dir}")
    edges = spark.read.schema(EDGE_TRI_SCHEMA).parquet(f"{edges_dir}/v={ve}")
    maintained = spark.read.schema(COUNT_TRI_SCHEMA).parquet(f"{count_dir}/v={vc}").selectExpr(
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
