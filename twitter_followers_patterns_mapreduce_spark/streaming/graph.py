"""Streaming graph-view maintenance — the reference's edge-file input
(``Makefile:10`` ``input/edges.csv``) reimagined as an unbounded edge
arrival stream whose degree view stays continuously fresh.

Pattern: ``foreachBatch`` + incremental view maintenance.  Each
micro-batch of edge arrivals is aggregated ALONE (|batch| rows) and
merged into the persisted degree view with the same aggregate-merge
as the batch operator (``operators/cdc.py::merge_degrees`` — degree is
self-maintainable under inserts), so per-batch cost is O(|batch| +
|V|), never a rescan of edge history.

State follows the versioned discipline of ``streaming/state.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from twitter_followers_patterns_mapreduce_spark.operators.cdc import merge_degrees
from twitter_followers_patterns_mapreduce_spark.operators.graph import degrees
from twitter_followers_patterns_mapreduce_spark.streaming.state import (
    Tables,
    drain,
    read_state,
    tables,
)


def state_tables(view_path: str) -> Tables:
    return tables(view_path, degrees="id LONG, out_deg LONG, in_deg LONG")


def edges_file_stream(spark: SparkSession, path: str) -> DataFrame:
    """File-source edge stream: each parquet file under ``path`` becomes
    a micro-batch of edge arrivals (src, dst)."""
    return spark.readStream.schema("src LONG, dst LONG").parquet(path)


def read_degree_view(spark: SparkSession, view_path: str) -> DataFrame:
    """The current (id, out_deg, in_deg) view — latest committed version."""
    return read_state(spark, state_tables(view_path))["degrees"]


def maintain_degrees_foreach_batch(
    spark: SparkSession, edge_stream: DataFrame, view_path: str, checkpoint: str
) -> StreamingQuery:
    """Start the maintenance query: every micro-batch merges into the
    degree view.  Returns the StreamingQuery."""

    def merge(batch: DataFrame, prev: dict[str, DataFrame] | None) -> dict[str, DataFrame]:
        delta = degrees(batch)
        return {"degrees": delta if prev is None else merge_degrees(prev["degrees"], delta)}

    return drain(spark, edge_stream, state_tables(view_path), checkpoint, merge)
