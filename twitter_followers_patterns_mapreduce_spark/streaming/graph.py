"""Streaming graph-view maintenance — the reference's edge-file input
(``Makefile:10`` ``input/edges.csv``) reimagined as an unbounded edge
arrival stream whose degree view stays continuously fresh.

Pattern: ``foreachBatch`` + incremental view maintenance.  Each
micro-batch of edge arrivals is aggregated ALONE (|batch| rows) and
merged into the persisted degree view with the same aggregate-merge
as the batch operator (``operators/cdc.py::merge_degrees`` — degree is
self-maintainable under inserts), so per-batch cost is O(|batch| +
|V|), never a rescan of edge history.

Durability: the view is written to versioned subdirectories
(``v=<batch_id>``) — the merge reads the previous version while
writing the next, so there is no read-overwrite race, and a retried
batch overwrites its own version idempotently (restart-safe together
with the stream checkpoint).  Production systems replace the version
dance with an ACID table format (Delta/Iceberg MERGE); vanilla-Spark
semantics are identical.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession

from twitter_followers_patterns_mapreduce_spark.operators.cdc import merge_degrees
from twitter_followers_patterns_mapreduce_spark.operators.graph import degrees

_VERSION_RE = re.compile(r"^v=(\d+)$")


def edges_file_stream(spark: SparkSession, path: str) -> DataFrame:
    """File-source edge stream: each parquet file under ``path`` becomes
    a micro-batch of edge arrivals (src, dst)."""
    return spark.readStream.schema("src LONG, dst LONG").parquet(path)


def _committed_versions(view_path: str) -> list[int]:
    """Version dirs whose write COMPLETED (``_SUCCESS`` marker present)
    — a crash mid-write leaves a partial dir that must be invisible to
    both readers and the next merge."""
    if not os.path.isdir(view_path):
        return []
    return [
        int(m.group(1))
        for name in os.listdir(view_path)
        if (m := _VERSION_RE.match(name))
        and os.path.exists(os.path.join(view_path, name, "_SUCCESS"))
    ]


def _latest_version(view_path: str, below: int | None = None) -> int | None:
    versions = _committed_versions(view_path)
    if below is not None:
        versions = [v for v in versions if v < below]
    return max(versions) if versions else None


def _latest_common_version(view_paths: list[str], below: int | None = None) -> int | None:
    """Newest version committed in EVERY one of ``view_paths`` — the read
    point of multi-table state whose tables are written side by side.  A
    crash between the tables' writes leaves the newest version in only
    some of them; it is skipped, and keep-2 retention (which runs only
    after all of a batch's writes commit) guarantees the previous
    version is still there in all of them."""
    common = set.intersection(*(set(_committed_versions(p)) for p in view_paths))
    if below is not None:
        common = {v for v in common if v < below}
    return max(common) if common else None


def _prune_versions(view_path: str, keep: int = 2) -> None:
    """Retention: drop committed version dirs older than the newest
    ``keep`` (default 2 — the just-written version and its predecessor,
    which a crash-replayed batch merges against).  Without this a long
    drain accumulates O(batches × state size) on disk.  Uncommitted
    (no ``_SUCCESS``) dirs are left alone — they belong to an in-flight
    or crashed write, and the committed-version filter already hides
    them from readers."""
    import shutil

    doomed = sorted(_committed_versions(view_path))[:-keep]
    for v in doomed:
        shutil.rmtree(os.path.join(view_path, f"v={v}"), ignore_errors=True)


def read_degree_view(spark: SparkSession, view_path: str) -> DataFrame:
    """The current (id, out_deg, in_deg) view — latest version dir."""
    v = _latest_version(view_path)
    if v is None:
        raise FileNotFoundError(f"no degree view at {view_path}")
    return spark.read.parquet(f"{view_path}/v={v}")


def maintain_degrees_foreach_batch(
    spark: SparkSession, edge_stream: DataFrame, view_path: str, checkpoint: str
):
    """Start the maintenance query: every micro-batch merges into the
    degree view.  Returns the StreamingQuery."""

    def merge(batch: DataFrame, batch_id: int) -> None:
        # strictly-below: a RETRIED batch (view written, checkpoint not
        # yet committed, crash, replay with the same batch_id) must merge
        # against its predecessor, not read-and-overwrite its own output
        # — that replay is exactly what makes the version idempotent
        prev = _latest_version(view_path, below=batch_id)
        delta = degrees(batch)
        # every version was written with the delta's schema: reading with
        # it skips one parquet-footer inference job per micro-batch
        out = delta if prev is None else merge_degrees(
            spark.read.schema(delta.schema).parquet(f"{view_path}/v={prev}"), delta
        )
        out.write.mode("overwrite").parquet(f"{view_path}/v={batch_id}")
        _prune_versions(view_path)

    return (
        edge_stream.writeStream.foreachBatch(merge)
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
