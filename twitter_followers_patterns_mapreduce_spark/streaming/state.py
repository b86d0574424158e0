"""Versioned micro-batch state — the one layer every ``foreachBatch``
state module (bloom, bm25, bottomk, counts, dedup_admit, ewma, graph,
kll, mixture, scd2, theta, triangles) runs through.  A module declares
its tables and writes only its merge step; reading, writing, retention
and the stream itself live here.  Graph state is a set of relations
that every micro-batch updates through one versioned dataflow step, the
superstep shape of *Pregelix* (VLDB 2014).

Layout: a declaration maps table name → (directory, DDL schema)
(:func:`tables`).  Single-table state lives at ``state_dir/v=<id>``,
multi-table state at ``state_dir/<table>/v=<id>``, one version per
micro-batch id.

Discipline:

* **Commit marker.**  A version exists only once its parquet
  ``_SUCCESS`` marker does; a crash mid-write leaves a partial dir that
  readers, merges and retention all ignore.
* **Common-version read.**  :func:`read_state` returns every table at
  the newest version committed in ALL of them, so a crash between two
  tables' writes never pairs one batch's table with another's.
* **Strictly-below merge.**  Batch ``b`` merges against the newest
  common version below ``b`` and overwrites its own ``v=b``.  A batch
  replayed after a crash between its state write and the checkpoint
  commit therefore re-derives the same output from the same predecessor,
  never merging into itself.
* **Keep-2 retention.**  After all of a batch's writes commit, each
  table keeps its newest two committed versions (the new one and the
  predecessor a replay merges against), so disk stays O(2 × state), not
  O(batches).

The full parquet rewrite per version is the vanilla-Spark stand-in for
a table format's MERGE/append (Delta, Iceberg); the semantics are the
same.
"""

from __future__ import annotations

import functools
import os
import re
import shutil
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType

#: table name → (directory, DDL schema)
Tables = dict[str, tuple[str, str]]
#: a module's merge: (micro-batch, previous version or None) → new tables
Step = Callable[[DataFrame, dict[str, DataFrame] | None], dict[str, DataFrame]]

_VERSION_RE = re.compile(r"^v=(\d+)$")


def tables(state_dir: str, **schemas: str) -> Tables:
    """Declare state under ``state_dir``: one table lives in
    ``state_dir`` itself, several in one subdirectory each."""
    if len(schemas) == 1:
        return {name: (state_dir, ddl) for name, ddl in schemas.items()}
    return {name: (os.path.join(state_dir, name), ddl) for name, ddl in schemas.items()}


def _version_path(table_dir: str, v: int) -> str:
    return f"{table_dir}/v={v}"


def _committed_versions(view_path: str) -> list[int]:
    """Version dirs whose write completed (``_SUCCESS`` present)."""
    if not os.path.isdir(view_path):
        return []
    return [
        int(m.group(1))
        for name in os.listdir(view_path)
        if (m := _VERSION_RE.match(name))
        and os.path.exists(os.path.join(view_path, name, "_SUCCESS"))
    ]


def _latest_common_version(view_paths: list[str], below: int | None = None) -> int | None:
    """Newest version committed in every one of ``view_paths`` (and
    below ``below``, if given).  Keep-2 retention runs only after all of
    a batch's writes commit, so the previous common version is still
    there when the newest is missing from some table."""
    common = set.intersection(*(set(_committed_versions(p)) for p in view_paths))
    if below is not None:
        common = {v for v in common if v < below}
    return max(common) if common else None


def _prune_versions(view_path: str, keep: int = 2) -> None:
    """Drop committed versions older than the newest ``keep``.
    Uncommitted dirs belong to an in-flight or crashed write and are
    left alone."""
    for v in sorted(_committed_versions(view_path))[:-keep]:
        shutil.rmtree(_version_path(view_path, v), ignore_errors=True)


@functools.cache
def _declared_fields(ddl: str) -> tuple[tuple[str, str], ...]:
    return _fields(StructType.fromDDL(ddl))


def _fields(schema: StructType) -> tuple[tuple[str, str], ...]:
    # simpleString ignores nullability, which a parquet round trip drops
    return tuple((f.name, f.dataType.simpleString()) for f in schema.fields)


def _read_at(spark: SparkSession, decl: Tables, v: int) -> dict[str, DataFrame]:
    # the declared schema spares each read a parquet-footer inference job
    return {
        name: spark.read.schema(ddl).parquet(_version_path(d, v))
        for name, (d, ddl) in decl.items()
    }


def read_state(
    spark: SparkSession, decl: Tables, below: int | None = None
) -> dict[str, DataFrame]:
    """Every table of ``decl`` at the newest version committed in all of
    them (and below ``below``, if given).  Raises ``FileNotFoundError``
    when there is no such version."""
    dirs = [d for d, _ in decl.values()]
    v = _latest_common_version(dirs, below=below)
    if v is None:
        raise FileNotFoundError(f"no state version committed in all of {dirs}")
    return _read_at(spark, decl, v)


def apply_batch(
    spark: SparkSession, decl: Tables, step: Step, batch_df: DataFrame, batch_id: int
) -> None:
    """One micro-batch: read the common version strictly below
    ``batch_id`` (or ``None``), run ``step``, check every output against
    its declared schema, write all tables in parallel as ``v=<batch_id>``
    and prune each to keep-2."""
    v = _latest_common_version([d for d, _ in decl.values()], below=batch_id)
    out = step(batch_df, None if v is None else _read_at(spark, decl, v))
    if set(out) != set(decl):
        raise ValueError(f"step wrote tables {sorted(out)}, declared {sorted(decl)}")
    # a declared-schema read of a mismatched file would turn the
    # mismatched columns into NULLs, so refuse to write one
    for name, (_, ddl) in decl.items():
        got, want = _fields(out[name].schema), _declared_fields(ddl)
        if got != want:
            raise ValueError(f"state table {name!r}: step wrote {got}, declared {want}")

    def _write(name: str) -> None:
        out[name].write.mode("overwrite").parquet(_version_path(decl[name][0], batch_id))

    # the tables' writes are independent jobs: submitted together they
    # cost about the slowest one, not the sum (SCALE.md measured five
    # sequential dedup_admit writes at ~1.5-1.9 s of a ~3.4 s batch).
    # Any failed write fails the batch.
    with ThreadPoolExecutor(max_workers=len(decl)) as pool:
        for fut in [pool.submit(_write, name) for name in decl]:
            fut.result()
    for d, _ in decl.values():
        _prune_versions(d)


def drain(
    spark: SparkSession,
    stream: DataFrame,
    decl: Tables,
    checkpoint_dir: str,
    step: Step,
    batch_ids: list[int] | None = None,
) -> StreamingQuery:
    """Start ``stream`` with ``availableNow``, applying every micro-batch
    to ``decl`` through ``step`` (:func:`apply_batch`).  ``batch_ids``
    (if given) collects the ids of the micro-batches that ran.  Returns
    the started query."""

    def _batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_ids is not None:
            batch_ids.append(batch_id)
        apply_batch(spark, decl, step, batch_df, batch_id)

    return (
        stream.writeStream.foreachBatch(_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
