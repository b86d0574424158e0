"""Streaming degree-view maintenance: replaying edge arrivals through
foreachBatch aggregate-merge yields EXACTLY the batch degrees of the
full edge set — incremental maintenance == rescan, on a stream."""

from __future__ import annotations

import pytest

from tests.conftest import make_edges
from twitter_followers_patterns_mapreduce_spark.operators.graph import degrees
from twitter_followers_patterns_mapreduce_spark.streaming.graph import (
    edges_file_stream,
    maintain_degrees_foreach_batch,
    read_degree_view,
)

BATCHES = [
    [(1, 2), (2, 3), (3, 1)],
    [(1, 4), (4, 5), (2, 3)],  # (2,3) arrives again — multigraph counts it
    [(5, 6), (6, 4), (3, 6), (2, 5), (5, 3)],
]


@pytest.fixture(scope="module")
def edge_stream_dir(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("edge_stream")
    for i, rows in enumerate(BATCHES):
        make_edges(spark, rows).coalesce(1).write.parquet(str(d / f"batch_{i}"))
    return d


def test_streaming_degrees_equals_batch(spark, edge_stream_dir, tmp_path):
    q = maintain_degrees_foreach_batch(
        spark,
        edges_file_stream(spark, str(edge_stream_dir) + "/batch_*"),
        view_path=str(tmp_path / "view"),
        checkpoint=str(tmp_path / "ckpt"),
    )
    q.awaitTermination()
    got = {
        r["id"]: (r["out_deg"], r["in_deg"])
        for r in read_degree_view(spark, str(tmp_path / "view")).collect()
    }
    all_edges = make_edges(spark, [e for b in BATCHES for e in b])
    want = {r["id"]: (r["out_deg"], r["in_deg"]) for r in degrees(all_edges).collect()}
    assert got == want


def test_streaming_degrees_restart_resumes(spark, edge_stream_dir, tmp_path):
    # run the first run against only batch 0, then restart over all
    # batches with the SAME checkpoint: already-processed files are not
    # re-merged (exactly-once at the view level)
    view, ckpt = str(tmp_path / "view"), str(tmp_path / "ckpt")
    q = maintain_degrees_foreach_batch(
        spark, edges_file_stream(spark, str(edge_stream_dir) + "/batch_0"), view, ckpt
    )
    q.awaitTermination()
    first = {
        r["id"]: (r["out_deg"], r["in_deg"])
        for r in read_degree_view(spark, view).collect()
    }
    assert first == {1: (1, 1), 2: (1, 1), 3: (1, 1)}
    q = maintain_degrees_foreach_batch(
        spark, edges_file_stream(spark, str(edge_stream_dir) + "/batch_*"), view, ckpt
    )
    q.awaitTermination()
    got = {
        r["id"]: (r["out_deg"], r["in_deg"])
        for r in read_degree_view(spark, view).collect()
    }
    all_edges = make_edges(spark, [e for b in BATCHES for e in b])
    want = {r["id"]: (r["out_deg"], r["in_deg"]) for r in degrees(all_edges).collect()}
    assert got == want


def test_version_helpers_skip_uncommitted_and_self(tmp_path):
    import os

    from twitter_followers_patterns_mapreduce_spark.streaming.state import (
        _latest_common_version,
    )

    view = tmp_path / "view"
    for v, committed in [(0, True), (1, True), (2, False)]:
        d = view / f"v={v}"
        os.makedirs(d)
        (d / "part-0.parquet").write_bytes(b"")
        if committed:
            (d / "_SUCCESS").write_bytes(b"")
    # partial v=2 (crash mid-write, no _SUCCESS) is invisible
    assert _latest_common_version([str(view)]) == 1
    # a retried batch 1 merges against its predecessor, not itself
    assert _latest_common_version([str(view)], below=1) == 0
    assert _latest_common_version([str(view)], below=0) is None


def test_prune_versions_keeps_newest_two_committed(tmp_path):
    import os

    from twitter_followers_patterns_mapreduce_spark.streaming.state import (
        _committed_versions,
        _prune_versions,
    )

    view = tmp_path / "view"
    for v, committed in [(0, True), (1, True), (2, True), (3, True), (4, False)]:
        d = view / f"v={v}"
        os.makedirs(d)
        (d / "part-0.parquet").write_bytes(b"")
        if committed:
            (d / "_SUCCESS").write_bytes(b"")
    _prune_versions(str(view))
    # newest two committed survive (current + crash-replay predecessor)
    assert sorted(_committed_versions(str(view))) == [2, 3]
    # an in-flight (uncommitted) dir is never touched
    assert os.path.isdir(view / "v=4")
    assert not os.path.isdir(view / "v=0") and not os.path.isdir(view / "v=1")


# -- the versioned-state layer itself (streaming/state.py), no stream --

TWO = {"a": "id LONG", "b": "id LONG, sq LONG"}


def _two_tables(spark, state_dir, batches):
    """Apply ``batches`` (ids) to a two-table state whose step appends
    the batch's ids; returns the declaration."""
    from twitter_followers_patterns_mapreduce_spark.streaming.state import (
        apply_batch,
        tables,
    )

    decl = tables(state_dir, **TWO)

    def step(batch, prev):
        if prev is not None:
            batch = prev["a"].unionByName(batch)
        return {"a": batch, "b": batch.selectExpr("id", "id * id AS sq")}

    for i in batches:
        apply_batch(spark, decl, step, spark.range(i, i + 1), i)
    return decl


def test_state_schema_mismatch_raises_before_any_write(spark, tmp_path):
    """A step whose output differs from the declared schema (a renamed
    column here) raises, and no table gets a version: a declared-schema
    read of such a file would silently yield NULLs."""
    import os

    from twitter_followers_patterns_mapreduce_spark.streaming.state import (
        apply_batch,
        tables,
    )

    decl = tables(str(tmp_path / "s"), **TWO)

    def step(batch, prev):
        return {"a": batch, "b": batch.selectExpr("id", "id AS square")}

    with pytest.raises(ValueError, match="'b'"):
        apply_batch(spark, decl, step, spark.range(3), 0)
    assert not any(os.path.exists(d) for d, _ in decl.values())


def test_state_version_in_one_table_only_stays_invisible(spark, tmp_path):
    """v=1 committed in ``a`` but not in ``b`` (crash between the
    writes): reads see v=0 in both tables, and the next batch merges
    against v=0."""
    import os

    from twitter_followers_patterns_mapreduce_spark.streaming.state import read_state

    decl = _two_tables(spark, str(tmp_path / "s"), [0, 1])
    os.remove(os.path.join(decl["b"][0], "v=1", "_SUCCESS"))
    got = read_state(spark, decl)
    assert sorted(r["id"] for r in got["a"].collect()) == [0]
    assert [tuple(r) for r in got["b"].collect()] == [(0, 0)]
    _two_tables(spark, str(tmp_path / "s"), [2])
    assert sorted(r["id"] for r in read_state(spark, decl)["a"].collect()) == [0, 2]


def test_state_replayed_batch_reads_strictly_below_itself(spark, tmp_path):
    """Replaying batch 1 after it committed merges against v=0, not its
    own output, so the replay rewrites v=1 with the same rows."""
    from twitter_followers_patterns_mapreduce_spark.streaming.state import read_state

    decl = _two_tables(spark, str(tmp_path / "s"), [0, 1, 1])
    got = read_state(spark, decl)
    assert sorted(r["id"] for r in got["a"].collect()) == [0, 1]
    assert sorted(r["id"] for r in read_state(spark, decl, below=1)["a"].collect()) == [0]
