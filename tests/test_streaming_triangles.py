"""Streamed incremental triangle maintenance (streaming/triangles.py):
the drained maintained count equals the one-shot closure count under
any chunking (including cross-batch duplicate re-arrivals), the
closed-form K4 census is exact, versions prune to keep-2, and a
restarted drain resumes instead of recounting."""

from __future__ import annotations

import glob
import os
import shutil

import pytest

from twitter_followers_patterns_mapreduce_spark.streaming.triangles import (
    COUNT_TRI_SCHEMA,
    edges_tri_stream,
    triangle_view_from_state,
    triangles_apply_stream,
)

# Directed K4 on nodes 0..3 (all ordered pairs): every unordered triple
# {a,b,c} is cyclically closed in both rotations, so the RAW directed
# closure count is C(4,3) triangles x 2 cycle orientations x 3 rotations
# = 24; 12 distinct edges.  Plus a pendant edge (7,8) in no closure, a
# self-loop (9,9) the stream must drop, and a duplicate (0,1) re-sent
# in a later batch that must not double-count.
K4 = [(a, b) for a in range(4) for b in range(4) if a != b]
EXTRA = [(7, 8), (9, 9)]
EXPECT_T_RAW = 24
EXPECT_N_EDGES = 13  # 12 K4 edges + (7,8); self-loop dropped


def _chunks(n_batches: int) -> list[list[tuple[int, int]]]:
    edges = K4 + EXTRA
    out = [edges[b::n_batches] for b in range(n_batches)]
    if n_batches > 1:
        out[-1] = out[-1] + [(0, 1)]  # cross-batch duplicate re-arrival
    return out

def _stage(spark, feed: str, n_batches: int, upto: int | None = None) -> str:
    return _stage_chunks(spark, feed, _chunks(n_batches)[: upto if upto is not None else n_batches])


def _stage_chunks(spark, feed: str, chunks: list[list[tuple[int, int]]]) -> str:
    os.makedirs(feed, exist_ok=True)
    for b, chunk in enumerate(chunks):
        dst = os.path.join(feed, f"b{b}.parquet")
        if os.path.exists(dst):
            continue
        tmp = feed + f"_stage_{b}"
        spark.createDataFrame(chunk, "src LONG, dst LONG").coalesce(1).write.parquet(tmp)
        (part,) = glob.glob(os.path.join(tmp, "part-*.parquet"))
        os.rename(part, dst)
        os.utime(dst, (1_700_000_000 + b, 1_700_000_000 + b))
        shutil.rmtree(tmp)
    return feed


@pytest.mark.parametrize("n_batches", [1, 4])
def test_streamed_triangles_match_closed_form_any_chunking(spark, tmp_path, n_batches):
    feed = _stage(spark, str(tmp_path / "feed"), n_batches)
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    ids: list[int] = []
    triangles_apply_stream(
        spark, edges_tri_stream(spark, feed), state, ckpt, batch_ids=ids
    )
    assert len(ids) == n_batches
    for sub in ("edges", "count"):
        vdirs = glob.glob(os.path.join(state, sub, "v=*"))
        assert len(vdirs) <= 2  # keep-2 retention
    (row,) = triangle_view_from_state(spark, state).collect()
    assert row["t_raw"] == EXPECT_T_RAW
    assert row["n_edges"] == EXPECT_N_EDGES
    assert row["consistent"] is True


def test_streamed_triangles_restart_resumes(spark, tmp_path):
    """Drain 2 of 4 batches, stop, stage the rest, restart on the SAME
    checkpoint + state: the resumed stream continues from batch 2 and
    the final maintained count equals the closed form (the replayed
    half is never recounted)."""
    feed = str(tmp_path / "feed")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    _stage(spark, feed, 4, upto=2)
    ids1: list[int] = []
    triangles_apply_stream(
        spark, edges_tri_stream(spark, feed), state, ckpt, batch_ids=ids1
    )
    assert ids1 == [0, 1]
    _stage(spark, feed, 4)
    ids2: list[int] = []
    triangles_apply_stream(
        spark, edges_tri_stream(spark, feed), state, ckpt, batch_ids=ids2
    )
    assert ids2 == [2, 3]  # resumed, batches 0/1 NOT re-run
    (row,) = triangle_view_from_state(spark, state).collect()
    assert (row["t_raw"], row["n_edges"], row["consistent"]) == (
        EXPECT_T_RAW,
        EXPECT_N_EDGES,
        True,
    )


def test_streamed_triangles_rearrival_only_batch(spark, tmp_path):
    """A micro-batch of only re-arrivals has an empty D: the count is
    carried over unchanged, and the batch still writes its own version."""
    feed = _stage_chunks(spark, str(tmp_path / "feed"), [K4 + EXTRA, [(0, 1), (2, 3), (9, 9)]])
    state = str(tmp_path / "state")
    ids: list[int] = []
    triangles_apply_stream(
        spark, edges_tri_stream(spark, feed), state, str(tmp_path / "ckpt"), batch_ids=ids
    )
    assert ids == [0, 1]
    for sub in ("edges", "count"):
        assert os.path.exists(os.path.join(state, sub, "v=1", "_SUCCESS"))
    t_raw = {
        v: spark.read.schema(COUNT_TRI_SCHEMA).parquet(os.path.join(state, "count", f"v={v}")).first()[0]
        for v in ids
    }
    assert t_raw == {0: EXPECT_T_RAW, 1: EXPECT_T_RAW}
    (row,) = triangle_view_from_state(spark, state).collect()
    assert (row["t_raw"], row["n_edges"], row["consistent"]) == (
        EXPECT_T_RAW,
        EXPECT_N_EDGES,
        True,
    )


# Two batches: the triangle {0,1,2} in both rotations (t_raw 6, 6 edges),
# then the rest of K4 plus EXTRA (t_raw 24, 13 edges).
TRI012 = [(a, b) for a in range(3) for b in range(3) if a != b]


@pytest.fixture(scope="module")
def two_batch_state(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("torn")
    rest = [e for e in K4 + EXTRA if e not in TRI012]
    feed = _stage_chunks(spark, str(root / "feed"), [TRI012, rest])
    state = str(root / "state")
    ids: list[int] = []
    triangles_apply_stream(
        spark, edges_tri_stream(spark, feed), state, str(root / "ckpt"), batch_ids=ids
    )
    assert ids == [0, 1]
    return state


@pytest.mark.parametrize("table,lost", [("count", "dir"), ("edges", "_SUCCESS")])
def test_triangle_view_never_torn(spark, tmp_path, two_batch_state, table, lost):
    """A crash between batch 1's two parallel writes leaves v=1 committed
    in one table only: the view reads the newest version committed in
    BOTH (v=0), so it returns batch 0's exact answer, not a stale pair."""
    state = str(tmp_path / "state")
    shutil.copytree(two_batch_state, state)
    (row,) = triangle_view_from_state(spark, state).collect()
    assert (row["t_raw"], row["n_edges"], row["consistent"]) == (
        EXPECT_T_RAW,
        EXPECT_N_EDGES,
        True,
    )
    v1 = os.path.join(state, table, "v=1")
    if lost == "dir":
        shutil.rmtree(v1)
    else:
        os.remove(os.path.join(v1, "_SUCCESS"))
    (row,) = triangle_view_from_state(spark, state).collect()
    assert (row["t_raw"], row["n_edges"], row["consistent"]) == (6, 6, True)
