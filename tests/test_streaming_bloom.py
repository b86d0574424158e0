"""Streamed Bloom runtime-filter maintenance (streaming/bloom.py): the
drained word table equals the one-shot build under any chunking
(including duplicate key re-arrivals), fact scoring from state matches
the batch twin, versions prune to keep-2, and a restarted drain
resumes instead of rebuilding."""

from __future__ import annotations

import glob
import os
import shutil

import pytest

from twitter_followers_patterns_mapreduce_spark.operators.planner import (
    bloom_prefilter_twin,
)
from twitter_followers_patterns_mapreduce_spark.streaming.bloom import (
    bloom_apply_stream,
    bloom_score_from_state,
    bloom_state,
    dim_file_stream,
)

M, K = 256, 3
DIM_ROWS = [(i, i % 7) for i in range(60)]  # (p_partkey, p_size)
FACT_ROWS = [(i % 40, i) for i in range(120)]  # (l_partkey, payload)
PRED = "p_size < 3"


def _dim(spark):
    return spark.createDataFrame(DIM_ROWS, "p_partkey LONG, p_size LONG")


def _fact(spark):
    return spark.createDataFrame(FACT_ROWS, "l_partkey LONG, l_extendedprice LONG")


def _chunks(n_batches):
    out = [DIM_ROWS[b::n_batches] for b in range(n_batches)]
    if n_batches > 1:
        out[-1] = out[-1] + DIM_ROWS[:5]  # cross-batch duplicate re-arrivals
    return out


def _stage(spark, feed, n_batches, upto=None):
    os.makedirs(feed, exist_ok=True)
    for b, chunk in enumerate(
        _chunks(n_batches)[: upto if upto is not None else n_batches]
    ):
        dst = os.path.join(feed, f"b{b}.parquet")
        if os.path.exists(dst):
            continue
        tmp = feed + f"_stage_{b}"
        spark.createDataFrame(chunk, "p_partkey LONG, p_size LONG").coalesce(
            1
        ).write.parquet(tmp)
        (part,) = glob.glob(os.path.join(tmp, "part-*.parquet"))
        os.rename(part, dst)
        os.utime(dst, (1_700_000_000 + b, 1_700_000_000 + b))
        shutil.rmtree(tmp)
    return feed


def _batch_summary(spark):
    (row,) = bloom_prefilter_twin(
        _fact(spark), _dim(spark), "l_partkey", "p_partkey", PRED, M, K
    ).collect()
    return row.asDict()


@pytest.mark.parametrize("n_batches", [1, 4])
def test_streamed_bloom_matches_batch_twin_any_chunking(spark, tmp_path, n_batches):
    feed = _stage(spark, str(tmp_path / "feed"), n_batches)
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    ids: list[int] = []
    bloom_apply_stream(
        spark,
        dim_file_stream(spark, feed),
        state,
        ckpt,
        dim_pred=PRED,
        m_bits=M,
        k_hash=K,
        batch_ids=ids,
    )
    assert len(ids) == n_batches
    for sub in ("dkeys", "words"):
        vdirs = glob.glob(os.path.join(state, sub, "v=*"))
        assert len(vdirs) <= 2  # keep-2 retention
    (row,) = bloom_score_from_state(
        spark, state, _fact(spark), "l_partkey", M, K
    ).collect()
    assert row.asDict() == _batch_summary(spark)


def test_streamed_bloom_restart_resumes(spark, tmp_path):
    """Drain 2 of 4 batches, stop, stage the rest, restart on the SAME
    checkpoint + state: the resumed stream continues from batch 2 and
    the final filter equals the one-shot build (replayed keys are
    anti-joined away, never double-built)."""
    feed = str(tmp_path / "feed")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    _stage(spark, feed, 4, upto=2)
    ids1: list[int] = []
    bloom_apply_stream(
        spark, dim_file_stream(spark, feed), state, ckpt,
        dim_pred=PRED, m_bits=M, k_hash=K, batch_ids=ids1,
    )
    assert ids1 == [0, 1]
    _stage(spark, feed, 4)
    ids2: list[int] = []
    bloom_apply_stream(
        spark, dim_file_stream(spark, feed), state, ckpt,
        dim_pred=PRED, m_bits=M, k_hash=K, batch_ids=ids2,
    )
    assert ids2 == [2, 3]  # resumed, batches 0/1 NOT re-run
    dkeys, words = bloom_state(spark, state)
    expect_keys = {k for k, sz in DIM_ROWS if sz < 3}
    assert {r["k"] for r in dkeys.collect()} == expect_keys
    (row,) = bloom_score_from_state(
        spark, state, _fact(spark), "l_partkey", M, K
    ).collect()
    assert row.asDict() == _batch_summary(spark)
    # a crash between batch 3's two writes (words/v=3 uncommitted) must
    # show batch 2's filter in both tables, never keys v=3 + words v=2
    os.remove(os.path.join(state, "words", "v=3", "_SUCCESS"))
    dkeys, _ = bloom_state(spark, state)
    upto2 = [row for b in _chunks(4)[:3] for row in b]
    assert {r["k"] for r in dkeys.collect()} == {k for k, sz in upto2 if sz < 3}
