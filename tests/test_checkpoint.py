"""``functions/checkpoint.py::lazy_ckpt``: the private-API fast path must
engage on the pinned Spark, the way ``test_graph_iter.py`` pins
``graph_iter._ckpt``."""

from __future__ import annotations

import warnings

from twitter_followers_patterns_mapreduce_spark.functions import checkpoint as CK


def test_lazy_ckpt_fast_path_engages_on_this_spark(spark):
    """A Spark upgrade that drops ``internalCreateDataFrame`` must fail
    here, not silently fall back to the plain localCheckpoint at every
    ``lazy_ckpt`` site."""
    df = spark.range(8).selectExpr("id AS a", "id * 2 AS b").where("a >= 0")
    before = CK._FAST_PATH_USES
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        out = CK.lazy_ckpt(df)
    assert CK._FAST_PATH_USES == before + 1
    assert not [c for c in caught if issubclass(c.category, RuntimeWarning)]
    assert sorted((r["a"], r["b"]) for r in out.collect()) == [(i, 2 * i) for i in range(8)]
