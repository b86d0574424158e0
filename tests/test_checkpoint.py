"""``functions/checkpoint.py::lazy_ckpt``: the private-API fast path must
engage on the pinned Spark, and its fallback must be loud."""

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


def test_ckpt_fallback_warns_loudly_once(spark, monkeypatch):
    """API drift must be LOUD: when the private method is gone, lazy_ckpt
    still returns correct rows but emits one RuntimeWarning per
    process naming the exponential cost it can no longer remove."""

    class _NoPrivateApi:
        def __getattr__(self, name):  # internalCreateDataFrame lookup fails
            raise AttributeError(name)

    df = spark.range(5).selectExpr("id AS a")
    monkeypatch.setattr(spark, "_jsparkSession", _NoPrivateApi())
    monkeypatch.setattr(CK, "_FALLBACK_WARNED", False)
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        out = CK.lazy_ckpt(df)
        CK.lazy_ckpt(df)  # second call: warned flag suppresses the repeat
    warns = [c for c in caught if issubclass(c.category, RuntimeWarning)]
    assert len(warns) == 1
    assert "localCheckpoint" in str(warns[0].message)
    assert sorted(r["a"] for r in out.collect()) == [0, 1, 2, 3, 4]
