"""Deterministic k-means: differential test against an independent
NumPy implementation of the same pinned semantics (first-k init,
mean updates, grid-floored argmin with cid tie-break)."""

from __future__ import annotations

import math

import numpy as np
import pytest

from twitter_followers_patterns_mapreduce_spark.operators import clustering as KM

GRID = 1_000_000_000


def np_kmeans(vecs: np.ndarray, k: int, iters: int):
    """Reference Lloyd with the operator's exact determinism rules."""
    cents = {c: vecs[c].copy() for c in range(k)}

    def assign():
        out = {}
        for vid in range(len(vecs)):
            best = None
            for cid in sorted(cents):
                d = math.floor(float(((vecs[vid] - cents[cid]) ** 2).sum()) * GRID)
                if best is None or d < best[0] or (d == best[0] and cid < best[1]):
                    best = (d, cid)
            out[vid] = best[1]
        return out

    for _ in range(iters):
        a = assign()
        new = {}
        for cid in set(a.values()):
            members = np.stack([vecs[v] for v, c in a.items() if c == cid])
            new[cid] = members.mean(axis=0)
        cents = new
    final = assign()
    return cents, final


@pytest.mark.parametrize("seed", [5, 6])
def test_kmeans_matches_numpy(spark, seed):
    rng = np.random.default_rng(seed)
    vecs = rng.normal(size=(40, KM.DIMS)).astype(np.float32)
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(len(vecs))]
    df = spark.createDataFrame(rows, schema="vec_id LONG, embedding ARRAY<FLOAT>")
    got = KM.kmeans_fit(df, k=4, iters=2).collect()

    cents, final = np_kmeans(vecs.astype(np.float64), k=4, iters=2)
    counts = {c: sum(1 for v in final.values() if v == c) for c in set(final.values())}

    by_key = {(r["cid"], r["dim"]): r for r in got}
    assert {r["cid"] for r in got} == set(cents)
    for cid, c in cents.items():
        for dim in range(KM.DIMS):
            r = by_key[(cid, dim)]
            assert r["n_members"] == counts[cid]
            # operator floors to 6dp; numpy mean may differ in the last
            # ulp (pairwise summation) → compare to 5dp
            assert abs(r["centroid_val"] - c[dim]) < 1e-5


def test_kmeans_singleton_clusters_survive(spark):
    # two tight groups + the init vectors themselves: every cluster keeps
    # >= 1 member and member counts total the corpus
    rows = [(i, [float(i % 2)] * KM.DIMS) for i in range(10)]
    df = spark.createDataFrame(rows, schema="vec_id LONG, embedding ARRAY<FLOAT>")
    got = KM.kmeans_fit(df, k=2, iters=2).collect()
    per_cid = {r["cid"]: r["n_members"] for r in got}
    assert sum(per_cid.values()) == 10
    assert all(n >= 1 for n in per_cid.values())


def test_ivf_kmeans_recall_vs_bruteforce(spark):
    """The k-means IVF search must recover a solid fraction of the true
    brute-force neighbors at sf0.001 (probing 2 of 8 lists)."""
    from twitter_followers_patterns_mapreduce_spark.operators.similarity import (
        ann_topk_bruteforce,
    )
    from twitter_followers_patterns_mapreduce_spark.sources.readers import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    truth = {}
    for r in ann_topk_bruteforce(emb, k=5).collect():
        truth.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    got = {}
    for r in KM.ann_topk_ivf_kmeans(emb, k=5, n_probe=2).collect():
        got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    assert set(got) == set(truth)  # every query answered
    recall = sum(len(got[q] & truth[q]) for q in truth) / sum(len(truth[q]) for q in truth)
    assert recall >= 0.3, f"recall@5 {recall:.2f}"


def test_semantic_dedup_golden(spark):
    """Hand-built golden: two near-parallel vectors land in one cluster
    and the higher id is dropped as a dup of the lower; the orthogonal
    vectors are kept."""
    dim = KM.DIMS
    e1 = [1.0] + [0.0] * (dim - 1)
    e1_near = [1.0, 0.01] + [0.0] * (dim - 2)
    e2 = [0.0, 1.0] + [0.0] * (dim - 2)
    rows = [(0, e1), (1, e2), (2, e1_near), (3, [0.0] * (dim - 1) + [1.0])]
    df = spark.createDataFrame(rows, schema="vec_id LONG, embedding ARRAY<FLOAT>")
    got = {r["vec_id"]: r for r in KM.semantic_dedup(df, threshold=0.9, n_clusters=2, iters=1).collect()}
    assert len(got) == 4
    assert got[2]["is_dup"] and got[2]["dup_of"] == 0 and got[2]["sim"] > 0.99
    assert not got[0]["is_dup"] and got[0]["dup_of"] is None
    assert not got[1]["is_dup"]
    assert not got[3]["is_dup"]


def test_semantic_dedup_never_drops_everything(spark):
    """Per cluster, at least the lowest-id member survives (the keeper
    rule can never empty a cluster)."""
    from twitter_followers_patterns_mapreduce_spark.sources.readers import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    out = KM.semantic_dedup(emb, threshold=0.0, n_clusters=4, iters=1).collect()
    kept_per_cid = {}
    for r in out:
        kept_per_cid.setdefault(r["cid"], 0)
        if not r["is_dup"]:
            kept_per_cid[r["cid"]] += 1
    # threshold=0.0 marks every positive-cosine later vector as dup, the
    # most aggressive setting — each cluster still keeps >= 1
    assert all(n >= 1 for n in kept_per_cid.values())


def test_semantic_dedup_dup_implies_threshold(spark):
    """Property: every row flagged dup carries sim >= threshold and a
    lower dup_of id; every kept row carries NULLs."""
    from twitter_followers_patterns_mapreduce_spark.sources.readers import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    thr = 0.2
    for r in KM.semantic_dedup(emb, threshold=thr, n_clusters=4, iters=1).collect():
        if r["is_dup"]:
            assert r["sim"] >= thr - 1e-9
            assert r["dup_of"] < r["vec_id"]
        else:
            assert r["dup_of"] is None and r["sim"] is None


def test_semantic_dedup_matches_numpy_on_engine_clusters(spark):
    """Differential: given the engine's own cluster assignment, the dup
    verdicts must equal a numpy recomputation of the within-cluster
    any-earlier-neighbor rule."""
    import numpy as np

    rng = np.random.default_rng(7)
    vecs = rng.normal(size=(40, KM.DIMS)).astype("float32")
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(40)]
    df = spark.createDataFrame(rows, schema="vec_id LONG, embedding ARRAY<FLOAT>")
    thr = 0.15
    got = {r["vec_id"]: r for r in KM.semantic_dedup(df, threshold=thr, n_clusters=4, iters=1).collect()}

    _, assign = KM.kmeans_model(df, k=4, iters=1)
    cid = {r["vec_id"]: r["cid"] for r in assign.collect()}
    v = vecs.astype("float64")
    n = v / np.linalg.norm(v, axis=1, keepdims=True)
    for i in range(40):
        earlier = [j for j in range(i) if cid[j] == cid[i]]
        sims = {j: float(n[i] @ n[j]) for j in earlier}
        near = {j: s for j, s in sims.items() if np.floor(s * 1e9) >= int(thr * 1e9)}
        assert got[i]["is_dup"] == bool(near), f"vec {i}"
        if near:
            best = max(near.items(), key=lambda kv: (np.floor(kv[1] * 1e9), -kv[0]))
            assert got[i]["dup_of"] == best[0], f"vec {i}"


# ---------------------------------------------------------------------------
# Logistic-regression GD trainer
# ---------------------------------------------------------------------------


def test_logreg_fit_learns_separating_dim(spark):
    # dim 0 perfectly separates label 0 from the rest → its weight must
    # come out positive and dominate the noise dims
    rows = []
    for i in range(40):
        lab = 0 if i % 4 == 0 else 1
        v = [1.0 if lab == 0 else -1.0] + [((i * 31 + j) % 7 - 3) / 10.0 for j in range(1, 8)]
        rows.append((i, v, lab))
    emb = spark.createDataFrame(rows, schema="vec_id long, embedding array<double>, label long")
    w = {r["dim"]: r["weight"] for r in KM.logreg_fit(emb, target_label=0, iters=4, lr=0.5).collect()}
    assert len(w) == 9  # 8 dims + bias
    assert w[0] > 0.3
    assert all(abs(w[d]) < w[0] for d in range(1, 8))


def test_logreg_fit_matches_numpy_gd(spark):
    import numpy as np

    rng = np.random.RandomState(20260814)
    X = rng.randn(30, 5).round(3)
    y = (rng.rand(30) < 0.4).astype(np.float64)
    emb = spark.createDataFrame(
        [(i, [float(v) for v in X[i]], int(0 if y[i] == 1 else 1)) for i in range(30)],
        schema="vec_id long, embedding array<double>, label long",
    )
    # engine trains y=1 iff label==0; construction above maps y=1 → label 0
    got = {r["dim"]: r["weight"] for r in KM.logreg_fit(emb, target_label=0, iters=3, lr=0.5).collect()}
    w = np.zeros(5)
    b = 0.0
    for _ in range(3):
        p = 1.0 / (1.0 + np.exp(-(X @ w + b)))
        r = y - p
        w = w + 0.5 * (X.T @ r) / len(y)
        b = b + 0.5 * r.mean()
    for d in range(5):
        assert abs(got[d] - np.floor(w[d] * 1e6) / 1e6) <= 2e-6, (d, got[d], w[d])
    assert abs(got[-1] - np.floor(b * 1e6) / 1e6) <= 2e-6


def test_logreg_fit_term_overflow_raises(spark):
    # at w = 0 every residual is ±0.5, so x = 2e7 makes |x·r| = 1e7, past
    # the ~9.22e6 BIGINT bound of the q12 grid: the ANSI session must
    # raise, never return weights that silently dropped the term
    from pyspark.errors import ArithmeticException

    emb = spark.createDataFrame(
        [(0, [1.0, 2e7], 0), (1, [-1.0, 0.5], 1)],
        schema="vec_id long, embedding array<double>, label long",
    )
    with pytest.raises(ArithmeticException, match="CAST_OVERFLOW"):
        KM.logreg_fit(emb, target_label=0, iters=1, lr=0.5)


def test_logreg_eval_auc_matches_direct_computation(spark):
    import numpy as np

    rng = np.random.RandomState(7)
    X = rng.randn(60, 4).round(2)
    labels = (rng.rand(60) < 0.35).astype(int)  # 1 → class of interest
    emb = spark.createDataFrame(
        [(i, [float(v) for v in X[i]], int(0 if labels[i] else 1)) for i in range(60)],
        schema="vec_id long, embedding array<double>, label long",
    )
    row = KM.logreg_eval(emb, target_label=0, iters=3, lr=0.5).collect()[0]
    scores = {r["vec_id"]: r["score"] for r in
              KM.logreg_score(emb, target_label=0, iters=3, lr=0.5).collect()}
    y = np.array([labels[i] for i in range(60)])
    s = np.array([scores[i] for i in range(60)])
    # average-rank AUC (scipy-free): ranks with ties averaged
    order = np.argsort(s, kind="mergesort")
    ranks = np.empty(60)
    i = 0
    sorted_s = s[order]
    while i < 60:
        j = i
        while j < 60 and sorted_s[j] == sorted_s[i]:
            j += 1
        ranks[order[i:j]] = (i + 1 + j) / 2.0
        i = j
    n1, n0 = int(y.sum()), int((1 - y).sum())
    auc = (ranks[y == 1].sum() - n1 * (n1 + 1) / 2) / (n1 * n0)
    assert row["n_pos"] == n1 and row["n_neg"] == n0
    assert abs(row["auc"] - round(auc, 6)) <= 2e-6
    brier = ((s - y) ** 2).mean()
    assert abs(row["brier"] - brier) <= 2e-6
    acc = (((s >= 0.5).astype(int)) == y).mean()
    assert abs(row["accuracy"] - acc) <= 1e-6
