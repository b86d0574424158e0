"""Differential / property tests (SURVEY.md §5): random graphs checked
against a pure-Python oracle, plus the cross-implementation agreements
the reference itself relies on (RS ≡ RJ, EX ≡ AP under a non-binding
MAX — ``README.md:79-81``).
"""

from __future__ import annotations

import random

import pytest

from tests.conftest import make_edges
from twitter_followers_patterns_mapreduce_spark.operators import graph as G

N_NODES = 25


def random_edges(seed: int, n_edges: int = 120) -> list[tuple[int, int]]:
    rnd = random.Random(seed)
    edges = set()
    while len(edges) < n_edges:
        a, b = rnd.randrange(N_NODES), rnd.randrange(N_NODES)
        if a != b:
            edges.add((a, b))
    return sorted(edges)


def py_two_hop_count(edges: list[tuple[int, int]]) -> int:
    """Σ paths X→Z→Y including round-trips (EX/AP semantics)."""
    out = {}
    inn = {}
    for a, b in edges:
        out[a] = out.get(a, 0) + 1
        inn[b] = inn.get(b, 0) + 1
    return sum(inn.get(v, 0) * out.get(v, 0) for v in set(inn) | set(out))


def py_triangle_raw(edges: list[tuple[int, int]]) -> int:
    """#(2-hop path x→y→z, x≠z, with closing edge z→x) — RS semantics."""
    es = set(edges)
    succ = {}
    for a, b in edges:
        succ.setdefault(a, []).append(b)
    raw = 0
    for x, y in edges:
        for z in succ.get(y, []):
            if z != x and (z, x) in es:
                raw += 1
    return raw


def one(df):
    return df.collect()[0][0]


@pytest.mark.parametrize("seed", [7, 42, 1234])
def test_two_hop_exact_matches_python_oracle(spark, seed):
    edges = random_edges(seed)
    assert one(G.two_hop_count_exact(make_edges(spark, edges))) == py_two_hop_count(edges)


@pytest.mark.parametrize("seed", [7, 42])
def test_exact_equals_materialized_count(spark, seed):
    """EX ≡ AP when MAX is non-binding: the degree-product rewrite and
    the materializing join count the same quantity."""
    e = make_edges(spark, random_edges(seed))
    assert one(G.two_hop_count_exact(e)) == G.two_hop_paths(e, 10**9).count()


def multigraph_edges(seed: int) -> list[tuple[int, int]]:
    """``random_edges(seed)`` with every 5th edge doubled and 5 self-loops."""
    edges = random_edges(seed)
    return edges + edges[::5] + [(v, v) for v in range(5)]


@pytest.mark.parametrize(
    "edges",
    [pytest.param(random_edges(s), id=str(s)) for s in (7, 42, 1234)]
    + [pytest.param(multigraph_edges(7), id="multigraph")],
)
def test_rs_equals_rj_equals_python(spark, edges):
    """Shuffle and broadcast triangle variants agree with each other and
    with the Python oracle (the reference's own differential check).  On
    the multigraph a path counts with its multiplicity and its closing
    edge only by existence: the closure is a semi-join."""
    e = make_edges(spark, edges)
    want = py_triangle_raw(edges)
    assert one(G.triangle_count_raw(e, 10**9, strategy="shuffle")) == want
    assert one(G.triangle_count_raw(e, 10**9, strategy="broadcast")) == want
    assert one(G.triangle_count_raw(e, 10**9, strategy="auto")) == want


def test_min_rotation_equals_full_count_with_negative_ids(spark):
    """min_rotation counts paths from each cycle's minimum vertex and
    closes them only with edges z→x where src > dst; on a distinct,
    loop-free graph over negative and positive ids that equals the full
    RS count (``min_rotation=False``, the Python oracle here) under both
    physical closing joins."""
    rnd = random.Random(2024)
    edges = set()
    while len(edges) < 160:
        a, b = rnd.randrange(-12, 13), rnd.randrange(-12, 13)
        if a != b:
            edges.add((a, b))
    edges = sorted(edges)
    e = make_edges(spark, edges)
    want = py_triangle_raw(edges)
    assert want > 0
    for strategy in ("shuffle", "broadcast"):
        assert one(G.triangle_count_raw(e, 10**9, strategy, min_rotation=True)) == want, strategy


@pytest.mark.parametrize("seed", [7, 42])
def test_raw_is_three_times_triangles(spark, seed):
    edges = random_edges(seed)
    e = make_edges(spark, edges)
    raw = py_triangle_raw(edges)
    assert raw % 3 == 0  # duplicate-free edge set → every triangle counted 3×
    assert one(G.triangle_count(e, 10**9)) == raw // 3


def test_degrees_match_python(spark):
    edges = random_edges(99)
    got = {r["id"]: (r["out_deg"], r["in_deg"]) for r in G.degrees(make_edges(spark, edges)).collect()}
    want = {}
    for a, b in edges:
        want.setdefault(a, [0, 0])[0] += 1
        want.setdefault(b, [0, 0])[1] += 1
    assert got == {k: tuple(v) for k, v in want.items()}


# ---------------------------------------------------------------------------
# Iterative-graph and temporal-join differentials


def py_components(edges: list[tuple[int, int]]) -> dict[int, int]:
    """Union-find oracle: undirected components labeled by min node id."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in parent}


@pytest.mark.parametrize("seed", [11, 12, 13])
def test_connected_components_matches_union_find(spark, seed):
    from twitter_followers_patterns_mapreduce_spark.operators.graph_iter import (
        connected_components,
    )

    edges = random_edges(seed, n_edges=30)  # sparse → several components
    got = {r["id"]: r["comp"] for r in connected_components(make_edges(spark, edges)).collect()}
    assert got == py_components(edges)


def py_asof(rows, left_type, right_type):
    """Per-left-event most recent right event (ties: max event_id)."""
    out = {}
    for eid, ts, uid, etype, val in rows:
        if etype != left_type:
            continue
        best = None
        for rid, rts, ruid, rtype, rval in rows:
            if rtype == right_type and ruid == uid and rts <= ts:
                if best is None or (rts, rid) > (best[0], best[1]):
                    best = (rts, rid, rval)
        out[eid] = best[2] if best else None
    return out


@pytest.mark.parametrize("seed", [21, 22])
def test_asof_join_matches_python_scan(spark, seed):
    import datetime as dt

    from twitter_followers_patterns_mapreduce_spark.operators.temporal import asof_join

    rnd = random.Random(seed)
    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (
            i,
            t0 + dt.timedelta(seconds=rnd.randrange(0, 3600)),
            rnd.randrange(4),
            rnd.choice(["purchase", "click"]),
            float(i),
        )
        for i in range(120)
    ]
    df = spark.createDataFrame(
        [(eid, ts, uid, et, v, "{}") for eid, ts, uid, et, v in rows],
        schema="event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, value DOUBLE, props STRING",
    )
    got = {r["event_id"]: r["asof_value"] for r in asof_join(df, "purchase", "click").collect()}
    assert got == py_asof(rows, "purchase", "click")


@pytest.mark.parametrize("seed", [21, 22, 23])
def test_twostar_components_match_union_find(spark, seed):
    from twitter_followers_patterns_mapreduce_spark.operators.graph_iter import (
        connected_components_twostar,
    )

    edges = random_edges(seed, n_edges=30)
    got = {
        r["id"]: r["comp"]
        for r in connected_components_twostar(make_edges(spark, edges)).collect()
    }
    assert got == py_components(edges)


# --- follower-pattern extensions vs pure-Python oracles ----------------------


def py_follow_recommendations(edges, k):
    """Per-user top-k (n_common desc, v asc) over 2-hop candidates minus
    followed/self — mirrors operators/graph.py::follow_recommendations."""
    out = {}
    eset = set(edges)
    for a, b in edges:
        out.setdefault(a, set()).add(b)
    recs = {}
    for u, followees in out.items():
        counts = {}
        for z in followees:
            for v in out.get(z, ()):
                if v != u and (u, v) not in eset:
                    counts[v] = counts.get(v, 0) + 1
        ranked = sorted(counts.items(), key=lambda it: (-it[1], it[0]))[:k]
        for rank, (v, n) in enumerate(ranked, 1):
            recs[(u, rank)] = (v, n)
    return recs


@pytest.mark.parametrize("seed", [11, 12, 13])
def test_follow_recommendations_matches_python(spark, seed):
    edges = random_edges(seed)
    got = {
        (r["u"], r["rec_rank"]): (r["v"], r["n_common"])
        for r in G.follow_recommendations(make_edges(spark, edges), None, k=3).collect()
    }
    assert got == py_follow_recommendations(edges, k=3)


def py_two_hop_reach(edges):
    out = {}
    for a, b in edges:
        out.setdefault(a, set()).add(b)
    return {
        u: len({v for z in fs for v in out.get(z, ()) if v != u})
        for u, fs in out.items()
    }


@pytest.mark.parametrize("seed", [21, 22])
def test_two_hop_reach_matches_python(spark, seed):
    edges = random_edges(seed)
    want = {u: r for u, r in py_two_hop_reach(edges).items() if r > 0}
    got = {
        r["u"]: r["reach"]
        for r in G.two_hop_reach(make_edges(spark, edges), None, k=10_000).collect()
    }
    assert got == want


def py_assortativity(edges):
    import math

    out, inn = {}, {}
    for a, b in edges:
        out[a] = out.get(a, 0) + 1
        inn[b] = inn.get(b, 0) + 1
    xs = [out[a] for a, b in edges]
    ys = [inn[b] for a, b in edges]
    n = len(edges)
    sx, sy = sum(xs), sum(ys)
    sxy = sum(x * y for x, y in zip(xs, ys))
    sxx, syy = sum(x * x for x in xs), sum(y * y for y in ys)
    vx, vy = n * sxx - sx * sx, n * syy - sy * sy
    if vx <= 0 or vy <= 0:
        return None
    return (n * sxy - sx * sy) / math.sqrt(float(vx) * float(vy))


@pytest.mark.parametrize("seed", [31, 32])
def test_assortativity_matches_python(spark, seed):
    edges = random_edges(seed)
    row = G.degree_assortativity(make_edges(spark, edges)).collect()[0]
    want = py_assortativity(edges)
    assert row["n"] == len(edges)
    assert row["assortativity"] == pytest.approx(want, abs=1e-12)


def test_assortativity_null_on_regular_cycle(spark):
    # 3-cycle: every out/in degree is 1 → zero variance → NULL
    row = G.degree_assortativity(make_edges(spark, [(1, 2), (2, 3), (3, 1)])).collect()[0]
    assert row["assortativity"] is None


# ---------------------------------------------------------------------------
# Bounded mutual reachability vs python BFS
# ---------------------------------------------------------------------------

def py_bounded_reach(edges: list[tuple[int, int]], k: int) -> set[tuple[int, int]]:
    succ: dict[int, set[int]] = {}
    for a, b in edges:
        if a != b:
            succ.setdefault(a, set()).add(b)
    reach: set[tuple[int, int]] = set()
    for s in succ:
        frontier, seen = {s}, set()
        for _ in range(k):
            frontier = {n for f in frontier for n in succ.get(f, ())} - {s}
            new = frontier - seen
            if not new:
                break
            seen |= new
            frontier = new
        reach |= {(s, t) for t in seen}
    return reach


@pytest.mark.parametrize("seed,k", [(7, 2), (42, 3), (1234, 3)])
def test_mutual_reach_matches_python_bfs(spark, seed, k):
    from twitter_followers_patterns_mapreduce_spark.operators import graph_iter as GI

    edges = random_edges(seed, n_edges=60)
    reach = py_bounded_reach(edges, k)
    want = sorted(
        (u, v) for (u, v) in reach if u < v and (v, u) in reach
    )
    got = sorted(
        (r["u"], r["v"])
        for r in GI.mutual_reach_pairs(make_edges(spark, edges), k=k).collect()
    )
    assert got == want


# ---------------------------------------------------------------------------
# BM25 / bigram surprisal vs pure-python scoring
# ---------------------------------------------------------------------------

def random_docs(seed: int, n_docs: int = 30) -> list[tuple[int, str]]:
    rnd = random.Random(seed)
    vocab = ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta"]
    return [
        (
            i,
            " ".join(rnd.choice(vocab) for _ in range(rnd.randrange(0, 12))),
        )
        for i in range(n_docs)
    ]


def py_bm25(docs, terms, k1=1.2, b=0.75):
    import math

    toks = {d: t.split() for d, t in docs}
    n = len(docs)
    tot = sum(len(v) for v in toks.values())
    avgdl = tot / n
    df = {
        t: sum(1 for v in toks.values() if t in v) for t in terms
    }
    out = {}
    for d, v in toks.items():
        score_u, n_terms = 0, 0
        for t in terms:
            tf = v.count(t)
            if not tf:
                continue
            n_terms += 1
            idf = math.log(1e0 + (n - df[t] + 0.5) / (df[t] + 0.5))
            norm = (tf * (k1 + 1e0)) / (tf + k1 * (1e0 - b + b * len(v) / avgdl))
            score_u += math.floor(idf * norm * 1e6)
        if n_terms:
            out[d] = (n_terms, score_u)
    return out


@pytest.mark.parametrize("seed", [3, 99])
def test_bm25_matches_python(spark, seed):
    from twitter_followers_patterns_mapreduce_spark.operators import corpus as CP

    docs = random_docs(seed)
    sdf = spark.createDataFrame(docs, schema="doc_id LONG, text STRING")
    terms = ("alpha", "zeta")
    want = py_bm25(docs, terms)
    got = {
        r["doc_id"]: (r["n_terms"], round(r["bm25"] * 1e6))
        for r in CP.doc_bm25_topk(sdf, terms=terms, k=1000).collect()
    }
    assert got == {d: (nt, su) for d, (nt, su) in want.items()}


def py_bigram_bits(docs):
    bi: list[tuple[int, str, str]] = []
    for d, t in docs:
        v = t.split()
        bi += [(d, a, b) for a, b in zip(v, v[1:])]
    c_bg: dict[tuple[str, str], int] = {}
    c_pre: dict[str, int] = {}
    for _, a, b in bi:
        c_bg[(a, b)] = c_bg.get((a, b), 0) + 1
        c_pre[a] = c_pre.get(a, 0) + 1
    out: dict[int, tuple[int, int]] = {}
    for d, a, b in bi:
        bits = c_pre[a].bit_length() - c_bg[(a, b)].bit_length()
        n, s = out.get(d, (0, 0))
        out[d] = (n + 1, s + bits)
    return out


@pytest.mark.parametrize("seed", [3, 99])
def test_bigram_surprisal_matches_python(spark, seed):
    from twitter_followers_patterns_mapreduce_spark.operators import corpus as CP

    docs = random_docs(seed)
    sdf = spark.createDataFrame(docs, schema="doc_id LONG, text STRING")
    got = {
        r["doc_id"]: (r["n_bigrams"], r["sum_bits"])
        for r in CP.doc_bigram_surprisal(sdf).collect()
    }
    assert got == py_bigram_bits(docs)


# ---------------------------------------------------------------------------
# round-6 differentials
# ---------------------------------------------------------------------------

def test_scc_equals_cc_on_symmetrized_graph(spark):
    """On a symmetric edge set every weakly connected component is
    strongly connected, so SCC and hash-min CC must produce the SAME
    partition with the SAME min-id labels — two independent algorithms
    (trim+FW/BW peeling vs label propagation) cross-checking each other."""
    from pyspark.sql import functions as F

    from twitter_followers_patterns_mapreduce_spark.operators import graph_iter as GI
    from twitter_followers_patterns_mapreduce_spark.sources.readers import derived_edges

    e = derived_edges(spark, "/root/testdata/sf0.001")
    e = e.where((e["src"] * 31 + e["dst"]) % 17 == 0)  # sparse slice, many comps
    sym = e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    scc = {(r["id"], r["scc_id"]) for r in GI.strongly_connected_components(sym).collect()}
    cc = {(r["id"], r["comp"]) for r in GI.connected_components(e).collect()}
    assert scc == cc and len(scc) > 0


def test_corr_matrix_agrees_with_assortativity_machinery(spark):
    """corr(x, x) on any column must be exactly 1 (after flooring) and
    the matrix must be permutation-stable: corr(a,b) from cols [a,b]
    equals corr computed from cols [b,a]."""
    from twitter_followers_patterns_mapreduce_spark.operators.stats import corr_matrix
    from twitter_followers_patterns_mapreduce_spark.sources.readers import load_table

    li = load_table(spark, "/root/testdata/sf0.001", "lineitem")
    ab = {(r["col_x"], r["col_y"]): r["corr"]
          for r in corr_matrix(li, ["l_quantity", "l_extendedprice"]).collect()}
    ba = {(r["col_x"], r["col_y"]): r["corr"]
          for r in corr_matrix(li, ["l_extendedprice", "l_quantity"]).collect()}
    assert ab[("l_quantity", "l_extendedprice")] == ba[("l_extendedprice", "l_quantity")]
    same = corr_matrix(li.selectExpr("l_quantity", "l_quantity AS q2"), ["l_quantity", "q2"])
    (row,) = same.collect()
    assert abs(row["corr"] - 1.0) <= 1e-6  # floor grid may shave one ulp-step


def test_ols_r2_equals_corr_squared(spark):
    """r² from the OLS closed form must equal corr² from the matrix (to
    the floor grid) — two different final expressions over the same
    exact moments."""
    from twitter_followers_patterns_mapreduce_spark.operators.stats import (
        corr_matrix,
        ols_fit,
    )
    from twitter_followers_patterns_mapreduce_spark.sources.readers import load_table

    li = load_table(spark, "/root/testdata/sf0.001", "lineitem")
    (c,) = corr_matrix(li, ["l_quantity", "l_extendedprice"]).collect()
    (o,) = ols_fit(li, "l_quantity", "l_extendedprice").collect()
    assert abs(o["r2"] - c["corr"] ** 2) < 3e-6


def test_mmr_step1_equals_topk_rank1_and_set_is_topm_subset(spark):
    """MMR's first pick must equal brute-force top-1; every pick must
    come from the top-m candidate pool."""
    from twitter_followers_patterns_mapreduce_spark.operators.similarity import (
        ann_topk_bruteforce,
        mmr_diversified_topk,
    )
    from twitter_followers_patterns_mapreduce_spark.sources.readers import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    top = {(r["query_id"], r["rank"]): r["neighbor_id"]
           for r in ann_topk_bruteforce(emb, k=20).collect()}
    mmr = mmr_diversified_topk(emb, k=5, m=20).collect()
    pool = {}
    for (q, rank), n in top.items():
        pool.setdefault(q, set()).add(n)
    for r in mmr:
        if r["step"] == 1:
            assert top[(r["query_id"], 1)] == r["neighbor_id"]
        assert r["neighbor_id"] in pool[r["query_id"]]


def test_chi_square_is_nonnegative_and_v_bounded(spark):
    from twitter_followers_patterns_mapreduce_spark.operators.stats import chi_square
    from twitter_followers_patterns_mapreduce_spark.sources.readers import load_table

    orders = load_table(spark, "/root/testdata/sf0.001", "orders")
    (row,) = chi_square(orders, "o_orderstatus", "o_orderpriority").collect()
    assert row["chi2"] >= 0
    assert 0.0 <= row["cramers_v"] <= 1.0


def test_modularity_bounded(spark):
    from twitter_followers_patterns_mapreduce_spark.operators import graph_iter as GI
    from twitter_followers_patterns_mapreduce_spark.sources.readers import derived_edges

    e = derived_edges(spark, "/root/testdata/sf0.001")
    e = e.where((e["src"] * 31 + e["dst"]) % 11 == 0)
    (row,) = GI.modularity(e, GI.label_propagation(e, rounds=4)).collect()
    assert -0.5 - 1e-9 <= row["modularity"] <= 1.0
