"""Golden + differential tests for the core graph operators.

Goldens hand-derived from the reference code paths (FIXTURES.md §1.2-1.4,
SURVEY.md §2.9): CE=10, EX=AP=16, RS raw=6, triangles=2 on the README
sample graph; semantic quirks (round-trip inclusion, 3× raw count)
pinned explicitly.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import make_edges
from twitter_followers_patterns_mapreduce_spark.operators import graph as G


def one(df):
    return df.collect()[0][0]


# --- FIXTURES.md §1.2: README sample graph goldens ---------------------------


def test_count_edges_golden(sample_edges):
    assert one(G.count_edges(sample_edges, 11_316_812)) == 10


def test_two_hop_exact_golden(sample_edges):
    assert one(G.two_hop_count_exact(sample_edges)) == 16


def test_two_hop_approx_golden(sample_edges):
    assert one(G.two_hop_count_approx(sample_edges, 12_500)) == 16


def test_two_hop_paths_golden(sample_edges):
    paths = G.two_hop_paths(sample_edges, 12_500)
    assert paths.count() == 16
    rows = {tuple(r) for r in paths.collect()}
    assert (1, 2, 3) in rows and (3, 1, 2) in rows


def test_two_hop_paths_noloop_golden(sample_edges):
    # sample has no mutual edges → same 16 rows
    assert G.two_hop_paths(sample_edges, 12_500, exclude_roundtrips=True).count() == 16


@pytest.mark.parametrize("strategy", ["auto", "shuffle", "broadcast"])
def test_triangle_raw_golden(sample_edges, strategy):
    assert one(G.triangle_count_raw(sample_edges, 12_500, strategy)) == 6


@pytest.mark.parametrize("strategy", ["auto", "shuffle", "broadcast"])
def test_triangle_raw_min_rotation_equivalent(sample_edges, strategy):
    # round-11 optimization: the min-rotation plan (count paths with
    # x < y AND x < z, ×3) must equal the faithful reference pipeline
    # on distinct loop-free edges — under every physical strategy
    assert one(G.triangle_count_raw(sample_edges, 12_500, strategy, min_rotation=True)) == 6


def test_triangle_min_rotation_equivalent_random_graph(spark):
    # deterministic pseudo-random distinct loop-free digraph: dense
    # enough (~30% of all ordered pairs over 25 nodes) that many
    # triangles exist with arbitrary vertex orderings
    pairs = [
        (a, b)
        for a in range(25)
        for b in range(25)
        if a != b and ((a * 31 + b * 17) % 10) < 3
    ]
    edges = make_edges(spark, pairs)
    base = one(G.triangle_count_raw(edges, max_limit=None))
    fast = one(G.triangle_count_raw(edges, max_limit=None, min_rotation=True))
    assert base == fast and base > 0
    assert one(G.triangle_count(edges, max_limit=None, min_rotation=True)) == base // 3


def test_triangle_min_rotation_mutual_pair_zero(mutual_edges):
    # the x < z conjunct subsumes the x != z round-trip exclusion
    assert one(G.triangle_count_raw(mutual_edges, 12_500, min_rotation=True)) == 0


def test_triangle_normalized_golden(sample_edges):
    assert one(G.triangle_count(sample_edges, 12_500)) == 2


def test_degrees_golden(sample_edges):
    d = {r["id"]: (r["out_deg"], r["in_deg"]) for r in G.degrees(sample_edges).collect()}
    assert d == {1: (2, 1), 2: (2, 1), 3: (2, 2), 4: (1, 2), 5: (2, 2), 6: (1, 2)}


# --- FIXTURES.md §1.3: round-trip discriminator -------------------------------


def test_mutual_roundtrip_semantics(mutual_edges):
    assert one(G.two_hop_count_exact(mutual_edges)) == 2  # EX counts 1→2→1, 2→1→2
    assert G.two_hop_paths(mutual_edges, 12_500, exclude_roundtrips=True).count() == 0
    assert one(G.triangle_count_raw(mutual_edges, 12_500)) == 0
    assert G.mutual_follow_pairs(mutual_edges).collect() == [(1, 2)] or [
        tuple(r) for r in G.mutual_follow_pairs(mutual_edges).collect()
    ] == [(1, 2)]


# --- FIXTURES.md §1.4: MAX-filter discriminator --------------------------------


def test_max_cut(max_cut_edges):
    assert one(G.count_edges(max_cut_edges, 12_500)) == 3
    assert one(G.count_edges(max_cut_edges, 11_316_812)) == 5
    assert one(G.two_hop_count_approx(max_cut_edges, 12_500)) == 3
    assert one(G.triangle_count_raw(max_cut_edges, 12_500)) == 3
    assert one(G.two_hop_count_exact(max_cut_edges)) == 6


# --- differential properties (SURVEY.md §5) ------------------------------------


def test_exact_equals_approx_on_filtered_graph(spark):
    import random

    rnd = random.Random(7)
    pairs = list({(rnd.randrange(50), rnd.randrange(50)) for _ in range(300)})
    pairs = [(a, b) for a, b in pairs if a != b]
    edges = make_edges(spark, pairs)
    # both include round-trips; MAX covers all ids → must agree
    assert one(G.two_hop_count_exact(edges)) == one(G.two_hop_count_approx(edges, 10_000))


def test_shuffle_equals_broadcast(spark):
    import random

    rnd = random.Random(13)
    pairs = list({(rnd.randrange(40), rnd.randrange(40)) for _ in range(250)})
    pairs = [(a, b) for a, b in pairs if a != b]
    edges = make_edges(spark, pairs)
    rs = one(G.triangle_count_raw(edges, 10_000, "shuffle"))
    rj = one(G.triangle_count_raw(edges, 10_000, "broadcast"))
    auto = one(G.triangle_count_raw(edges, 10_000, "auto"))
    assert rs == rj == auto


def test_raw_is_three_times_triangles(spark):
    import itertools
    import random

    rnd = random.Random(99)
    pairs = list({(rnd.randrange(30), rnd.randrange(30)) for _ in range(200)})
    pairs = [(a, b) for a, b in pairs if a != b]
    edges = make_edges(spark, pairs)
    raw = one(G.triangle_count_raw(edges, 10_000))
    # python oracle: directed triangle = cycle x→y→z→x, counted once per set
    es = set(pairs)
    tri = sum(
        1
        for x, y, z in itertools.combinations(sorted({n for p in pairs for n in p}), 3)
        for rot in [((x, y), (y, z), (z, x)), ((x, z), (z, y), (y, x))]
        if all(e in es for e in rot)
    )
    assert raw == 3 * tri
    assert one(G.triangle_count(edges, 10_000)) == tri


def test_rank_by_degree(sample_edges):
    rows = G.rank_by_degree(sample_edges, k=3).collect()
    assert [r["rank"] for r in rows] == [1, 2, 3]
    assert rows[0]["total_deg"] == 4  # several nodes tie at 4; id tiebreak → node 3? see below
    # deterministic tiebreak: total_deg desc, id asc
    ids = [r["id"] for r in rows]
    assert ids == sorted(ids, key=lambda i: (-dict((r["id"], r["total_deg"]) for r in rows)[i], i))


def test_three_hop_count_sample_golden(sample_edges):
    # Σ over middle edge (y,z) of indeg(y)·outdeg(z) on the README
    # sample graph = 25 (hand-computed edge by edge)
    got = G.three_hop_count_exact(sample_edges).collect()[0]["three_hop_count"]
    assert got == 25


def test_three_hop_matches_materialized_walks(spark, sample_edges):
    # brute-force check: join three edge copies (walks, repeats allowed)
    e = sample_edges
    a, b, c = e.alias("a"), e.alias("b"), e.alias("c")
    from pyspark.sql import functions as F
    walks = a.join(b, F.col("a.dst") == F.col("b.src")).join(
        c, F.col("b.dst") == F.col("c.src")
    )
    assert G.three_hop_count_exact(e).collect()[0]["three_hop_count"] == walks.count()


# --- clustering coefficient: hand-computed golden ----------------------------


def test_clustering_coefficient_golden(spark):
    # triangle 1-2-3 plus pendant edge 3-4 (direction and duplicates
    # must not matter: the operator canonicalizes to undirected pairs)
    e = make_edges(spark, [(1, 2), (3, 1), (2, 3), (3, 4), (2, 1), (5, 5)])
    got = {r["v"]: r for r in G.clustering_coefficient(e).collect()}
    assert set(got) == {1, 2, 3}  # deg-1 node 4 and self-loop node 5 excluded
    assert got[1]["deg"] == 2 and got[1]["clustering_coeff"] == 1.0
    assert got[2]["deg"] == 2 and got[2]["clustering_coeff"] == 1.0
    assert got[3]["deg"] == 3 and got[3]["n_triangles"] == 1
    assert got[3]["clustering_coeff"] == pytest.approx(1 / 3)


def test_clustering_coefficient_triangle_free(spark):
    # path graph 1-2-3-4: every wedge is open, coefficients all zero
    e = make_edges(spark, [(1, 2), (2, 3), (3, 4)])
    rows = G.clustering_coefficient(e).collect()
    assert {r["v"] for r in rows} == {2, 3}
    assert all(r["n_triangles"] == 0 and r["clustering_coeff"] == 0.0 for r in rows)


# --- extension: follow recommendations / degree histogram / reciprocity ------


def test_follow_recommendations_golden(sample_edges):
    # hand-derived on the README sample: e.g. user 1 follows {2,4};
    # followees reach 5 twice (via 2 and 4) and 3 once → 5 ranks first.
    recs = {
        (r["u"], r["rec_rank"]): (r["v"], r["n_common"])
        for r in G.follow_recommendations(sample_edges, None, k=2).collect()
    }
    assert recs == {
        (1, 1): (5, 2), (1, 2): (3, 1),
        (2, 1): (6, 2), (2, 2): (1, 1),
        (3, 1): (4, 2), (3, 2): (2, 1),
        (4, 1): (3, 1), (4, 2): (6, 1),
        (5, 1): (1, 1), (5, 2): (4, 1),
        (6, 1): (5, 1),
    }


def test_follow_recommendations_excludes_followed_and_self(sample_edges):
    rows = G.follow_recommendations(sample_edges, None, k=10).collect()
    followed = {(s, d) for s, d in [(1, 2), (2, 3), (3, 1), (1, 4), (4, 5),
                                    (5, 6), (6, 4), (3, 6), (2, 5), (5, 3)]}
    for r in rows:
        assert (r["u"], r["v"]) not in followed
        assert r["u"] != r["v"]


def test_degree_distribution_golden(sample_edges):
    hist = {r["total_deg"]: r["n_nodes"] for r in G.degree_distribution(sample_edges).collect()}
    assert hist == {3: 4, 4: 2}


def test_reciprocity_zero_on_sample(sample_edges):
    row = G.reciprocity_summary(sample_edges).collect()[0]
    assert (row["n_edges"], row["n_reciprocated"], row["reciprocity_rate"]) == (10, 0, 0.0)


def test_reciprocity_full_on_mutual(mutual_edges):
    row = G.reciprocity_summary(mutual_edges).collect()[0]
    assert (row["n_edges"], row["n_reciprocated"], row["reciprocity_rate"]) == (2, 2, 1.0)


def test_audience_overlap_golden(sample_edges):
    rows = [tuple(r) for r in G.audience_overlap_pairs(sample_edges, None, k=10).collect()]
    # hand-derived: co-followed pairs with follower-set Jaccard,
    # ties broken by (a, b) ascending
    assert rows == [
        (1, 6, 1, 0.5),
        (2, 4, 1, 0.5),
        (3, 5, 1, 1 / 3),
        (3, 6, 1, 1 / 3),
    ]


def test_two_hop_reach_golden(sample_edges):
    rows = [tuple(r) for r in G.two_hop_reach(sample_edges, None, k=10).collect()]
    # distinct endpoints, not walk multiplicity: u=1 reaches {3,5} (5 twice
    # via 2 and 4 counts once); round-trips excluded (u=2 loses y=2)
    assert rows == [(2, 3), (5, 3), (1, 2), (3, 2), (4, 2), (6, 1)]


def test_triangle_count_oriented_sample_graph(sample_edges):
    # undirected triangles on the README sample: {1,2,3}, {4,5,6},
    # {3,5,6}, {2,3,5} — counted ONCE each (directed raw would be 6 for
    # the two cycles; orientation sees undirected structure)
    from twitter_followers_patterns_mapreduce_spark.operators import graph as G

    out = G.triangle_count_oriented(sample_edges).collect()
    assert out[0].n_triangles == 4


def test_triangle_count_oriented_k4(spark):
    from tests.conftest import make_edges
    from twitter_followers_patterns_mapreduce_spark.operators import graph as G

    k4 = make_edges(spark, [(a, b) for a in range(1, 5) for b in range(a + 1, 5)])
    assert G.triangle_count_oriented(k4).collect()[0].n_triangles == 4


def test_triangle_count_sampled_full_p1_equals_raw(sample_edges):
    # p=1 keeps every edge: sampled == raw and the estimate is exact
    from twitter_followers_patterns_mapreduce_spark.operators import graph as G

    out = G.triangle_count_sampled(sample_edges, p=1).collect()[0]
    assert out.sampled_raw == 6 and out.estimated_raw == 6


def test_link_prediction_scores_square(spark):
    # 4-cycle 1-2-3-4: non-adjacent diagonals (1,3) and (2,4) each share
    # two degree-2 common neighbors → n_common=2, jaccard=2/(2+2-2)=1.0,
    # adamic_adar = 2/ln(2); adjacent pairs must NOT appear
    from math import log

    from tests.conftest import make_edges

    edges = make_edges(spark, [(1, 2), (2, 3), (3, 4), (4, 1)])
    rows = G.link_prediction_scores(edges, k=10).collect()
    got = {(r["u"], r["v"]): r for r in rows}
    assert set(got) == {(1, 3), (2, 4)}
    for r in rows:
        assert r["n_common"] == 2
        assert r["jaccard"] == 1.0
        assert r["adamic_adar"] == round(2 / log(2), 6)
    # deterministic integer-keyed ranking: (n_common desc, u, v)
    assert [(r["rank"], r["u"], r["v"]) for r in sorted(rows, key=lambda r: r["rank"])] == [
        (1, 1, 3),
        (2, 2, 4),
    ]


# ---------------------------------------------------------------------------
# Bipartite butterfly counting
# ---------------------------------------------------------------------------

def _bip(spark, edges):
    return spark.createDataFrame(edges, schema="o LONG, p LONG")


def test_butterfly_single_biclique(spark):
    # K_{2,2} = exactly one butterfly, one wedge pair with c=2
    e = [(1, 10), (1, 20), (2, 10), (2, 20)]
    row = G.butterfly_count(_bip(spark, e)).collect()[0]
    assert (row["wedge_pairs"], row["butterflies"]) == (1, 1)


def test_butterfly_k23_counts_three(spark):
    # K_{3,2}: 3 o-side nodes sharing parts {10,20} → C(3,2)=3 butterflies
    e = [(o, p) for o in (1, 2, 3) for p in (10, 20)]
    row = G.butterfly_count(_bip(spark, e)).collect()[0]
    assert (row["wedge_pairs"], row["butterflies"]) == (1, 3)


def test_butterfly_no_shared_pairs(spark):
    # star from one o: wedges exist but no pair repeats → 0 butterflies
    e = [(1, p) for p in range(10, 16)] + [(2, 99)]
    row = G.butterfly_count(_bip(spark, e)).collect()[0]
    assert row["butterflies"] == 0 and row["wedge_pairs"] == 15


def test_butterfly_degree_cap_drops_hub(spark):
    # hub o=1 touches 5 parts; cap 4 removes ALL its wedges
    e = [(1, p) for p in range(10, 15)] + [(2, 10), (2, 11), (3, 10), (3, 11)]
    uncapped = G.butterfly_count(_bip(spark, e), deg_cap=64).collect()[0]
    capped = G.butterfly_count(_bip(spark, e), deg_cap=4).collect()[0]
    assert uncapped["butterflies"] > capped["butterflies"]
    # capped graph keeps the o=2/o=3 K_{2,2} → exactly 1 butterfly
    assert capped["butterflies"] == 1


def test_degree_gini_ring_zero_and_star_matches_reference(spark):
    import math

    from twitter_followers_patterns_mapreduce_spark.operators.graph import degree_gini
    from tests.conftest import make_edges

    # ring: every node degree 2 -> perfect equality, G = 0
    ring = make_edges(spark, [(i, i % 8 + 1) for i in range(1, 9)])
    (r,) = degree_gini(ring).collect()
    assert (r["n_nodes"], r["n_edges"], r["gini"]) == (8, 8, 0.0)

    # star K(1,9): hub degree 9, nine leaves of degree 1
    star = make_edges(spark, [(0, i) for i in range(1, 10)])
    (s,) = degree_gini(star).collect()
    degs = sorted([1] * 9 + [9])
    n, dsum = len(degs), sum(degs)
    rsum = sum((i + 1) * d for i, d in enumerate(degs))
    expect = 2 * rsum / (n * dsum) - (n + 1) / n
    assert s["n_nodes"] == 10 and s["n_edges"] == 9
    assert s["gini"] == math.floor(expect * 1e6) / 1e6


def test_rich_club_clique_plus_pendants(spark):
    """K5 (every node degree 4) plus 5 pendant edges hanging off node 0
    (degree 9): at k=4 the club is {0} (phi NULL, <2 members); at k=3
    the club is the K5 and phi = 1.0 (all 10 club edges present)."""
    from twitter_followers_patterns_mapreduce_spark.operators.graph import rich_club

    k5 = [(i, j) for i in range(5) for j in range(5) if i < j]
    pendants = [(0, 100 + i) for i in range(5)]
    edges = spark.createDataFrame(k5 + pendants, schema="src LONG, dst LONG")
    out = {r["k"]: r for r in rich_club(edges, ks=(3, 4)).collect()}
    assert out[3]["n_club"] == 5 and out[3]["e_club"] == 10
    assert out[3]["phi"] == 1.0
    assert out[4]["n_club"] == 1 and out[4]["e_club"] == 0
    assert out[4]["phi"] is None


def test_triangle_census_directed_sample_graph(sample_edges):
    """FIXTURES §1.1 graph by hand: cyclic = {1->2->3->1, 4->5->6->4};
    transitive = {2->5, 5->3, 2->3} and {5->3, 3->6, 5->6}."""
    got = {
        r["motif"]: r["n"]
        for r in G.triangle_census_directed(sample_edges).collect()
    }
    assert got == {"cyclic": 2, "transitive": 2}


def test_triangle_census_directed_mutual_pair_is_no_triangle(mutual_edges):
    """A 2-cycle alone produces no 3-motif of either kind."""
    got = {
        r["motif"]: r["n"]
        for r in G.triangle_census_directed(mutual_edges).collect()
    }
    assert got == {"cyclic": 0, "transitive": 0}


def test_triangle_census_sampled_model_and_determinism(sample_edges):
    """The sampled census equals the exact census computed on the
    Python-model sampled edge set (hash % p == 0), estimated = sampled
    * p^3, and the draw replays bit-identically."""
    import hashlib

    def h64(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    p = 2  # small graph: p=4 usually empties it; p=2 keeps ~half
    rows = G.triangle_census_sampled(sample_edges, p=p).collect()
    got = {r["motif"]: (r["sampled_n"], r["estimated_n"]) for r in rows}
    kept = [
        (r["src"], r["dst"])
        for r in sample_edges.collect()
        if h64(f"{r['src']},{r['dst']}") % p == 0
    ]
    kept_df = sample_edges.sparkSession.createDataFrame(
        kept or [(0, 0)], "src long, dst long"
    )
    exact = {
        r["motif"]: r["n"] for r in G.triangle_census_directed(kept_df).collect()
    }
    assert got == {
        m: (exact[m], exact[m] * p**3) for m in ("cyclic", "transitive")
    }
    replay = G.triangle_census_sampled(sample_edges, p=p).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, replay))


def test_negative_samples_are_non_edges_and_deterministic(sample_edges):
    """Every sampled (u, v) is a non-edge in BOTH directions, u != v,
    at most k per node, and the draw replays bit-identically."""
    pos = {(r["src"], r["dst"]) for r in sample_edges.collect()}
    rows = G.negative_samples(sample_edges, k=3, n_slots=8).collect()
    assert rows, "sampler produced nothing"
    per_u = {}
    for r in rows:
        u, v = r["u"], r["v"]
        assert u != v
        assert (u, v) not in pos and (v, u) not in pos
        per_u.setdefault(u, []).append(r["neg_rank"])
    for u, ranks in per_u.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))
        assert len(ranks) <= 3
    replay = G.negative_samples(sample_edges, k=3, n_slots=8).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, replay))


def test_negative_samples_candidate_model(sample_edges):
    """The candidate for (u, slot) is node_index[h64('u:slot') % |V|] —
    pinned against a direct Python model of the same hash, including
    the two-level bucketed dense index (bucket by h64(id) % B, rank
    within bucket, exclusive prefix-sum offsets)."""
    import hashlib

    def h64(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    node_set = sorted(
        {r["src"] for r in sample_edges.collect()}
        | {r["dst"] for r in sample_edges.collect()}
    )
    buckets = {}
    for nid in node_set:
        buckets.setdefault(h64(str(nid)) % G.NEG_INDEX_BUCKETS, []).append(nid)
    index = []
    for bkt in sorted(buckets):
        index.extend(sorted(buckets[bkt]))
    pos = {(r["src"], r["dst"]) for r in sample_edges.collect()}
    k, n_slots = 3, 8
    model = {}
    for u in node_set:
        found = []
        for slot in range(n_slots):
            v = index[h64(f"{u}:{slot}") % len(index)]
            if v == u or (u, v) in pos or (v, u) in pos:
                continue
            found.append((slot, v))
        found.sort()
        model[u] = [
            (u, v, slot, i + 1) for i, (slot, v) in enumerate(found[:k])
        ]
    want = sorted(t for rows in model.values() for t in rows)
    got = sorted(
        map(tuple, G.negative_samples(sample_edges, k=k, n_slots=n_slots).collect())
    )
    assert got == want


def test_triangle_ivm_consistency_and_base_semantics(sample_edges):
    """The inclusion-exclusion delta equals total - base (pinned by the
    consistency flag), base equals the raw count over the base slice
    alone, and total equals the raw count over everything."""
    import hashlib

    def h64(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    r = G.triangle_count_ivm(sample_edges, delta_mod=2).first()
    assert r["consistent"] is True
    assert r["t_base_raw"] + r["t_added_raw"] == r["t_total_raw"]

    rows = [(x["src"], x["dst"]) for x in sample_edges.collect()]
    spark = sample_edges.sparkSession
    base_rows = [p for p in rows if h64(f"{p[0]},{p[1]}") % 2 != 0] or [(0, 0)]
    base_df = spark.createDataFrame(base_rows, "src long, dst long")
    want_base = G.triangle_count_raw(base_df, max_limit=None).first()[0]
    want_total = G.triangle_count_raw(sample_edges, max_limit=None).first()[0]
    assert (r["t_base_raw"], r["t_total_raw"]) == (want_base, want_total)


def test_triangle_ivm_deletes_consistency_small(spark):
    """Deletion IVM on a hand-checked graph: the maintained count after
    the hash purge equals the exact recount of the kept graph, and the
    algebra's terms satisfy before - lost == after by construction on
    ANY split (checked via the emitted consistency flag and an
    independent closed-form recount of both sides)."""
    from twitter_followers_patterns_mapreduce_spark.operators.graph import (
        triangle_count_ivm_deletes,
    )

    # K4 directed both ways: raw closure count 24 (see streaming test)
    k4 = [(a, b) for a in range(4) for b in range(4) if a != b]
    e = spark.createDataFrame(k4, "src LONG, dst LONG")
    (row,) = triangle_count_ivm_deletes(e, delete_mod=3).collect()
    assert row["consistent"] is True
    assert row["t_before_raw"] == 24
    assert row["t_after_raw"] == row["t_before_raw"] - row["t_lost_raw"]
    # the purge is non-trivial on this graph (some edge hashes to 0 mod 3)
    assert 0 < row["t_lost_raw"] <= 24


def _tagged_graph(spark, seed: int, n: int = 12, p: float = 0.35, d_share: float = 0.3):
    """Seeded random directed graph U tagged with a random delta D that
    also holds every edge of two directed triangles, so |(D,D,D)| > 0."""
    import random

    rng = random.Random(seed)
    whole = {(0, 1), (1, 2), (2, 0), (3, 4), (4, 5), (5, 3)}
    edges = {(a, b) for a in range(n) for b in range(n) if a != b and rng.random() < p}
    edges |= whole
    rows = sorted((a, b, (a, b) in whole or rng.random() < d_share) for a, b in edges)
    tagged = spark.createDataFrame(rows, "src LONG, dst LONG, in_d BOOLEAN")
    return tagged.where("in_d").select("src", "dst"), tagged


@pytest.mark.parametrize("seed", [3, 11])
def test_delta_closures_equal_three_closure_counts(spark, seed):
    """One tagged pass yields the same |DUU|, |DDU|, |DDD| as three
    closure_count plans, and SUM(w) is their IVM combination."""
    d, tagged = _tagged_graph(spark, seed)
    u = tagged.select("src", "dst")
    want = tuple(
        one(G.closure_count(*rels)) for rels in ((d, u, u), (d, d, u), (d, d, d))
    )
    got = tuple(
        G.delta_closures(d, tagged)
        .selectExpr(
            "COUNT(*)",
            "COUNT_IF(f2)",
            "COUNT_IF(f2 AND f3)",
        )
        .first()
    )
    assert got == want
    assert want[2] > 0  # the delta holds whole triangles
    a, b, c = want
    assert one(G.delta_closure_sum(d, tagged)) == 3 * a - 3 * b + c


def test_delta_closures_empty_delta(spark):
    _, tagged = _tagged_graph(spark, 3)
    u = tagged.withColumn("in_d", F.lit(False))
    d = u.where("in_d").select("src", "dst")
    assert G.delta_closures(d, u).count() == 0
    assert G.delta_closure_sum(d, u).collect() == [(0,)]


# --- Plan-build floor: the engine session builds plans without call-site capture


def _py4j_commands(spark, build) -> int:
    """Py4J commands sent while ``build()`` runs (plan building only).

    Earlier frames are garbage-collected first, and memory-release
    commands (``m``/``d``) are not counted: Python's collector sends one
    per freed JVM reference whenever it happens to run, which is not the
    build's own work."""
    import gc

    from py4j import protocol

    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    sent = []
    release = protocol.MEMORY_COMMAND_NAME + protocol.MEMORY_DEL_SUBCOMMAND_NAME

    def counting(command, *args, **kwargs):
        if not command.startswith(release):
            sent.append(command)
        return send(command, *args, **kwargs)

    gc.collect()
    client.send_command = counting
    try:
        build()
    finally:
        del client.send_command
    return len(sent)


def test_triangle_plan_build_py4j_commands_bounded(spark, sample_edges):
    """Building (not running) the auto min-rotation triangle plan stays
    well under the 428 Py4J commands it sent with PySpark's DataFrame
    debugging hook on (140 with it off, as ``get_spark`` sets it)."""

    def build():
        G.triangle_count(sample_edges, strategy="auto", min_rotation=True)

    build()  # warm: one-off JVM class and function lookups
    n = _py4j_commands(spark, build)
    assert 0 < n <= 200, n


def test_unresolved_column_still_raises_analysis_exception(sample_edges):
    """Without call-site capture errors stay loud: same exception class
    and error class, only the PySpark file:line context is gone."""
    from pyspark.errors import AnalysisException

    with pytest.raises(AnalysisException) as exc:
        sample_edges.select(F.col("no_such_column")).collect()
    assert exc.value.getCondition().startswith("UNRESOLVED_COLUMN.")
