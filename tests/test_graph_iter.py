"""Iterative graph operators: connected-components goldens on a
multi-component graph, and PageRank differential-tested against an
independent dense NumPy implementation of the same pinned semantics."""

from __future__ import annotations

import numpy as np
import pytest

from tests.conftest import make_edges
from twitter_followers_patterns_mapreduce_spark.operators import graph_iter as GI


@pytest.fixture(scope="module")
def multi_component_edges(spark):
    # components (undirected): {1,2,3} triangle, {4,5,6} chain via
    # directed edges both ways, {7,8} pair, {9} appears only as dst
    return make_edges(
        spark,
        [(1, 2), (2, 3), (3, 1), (4, 5), (6, 5), (7, 8), (8, 7), (10, 9)],
    )


def test_connected_components_goldens(multi_component_edges):
    r = {x["id"]: x["comp"] for x in GI.connected_components(multi_component_edges).collect()}
    assert r == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4, 6: 4, 7: 7, 8: 7, 9: 9, 10: 9}


def test_connected_components_converges_on_long_chain(spark):
    # a 12-node directed chain needs several propagation passes
    chain = make_edges(spark, [(i, i + 1) for i in range(1, 12)])
    r = {x["id"]: x["comp"] for x in GI.connected_components(chain).collect()}
    assert set(r.values()) == {1} and len(r) == 12


@pytest.mark.parametrize("fold", [1, 3, 4, 7])
def test_connected_components_fold_invariant(spark, fold):
    # the fold width changes ONLY the checkpoint/convergence-check
    # cadence — labels must be identical for any fold, including folds
    # that overrun convergence with identity passes (chain diameter 11:
    # fold=3/4/7 all cross the fixpoint mid-fold) and fold=1 (the
    # round-11 per-pass protocol)
    chain = make_edges(spark, [(i, i + 1) for i in range(1, 12)] + [(20, 21)])
    r = {x["id"]: x["comp"] for x in GI.connected_components(chain, fold=fold).collect()}
    assert r == {**{i: 1 for i in range(1, 13)}, 20: 20, 21: 20}


def test_connected_components_string_ids(spark):
    # text graphs (collocation communities, dedup clusters) propagate
    # STRING labels: the exact SUM fingerprint only applies to numeric
    # ids — string ids must fall back to the hash fingerprint, not
    # throw a CAST error (regression pinned in round 12)
    edges = spark.createDataFrame(
        [("alpha", "beta"), ("beta", "gamma"), ("delta", "epsilon")],
        "src STRING, dst STRING",
    )
    r = {x["id"]: x["comp"] for x in GI.connected_components(edges).collect()}
    assert r == {
        "alpha": "alpha", "beta": "alpha", "gamma": "alpha",
        "delta": "delta", "epsilon": "delta",
    }


#: 12 fractional ids in [2.0, 2.2): every one rounds to 2 under a
#: DECIMAL(38,0) cast, so a label sum cannot see any label move
FRACTIONAL_IDS = [2.0 + i / 64 for i in range(12)]


@pytest.mark.parametrize("id_type", ["DOUBLE", "DECIMAL(10,6)"])
def test_connected_components_fractional_ids(spark, id_type):
    # a 12-node chain needs 11 passes; a rounded-sum fingerprint stays
    # at 24 from the first fold on and stopped after the second fold
    # (9 passes), leaving the far end of the chain with a stale label
    chain = spark.createDataFrame(
        list(zip(FRACTIONAL_IDS, FRACTIONAL_IDS[1:])), "a DOUBLE, b DOUBLE"
    ).selectExpr(f"CAST(a AS {id_type}) AS src", f"CAST(b AS {id_type}) AS dst")
    r = {float(x["id"]): float(x["comp"]) for x in GI.connected_components(chain).collect()}
    assert r == {i: 2.0 for i in FRACTIONAL_IDS}


def test_connected_components_respects_max_iter_under_fold(spark):
    # max_iter bounds the TOTAL pass count, not the fold count: a
    # 12-node chain is not converged after 2 passes, and the fold loop
    # must stop there exactly like the per-pass loop did
    chain = make_edges(spark, [(i, i + 1) for i in range(1, 12)])
    r = {x["id"]: x["comp"] for x in GI.connected_components(chain, max_iter=2, fold=4).collect()}
    # seed gives min(id, min nbr); 2 more passes pull labels 3 hops back
    assert r[12] == 9 and r[1] == 1


@pytest.mark.parametrize("fold", [1, 2, 5])
def test_pagerank_fold_invariant(spark, fold):
    edges = [(1, 2), (1, 3), (2, 3), (3, 1), (4, 3), (2, 4), (5, 1)]
    expected = _numpy_pagerank(edges)
    got = {
        x["id"]: x["pagerank"]
        for x in GI._pagerank_fixpoint(
            make_edges(spark, edges),
            iters=5,
            damping=0.85,
            seed_expr=lambda _id: GI.F.lit(1.0),
            teleport_expr=lambda _id: GI.F.lit(0.15),
            out_name="pagerank",
            fold=fold,
        ).collect()
    }
    for n, v in expected.items():
        assert got[n] == pytest.approx(v, abs=2e-6)


def _numpy_pagerank(edges, iters=5, d=0.85):
    nodes = sorted({u for e in edges for u in e})
    idx = {n: i for i, n in enumerate(nodes)}
    out_deg = {}
    for s, _ in edges:
        out_deg[s] = out_deg.get(s, 0) + 1
    rank = np.ones(len(nodes))
    for _ in range(iters):
        mass = np.zeros(len(nodes))
        for s, t in edges:
            mass[idx[t]] += rank[idx[s]] / out_deg[s]
        rank = (1.0 - d) + d * mass
    return {n: rank[idx[n]] for n in nodes}


def test_pagerank_matches_numpy_reference(spark):
    edges = [(1, 2), (1, 3), (2, 3), (3, 1), (4, 3), (2, 4), (5, 1)]
    expected = _numpy_pagerank(edges)
    got = {x["id"]: x["pagerank"] for x in GI.pagerank(make_edges(spark, edges)).collect()}
    assert set(got) == set(expected)
    for n, v in expected.items():
        assert got[n] == pytest.approx(v, abs=2e-6)


def test_pagerank_sink_node_keeps_base_rank(spark):
    # node 3 has no in-edges after one hop structure: a pure source's
    # rank is exactly (1-d) after the first iteration and stays there
    got = {x["id"]: x["pagerank"] for x in GI.pagerank(make_edges(spark, [(3, 1), (1, 2)])).collect()}
    assert got[3] == pytest.approx(0.15, abs=2e-6)


def test_twostar_components_goldens(multi_component_edges):
    r = {
        x["id"]: x["comp"]
        for x in GI.connected_components_twostar(multi_component_edges).collect()
    }
    assert r == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4, 6: 4, 7: 7, 8: 7, 9: 9, 10: 9}


def test_twostar_converges_on_long_chain(spark):
    # worst case for label propagation (O(diameter) passes); the star
    # contraction collapses a 12-node chain in O(log n) rounds
    chain = make_edges(spark, [(i, i + 1) for i in range(1, 12)])
    r = {x["id"]: x["comp"] for x in GI.connected_components_twostar(chain).collect()}
    assert r == {i: 1 for i in range(1, 13)}


# --- k-core ------------------------------------------------------------------


def test_k_core_triangle_with_tail(spark):
    from tests.conftest import make_edges
    from twitter_followers_patterns_mapreduce_spark.operators.graph_iter import k_core

    # triangle 1-2-3 with a tail 3-4-5: the 2-core is exactly the triangle,
    # and peeling must cascade (4 survives round 1 only while 5 is alive)
    e = make_edges(spark, [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5)])
    got = {r["v"]: r["core_deg"] for r in k_core(e, k=2, rounds=8).collect()}
    assert got == {1: 2, 2: 2, 3: 2}


def test_k_core_k3_cascading_peel(spark):
    from tests.conftest import make_edges
    from twitter_followers_patterns_mapreduce_spark.operators.graph_iter import k_core

    # K4 {1,2,3,4} plus a chain that unravels over MULTIPLE rounds at
    # k=3: deg(6)=2 peels in round 1, dropping deg(5) 3→2 which peels
    # in round 2 — pins that the loop re-derives degrees per round
    # rather than peeling once, at a second k
    k4 = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    e = make_edges(spark, k4 + [(5, 1), (5, 2), (5, 6), (6, 7)])
    got = {r["v"]: r["core_deg"] for r in k_core(e, k=3, rounds=8).collect()}
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}


def test_k_core_empty_when_k_too_large(spark):
    from tests.conftest import make_edges
    from twitter_followers_patterns_mapreduce_spark.operators.graph_iter import k_core

    e = make_edges(spark, [(1, 2), (2, 3), (3, 1)])
    assert k_core(e, k=3, rounds=4).count() == 0


# --- BFS distances -----------------------------------------------------------


def test_bfs_distances_golden(spark):
    from tests.conftest import make_edges
    from twitter_followers_patterns_mapreduce_spark.operators.graph_iter import bfs_distances

    # chain with a shortcut: 1→2→3→4, 1→4, 4→5; 6 unreachable from 1
    edges = make_edges(spark, [(1, 2), (2, 3), (3, 4), (1, 4), (4, 5), (6, 1)])
    got = {r["id"]: r["dist"] for r in bfs_distances(edges, source=1).collect()}
    assert got == {1: 0, 2: 1, 4: 1, 3: 2, 5: 2}


def test_bfs_unreachable_source_alone(spark):
    from tests.conftest import make_edges
    from twitter_followers_patterns_mapreduce_spark.operators.graph_iter import bfs_distances

    edges = make_edges(spark, [(2, 3)])
    got = {r["id"]: r["dist"] for r in bfs_distances(edges, source=1).collect()}
    assert got == {1: 0}


def test_k_truss_prunes_tail_keeps_clique(spark):
    # K4 on {1,2,3,4} (every edge in ≥2 triangles) + a pendant triangle
    # {4,5,6} whose edges sit in exactly 1 triangle + a tail 6-7.
    # 4-truss (support ≥ 2): exactly the K4; the triangle and tail peel.
    k4 = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    e = make_edges(spark, k4 + [(4, 5), (5, 6), (6, 4), (6, 7)])
    out = {(r.a, r.b): r.support for r in GI.k_truss(e, k=4, rounds=3).collect()}
    assert set(out) == set(k4)
    assert all(s == 2 for s in out.values())


def test_k_truss_3truss_keeps_triangles(spark):
    # 3-truss (support ≥ 1) keeps every triangle edge, drops the tail
    e = make_edges(spark, [(1, 2), (2, 3), (3, 1), (3, 4)])
    out = {(r.a, r.b) for r in GI.k_truss(e, k=3, rounds=2).collect()}
    assert out == {(1, 2), (2, 3), (1, 3)}


def test_k_truss_k5_cascading_peel(spark):
    # K5 {1..5} (every edge support 3) with a K4 {4,5,6,7} glued on the
    # 4-5 edge.  At k=5 (support >= 3) the K4-only edges carry support 2
    # and peel in round 1; the recompute must then find the shared 4-5
    # edge STILL at support 3 inside the K5 — a second-k golden where
    # the surviving support differs between round 0 (4-5 has 5 common
    # neighbors) and the fixed point (3).
    k5 = [(a, b) for a in range(1, 6) for b in range(a + 1, 6)]
    k4_extra = [(4, 6), (4, 7), (5, 6), (5, 7), (6, 7)]
    e = make_edges(spark, k5 + k4_extra)
    out = {(r.a, r.b): r.support for r in GI.k_truss(e, k=5, rounds=3).collect()}
    assert set(out) == set(k5)
    assert all(s == 3 for s in out.values())


def test_k_truss_direction_and_duplicates_ignored(spark):
    # reciprocal + duplicate edges canonicalize to one undirected edge
    e = make_edges(spark, [(1, 2), (2, 1), (2, 3), (3, 1), (1, 3)])
    out = {(r.a, r.b) for r in GI.k_truss(e, k=3, rounds=2).collect()}
    assert out == {(1, 2), (2, 3), (1, 3)}


def test_landmark_closeness_star_golden(spark):
    # star: 0 -> {1,2,3}, 20 -> 0; landmarks (mod 20) = {0, 20}
    e = make_edges(spark, [(0, 1), (0, 2), (0, 3), (20, 0)])
    out = {r.landmark: r for r in GI.landmark_closeness(e, mod=20, max_depth=4).collect()}
    assert out[0].n_d1 == 3 and out[0].n_reached == 3
    assert out[0].closeness == 3.0  # three nodes at distance 1
    # landmark 20: 0 at d1, {1,2,3} at d2 → closeness 1 + 3/2 = 2.5
    assert out[20].n_d1 == 1 and out[20].n_d2 == 3
    assert out[20].closeness == 2.5


def test_landmark_closeness_depth_bound(spark):
    # chain 0->1->2->3->4->5: depth cap 4 reaches only 4 nodes
    e = make_edges(spark, [(0, 1), (1, 2), (2, 3), (3, 4), (4, 5)])
    out = {r.landmark: r for r in GI.landmark_closeness(e, mod=20, max_depth=4).collect()}
    assert out[0].n_reached == 4
    assert out[0].closeness == round(1 + 1 / 2 + 1 / 3 + 1 / 4, 6)


def test_personalized_pagerank_seeds_only(spark):
    # chain 20 -> 1 -> 2; source set (mod 20) = {0?, 20} → only 20 seeds.
    # iter 1: r(20)=0.15, r(1)=0.85·(1/1)·? seed r0: 20=1, others 0 →
    # after i1: r(1)=0.85·1=0.85, r(2)=0.85·0=0, r(20)=0.15
    e = make_edges(spark, [(20, 1), (1, 2)])
    out = {r.id: r.ppr for r in GI.pagerank_personalized(e, mod=20, iters=1).collect()}
    assert out[20] == 0.15 and out[1] == 0.85 and out[2] == 0.0
    # a non-seed node never receives teleport mass directly
    out2 = {r.id: r.ppr for r in GI.pagerank_personalized(e, mod=20, iters=2).collect()}
    assert out2[2] == round(0.85 * 0.85, 6)


def test_pagerank_global_equals_personalized_with_all_seeds(spark):
    # mod=1 makes every node a source → exactly the global formulation
    e = make_edges(spark, [(1, 2), (2, 3), (3, 1), (1, 3)])
    glob = {r.id: r.pagerank for r in GI.pagerank(e, iters=3).collect()}
    pers = {r.id: r.ppr for r in GI.pagerank_personalized(e, mod=1, iters=3).collect()}
    assert glob == pers


# ---------------------------------------------------------------------------
# Label propagation (synchronous LPA)
# ---------------------------------------------------------------------------


def test_label_propagation_two_cliques_bridge(spark):
    # two triangles joined by one bridge edge: after a few synchronous
    # rounds each triangle converges to its smallest member's label
    edges = make_edges(
        spark, [(1, 2), (2, 3), (3, 1), (4, 5), (5, 6), (6, 4), (3, 4)]
    )
    r = {x["v"]: x["label"] for x in GI.label_propagation(edges, rounds=4).collect()}
    assert r[1] == r[2] == r[3] == 1
    assert r[4] == r[5] == r[6]


def test_label_propagation_tiebreak_smallest_label(spark):
    # node 3's neighbors {1, 2} start with distinct labels at equal
    # count — round 1 must adopt the SMALLEST (label 1), the pinned
    # deterministic tie-break of the synchronous variant
    edges = make_edges(spark, [(1, 3), (2, 3)])
    r = {x["v"]: x["label"] for x in GI.label_propagation(edges, rounds=1).collect()}
    assert r[3] == 1
    # 1 and 2 each see only neighbor 3 → both adopt 3 in round one
    assert r[1] == 3 and r[2] == 3


# ---------------------------------------------------------------------------
# HITS
# ---------------------------------------------------------------------------


def test_hits_star_and_chain(spark):
    # star 1→{2,3,4} plus edge 5→1: after 1 round auth counts in-edges
    # weighted by hub=1 and hub counts the auth mass a node points at
    edges = make_edges(spark, [(1, 2), (1, 3), (1, 4), (5, 1)])
    r = {x["v"]: (x["hub"], x["auth"]) for x in GI.hits(edges, iters=1).collect()}
    # auth_1: 2,3,4 ← one in-edge each = 1; 1 ← one in-edge = 1; 5 ← none
    # hub_1:  1 → auths(2,3,4) = 3; 5 → auth(1) = 1; leaves hub 0
    assert r == {1: (3, 1), 2: (0, 1), 3: (0, 1), 4: (0, 1), 5: (1, 0)}


def test_hits_matches_numpy_power_iteration(spark):
    import numpy as np

    pairs = [(1, 2), (2, 3), (3, 1), (1, 3), (4, 1), (4, 2), (2, 4)]
    n = 4
    A = np.zeros((n, n), dtype=np.int64)
    for s, d in pairs:
        A[s - 1, d - 1] = 1
    hub = np.ones(n, dtype=np.int64)
    for _ in range(3):
        auth = A.T @ hub
        hub = A @ auth
    edges = make_edges(spark, pairs)
    r = {x["v"]: (x["hub"], x["auth"]) for x in GI.hits(edges, iters=3).collect()}
    assert r == {i + 1: (int(hub[i]), int(auth[i])) for i in range(n)}


# ---------------------------------------------------------------------------
# Deterministic random walks
# ---------------------------------------------------------------------------


def test_random_walks_structure_and_determinism(spark):
    edges = make_edges(spark, [(1, 2), (2, 3), (3, 1), (2, 4)])
    df = GI.random_walks(edges, walks_per_node=2, length=3)
    rows = [(r["start"], r["walk"], r["step"], r["node"]) for r in df.collect()]
    # step 0: every node with out-neighbors starts walks_per_node walks
    starts = {(s, w) for s, w, st, n in rows if st == 0}
    assert starts == {(s, w) for s in (1, 2, 3) for w in (1, 2)}
    byw = {}
    for s, w, st, n in rows:
        byw.setdefault((s, w), {})[st] = n
    for (s, w), path in byw.items():
        assert path[0] == s
        # every consecutive hop is a real edge
        for st in range(1, max(path) + 1):
            assert (path[st - 1], path[st]) in {(1, 2), (2, 3), (3, 1), (2, 4)}
        # no sink in this graph from nodes 1..3 start → full length... unless
        # a walk reaches node 4 (a sink), where it must stop
        if max(path) < 3:
            assert path[max(path)] == 4
    # bit-identical on rerun (deterministic hash choice, no rand())
    assert sorted(rows) == sorted(
        (r["start"], r["walk"], r["step"], r["node"]) for r in df.collect()
    )


def test_random_walks_sink_stops(spark):
    # 1 -> 2 and nothing out of 2: every walk is exactly (1, 2) then stops
    edges = make_edges(spark, [(1, 2)])
    rows = [(r["start"], r["walk"], r["step"], r["node"])
            for r in GI.random_walks(edges, walks_per_node=2, length=3).collect()]
    assert sorted(rows) == [(1, 1, 0, 1), (1, 1, 1, 2), (1, 2, 0, 1), (1, 2, 1, 2)]


# ---------------------------------------------------------------------------
# Bounded mutual reachability
# ---------------------------------------------------------------------------

def _mutual(spark, edges, k):
    return sorted(
        (r["u"], r["v"])
        for r in GI.mutual_reach_pairs(make_edges(spark, edges), k=k).collect()
    )


def test_mutual_reach_directed_cycle(spark):
    # 4-cycle: every pair mutually reachable within 3 (longest way back = 3)
    cyc = [(1, 2), (2, 3), (3, 4), (4, 1)]
    assert _mutual(spark, cyc, 3) == [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]
    # within 2 hops only the "opposite corner" pairs survive
    assert _mutual(spark, cyc, 2) == [(1, 3), (2, 4)]
    # k=1 requires a reciprocal edge — a one-way cycle has none
    assert _mutual(spark, cyc, 1) == []


def test_mutual_reach_k1_is_reciprocal_edges(spark):
    edges = [(1, 2), (2, 1), (2, 3)]
    assert _mutual(spark, edges, 1) == [(1, 2)]


def test_mutual_reach_chain_has_none(spark):
    assert _mutual(spark, [(1, 2), (2, 3), (3, 4)], 3) == []


def test_mutual_reach_ignores_self_loops_and_duplicates(spark):
    edges = [(1, 1), (1, 2), (1, 2), (2, 1)]
    assert _mutual(spark, edges, 2) == [(1, 2)]


def test_mutual_reach_rejects_bad_k(spark):
    with pytest.raises(ValueError):
        GI.mutual_reach_pairs(make_edges(spark, [(1, 2)]), k=0)


# ---------------------------------------------------------------------------
# strongly connected components
# ---------------------------------------------------------------------------

def _scc_map(df):
    return {r["id"]: r["scc_id"] for r in df.collect()}


def test_scc_two_cycles_and_bridge(spark):
    # 1->2->3->1 (SCC 1), 4->5->4 (SCC 4), bridge 3->4 (acyclic)
    e = make_edges(spark, [(1, 2), (2, 3), (3, 1), (4, 5), (5, 4), (3, 4)])
    r = _scc_map(GI.strongly_connected_components(e))
    assert r == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4}


def test_scc_pure_dag_all_singletons(spark):
    # diamond DAG: every node its own SCC (trim clears everything)
    e = make_edges(spark, [(1, 2), (1, 3), (2, 4), (3, 4)])
    r = _scc_map(GI.strongly_connected_components(e))
    assert r == {1: 1, 2: 2, 3: 3, 4: 4}


def test_scc_long_directed_cycle(spark):
    # one 12-node cycle: needs several propagation passes, single SCC
    e = make_edges(spark, [(i, i % 12 + 1) for i in range(1, 13)])
    r = _scc_map(GI.strongly_connected_components(e))
    assert set(r.values()) == {1} and len(r) == 12


def test_scc_long_cycle_fractional_ids(spark):
    # one 12-node cycle over ids that all round to 2: the rounded
    # (SUM(fmin), SUM(bmin)) fingerprint never moved, so propagation
    # stopped early and split the cycle into several SCCs
    ids = FRACTIONAL_IDS
    e = spark.createDataFrame(
        [(a, ids[(i + 1) % len(ids)]) for i, a in enumerate(ids)], "src DOUBLE, dst DOUBLE"
    )
    r = {float(k): float(v) for k, v in _scc_map(GI.strongly_connected_components(e)).items()}
    assert r == {i: 2.0 for i in ids}


def test_scc_chain_of_cycles_needs_peeling(spark):
    # two cycles joined by a chain THROUGH a singleton: 1<->2 -> 3 -> 4<->5
    e = make_edges(spark, [(1, 2), (2, 1), (2, 3), (3, 4), (4, 5), (5, 4)])
    r = _scc_map(GI.strongly_connected_components(e))
    assert r == {1: 1, 2: 1, 3: 3, 4: 4, 5: 4}


def test_scc_self_loops_are_singletons(spark):
    e = make_edges(spark, [(1, 1), (1, 2), (2, 2)])
    r = _scc_map(GI.strongly_connected_components(e))
    assert r == {1: 1, 2: 2}


def test_scc_condensation_edges(spark):
    # SCC {1,2} -> {3} -> SCC {4,5}; condensation must have 2 DAG edges
    e = make_edges(spark, [(1, 2), (2, 1), (2, 3), (3, 4), (4, 5), (5, 4)])
    scc = GI.strongly_connected_components(e)
    cond = {
        (r["scc_src"], r["scc_dst"])
        for r in GI.scc_condensation_edges(e, scc).collect()
    }
    assert cond == {(1, 3), (3, 4)}


def test_reach_profile_chain(spark):
    # 1->2->3->4: N(1)=3, N(2)=5, N(3)=6 over 4 nodes
    e = make_edges(spark, [(1, 2), (2, 3), (3, 4)])
    rows = {r["k"]: r for r in GI.reach_profile(e, kmax=3).collect()}
    assert [rows[k]["n_pairs"] for k in (1, 2, 3)] == [3, 5, 6]
    import math
    for k, pairs in ((1, 3), (2, 5), (3, 6)):
        assert rows[k]["avg_reach"] == math.floor(pairs / 4 * 1e6) / 1e6


def test_reach_profile_cycle_saturates(spark):
    # 3-cycle: every node reaches both others by k=2; no self-pairs
    e = make_edges(spark, [(1, 2), (2, 3), (3, 1)])
    rows = {r["k"]: r["n_pairs"] for r in GI.reach_profile(e, kmax=3).collect()}
    assert rows == {1: 3, 2: 6, 3: 6}


def test_modularity_two_triangles_with_bridge(spark):
    import math

    # two triangles joined by one bridge edge; perfect 2-community split
    e = make_edges(
        spark, [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4)]
    )
    labels = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 10), (4, 20), (5, 20), (6, 20)],
        schema="v LONG, label LONG",
    )
    (row,) = GI.modularity(e, labels).collect()
    assert row["n_communities"] == 2 and row["m_edges"] == 7
    # per community: e_c=3, d_c=7, m=7 → term = 3/7 - (7/14)^2, floored 1e-9
    t = math.floor((3 / 7 - 0.25) * 1e9) / 1e9
    assert abs(row["modularity"] - 2 * t) < 1e-12


def test_modularity_single_community_is_zero(spark):
    # everything in one community: Q = e/m - (2m/2m)^2 = 1 - 1 = 0
    e = make_edges(spark, [(1, 2), (2, 3), (1, 3)])
    labels = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1)], schema="v LONG, label LONG"
    )
    (row,) = GI.modularity(e, labels).collect()
    assert row["modularity"] == 0.0


def test_modularity_community_without_intra_edges(spark):
    # node 3's singleton community has d_c=2, e_c=0 — must still contribute
    e = make_edges(spark, [(1, 2), (1, 3), (2, 3)])
    labels = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 3)], schema="v LONG, label LONG"
    )
    (row,) = GI.modularity(e, labels).collect()
    import math
    t1 = math.floor((1 / 3 - (4 / 6) ** 2) * 1e9) / 1e9
    t3 = math.floor((0 / 3 - (2 / 6) ** 2) * 1e9) / 1e9
    assert abs(row["modularity"] - (t1 + t3)) < 1e-12


def test_scc_self_loop_only_node_is_emitted(spark):
    # node 3's ONLY edge is a self-loop: it has no row in the
    # self-loop-filtered edge set, but a true SCC decomposition still
    # emits it as a singleton (same convention as connected_components)
    e = make_edges(spark, [(1, 2), (2, 1), (3, 3)])
    r = _scc_map(GI.strongly_connected_components(e))
    assert r == {1: 1, 2: 1, 3: 3}


def test_reach_anf_matches_exact_at_small_scale(spark):
    # sparse-mode HLL is exact at these cardinalities, so the HyperANF
    # loop must reproduce the exact neighborhood function for k=1..6
    # on a graph whose closure keeps growing past k=3
    e = make_edges(
        spark,
        [(i, i + 1) for i in range(1, 10)] + [(10, 1), (3, 7), (5, 2)],
    )
    exact = {r["k"]: r["n_pairs"] for r in GI.reach_profile(e, kmax=6).collect()}
    approx = {r["k"]: r["approx_pairs"] for r in GI.reach_anf(e, kmax=6).collect()}
    assert approx == exact
    # deterministic: re-running yields identical estimates (hash merges
    # and per-register max have no RNG and no order sensitivity)
    again = {r["k"]: r["approx_pairs"] for r in GI.reach_anf(e, kmax=6).collect()}
    assert again == approx


def test_reach_anf_checked_booleans_true(spark):
    e = make_edges(spark, [(1, 2), (2, 3), (3, 4), (4, 1), (2, 4)])
    rows = GI.reach_anf_checked(e, kmax=3).collect()
    assert [r["k"] for r in rows] == [1, 2, 3]
    assert all(r["anf_ok"] for r in rows)


def test_coreness_tiers_all_populated(spark):
    # K5 (coreness 4) + pendant path 5-6-7 (coreness 1) + triangle
    # 8-9-10 (coreness 2): all tiers 1..4 binding in one graph
    k5 = [(a, b) for a in range(1, 6) for b in range(a + 1, 6)]
    e = make_edges(spark, k5 + [(5, 6), (6, 7), (8, 9), (9, 10), (8, 10)])
    r = {row["v"]: row["coreness"] for row in GI.coreness(e, kmax=4).collect()}
    assert r == {1: 4, 2: 4, 3: 4, 4: 4, 5: 4, 6: 1, 7: 1, 8: 2, 9: 2, 10: 2}


def test_coreness_saturates_at_kmax(spark):
    # kmax=2 caps the K5 clique's coreness at 2 by contract
    k5 = [(a, b) for a in range(1, 6) for b in range(a + 1, 6)]
    r = {row["v"]: row["coreness"] for row in GI.coreness(make_edges(spark, k5), kmax=2).collect()}
    assert r == {v: 2 for v in range(1, 6)}


def test_effective_diameter_chain_interpolates(spark):
    import math

    # chain 1->2->3->4->5: N(1)=4, N(2)=7, N(3)=9; q=0.9 -> 8.1 pairs
    # -> k*=3, eff = 2 + (8.1-7)/(9-7) = 2.55
    e = make_edges(spark, [(i, i + 1) for i in range(1, 5)])
    (r,) = GI.effective_diameter(e, kmax=3, q=0.9).collect()
    assert (r["k_star"], r["n_pairs_kmax"]) == (3, 9)
    assert r["eff_diameter"] == math.floor((2 + (0.9 * 9 - 7) / 2) * 1e6) / 1e6


def test_effective_diameter_star_saturates_at_one_hop(spark):
    # directed star: N(1)=N(2)=N(3)=9 -> k*=1, no left neighbor -> NULL
    e = make_edges(spark, [(0, i) for i in range(1, 10)])
    (r,) = GI.effective_diameter(e, kmax=3, q=0.9).collect()
    assert r["k_star"] == 1 and r["eff_diameter"] is None


def test_effective_diameter_anf_matches_exact_on_chain(spark):
    import math

    # same chain as the exact test: sparse-mode HLL is exact at these
    # cardinalities, so the ANF readout equals the exact one and the
    # agreement boolean is deterministically TRUE
    e = make_edges(spark, [(i, i + 1) for i in range(1, 5)])
    (r,) = GI.effective_diameter_anf(e, kmax=3, q=0.9).collect()
    assert (r["k_star"], r["n_pairs_kmax"]) == (3, 9)
    assert r["eff_diameter"] == math.floor((2 + (0.9 * 9 - 7) / 2) * 1e6) / 1e6
    assert r["anf_ok"] is True


def test_effective_diameter_anf_null_case_ok(spark):
    # star: both readouts NULL (k_star=1 on both profiles) -> ok TRUE
    e = make_edges(spark, [(0, i) for i in range(1, 10)])
    (r,) = GI.effective_diameter_anf(e, kmax=3, q=0.9).collect()
    assert r["k_star"] == 1 and r["eff_diameter"] is None and r["anf_ok"] is True


def test_ckpt_severs_plan_history_flat_cost_over_deep_chain(spark):
    """Regression pin for the round-8 exponential-localCheckpoint fix:
    25 chained self-join peeling passes through _ckpt must stay flat.
    Pre-fix, pass cost DOUBLED from ~pass 18 (0.5 -> 70 s by pass 22 on
    a 200-node graph); 25 passes would take >= 10 minutes.  The 120 s
    budget is ~20x the observed post-fix wall (~8 s) and far below the
    exponential regime, so this fails loudly iff the disease returns."""
    import time

    from pyspark.sql import functions as F

    from twitter_followers_patterns_mapreduce_spark.operators.graph import neighbor_view
    from twitter_followers_patterns_mapreduce_spark.operators.graph_iter import _ckpt

    k9 = [(a, b) for a in range(1, 10) for b in range(a + 1, 10)]
    nbrs = _ckpt(neighbor_view(make_edges(spark, k9)))
    alive = _ckpt(nbrs.select("v").distinct())
    t0 = time.time()
    for _ in range(25):
        surv = (
            nbrs.join(alive, "v")
            .join(alive.select(F.col("v").alias("n")), "n")
            .groupBy("v")
            .agg(F.count("*").cast("long").alias("core_deg"))
            .where(F.col("core_deg") >= 2)
            .transform(_ckpt)
        )
        alive = surv.select("v")
        assert alive.count() == 9  # K9: nothing ever peels at k=2
    assert time.time() - t0 < 120.0


def test_ckpt_fast_path_engages_on_this_spark(spark):
    """The bare-LogicalRDD rebuild must actually run on the pinned
    Spark version — if the private internalCreateDataFrame API drifts,
    this fails instead of every >=17-pass chain silently re-hitting the
    exponential localCheckpoint wall."""
    import warnings as _w

    from twitter_followers_patterns_mapreduce_spark.operators import graph_iter as GI

    df = spark.range(8).selectExpr("id AS a", "id * 2 AS b").where("a >= 0")
    before = GI._CKPT_FAST_PATH_USES
    with _w.catch_warnings(record=True) as caught:
        _w.simplefilter("always")
        out = GI._ckpt(df)
    assert GI._CKPT_FAST_PATH_USES == before + 1
    assert not [c for c in caught if issubclass(c.category, RuntimeWarning)]
    # values survive the rebuild byte-identically
    assert sorted((r["a"], r["b"]) for r in out.collect()) == [
        (i, 2 * i) for i in range(8)
    ]


def test_ckpt_fallback_warns_loudly_once(spark, monkeypatch):
    """API drift must be LOUD: when the private method is gone, _ckpt
    still returns correct rows but emits one RuntimeWarning per
    process naming the exponential cost it can no longer remove."""
    import warnings as _w

    from twitter_followers_patterns_mapreduce_spark.operators import graph_iter as GI

    class _NoPrivateApi:
        def __getattr__(self, name):  # internalCreateDataFrame lookup fails
            raise AttributeError(name)

    df = spark.range(5).selectExpr("id AS a")
    monkeypatch.setattr(spark, "_jsparkSession", _NoPrivateApi())
    monkeypatch.setattr(GI, "_CKPT_FALLBACK_WARNED", False)
    with _w.catch_warnings(record=True) as caught:
        _w.simplefilter("always")
        out = GI._ckpt(df)
        GI._ckpt(df)  # second call: warned flag suppresses the repeat
    warns = [c for c in caught if issubclass(c.category, RuntimeWarning)]
    assert len(warns) == 1
    assert "localCheckpoint" in str(warns[0].message)
    assert sorted(r["a"] for r in out.collect()) == [0, 1, 2, 3, 4]


def test_betweenness_landmark_diamond_chain_closed_form(spark):
    """Hand-computed Brandes on a diamond with a tail: 0->1->3, 0->2->3,
    3->4, landmark 0 only (mod=100).  sigma(3)=2, delta(3)=(2/2)(1+0)=1,
    delta(1)=delta(2)=(1/2)(1+1)=1 — all exactly 1.0 in micro units."""
    from twitter_followers_patterns_mapreduce_spark.operators.graph_iter import (
        betweenness_landmark,
    )

    e = spark.createDataFrame(
        [(0, 1), (0, 2), (1, 3), (2, 3), (3, 4)], "src LONG, dst LONG"
    )
    rows = {
        r["id"]: (r["bw_micro"], r["n_landmarks"])
        for r in betweenness_landmark(e, mod=100, max_depth=3).collect()
    }
    assert rows == {1: (1_000_000, 1), 2: (1_000_000, 1), 3: (1_000_000, 1)}


def test_betweenness_landmark_split_ratio(spark):
    """Unequal sigma split: 0->1->3, 0->2->3 plus a THIRD parallel path
    0->5->3 gives sigma(3)=3 and delta(mid)=1/3 each -> 333333 micro
    (floor of 1e6/3 + 0.5), pinning the ratio and the grid rounding."""
    from twitter_followers_patterns_mapreduce_spark.operators.graph_iter import (
        betweenness_landmark,
    )

    e = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 5), (1, 3), (2, 3), (5, 3)], "src LONG, dst LONG"
    )
    rows = {
        r["id"]: r["bw_micro"]
        for r in betweenness_landmark(e, mod=100, max_depth=3).collect()
    }
    assert rows == {1: 333_333, 2: 333_333, 5: 333_333}
