"""Physical-plan regression guards — the scale properties the engine
claims, asserted against the actual executed plans at sf0.001:

  * no CartesianProduct / BroadcastNestedLoopJoin anywhere except the
    two documented brute-force similarity baselines;
  * column pruning reaches the parquet scan (derived edge view reads
    exactly 2 of lineitem's 10 columns);
  * filter pushdown reaches the scan (Q1 shipdate predicate);
  * RS vs RJ triangle variants really plan shuffle vs broadcast joins
    (the reference's central lesson as physical plans).
"""

from __future__ import annotations

import pytest

from twitter_followers_patterns_mapreduce_spark.plans.registry import all_queries

SF = "/root/testdata/sf0.001"

#: queries whose cross-join node is DECLARED and bounded:
#:   * ann_topk_bruteforce / embedding_top_pairs — exact O(n²) baselines,
#:     the documented point of comparison for the LSH equi-join paths
#:   * ann_topk_ivf — the |queries| × |centroids| probe-scoring cross,
#:     both sides broadcast-small (centroids are a dimension table);
#:     corpus access itself is an equi-join on label
#:   * embedding_kmeans — Lloyd assignment is the same bounded |V| × k
#:     cross against the broadcast centroid table (k = 8)
ALLOWED_BRUTE_FORCE = {
    "ann_topk_bruteforce",
    "embedding_hard_negatives",  # same broadcast-anchor x corpus scan
    "embedding_hard_negatives_ivf",  # |Q| x |labels| declared centroid cross (ann_topk_ivf shape)
    "embedding_top_pairs",
    "ann_topk_ivf",
    "ann_topk_ivfsq",  # same |Q| x |centroids| probe cross; candidate scan is the label equi-join
    "embedding_kmeans",
    "ann_topk_ivf_kmeans",
    # bounded DECLARED crosses, not brute force:
    #   * q22 — the TPC-H scalar-subquery pattern: a 1-row broadcast
    #     threshold crossed onto customer (cardinality × 1)
    #   * gapfill — dimension-spine construction: |hours| × |types|,
    #     both broadcast-small next to the fact table
    "q22_idle_rich_customers",
    "events_gapfill_hourly",
    "events_hourly_anomaly",  # composes gapfill → same bounded spine cross
    "events_hourly_anomaly_robust",  # ditto — gapfill spine under the UDAF stats
    #   * ann_topk_pq — stage-1 candidate scan is the declared
    #     brute-force shape (on int8 codes: the point is 4× fewer bytes
    #     at scale, not fewer pairs); stage-2 rerank is shortlist-sized
    "ann_topk_pq",
    #   * ann_radius_search — the declared range-scan baseline: the
    #     bounded query side broadcasts under a non-equi (!=) condition,
    #     exactly the ann_topk_bruteforce shape minus the rank window
    "ann_radius_search",
    #   * chi2 / entropy-KL — category-margin grids (|cats_a| × |cats_b|,
    #     single-digit each) plus a 1-row global-total cross; the fact
    #     table itself only ever feeds hash aggs
    "orders_chi2_status_priority",
    "events_segment_entropy_kl",
    "doc_split_vocab_kl",  # same machinery over the exploded token table
    #   * ltv decay / reach profile — a 1-row scalar (corpus max ts /
    #     node count) broadcast onto the scan: cardinality × 1
    "events_user_ltv_decay",
    "graph_reach_profile",
    "graph_reach_anf",  # composes reach_profile → same 1-row node-count cross
    "graph_effective_diameter",  # ditto, plus its own 1-row N(kmax) crosses
    #   * modularity / target encoding / curriculum — a 1-row global
    #     (edge count / target sum / quartile boundaries) broadcast onto
    #     a community-/category-/doc-sized side: cardinality × 1
    "graph_modularity",
    "orders_target_encoding",
    "corpus_quality_curriculum",
    #   * woe / psi / benford — the chi2 shape again: a 1-row pos/neg-
    #     totals cross broadcast onto a |categories|-/|buckets|-/9-row
    #     cell table; the fact table only feeds hash aggs
    "orders_woe_iv",
    "orders_psi_split",
    "lineitem_benford_audit",
    #   * temperature mixture — the per-source rate table (|sources|
    #     rows) needs the 1-row Σweights/N cross before broadcasting
    #     back onto the scan: cardinality × 1 twice, fact side equi-only
    "corpus_temperature_mixture",
    #   * bootstrap CI — since the round-8 rewrite the base totals ride
    #     the replica agg (no cross at all); kept listed for the 1-row
    #     final reduce, which is brute-force-shaped by construction
    "orders_bootstrap_ci",
    #   * association rules — pair table crossed with the 1-row total-
    #     baskets count: cardinality × 1 (the pair generation itself is
    #     the copurchase equi-join)
    "basket_association_rules",
    #   * funnel timing — the 1-row delta summary crossed with the 1-row
    #     funnel-entry count: 1 × 1
    "events_funnel_timing",
    #   * mergeable-sketch gates — the exact-companion aggregate (1 row:
    #     percentile array / inclusion-exclusion distincts) crossed with
    #     the 1-row sketch aggregate: 1 × 1, both sides global reduces
    #     (the fact scan feeds only hash aggs; the KLL merged variant
    #     additionally crosses its |groups|-row rollup with the 1-row
    #     exact side — cardinality × 1)
    "lineitem_kll_quantiles",
    "events_kll_value_merged",
    "events_kll_streamed",  # same 1 × 1 readout: exact companion × drained state sketch
    "events_distinct_theta_streamed",  # ditto for the theta distinct view
    "events_theta_retention",
    "graph_effective_diameter_anf",  # composes reach_anf → same 1-row node-count cross
    #   * join planner family — |matched keys|-row degree spine crossed
    #     with the 1-row output total (skew shares), and the sampled-
    #     estimate 1-row reduce crossed with the exact 1-row companion:
    #     cardinality × 1 / 1 × 1; the fact tables feed only hash aggs
    "join_skew_planner",
    "join_universe_sample",
    #   * theta join-overlap — exact 1-row distinct reduce × 1-row
    #     sketch reduce (the theta_set_profile shape)
    "join_key_overlap_theta",
    #   * bucket advisor — |keys|-row degree spine × 1-row totals
    #     (bucket assignment needs n_buckets), then 1 × 1 readout
    "layout_bucket_advisor",
    #   * z-order benefit — 1-row min/max stats broadcast onto the fact
    #     scan (the q22 discipline: cell normalization needs the range)
    #     and onto the 256-block spines (probe-rectangle re-derivation)
    "layout_zorder_benefit",
    #   * sampled recall audit — the 1-row sampled-doc count crossed
    #     with the 1-row audit reduce: 1 × 1, both global reduces
    "dedup_lsh_recall_sampled",
    #   * calibration — the ≤10-bin cell table crossed with the 1-row
    #     total (the woe/psi shape); scoring itself is scan-side
    "embedding_logreg_calibration",
    #   * conformal — bounded score histogram × 1-row calibration total
    #     (the rank threshold), then the 1-row q̂ broadcast onto the
    #     test half and the 1 × 1 readout
    "embedding_conformal_coverage",
    #   * rich club — 1-row edge-side conditional reduce × 1-row
    #     node-side conditional reduce (all thresholds in one pass)
    "graph_rich_club",
    #   * Theil — |customers| revenue spine × 1-row totals (the
    #     entropy-term shape; cardinality × 1)
    "customer_revenue_theil",
    #   * mutual information — bounded (x, y) cell table × 1-row total
    #     (the entropy/chi² shape), then three 1-row reduces crossed
    "events_type_hour_mi",
    #   * PMI / CMS — vocabulary-/k-sized cell tables crossed with the
    #     1-row totals aggregate (the woe shape); the bigram and fan
    #     materializations feed only hash aggs and equi-joins
    "doc_pmi_collocations",
    "events_cms_frequency",
    "events_cms_streamed",  # same probe readout over the streamed grid
    #   * Kaplan-Meier — the bounded duration spine crossed with the
    #     1-row subject total (n_risk derivation): cardinality × 1
    "orders_survival_km",
    #   * CUSUM — the bounded hourly spine crossed with the 1-row
    #     (total events, total hours) aggregate: cardinality × 1
    "events_cusum_changepoints",
    #   * Neyman — the |sources|-row strata table crossed with the
    #     1-row Σ(N·σ) total: cardinality × 1
    "corpus_neyman_allocation",
    #   * trimmed mean — the 1-row exact-percentile band broadcast back
    #     over the scan: cardinality × 1 (the target-encoding shape)
    "lineitem_trimmed_mean",
    #   * hub attack — four 1-row summaries (totals/before/after/
    #     isolated) combined by declared 1 × 1 crosses
    "graph_hub_attack",
    #   * mixture IVM — the temperature-mixture shape from maintained
    #     state: |sources|-row spine × 1-row Σweights/N totals (the
    #     streamed class serves the SAME recipe readout from its
    #     drained state, so it plans the same declared cross)
    "corpus_mixture_ivm",
    "corpus_mixture_streamed",
    #   * priority-sum estimate — ≤k sample rows × the 1-row τ, then
    #     the 1 × 1 estimate × exact-companion readout
    "doc_priority_sum_estimate",
    #   * negative sampling — the |V|·slots candidate spine × the 1-row
    #     node count (index modulus): cardinality × 1; candidates then
    #     EQUI-join the node index, never a |V|² cross
    "graph_negative_samples",
    #   * split novelty — three 1-row shingle-set reduces combined by
    #     declared 1 × 1 crosses
    "doc_split_ngram_novelty",
    #   * join strategy advisor — two 1-row per-side byte/row reduces
    #     combined by a declared 1 × 1 cross (the decision CASE)
    "join_strategy_advisor",
}


def plan_of(spark, name: str) -> str:
    df = all_queries()[name](spark, SF)
    return df._jdf.queryExecution().executedPlan().toString()


#: Queries allowed to plan an UNPARTITIONED Window, each with the
#: bounded-spine justification (the declared exceptions to the house
#: rule "windows carry a partition spec").  Everything else in the
#: registry is gated by test_registry_windows_carry_partition_spec —
#: this set is asserted EXACT in both directions, so a stale entry
#: fails just like a new offender.
WINDOW_BOUNDED_SPINE = {
    # cumulative token-count windows over per-bucket/vocab aggregates —
    # the spine is the distinct-bucket / distinct-size table, vocab- or
    # histogram-sized, never the document or token table:
    "doc_heaps_law",
    "doc_zipf_fit",
    # KS drift — cumulative distribution over the distinct n_chars
    # spine (splits.py documents why the WindowExec warning is expected)
    "doc_split_drift_ks",
    # ≤k-row sample / top-(k+1) priority windows: rank rides rows
    # already cut to the sample size by TakeOrdered
    "doc_weighted_sample",
    "doc_priority_sum_estimate",
    # score-histogram cumulatives: the spine is the bounded distinct
    # (rounded) score table, not the embedding corpus
    "embedding_conformal_coverage",
    "embedding_logreg_eval",
    # two-level prefix-sum decompositions: the only unpartitioned piece
    # is the carry over the bounded day/hour/month spine
    "events_concurrency_curve",
    "events_cusum_changepoints",
    "events_user_growth_accounting",
    # degree/partition histograms: distinct-degree / ≤n_parts spines
    "graph_degree_gini",
    "layout_partition_advisor",
    # global top-k rank protected by WindowGroupLimit (map-side partial
    # + final prune to ~k rows per task before the single-partition
    # sort — pinned scale-safe in the round-10 verdict)
    "link_prediction_scores",
    # Kaplan-Meier cumulatives over the distinct duration-month spine
    "orders_survival_km",
}


def _unpartitioned_windows(plan: str) -> list[str]:
    """Window nodes with an empty partition spec.  Node format (pinned
    empirically): 3 bracket groups = [exprs], [part], [order]; 2 groups
    whose second is an ordering (ASC/DESC NULLS) = unpartitioned
    ordered; 2 groups otherwise = partition-only (fine); 1 group =
    unpartitioned unordered."""
    import re

    bad = []
    for line in plan.splitlines():
        m = re.search(r"\bWindow \[", line)
        if not m:
            continue
        groups, depth, gstart = [], 0, None
        for j in range(m.end() - 1, len(line)):
            ch = line[j]
            if ch == "[":
                if depth == 0:
                    gstart = j
                depth += 1
            elif ch == "]":
                depth -= 1
                if depth == 0:
                    groups.append(line[gstart + 1 : j])
            elif depth == 0 and groups and ch not in ", ":
                break
        if len(groups) >= 3:
            continue
        if len(groups) == 2 and not re.search(r"\b(ASC|DESC) NULLS", groups[1]):
            continue
        bad.append(line.strip()[:200])
    return bad


@pytest.fixture(scope="module")
def registry_plans(spark) -> dict[str, tuple[str, str]]:
    """Executed and optimized plan strings of every registered query,
    shared by the three registry-wide walks below: a build runs the
    query's eager jobs (checkpoints, collected parameters, whole streamed
    micro-batch loops), so building the registry once per walk tripled
    the module's cost."""
    plans = {}
    for name, build in all_queries().items():
        qe = build(spark, SF)._jdf.queryExecution()
        plans[name] = (qe.executedPlan().toString(), qe.optimizedPlan().toString())
    return plans


def test_registry_windows_carry_partition_spec(registry_plans):
    """Registry-wide promotion of the window discipline (round-10
    verdict item 2): every Window node in every registered query's plan
    must carry a partition spec, except the declared bounded-spine
    queries above — asserted EXACTLY, so the allowlist can't go stale.

    The walk sees each plan as built, so a ``localCheckpoint`` boundary
    truncates it, which is how round 10's single-task |V| window
    (graph.py negative-sampler node index) shipped unseen by EXPLAINS.
    This walk once patched ``pyspark.sql.DataFrame.localCheckpoint`` to
    a no-op to see through those boundaries, but on PySpark 4 that
    patch never reaches the classic DataFrame's own override, so it
    saw the same severed plans as the walk here.  Patching the classic
    class instead also passes at sf0.001 but costs a second registry
    build; windows inside checkpointed inputs stay out of view here."""
    offenders: dict[str, list[str]] = {}
    for name, (plan, _) in registry_plans.items():
        bad = _unpartitioned_windows(plan)
        if bad:
            offenders[name] = bad
    undeclared = {n: b for n, b in offenders.items() if n not in WINDOW_BOUNDED_SPINE}
    stale = WINDOW_BOUNDED_SPINE - set(offenders)
    assert undeclared == {}, f"unpartitioned windows outside the allowlist: {undeclared}"
    assert stale == set(), f"allowlist entries that no longer plan one: {stale}"


def test_no_undeclared_cross_joins(registry_plans):
    offenders = []
    for name, (plan, _) in registry_plans.items():
        if name in ALLOWED_BRUTE_FORCE:
            continue
        if "CartesianProduct" in plan or "BroadcastNestedLoopJoin" in plan:
            offenders.append(name)
    assert offenders == []


def test_derived_edges_scan_prunes_columns(spark):
    plan = plan_of(spark, "ce_count_edges")
    scan = next(line for line in plan.splitlines() if "ReadSchema" in line)
    assert "l_orderkey" in scan and "l_partkey" in scan
    for unneeded in ("l_extendedprice", "l_shipdate", "l_quantity"):
        assert unneeded not in scan


def test_q1_filter_pushed_to_scan(spark):
    plan = plan_of(spark, "q1_pricing_summary")
    pushed = [line for line in plan.splitlines() if "PushedFilters" in line]
    assert pushed and "l_shipdate" in pushed[0]


def test_q10_predicates_push_to_both_scans(spark):
    """Q10's return-flag predicate must reach the lineitem scan and the
    date range the orders scan — neither survives as a post-scan
    Filter over raw rows."""
    plan = plan_of(spark, "q10_returned_items")
    pushed = [line for line in plan.splitlines() if "PushedFilters" in line]
    assert any("l_returnflag" in line for line in pushed)
    assert any("o_orderdate" in line for line in pushed)


def test_rs_rj_join_strategies(spark):
    rs = plan_of(spark, "rs_triangle_count_raw")
    rj = plan_of(spark, "rj_triangle_count_raw")
    # RS-join = reduce-side join: shuffled hash (the reference's reducer
    # buffers key groups without sorting), never a broadcast
    assert "ShuffledHashJoin" in rs
    assert "BroadcastHashJoin" in rj  # Rep-join = replicated/broadcast


#: (Exchange nodes, [(join, join type, build side)] top-down) of the
#: initial executed plans of the benchmarked wedge jobs over a parquet
#: edge file, with size-based broadcasts off so that every broadcast is
#: one the code asks for: the two hash exchanges that partition the
#: edges on each join key (``partitioned_on``) under the co-partitioned
#: shuffled-hash 2-path join, and the RS/RJ hints on the closing
#: semi-join.
_SEMI_SHUFFLE = ("ShuffledHashJoin", "LeftSemi", "BuildRight")
_SEMI_BROADCAST = ("BroadcastHashJoin", "LeftSemi", "BuildRight")
_SEMI_AUTO = ("SortMergeJoin", "LeftSemi", "")
_WEDGE = ("ShuffledHashJoin", "Inner", "BuildRight")
WEDGE_PLAN_SHAPES = {
    ("two_hop_count_approx", None, None): (3, [_WEDGE]),
    ("triangle_count_raw", "shuffle", False): (5, [_SEMI_SHUFFLE, _WEDGE]),
    ("triangle_count_raw", "shuffle", True): (5, [_SEMI_SHUFFLE, _WEDGE]),
    ("triangle_count_raw", "broadcast", False): (4, [_SEMI_BROADCAST, _WEDGE]),
    ("triangle_count_raw", "broadcast", True): (4, [_SEMI_BROADCAST, _WEDGE]),
    ("triangle_count_raw", "auto", False): (5, [_SEMI_AUTO, _WEDGE]),
    ("triangle_count_raw", "auto", True): (5, [_SEMI_AUTO, _WEDGE]),
}


def test_wedge_job_plan_shapes(spark, tmp_path):
    """Plan-only (nothing runs): exchanges, join operators and build
    sides of two_hop_count_approx and triangle_count_raw under every
    strategy × min_rotation."""
    import random
    import re

    import pyarrow as pa
    import pyarrow.parquet as pq

    from twitter_followers_patterns_mapreduce_spark.operators import graph as G
    from twitter_followers_patterns_mapreduce_spark.sources.readers import EDGE_SCHEMA

    rnd = random.Random(3)
    pairs = [(rnd.randrange(300), rnd.randrange(300)) for _ in range(2000)]
    path = str(tmp_path / "edges.parquet")
    pq.write_table(pa.table({"src": [a for a, _ in pairs], "dst": [b for _, b in pairs]}), path)
    edges = spark.read.schema(EDGE_SCHEMA).parquet(path)

    got = {}
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        for fn, strategy, min_rotation in WEDGE_PLAN_SHAPES:
            kwargs = {} if strategy is None else {"strategy": strategy, "min_rotation": min_rotation}
            plan = getattr(G, fn)(edges, **kwargs)._jdf.queryExecution().executedPlan().toString()
            exchanges = sum(
                1 for line in plan.splitlines() if re.match(r"^[\s:|+-]*(Broadcast)?Exchange ", line)
            )
            joins = re.findall(r"(\w+Join) \[[^\]]*\], \[[^\]]*\], (\w+)(?:, (Build\w+))?", plan)
            got[fn, strategy, min_rotation] = (exchanges, joins)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert got == WEDGE_PLAN_SHAPES


def _physical_nodes(node):
    """``node`` and every node below it, through adaptive plans and
    query stages (an in-memory scan's cached plan is not a child)."""
    cls = node.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        yield from _physical_nodes(node.executedPlan())
        return
    if cls.endswith("QueryStageExec"):
        yield from _physical_nodes(node.plan())
        return
    yield node
    kids = node.children().iterator()
    while kids.hasNext():
        yield from _physical_nodes(kids.next())


def _join(nodes, join_type: str):
    (join,) = [n for n in nodes if n.getClass().getSimpleName().endswith("JoinExec")
               and n.joinType().toString() == join_type]
    return join


def test_wedge_jobs_on_staged_edges_read_cached_copies(spark, tmp_path):
    """Plan-only, under the session's own join settings: on the frame
    ``edges_from_csv`` stages, every benchmarked job's 2-path join reads
    the in-memory copy partitioned on its key on both sides, with no
    exchange or broadcast beneath it; RS shuffles its paths once."""
    import random

    from twitter_followers_patterns_mapreduce_spark.operators import graph as G
    from twitter_followers_patterns_mapreduce_spark.sources.readers import edges_from_csv

    rnd = random.Random(5)
    csv = tmp_path / "edges.csv"
    csv.write_text("".join(f"{rnd.randrange(300)},{rnd.randrange(300)}\n" for _ in range(2000)))
    edges = edges_from_csv(spark, str(csv))
    jobs = {
        "two_hop_approx": G.two_hop_count_approx(edges),
        "triangle_rs": G.triangle_count_raw(edges, strategy="shuffle"),
        "triangle_rj": G.triangle_count_raw(edges, strategy="broadcast"),
        "triangle_auto": G.triangle_count(edges, strategy="auto", min_rotation=True),
    }
    for job, df in jobs.items():
        nodes = list(_physical_nodes(df._jdf.queryExecution().executedPlan()))
        wedge = _join(nodes, "Inner")
        assert wedge.getClass().getSimpleName() == "ShuffledHashJoinExec", job
        for side in (wedge.left(), wedge.right()):
            below = [n.getClass().getSimpleName() for n in _physical_nodes(side)]
            assert "InMemoryTableScanExec" in below, (job, below)
            assert not [n for n in below if n.endswith("ExchangeExec")], (job, below)
        if job == "triangle_rs":
            paths = [n.getClass().getSimpleName() for n in _physical_nodes(_join(nodes, "LeftSemi").left())]
            assert paths.count("ShuffleExchangeExec") == 1, paths


@pytest.mark.parametrize("name", ["dedup_minhash_lsh", "dedup_simhash_pairs", "embedding_top_pairs_lsh"])
def test_lsh_paths_are_equi_joins(spark, name):
    plan = plan_of(spark, name)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


#: Optimizer-trap patterns in the OPTIMIZED logical plan.  Each is a
#: Catalyst rewrite that silently re-evaluates an expensive scan-side
#: expression (see operators/dedup.py::shingled_docs and
#: functions/vector.py::as_double for the fixes):
#:   * isnotnull(<expr tree>) — InferFiltersFromConstraints derived a
#:     null check from a join/filter on a computed column, and pushdown
#:     alias-substituted the full pipeline below the staged projections
#:     (fix: make the staged column non-nullable via coalesce);
#:   * huge Filter nodes — an inlined expression pipeline running per
#:     row inside a Filter instead of once per staged projection.
INFERRED_FILTER_TRAPS = (
    "isnotnull(size(CASE",
    "isnotnull(aggregate(",
    "isnotnull(transform(",
    "isnotnull(coalesce(transform",
    "isnotnull(filter(split",
    "isnotnull(CASE WHEN",
)
MAX_FILTER_NODE_CHARS = 1500


def test_no_inferred_filter_reevaluation(registry_plans):
    offenders = []
    for name, (_, plan) in registry_plans.items():
        for pat in INFERRED_FILTER_TRAPS:
            if pat in plan:
                offenders.append((name, pat))
        for line in plan.splitlines():
            s = line.strip()
            if s.startswith(("+- Filter", ":- Filter", "Filter ")) and len(s) > MAX_FILTER_NODE_CHARS:
                offenders.append((name, f"filter-node-{len(s)}-chars"))
    assert offenders == []


def test_auto_strategy_demotes_broadcast_when_threshold_disallows(spark):
    """'auto' leaves the physical join choice to Catalyst/AQE: with the
    broadcast threshold disabled the triangle closure plans a shuffle
    join instead of failing or forcing a broadcast — the graceful
    fallback the session defaults rely on when the MAX-filtered edge
    set outgrows the 64 MiB threshold at scale."""
    from twitter_followers_patterns_mapreduce_spark.operators.graph import (
        triangle_count_raw,
    )
    from twitter_followers_patterns_mapreduce_spark.sources.readers import derived_edges

    edges = derived_edges(spark, SF)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan = (
            triangle_count_raw(edges, max_limit=997, strategy="auto")
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "BroadcastHashJoin" not in plan
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_topk_plans_take_ordered_not_global_window(spark):
    """rank_by_degree (round-1 weak finding, since fixed): top-k must
    plan as TakeOrderedAndProject — per-partition heaps + small merge —
    and the rank window must carry a partition spec, never the
    move-everything-to-one-task global window."""
    plan = plan_of(spark, "rank_by_degree")
    assert "TakeOrderedAndProject" in plan
    import re

    for m in re.finditer(r"Window \[.*?\], \[(.*?)\]", plan):
        assert m.group(1).strip(), "window without partition spec"


def test_bucketed_join_twin_plans_zero_join_exchanges(spark):
    """layout_bucketed_join: the sort-merge join of the two bucketed
    tables plans ZERO Exchange nodes (the shuffle was paid at write
    time) — the only Exchange in the whole plan is the tiny
    per-segment rollup's."""
    plan = plan_of(spark, "layout_bucketed_join")
    assert "SortMergeJoin" in plan
    assert plan.count("Exchange") == 1, plan


def test_hybrid_rrf_plans_two_take_ordered_retrievers(spark):
    """doc_hybrid_rrf_topk: both retrievers and the final fused top-k
    must plan TakeOrderedAndProject (per-partition heaps) — never a
    data-sized global sort — and the 1-row dense query attaches by the
    zero-key equi-join, never a nested-loop cross."""
    plan = plan_of(spark, "doc_hybrid_rrf_topk")
    assert plan.count("TakeOrderedAndProject") >= 3  # lex, dense, fused
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_follow_recommendations_plans_anti_join(spark):
    plan = plan_of(spark, "follow_recommendations")
    assert "LeftAnti" in plan  # already-followed pairs removed by anti-join
    assert "CartesianProduct" not in plan


@pytest.mark.parametrize(
    "name", ["audience_overlap_pairs", "two_hop_reach", "q18_large_volume_customers"]
)
def test_topk_queries_plan_take_ordered(spark, name):
    # global top-k must be per-partition heap + merge, never a full sort
    assert "TakeOrderedAndProject" in plan_of(spark, name)


def test_scd2_asof_plans_aggregate_not_window(spark):
    """The point-in-time snapshot must be the argmax-aggregate plan
    (partial map-side, one shuffle), NEVER the build-history-then-
    filter window plan; the as-of predicate must reach the scan."""
    p = plan_of(spark, "orders_scd2_asof")
    assert "Window" not in p
    assert "partial_max_by" in p  # map-side partial aggregation
    assert "PushedFilters: [IsNotNull(o_orderdate), LessThanOrEqual(o_orderdate" in p


def test_exact_substring_strip_never_explodes_tokens(spark):
    """'Token rows never explode': every Generate in the plan expands
    the positional-shingle HASH array (BIGINTs, shared front half) or
    the covered-position sequence — never the token string array
    (``toks``).  The rebuild must stay an array-lambda filter."""
    p = plan_of(spark, "doc_exact_substring_strip")
    gens = [l for l in p.splitlines() if "Generate" in l]
    assert gens and all(("posexplode(hashes" in l) or ("explode(sequence(" in l) for l in gens), gens
    assert "explode(toks" not in p


def test_runtime_bloom_filter_injected_for_selective_shuffle_join(spark):
    """Runtime row-group pruning for the 100 TB fact-⋈-filtered-dim
    shape: Spark's runtime Bloom-filter rewrite (on by default, gated
    by size thresholds sized for clusters — application side must scan
    ≥10 GB) builds a Bloom filter from the FILTERED dim side and
    injects ``might_contain`` on the fact side, so fact row groups that
    cannot join are dropped at the scan instead of shuffled.  The
    engine relies on the stock rewrite rather than hand-building semi-
    join prefilters; this pins that (a) it fires once the fact side is
    big enough and (b) it stays off below the gate, so the sf0.001
    test plans elsewhere in this file are unaffected by it."""
    def optimized_join_plan() -> str:
        # rebuilt per call: QueryExecution is cached per DataFrame, so a
        # conf change only binds to a freshly-constructed plan
        li = spark.read.parquet(f"{SF}/lineitem.parquet").select(
            "l_partkey", "l_extendedprice"
        )
        pt = (
            spark.read.parquet(f"{SF}/part.parquet")
            .where("p_type LIKE 'PROMO%'")
            .select("p_partkey")
        )
        j = li.join(pt, li["l_partkey"] == pt["p_partkey"])
        return j._jdf.queryExecution().optimizedPlan().toString()

    old_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    key = "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
    old_gate = spark.conf.get(key)
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(key, "0")
        fired = optimized_join_plan()
        assert "might_contain" in fired and "bloom_filter_agg" in fired
        spark.conf.set(key, "10GB")
        gated = optimized_join_plan()
        assert "might_contain" not in gated
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_bc)
        spark.conf.set(key, old_gate)


def test_aqe_splits_skewed_join_partitions(spark):
    """The 100 TB hot-key story (Twitter follower graphs are power-law;
    the reference dodges skew with its compile-time MAX filter,
    README.md:77): AQE's OptimizeSkewedJoin must split an oversized
    shuffle partition into parallel sub-reads at runtime — the
    automatic companion of the engine's manual salting operator
    (operators/skew.py).  Pinned with a deliberately skewed join and
    test-scale thresholds; forceOptimizeSkewedJoin permits the extra
    post-join shuffle the global aggregate otherwise vetoes (at real
    scale the planner weighs that trade itself).  Also pins the
    negative: with skewJoin disabled the marker must not appear."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.0",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": "1KB",
        "spark.sql.adaptive.forceOptimizeSkewedJoin": "true",
    }
    from pyspark.sql import functions as F

    def run_skewed_join() -> str:
        left = spark.range(0, 200_000).selectExpr(
            "CASE WHEN id < 198000 THEN 0 ELSE id END AS k", "id AS payload"
        )
        right = spark.range(0, 2000).selectExpr("id % 600 AS k", "id AS r")
        j = left.join(right, "k").select(F.sum("payload").alias("s"))
        j.collect()  # AQE decides at runtime — must execute first
        return j._jdf.queryExecution().executedPlan().toString()

    old = {k: spark.conf.get(k, None) for k in confs}
    old["spark.sql.adaptive.skewJoin.enabled"] = spark.conf.get(
        "spark.sql.adaptive.skewJoin.enabled"
    )
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        plan = run_skewed_join()
        assert "skew=true" in plan and "skewed" in plan
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
        assert "skew=true" not in run_skewed_join()
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
