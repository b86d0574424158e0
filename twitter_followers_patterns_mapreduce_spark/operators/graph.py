"""Core graph-pattern operators — the reference's five jobs, Spark-first.

Reference semantics preserved exactly (SURVEY.md §2.9):
  * CE  — filtered edge count          (``countedges/CountEdgesAfterMax.java``)
  * EX  — exact 2-hop count, Σ indeg·outdeg, INCLUDES X→Y→X round-trips
          (``exact/Exact2HopCount.java:83-106``)
  * AP  — approx 2-hop count + path enumeration under a MAX id filter,
          includes round-trips (``approx/Approx2HopCount.java``)
  * RS  — reduce-side-join triangle count, EXCLUDES round-trip paths
          (``rsjoin/RSJoinTriangleCount.java:102``), reports the RAW
          incidence count = 3 × triangles (``:230`` prints raw)
  * RJ  — replicated/broadcast-join triangle count (source missing in the
          reference, ``README.md:81``) = same logical query, broadcast
          physical strategy.

Architecture: every operator is a lazy DataFrame plan.  The reference's
hand-rolled machinery maps as:
  IN/OUT value tagging + reducer cross-product  → self equi-join
  (Z,X)-keyed two-source shuffle + hasEdge flag → left-semi join
  Hadoop global Counters → stdout              → 1-row aggregate DataFrames
  job-chained Temp materialization (``:204``)  → one DAG, in-memory shuffle

One wedge-closure kernel serves the directed triangle family (AP/RS/RJ,
the closure recounts, the IVM delta pass and the motif census):
:func:`_two_paths` builds the 2-paths x→y→z (RS job 1,
``rsjoin/RSJoinTriangleCount.java:102``) and :func:`_closed` probes each
for its closing edge z→x (``:168-186``).  The closing join is a
LEFT-SEMI for the RS raw count — a path counts once however many
copies of its closing edge exist, the reference's ``hasEdge`` flag —
and INNER wherever the edge set is distinct, so the closing row can
carry columns (``delta_closures``' ``f3``).  RS, RJ and auto are not
kernel branches: they are the hint the caller puts on the closing
frame (``e.hint("shuffle_hash")``, ``F.broadcast(e)``, none), just as
partitioning, hints and filters on the path inputs are the caller's.  Both
joins are ON-conditions over aliased frames renamed after the join: a
rename before the join puts Projects under the exchanges and makes the
broadcast keys nullable.

Scale notes (100 TB): the exact count NEVER materializes paths — it is
the degree-product rewrite (one shuffle over 2|E| rows, partial
aggregation map-side).  Path materialization is O(Σ indeg·outdeg),
quadratic in hot nodes; callers cap it with ``max_limit`` exactly as
the reference does.  The 2-path join reads both inputs already
hash-partitioned on the center node (:func:`_wedge_sides`), so AQE has
no join shuffle to split: a hub's wedges land in one task, bounded by
MAX as the reference's reducer is.
"""

from __future__ import annotations

import operator
from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from twitter_followers_patterns_mapreduce_spark.functions.hashing import h64_sql
from twitter_followers_patterns_mapreduce_spark.functions.prefix import spine_offsets
from twitter_followers_patterns_mapreduce_spark.sources.readers import fan_out, partitioned_on

#: Reference compile-time constants (``countedges/CountEdgesAfterMax.java:34``,
#: ``approx/Approx2HopCount.java:41``) — here runtime parameters.
MAX_EDGE_COUNT = 11_316_812
MAX_JOIN_JOBS = 12_500

#: Bucket count for the negative-sampler's two-level dense node index —
#: the only unpartitioned window rides this constant-sized bucket spine.
NEG_INDEX_BUCKETS = 256


def filter_max(edges: DataFrame, max_limit: int | None) -> DataFrame:
    """F1, the signature predicate: keep edge iff ``src < MAX AND dst < MAX``
    (``countedges/CountEdgesAfterMax.java:56``).  Catalyst pushes this
    conjunctive range predicate into the scan (PushedFilters).  Given as
    SQL text, it costs one Py4J call to build where the Column form costs
    ten, and a wedge plan applies it up to three times."""
    if max_limit is None:
        return edges
    return edges.where(f"src < {max_limit} AND dst < {max_limit}")


def count_edges(edges: DataFrame, max_limit: int = MAX_EDGE_COUNT) -> DataFrame:
    """CE: global scalar count of edges passing the MAX filter (A2;
    ``countedges/CountEdgesAfterMax.java:56-59``).  The reference's
    map-only job + Counter becomes filter→count with map-side partial
    aggregation; result is a 1-row DataFrame, not a side channel."""
    return filter_max(edges, max_limit).agg(F.count("*").alias("edge_count"))


def degrees(edges: DataFrame, max_limit: int | None = None) -> DataFrame:
    """Per-node in/out degree table — the EX mapper's double-emit of each
    edge under both endpoints (``exact/Exact2HopCount.java:61-69``) is
    idiomatically a UNION of two projections; the reducer tally loop
    (``:92-99``) is one hash aggregate.

    Single shuffle over 2|E| narrow rows; partial aggregation (the
    combiner the reference never registered — SURVEY.md §4) is automatic.
    """
    e = filter_max(edges, max_limit)
    tagged = e.select(F.col("src").alias("id"), F.lit(1).alias("out_deg"), F.lit(0).alias("in_deg")).unionAll(
        e.select(F.col("dst").alias("id"), F.lit(0), F.lit(1))
    )
    return tagged.groupBy("id").agg(
        F.sum("out_deg").alias("out_deg"), F.sum("in_deg").alias("in_deg")
    )


def two_hop_count_exact(edges: DataFrame, max_limit: int | None = None) -> DataFrame:
    """EX: exact 2-hop path count via the degree-product rewrite
    Σ_v indeg(v)·outdeg(v) (A1; ``exact/Exact2HopCount.java:102-105``).

    Deliberately never materializes the O(paths) join — the algebraic
    rewrite is a query-level algorithm choice, not a Catalyst rule
    (SURVEY.md §4).  Includes degenerate X→Y→X round-trips, exactly as
    the reference does (no F3 check in EX).
    """
    return degrees(edges, max_limit).agg(
        F.coalesce(F.sum(F.col("in_deg") * F.col("out_deg")), F.lit(0)).cast("long").alias("two_hop_count")
    )


# ---------------------------------------------------------------------------
# The wedge-closure kernel: every directed triangle operator below builds
# its 2-paths with _two_paths and closes them with _closed
# ---------------------------------------------------------------------------

_KEYS = ("src", "dst")


def _carried(df: DataFrame, alias: str) -> list[Column]:
    """``df``'s non-key columns, qualified by ``alias``."""
    return [F.col(f"{alias}.{c}") for c in df.columns if c not in _KEYS]


def _two_paths(
    first: DataFrame,
    second: DataFrame,
    ends: Callable[[Column, Column], Column] | None = operator.ne,
) -> DataFrame:
    """Directed 2-paths x→y→z: ``first ⋈ second ON first.dst =
    second.src`` with the theta-conjunct ``ends(x, z)`` inside the join
    (``None`` keeps X→Y→X round-trips).  Output (x, y, z) followed by
    the non-key columns of ``first`` and then of ``second``."""
    p1, p2 = first.alias("p1"), second.alias("p2")
    cond = F.col("p1.dst") == F.col("p2.src")
    if ends is not None:
        cond = cond & ends(F.col("p1.src"), F.col("p2.dst"))
    return p1.join(p2, cond).select(
        F.col("p1.src").alias("x"),
        F.col("p1.dst").alias("y"),
        F.col("p2.dst").alias("z"),
        *_carried(first, "p1"),
        *_carried(second, "p2"),
    )


def _closed(paths: DataFrame, closing: DataFrame, how: str = "inner") -> DataFrame:
    """Close each path x→y→z of :func:`_two_paths` by an edge z→x of
    ``closing``.  ``left_semi`` keeps a path once if any closing edge
    exists (the reference's ``hasEdge`` flag); ``inner`` emits one row
    per closing edge and adds ``closing``'s non-key columns."""
    w, p3 = paths.alias("w"), closing.alias("p3")
    cond = (F.col("w.z") == F.col("p3.src")) & (F.col("w.x") == F.col("p3.dst"))
    if how == "left_semi":
        return w.join(p3, cond, how)
    return w.join(p3, cond).select("w.*", *_carried(closing, "p3"))


def _wedge_sides(edges: DataFrame, max_limit: int | None) -> tuple[DataFrame, DataFrame]:
    """The 2-path join's inputs, partitioned on their join keys
    (:func:`partitioned_on`: in-memory copies for a staged edge table),
    so the join needs no exchange and no broadcast: ``dst``-partitioned
    edges probe a hash table of the ``src``-partitioned ones built per
    partition (shuffled-hash, BuildRight), as the reference's reducer
    buffers each center node's edges."""
    first, second = (filter_max(partitioned_on(edges, key), max_limit) for key in ("dst", "src"))
    return first, second.hint("shuffle_hash")


def two_hop_paths(
    edges: DataFrame,
    max_limit: int | None = MAX_JOIN_JOBS,
    exclude_roundtrips: bool = False,
) -> DataFrame:
    """J1: materialized 2-hop paths (x, y, z) = ``e1 ⋈ e2 ON e1.dst = e2.src``.

    The reference hand-rolls this as a tagged cogroup: edges shuffled
    twice keyed by each endpoint with IN/OUT tags, reducer nested-loop
    cross product (``approx/Approx2HopCount.java:68-76, 94-120``).  In
    Spark it is one self equi-join (:func:`_two_paths`) of the edges
    partitioned on each endpoint (:func:`_wedge_sides`): a
    co-partitioned shuffled-hash join, with no broadcast.

    ``exclude_roundtrips`` adds the RS variant's theta-conjunct
    ``x != z`` (F3; ``rsjoin/RSJoinTriangleCount.java:102``) evaluated
    inside the join, matching the reference's early filtering.
    """
    paths = _two_paths(*_wedge_sides(edges, max_limit), operator.ne if exclude_roundtrips else None)
    return paths.select("x", "y", "z")


def two_hop_count_approx(edges: DataFrame, max_limit: int = MAX_JOIN_JOBS) -> DataFrame:
    """AP: count of materialized 2-hop paths under the MAX filter (A3;
    ``approx/Approx2HopCount.java:119``).  "Approx" approximates by
    sampling the graph via MAX — not by sketching (``README.md:77``).
    Equals ``two_hop_count_exact`` on the same filtered subgraph; kept
    as the join-based physical variant for differential testing."""
    return two_hop_paths(edges, max_limit).agg(F.count("*").cast("long").alias("two_hop_count"))


def triangle_count_raw(
    edges: DataFrame,
    max_limit: int = MAX_JOIN_JOBS,
    strategy: str = "auto",
    min_rotation: bool = False,
) -> DataFrame:
    """RS/RJ: raw directed-triangle incidence count = #(2-hop path with a
    closing edge), which the reference prints WITHOUT dividing by 3
    (``rsjoin/RSJoinTriangleCount.java:230``).

    The chained two-job pipeline (paths → HDFS Temp → (Z,X)-keyed
    shuffle with hasEdge flag, ``:192-233``) collapses to one lazy plan:
    paths LEFT-SEMI JOIN edges ON (z = src AND x = dst), then count.
    The semi join IS the reference's existence short-circuit
    (``hasEdge``, ``:170,183``).

    ``strategy`` reproduces the reference's two physical join choices:
      * ``'shuffle'``   — RS-join: shuffled HASH join on the composite
        key (``hint("shuffle_hash")``) — the faithful physical twin of
        the reference's reducer, which buffers each key group in memory
        and flags edge presence WITHOUT sorting
        (``rsjoin/RSJoinTriangleCount.java:168-186``); measured 1.8×
        over sort-merge at sf0.1 (1.5 s vs 2.7 s warm — sorting 25.7M
        path rows bought nothing)
      * ``'broadcast'`` — Rep-join (``README.md:81``): replicate the
        filtered edge set to every task; Spark's BroadcastHashJoin IS
        the replicated join
      * ``'auto'``      — let Catalyst/AQE pick from sizes (the engine
        default; at 100 TB with a small MAX-filtered edge set, AQE
        picks broadcast by itself)

    ``min_rotation`` (round-11 optimization, guide §2.3 "shuffle fewer
    bytes" applied at the algorithm level): every directed 3-cycle over
    DISTINCT LOOP-FREE edges has all three vertices distinct, so it is
    counted once per rotation — and exactly ONE rotation starts at the
    cycle's minimum vertex.  Counting only paths with ``x < y AND
    x < z`` and multiplying by 3 is therefore exact, while the wedge
    join's probe side halves (only ascending first edges) and the
    materialized path set — the rows the closure semi-join must shuffle
    (rs) or probe (rj) — drops to ~1/3 (measured at sf0.1: 25.7M → 8.0M
    path rows; rs 1.82 s → 0.97 s, rj 2.23 s → 1.10 s fresh-JVM min-of-3).
    Since x < z, a closing edge z→x has ``src > dst``: the closing side
    keeps only those edges, half the broadcast or shuffle.
    OFF by default because the equivalence needs distinct, loop-free
    edges: with duplicate edges the three rotations of one cycle carry
    DIFFERENT multiplicity products (the semi-join existence check does
    not multiply the closing edge's multiplicity), and the reference's
    reducer counts those faithfully.  ``derived_edges`` and its CSV twin
    are DISTINCT + loop-free by construction, so every registered query
    opts in; the CLI path (arbitrary reference-format CSV) keeps the
    faithful default.
    """
    e = filter_max(edges, max_limit)
    # Paths flow STRAIGHT into the closure semi-join and die in the
    # count — mirroring the reference's reduce-side pathCount-iff-hasEdge
    # (``rsjoin/RSJoinTriangleCount.java:168-186``), which also counts
    # after the shuffle, not before.  A groupBy(x, z) pre-aggregation
    # before the join was measured 1.5× (broadcast) to 2.7× (shuffle)
    # SLOWER at sf0.1 despite a ~100× duplication factor: hash-building
    # 25.7M path rows costs more than streaming them, and under the
    # broadcast strategy join-first needs no path shuffle at all (the
    # semi-join filter and the partial count are both map-side).
    first, second = _wedge_sides(edges, max_limit)
    if min_rotation:
        paths = _two_paths(first.where(F.col("src") < F.col("dst")), second, operator.lt)
        e = e.where(F.col("src") > F.col("dst"))
    else:
        # the RS job-1 paths of two_hop_paths(exclude_roundtrips=True)
        paths = _two_paths(first, second)
    if strategy == "broadcast":
        right = F.broadcast(e)
    elif strategy == "shuffle":
        right = e.hint("shuffle_hash")
    elif strategy == "auto":
        right = e
    else:
        raise ValueError(f"unknown strategy {strategy!r}")
    closed = _closed(paths, right, "left_semi")
    cnt = F.count("*") * 3 if min_rotation else F.count("*")
    return closed.agg(cnt.cast("long").alias("triangle_count_raw"))


def triangle_count(
    edges: DataFrame,
    max_limit: int = MAX_JOIN_JOBS,
    strategy: str = "auto",
    min_rotation: bool = False,
) -> DataFrame:
    """Normalized triangle count = raw ÷ 3 (each directed triangle is
    counted once per rotation).  Engine-added variant; the reference
    only reports raw (SURVEY.md §2.9 quirk, preserved separately)."""
    raw = triangle_count_raw(edges, max_limit, strategy, min_rotation)
    return raw.select(
        F.floor(F.col("triangle_count_raw") / 3).cast("long").alias("triangle_count")
    )


def rank_by_degree(edges: DataFrame, k: int = 20) -> DataFrame:
    """Extension (SURVEY.md §7.3 M5): top-k nodes by total degree with a
    deterministic tiebreak so results are oracle-comparable.

    Scale shape: ``orderBy().limit(k)`` plans as TakeOrderedAndProject —
    per-partition top-k then a driver merge of k·partitions rows — NOT a
    global sort.  The rank column is then assigned by a window over the
    already-limited k rows (partitionBy(lit) keeps the window partition
    defined; at |V| in the millions the old no-partition window shipped
    every node through one task)."""
    from twitter_followers_patterns_mapreduce_spark.operators.topk import ranked_top_k

    d = degrees(edges).withColumn("total_deg", F.col("in_deg") + F.col("out_deg"))
    order = [F.col("total_deg").desc(), F.col("id").asc()]
    return ranked_top_k(d, order, k, anchor="id").select(
        "rank", "id", "total_deg", "in_deg", "out_deg"
    )


def mutual_follow_pairs(edges: DataFrame, max_limit: int | None = None) -> DataFrame:
    """Extension: mutual-follow (reciprocal edge) pairs — the degenerate
    round-trip structure EX/AP count and RS excludes (SURVEY.md §2.9),
    surfaced as a first-class query.  Canonicalized a<b so each mutual
    pair appears once; self-join with two equi-conjuncts."""
    e = filter_max(edges, max_limit)
    a, b = fan_out(e).alias("a"), e.alias("b")
    return (
        a.join(b, (F.col("a.src") == F.col("b.dst")) & (F.col("a.dst") == F.col("b.src")))
        .where(F.col("a.src") < F.col("a.dst"))
        .select(F.col("a.src").alias("u"), F.col("a.dst").alias("v"))
        .distinct()
    )


def three_hop_count_exact(edges: DataFrame, max_limit: int | None = None) -> DataFrame:
    """Extension: exact 3-hop WALK count without materializing paths —
    the EX degree-product rewrite (``exact/Exact2HopCount.java:102-105``)
    generalized one hop: every walk x→y→z→w decomposes uniquely by its
    middle edge (y, z), so the count is Σ_{(y,z)∈E} indeg(y)·outdeg(z).

    Like EX, counts degenerate repeats (walks, not simple paths) —
    semantics pinned for the oracle.  Plan: one degree aggregation
    (2|E| narrow rows) joined twice back to the edge table — O(|E|)
    state, never the O(Σ paths) cube a 3-way self-join would build;
    the degree side is |V| rows and broadcasts at any realistic scale.
    """
    e = filter_max(edges, max_limit)
    d = degrees(edges, max_limit)
    return (
        e.join(d.select(F.col("id").alias("src"), F.col("in_deg").alias("in_y")), "src")
        .join(d.select(F.col("id").alias("dst"), F.col("out_deg").alias("out_z")), "dst")
        .agg(
            F.coalesce(F.sum(F.col("in_y") * F.col("out_z")), F.lit(0))
            .cast("long")
            .alias("three_hop_count")
        )
    )


def undirected_pairs(edges: DataFrame) -> DataFrame:
    """Canonical undirected simple-graph view: distinct (a, b) with
    a < b, self-loops dropped — ONE definition shared by every
    undirected operator (clustering coefficient, k-core) so the
    canonicalization can never drift between them."""
    return (
        edges.where(F.col("src") != F.col("dst"))
        .select(F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b"))
        .distinct()
    )


def directed_pairs(edges: DataFrame) -> DataFrame:
    """Canonical directed simple-graph view: distinct (src, dst),
    self-loops dropped — the directed twin of :func:`undirected_pairs`,
    ONE definition for every operator that needs a simple digraph."""
    return edges.where(F.col("src") != F.col("dst")).select("src", "dst").distinct()


def neighbor_view(edges: DataFrame) -> DataFrame:
    """Symmetrized adjacency (v, n) over :func:`undirected_pairs`."""
    und = undirected_pairs(edges)
    return und.select(F.col("a").alias("v"), F.col("b").alias("n")).unionAll(
        und.select(F.col("b").alias("v"), F.col("a").alias("n"))
    )


def clustering_coefficient(edges: DataFrame) -> DataFrame:
    """Extension: per-vertex local clustering coefficient over the
    undirected simple graph — closed wedges / possible wedges,
    cc(v) = 2·t(v) / (deg(v)·(deg(v)−1)).  The triangle machinery the
    reference chains two jobs for (``rsjoin/RSJoinTriangleCount.java``)
    generalized from one global scalar to a per-vertex profile.

    Plan shape: canonicalize to distinct undirected pairs (one hash
    aggregate), symmetrize into an adjacency view, self equi-join on
    the center vertex to enumerate wedges (x < y kills mirror
    duplicates), then a LEFT SEMI join against the canonical pair set
    closes the wedge — each wedge matches at most one pair, so the
    semi join is exact, never row-multiplying.  All joins are
    equi-joins; AQE splits hub-vertex skew.

    Scale note: wedge count is Σ_v deg(v)² — on power-law graphs the
    standard mitigation is degree-ordered orientation (emit each wedge
    only from its lowest-degree endpoint), which callers get by
    pre-filtering ``edges`` to a degree-capped subgraph; at the harness
    scale the sparsified fixture keeps Σ deg² bounded.
    """
    und = undirected_pairs(edges)
    nbrs = neighbor_view(edges)
    deg = nbrs.groupBy("v").agg(F.count("*").cast("long").alias("deg"))
    n1, n2 = nbrs.alias("n1"), nbrs.alias("n2")
    wedges = n1.join(
        n2, (F.col("n1.v") == F.col("n2.v")) & (F.col("n1.n") < F.col("n2.n"))
    ).select(F.col("n1.v").alias("v"), F.col("n1.n").alias("x"), F.col("n2.n").alias("y"))
    closed = wedges.join(
        und, (wedges["x"] == und["a"]) & (wedges["y"] == und["b"]), "left_semi"
    )
    tri = closed.groupBy("v").agg(F.count("*").cast("long").alias("n_triangles"))
    return (
        deg.where(F.col("deg") >= 2)
        .join(tri, "v", "left")
        .select(
            "v",
            "deg",
            F.coalesce("n_triangles", F.lit(0)).cast("long").alias("n_triangles"),
            (
                (F.lit(2) * F.coalesce("n_triangles", F.lit(0)))
                / (F.col("deg") * (F.col("deg") - 1))
            ).alias("clustering_coeff"),
        )
    )


def follow_recommendations(
    edges: DataFrame, max_limit: int | None = None, k: int = 10
) -> DataFrame:
    """Extension: people-you-may-know — for each user u, the top-k
    accounts v ranked by how many of u's followees already follow v
    (common-intermediate count over u→z→v), excluding accounts u
    already follows and u itself.  This is the product query the
    reference's 2-hop machinery exists to serve (its README motivates
    2-hop paths as follower-pattern mining) promoted to a ranked
    recommendation table.

    Plan shape: the AP self equi-join (J1 — :func:`two_hop_paths` with
    the F3 round-trip conjunct, shared with RS) under the same MAX
    guardrail → one hash aggregate on (u, v) — the path count collapses
    BEFORE any further join, so downstream state is O(candidate pairs),
    not O(paths) → LEFT ANTI equi-join removes already-followed pairs
    (the reference has no anti-join; SURVEY §2.3 join checklist) →
    per-user top-k via a PARTITIONED window (the user is the shuffle
    key; never a global sort).
    """
    from pyspark.sql import Window

    e = filter_max(edges, max_limit)
    cand = (
        two_hop_paths(edges, max_limit, exclude_roundtrips=True)
        .groupBy(F.col("x").alias("u"), F.col("z").alias("v"))
        .agg(F.count("*").cast("long").alias("n_common"))
    )
    fresh = cand.join(
        e, (cand["u"] == e["src"]) & (cand["v"] == e["dst"]), "left_anti"
    )
    w = Window.partitionBy("u").orderBy(
        F.col("n_common").desc(), F.col("v").asc()
    )
    return (
        fresh.withColumn("rec_rank", F.row_number().over(w).cast("int"))
        .where(F.col("rec_rank") <= k)
        .select("u", "rec_rank", "v", "n_common")
    )


def degree_distribution(edges: DataFrame, max_limit: int | None = None) -> DataFrame:
    """Extension: the degree histogram (n_nodes per total degree) — the
    power-law profile of the follower graph, i.e. the skew evidence the
    reference's MAX filter exists to dodge (``README.md:77``).

    Plan: the EX degree aggregate (one shuffle over 2|E| narrow rows)
    re-aggregated by degree value — a second, much smaller hash
    aggregate; both stages partial-aggregate map-side."""
    d = degrees(edges, max_limit)
    return (
        d.select((F.col("in_deg") + F.col("out_deg")).alias("total_deg"))
        .groupBy("total_deg")
        .agg(F.count("*").cast("long").alias("n_nodes"))
    )


def reciprocity_summary(edges: DataFrame, max_limit: int | None = None) -> DataFrame:
    """Extension: one-row reciprocity profile — how many directed edges
    are reciprocated (v also follows u), and the reciprocity rate.
    ``mutual_follow_pairs`` enumerates the pairs; this is the scalar
    health metric over the same structure.

    Plan: mark each edge by probing the REVERSED edge view with a LEFT
    OUTER equi-join on (src, dst) (edges are distinct so the probe is
    1:≤1, never row-multiplying), then one global aggregate.  The rate
    divides two exact BIGINTs in both engines — bit-exact cross-engine.
    """
    e = filter_max(edges, max_limit).where(F.col("src") != F.col("dst"))
    rev = e.select(
        F.col("dst").alias("src"), F.col("src").alias("dst"), F.lit(1).alias("_rev")
    )
    marked = e.join(rev, ["src", "dst"], "left")
    return marked.agg(
        F.count("*").cast("long").alias("n_edges"),
        F.sum(F.when(F.col("_rev").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_reciprocated"),
    ).select(
        "n_edges",
        "n_reciprocated",
        (F.col("n_reciprocated") / F.col("n_edges")).alias("reciprocity_rate"),
    )


def audience_overlap_pairs(
    edges: DataFrame, max_limit: int | None = None, k: int = 20
) -> DataFrame:
    """Extension: audience overlap — the top-k followee pairs (a, b)
    ranked by Jaccard similarity of their FOLLOWER sets (who co-follows
    them), the "accounts like yours" analysis over the same edge table
    the reference mines for 2-hop patterns.

    Plan shape: the follower side is its own inverted index — a self
    equi-join on the follower key (a < b kills mirrors) emits one row
    per co-follow, which collapses immediately into a (a, b) hash-agg
    count; follower-set sizes come from the degree aggregate (tiny,
    broadcast) joined twice; Jaccard = shared / (|A| + |B| - shared)
    divides exact BIGINTs — bit-exact cross-engine.  Global top-k is
    ``orderBy().limit(k)`` = TakeOrderedAndProject (per-partition
    heap + driver merge, never a global sort).

    Scale: the co-follow expansion is Σ_f outdeg(f)² — the same
    power-law exposure as the 2-hop join, with the same published
    mitigations: the MAX guardrail (reference semantics), AQE skew
    splitting on hot followers, or pre-capping follower out-degree.
    """
    e = filter_max(edges, max_limit)
    x, y = fan_out(e).alias("x"), e.alias("y")
    shared = (
        x.join(y, (F.col("x.src") == F.col("y.src")) & (F.col("x.dst") < F.col("y.dst")))
        .groupBy(F.col("x.dst").alias("a"), F.col("y.dst").alias("b"))
        .agg(F.count("*").cast("long").alias("n_shared"))
    )
    aud = e.groupBy(F.col("dst").alias("id")).agg(F.count("*").cast("long").alias("n_aud"))
    # no broadcast hint: the audience side is |V| rows — small under the
    # MAX guardrail (AQE broadcasts it from runtime sizes) but forcing
    # the hint would OOM an unguarded production graph; let the planner
    # demote to a shuffle join when |V| outgrows the threshold
    scored = (
        shared.join(aud.select(F.col("id").alias("a"), F.col("n_aud").alias("aud_a")), "a")
        .join(aud.select(F.col("id").alias("b"), F.col("n_aud").alias("aud_b")), "b")
        .select(
            "a",
            "b",
            "n_shared",
            (
                F.col("n_shared")
                / (F.col("aud_a") + F.col("aud_b") - F.col("n_shared"))
            ).alias("jaccard"),
        )
    )
    return scored.orderBy(
        F.col("jaccard").desc(), F.col("a").asc(), F.col("b").asc()
    ).limit(k)


def two_hop_reach(edges: DataFrame, max_limit: int | None = None, k: int = 20) -> DataFrame:
    """Extension: top-k users by DISTINCT 2-hop reach — how many unique
    accounts hear a retweet within two hops (x→y→z, z ≠ x).  The EX
    degree-product counts walk MULTIPLICITY; reach deduplicates
    endpoints, which no degree rewrite can express — the query that
    genuinely requires the AP path join plus a distinct aggregate.

    Plan shape: the capped self equi-join streams into
    countDistinct(y) per x — Spark plans the distinct as a two-level
    aggregate (partial (x, y) dedup map-side, then the per-x count), so
    the shuffle never carries duplicate endpoint pairs; global top-k is
    TakeOrderedAndProject.  Same Σ indeg·outdeg exposure and MAX
    guardrail as every path-materializing query (SURVEY §2.3 J1).
    """
    reach = (
        two_hop_paths(edges, max_limit, exclude_roundtrips=True)
        .groupBy(F.col("x").alias("u"))
        .agg(F.countDistinct(F.col("z")).cast("long").alias("reach"))
    )
    return reach.orderBy(F.col("reach").desc(), F.col("u").asc()).limit(k)


def degree_assortativity(edges: DataFrame, max_limit: int | None = None) -> DataFrame:
    """Extension: out-degree → in-degree assortativity across directed
    edges — the Pearson correlation between deg_out(src) and
    deg_in(dst) over all edges, the one-number answer to "do prolific
    followers follow popular accounts?" (Twitter graphs are famously
    DISassortative).

    Cross-engine exactness: every correlation term (n, Σx, Σy, Σxy,
    Σx², Σy²) is an exact BIGINT sum of integer degrees — the single
    double-typed expression is the final closed form evaluated once on
    identical integers, so the result is bit-exact without any DECIMAL
    machinery.

    Plan shape: one degree aggregate (|V| rows) joined twice onto the
    edge table — same two broadcast-able equi-joins as
    :func:`three_hop_count_exact` — then ONE global aggregate with
    map-side partials.  NULL when the variance of either side is zero
    (degenerate regular graphs).
    """
    e = filter_max(edges, max_limit)
    d = degrees(edges, max_limit)
    xy = (
        e.join(d.select(F.col("id").alias("src"), F.col("out_deg").alias("x")), "src")
        .join(d.select(F.col("id").alias("dst"), F.col("in_deg").alias("y")), "dst")
    )
    s = xy.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    varx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vary = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    return s.select(
        "n",
        F.when(
            (varx > 0) & (vary > 0),
            num / F.sqrt(varx.cast("double") * vary.cast("double")),
        ).alias("assortativity"),
    )


def triangle_count_oriented(edges: DataFrame, max_limit: int | None = None) -> DataFrame:
    """UNDIRECTED triangle count by degree-ordered orientation — the
    standard scalable upgrade over the reference's path⋈edge pipeline
    (``rsjoin/RSJoinTriangleCount.java``): orient every undirected edge
    from its lower-(degree, id) endpoint to the higher one, build
    wedges only from ORIENTED out-edges, and close each wedge against
    the oriented edge set.  Every triangle has exactly one vertex whose
    two triangle edges both point away under this total order, so each
    triangle is counted exactly ONCE (no ÷3, no ÷6) — and on power-law
    graphs the oriented out-degree is bounded by O(√|E|) per node where
    the raw out-degree is unbounded, which caps the wedge join's
    fan-out (the hub problem the reference dodges with its MAX cutoff).

    Returns one row (n_triangles BIGINT)."""
    e = filter_max(edges, max_limit)
    und = (
        e.select(F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b"))
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    nbrs = und.select(F.col("a").alias("id")).union(und.select(F.col("b").alias("id")))
    deg = nbrs.groupBy("id").agg(F.count("*").alias("deg"))
    # total-order key: the (deg, id) STRUCT, compared lexicographically
    # (both engines order structs field-by-field).  A packed
    # deg*2^32+id BIGINT would silently mis-orient edges for id >= 2^32
    # or deg >= 2^31 — fine for the reference's 32-bit-parsed ids but
    # not for other edge sources (e.g. derived event edges), so the
    # struct form is the safe general key at identical cost (the
    # comparison stays inside whole-stage codegen).
    key = F.struct(F.col("deg"), F.col("id")).alias("k")
    keyed = deg.select("id", key)
    ka = keyed.select(F.col("id").alias("a"), F.col("k").alias("ka"))
    kb = keyed.select(F.col("id").alias("b"), F.col("k").alias("kb"))
    withk = und.join(ka, "a").join(kb, "b")
    # coalesce(-1) never fires (a/b are non-null) but marks the CASE
    # outputs NON-NULLABLE, so the downstream joins can't infer an
    # isnotnull(CASE …) filter that re-evaluates the orientation per row
    # (the inferred-filter trap pinned by tests/test_plan_shapes.py)
    oriented = withk.select(
        F.coalesce(
            F.when(F.col("ka") < F.col("kb"), F.col("a")).otherwise(F.col("b")), F.lit(-1)
        ).alias("u"),
        F.coalesce(
            F.when(F.col("ka") < F.col("kb"), F.col("b")).otherwise(F.col("a")), F.lit(-1)
        ).alias("v"),
        # kv = the key of the HIGHER endpoint (the wedge-ordering key);
        # spelled as a CASE rather than greatest() so it stays valid for
        # struct-typed keys in both engines
        F.when(F.col("ka") < F.col("kb"), F.col("kb")).otherwise(F.col("ka")).alias("kv"),
    # lazy checkpoint: o1, o2, and the closing probe all read this —
    # without it the distinct + degree agg + key joins execute three
    # times (the module's standard reuse discipline)
    ).localCheckpoint(eager=False)
    o1 = oriented.select("u", F.col("v").alias("v1"), F.col("kv").alias("k1"))
    o2 = oriented.select("u", F.col("v").alias("v2"), F.col("kv").alias("k2"))
    wedges = o1.join(o2, "u").where(F.col("k1") < F.col("k2")).select(
        F.col("v1").alias("u2"), F.col("v2").alias("v2x")
    )
    closing = oriented.select(F.col("u").alias("u2"), F.col("v").alias("v2x"))
    closed = wedges.join(closing, ["u2", "v2x"], "left_semi")
    return closed.agg(F.count("*").cast("long").alias("n_triangles"))


def triangle_count_oriented_oracle(edges_cte: str) -> str:
    return f"""WITH s AS ({edges_cte}),
und AS (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
        FROM s WHERE src <> dst),
deg AS (SELECT id, COUNT(*) AS deg FROM (
          SELECT a AS id FROM und UNION ALL SELECT b AS id FROM und) GROUP BY id),
keyed AS (SELECT id, row(deg, id) AS k FROM deg),
oriented AS (
  SELECT CASE WHEN ka.k < kb.k THEN u.a ELSE u.b END AS u,
         CASE WHEN ka.k < kb.k THEN u.b ELSE u.a END AS v,
         CASE WHEN ka.k < kb.k THEN kb.k ELSE ka.k END AS kv
  FROM und u JOIN keyed ka ON u.a = ka.id JOIN keyed kb ON u.b = kb.id),
wedges AS (
  SELECT o1.v AS u2, o2.v AS v2x
  FROM oriented o1 JOIN oriented o2 ON o1.u = o2.u AND o1.kv < o2.kv)
SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
FROM wedges w
WHERE EXISTS (SELECT 1 FROM oriented o WHERE o.u = w.u2 AND o.v = w.v2x)"""


def _edge_split(mod: int) -> Column:
    """True for the 1/``mod`` of edges with h64("src,dst") % mod = 0 —
    the deterministic content-hash edge split (never ``rand()``: reruns,
    retries and the oracle see the same split) behind the DOULION
    samplers and the IVM delta/purge sets."""
    h = h64_sql("concat(cast(src as string), ',', cast(dst as string))", "spark")
    return F.expr(f"({h}) % {mod} = 0")


def _edge_split_sql(mod: int) -> str:
    """DuckDB twin of :func:`_edge_split`."""
    h = h64_sql("concat(CAST(src AS VARCHAR), ',', CAST(dst AS VARCHAR))", "duckdb")
    return f"({h}) % {mod} = 0"


def triangle_count_sampled(
    edges: DataFrame, max_limit: int | None = None, p: int = 4
) -> DataFrame:
    """DOULION-style sampled triangle estimate (Tsourakakis et al.,
    KDD'09): keep each edge with probability 1/p via a DETERMINISTIC
    content hash (never ``rand()`` — reruns, retries, and the oracle
    all see the identical sampled graph), count raw directed triangles
    on the sampled graph with the reference pipeline, scale by p³.

    This is the sampling upgrade of the reference's own approximation
    lever (the AP job approximates by a MAX node-id cutoff,
    ``approx/Approx2HopCount.java:41``): DOULION keeps the whole graph
    topology in expectation instead of truncating it.  Emits the
    sampled raw count and the p³-scaled estimate."""
    sampled = filter_max(edges, max_limit).where(_edge_split(p))
    raw = triangle_count_raw(sampled, max_limit=None, strategy="auto")
    return raw.select(
        F.col("triangle_count_raw").alias("sampled_raw"),
        (F.col("triangle_count_raw") * F.lit(p**3)).cast("long").alias("estimated_raw"),
    )


def triangle_count_sampled_oracle(edges_cte: str, p: int = 4) -> str:
    return f"""WITH s AS ({edges_cte}),
sampled AS (SELECT * FROM s WHERE {_edge_split_sql(p)}),
paths AS (
  SELECT e1.src AS x, e1.dst AS z, e2.dst AS y
  FROM sampled e1 JOIN sampled e2 ON e1.dst = e2.src
  WHERE e2.dst <> e1.src),
closed AS (
  SELECT 1 FROM paths p2
  WHERE EXISTS (SELECT 1 FROM sampled e WHERE e.src = p2.y AND e.dst = p2.x))
SELECT CAST(COUNT(*) AS BIGINT) AS sampled_raw,
       CAST(COUNT(*) * {p ** 3} AS BIGINT) AS estimated_raw
FROM closed"""


def link_prediction_scores(
    edges: DataFrame, max_limit: int | None = None, k: int = 200
) -> DataFrame:
    """Extension: link-prediction scores for non-adjacent user pairs —
    common-neighbor count, Jaccard, and Adamic–Adar over the undirected
    follow graph, top-k by common-neighbor count.  The natural "who
    should follow whom" companion to :func:`follow_recommendations`
    (the reference's README motivates its 2-hop jobs as exactly this
    kind of follower-pattern mining, ``README.md:9-14``).

    Plan shape (100 TB): candidate pairs come from WEDGE enumeration —
    the same z-centered self equi-join as the 2-hop jobs (J1), so only
    pairs with ≥1 common neighbor ever exist (never all-pairs); the
    per-z fan-out is deg(z)², the published cap being degree-threshold
    or salting on hot hubs.  Degrees broadcast twice (|V|-sized dim);
    the rank key is the INTEGER triple (n_common, u, v) so top-k never
    tie-breaks on a float.  Scores: Jaccard = c/(du+dv−c) from exact
    ints; Adamic–Adar = Σ 1/ln(deg z) over deg≥2 common neighbors,
    identical per-term doubles on any engine, round(6) on emit.
    """
    from pyspark.sql import Window

    nbrs = neighbor_view(filter_max(edges, max_limit))
    deg = nbrs.groupBy("v").agg(F.count("*").cast("long").alias("deg"))
    za = nbrs.select(F.col("n").alias("z"), F.col("v").alias("u"))
    zb = nbrs.select(F.col("n").alias("z"), F.col("v").alias("v"))
    wedges = za.join(zb, "z").where(F.col("u") < F.col("v"))
    zdeg = deg.select(F.col("v").alias("z"), F.col("deg").alias("z_deg"))
    pairs = (
        wedges.join(F.broadcast(zdeg), "z")
        .groupBy("u", "v")
        .agg(
            F.count("*").cast("long").alias("n_common"),
            F.sum(
                F.when(F.col("z_deg") >= 2, F.lit(1.0) / F.log(F.col("z_deg")))
            ).alias("aa_raw"),
        )
    )
    # drop already-adjacent pairs: link prediction scores NEW links
    und = undirected_pairs(filter_max(edges, max_limit))
    fresh = pairs.join(
        und,
        (pairs["u"] == und["a"]) & (pairs["v"] == und["b"]),
        "left_anti",
    )
    du = deg.select(F.col("v").alias("u"), F.col("deg").alias("du"))
    dv = deg.select(F.col("v").alias("v"), F.col("deg").alias("dv"))
    scored = (
        fresh.join(F.broadcast(du), "u")
        .join(F.broadcast(dv), "v")
        .select(
            "u",
            "v",
            "n_common",
            F.round(
                F.col("n_common").cast("double")
                / (F.col("du") + F.col("dv") - F.col("n_common")).cast("double"),
                6,
            ).alias("jaccard"),
            F.round(F.coalesce(F.col("aa_raw"), F.lit(0.0)), 6).alias("adamic_adar"),
        )
    )
    w = Window.partitionBy(F.lit(0)).orderBy(
        F.col("n_common").desc(), F.col("u").asc(), F.col("v").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= k)
        .select("rank", "u", "v", "n_common", "jaccard", "adamic_adar")
    )


def link_prediction_oracle(edges_cte: str, k: int = 200) -> str:
    return f"""WITH s AS ({edges_cte}),
und AS (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
        FROM s WHERE src <> dst),
nbrs AS (SELECT a AS v, b AS n FROM und UNION ALL SELECT b AS v, a AS n FROM und),
deg AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS deg FROM nbrs GROUP BY v),
pairs AS (
  SELECT za.v AS u, zb.v AS v2, CAST(COUNT(*) AS BIGINT) AS n_common,
         SUM(CASE WHEN zd.deg >= 2 THEN 1.0 / ln(zd.deg) END) AS aa_raw
  FROM nbrs za JOIN nbrs zb ON za.n = zb.n AND za.v < zb.v
  JOIN deg zd ON za.n = zd.v
  GROUP BY 1, 2),
fresh AS (
  SELECT * FROM pairs p
  WHERE NOT EXISTS (SELECT 1 FROM und WHERE a = p.u AND b = p.v2))
SELECT rank, u, v, n_common, jaccard, adamic_adar FROM (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY f.n_common DESC, f.u ASC, f.v2 ASC)
              AS INT) AS rank,
         f.u, f.v2 AS v, f.n_common,
         round(CAST(f.n_common AS DOUBLE)
               / CAST(du.deg + dv.deg - f.n_common AS DOUBLE), 6) AS jaccard,
         round(COALESCE(f.aa_raw, 0.0), 6) AS adamic_adar
  FROM fresh f JOIN deg du ON f.u = du.v JOIN deg dv ON f.v2 = dv.v)
WHERE rank <= {k}"""


# ---------------------------------------------------------------------------
# Bipartite butterfly counting (the bipartite analogue of triangles)
# ---------------------------------------------------------------------------

def butterfly_count(edges_bip: DataFrame, deg_cap: int = 64) -> DataFrame:
    """Butterfly (2×2 biclique) count on a BIPARTITE graph — the
    bipartite analogue of the reference's triangle jobs
    (``rsjoin/RSJoinTriangleCount.java``: triangles measure closure in
    a one-mode graph; butterflies measure co-engagement in a two-mode
    one — here order-keys × part-keys).  Standard wedge formulation
    (Wang et al., "Butterfly Counting in Bipartite Networks"):

        butterflies = Σ_{p1<p2} C(common_o(p1, p2), 2)

    computed from o-centered wedges — the same z-centered self
    equi-join shape as the 2-hop jobs (J1), grouped to (p1, p2) wedge
    multiplicities, then one integer fold.  Exact BIGINT arithmetic
    throughout.

    ``deg_cap`` is the published scale knob, and it is the SAME lever
    as the reference's MAX node-id filter (its approximation device,
    ``approx/Approx2HopCount.java:41``): o-side hubs contribute
    C(deg, 2) wedges, so the per-key fan-out is quadratic in hub
    degree; capping the o-side degree bounds every key's wedge batch
    at C(cap, 2) (declared, engine-identical — the capped count IS the
    semantic, exact on the capped graph).  Emits (wedge_pairs,
    butterflies) for the cap'd graph.
    """
    deg_ok = (
        edges_bip.groupBy("o")
        .agg(F.count("*").alias("d"))
        .where(F.col("d") <= deg_cap)
        .select("o")
    )
    kept = edges_bip.join(F.broadcast(deg_ok), "o", "left_semi")
    a = kept.select("o", F.col("p").alias("p1"))
    b = kept.select("o", F.col("p").alias("p2"))
    wedges = (
        a.join(b, "o")
        .where(F.col("p1") < F.col("p2"))
        .groupBy("p1", "p2")
        .agg(F.count("*").cast("long").alias("c"))
    )
    return wedges.agg(
        F.count("*").cast("long").alias("wedge_pairs"),
        F.sum(F.expr("c * (c - 1) div 2")).cast("long").alias("butterflies"),
    )


def butterfly_count_oracle(edges_cte: str, deg_cap: int = 64) -> str:
    return f"""WITH e AS ({edges_cte}),
deg_ok AS (SELECT o FROM e GROUP BY o HAVING COUNT(*) <= {deg_cap}),
kept AS (SELECT e.o, e.p FROM e JOIN deg_ok USING (o)),
w AS (
  SELECT a.p AS p1, b.p AS p2, CAST(COUNT(*) AS BIGINT) AS c
  FROM kept a JOIN kept b ON a.o = b.o AND a.p < b.p
  GROUP BY a.p, b.p)
SELECT CAST(COUNT(*) AS BIGINT) AS wedge_pairs,
       CAST(SUM(c * (c - 1) // 2) AS BIGINT) AS butterflies
FROM w"""


def degree_gini(edges: DataFrame) -> DataFrame:
    """Gini coefficient of the (undirected simple) degree distribution —
    the attention-inequality scalar of a follower graph (G → 0: degrees
    uniform; → 1: all edges on one hub).

    SORT-FREE exact form: with ranks 1..n over ascending degree,
    G = 2·Σᵢ rankᵢ·dᵢ / (n·Σd) − (n+1)/n.  Nodes sharing a degree
    occupy consecutive ranks, so each DISTINCT degree d with count c and
    cumulative-below C contributes d·(c·C + c(c+1)/2) — the whole rank
    sum collapses onto the degree HISTOGRAM.  The plan is therefore:
    per-node degree hash agg → |distinct degrees|-sized histogram →
    one cumulative window over that bounded spine (thousands of rows on
    any graph, never |V|) → 1-row reduce.  No global sort of nodes, no
    |V|-row window — the shape a naive rank-window Gini gets wrong.

    Exactness: every term is integer, accumulated as DOUBLED rank sums
    so the per-row arithmetic needs only ONE wide multiply chain:
    2·Σranks per group = d·c·(2C + c + 1), computed as
    CAST(d AS DECIMAL(38,0))·c·(2C+c+1) — the BIGINT factors stay ≤
    ~3|V| (wrap-safe past |V| = 1e18) and the DECIMAL product carries
    d·c·(2C+c+1) ≤ 2|V|³, inside 38 digits past 1e12 nodes; G is one
    closed-form double over two exact integers, floored at 1e-6.
    Ties inside a degree group make rank assignment ambiguous, but the
    contribution uses the SUM of the group's ranks, which is
    permutation-invariant — so the histogram form equals any
    consistently-ranked per-node form.  Output: (n_nodes, n_edges,
    gini)."""
    und = undirected_pairs(edges)
    deg = (
        und.select(F.col("a").alias("v"))
        .unionAll(und.select("b"))
        .groupBy("v")
        .agg(F.count("*").cast("long").alias("d"))
    )
    hist = deg.groupBy("d").agg(F.count("*").cast("long").alias("c"))
    from pyspark.sql import Window

    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, -1)
    terms = hist.select(
        "d",
        "c",
        F.coalesce(F.sum("c").over(w), F.lit(0)).cast("long").alias("cum_below"),
    ).selectExpr(
        "CAST(c AS DECIMAL(38,0)) AS cd",
        "CAST(d AS DECIMAL(38,0)) * c * (2 * cum_below + c + 1) AS rank2_d",
        "CAST(d AS DECIMAL(38,0)) * c AS sum_d",
    )
    return terms.groupBy().agg(
        F.sum("cd").alias("n"),
        F.sum("rank2_d").alias("rsum2"),
        F.sum("sum_d").alias("dsum"),
    ).selectExpr(
        "CAST(n AS BIGINT) AS n_nodes",
        "CAST(dsum / 2 AS BIGINT) AS n_edges",
        "floor((CAST(rsum2 AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(dsum AS DOUBLE))"
        " - (CAST(n AS DOUBLE) + 1.0) / CAST(n AS DOUBLE)) * 1000000) / 1000000 AS gini",
    )


def degree_gini_oracle(edges_cte: str) -> str:
    return f"""WITH s AS ({edges_cte}),
und AS (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
        FROM s WHERE src <> dst),
deg AS (
  SELECT v, CAST(COUNT(*) AS BIGINT) AS d FROM (
    SELECT a AS v FROM und UNION ALL SELECT b AS v FROM und) GROUP BY v),
hist AS (SELECT d, CAST(COUNT(*) AS BIGINT) AS c FROM deg GROUP BY d),
terms AS (
  SELECT CAST(c AS DECIMAL(38,0)) AS cd,
         CAST(d AS DECIMAL(38,0)) * c * (2 * COALESCE(SUM(c) OVER (ORDER BY d
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           + c + 1) AS rank2_d,
         CAST(d AS DECIMAL(38,0)) * c AS sum_d
  FROM hist),
agg AS (
  SELECT SUM(cd) AS n, SUM(rank2_d) AS rsum2, SUM(sum_d) AS dsum FROM terms)
SELECT CAST(n AS BIGINT) AS n_nodes,
  CAST(dsum / 2 AS BIGINT) AS n_edges,
  floor((CAST(rsum2 AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(dsum AS DOUBLE))
    - (CAST(n AS DOUBLE) + 1.0) / CAST(n AS DOUBLE)) * 1000000) / 1000000 AS gini
FROM agg"""


def rich_club(edges: DataFrame, ks: tuple[int, ...] = (2, 4, 8, 16)) -> DataFrame:
    """Rich-club coefficient φ(k) at several degree thresholds — do the
    hubs preferentially follow EACH OTHER?  φ(k) = E_k / C(N_k, 2)
    where N_k = nodes of undirected degree > k and E_k = simple edges
    with both endpoints in that club; φ → 1 means the k-club is a
    near-clique (the "elite wiring" signal; degree_assortativity is the
    correlation version, this is the subgraph-density version).

    One pass per table: canonical undirected simple edges (least/
    greatest, self-loops dropped) → degree agg → edges annotated with
    both endpoint degrees (two |V|-sized equi-joins) → ALL thresholds
    fold into one conditional aggregate each on the edge table and the
    degree table, crossed 1 × 1 — never one job per k.  Exact BIGINT
    counts, φ floored 1e-6, |club| < 2 guarded.

    Output (|ks| rows): (k, n_club, e_club, phi).
    """
    und = (
        edges.selectExpr(
            "least(src, dst) AS a", "greatest(src, dst) AS b"
        )
        .where("a <> b")
        .distinct()
        .localCheckpoint(eager=False)
    )
    deg = (
        und.selectExpr("a AS id")
        .unionAll(und.selectExpr("b AS id"))
        .groupBy("id")
        .agg(F.count("*").cast("long").alias("d"))
    )
    da = deg.selectExpr("id AS a", "d AS da")
    db = deg.selectExpr("id AS b", "d AS db")
    ewd = und.join(da, "a").join(db, "b")
    e_aggs = [
        F.sum(F.expr(f"CAST(da > {k} AND db > {k} AS BIGINT)"))
        .cast("long")
        .alias(f"e{k}")
        for k in ks
    ]
    n_aggs = [
        F.sum(F.expr(f"CAST(d > {k} AS BIGINT)")).cast("long").alias(f"n{k}")
        for k in ks
    ]
    # 1 x 1 declared cross: edge-side reduce x node-side reduce
    both = ewd.agg(*e_aggs).crossJoin(F.broadcast(deg.agg(*n_aggs)))
    stack_args = ", ".join(f"{k}, n{k}, e{k}" for k in ks)
    return both.selectExpr(
        f"stack({len(ks)}, {stack_args}) AS (k, n_club, e_club)"
    ).selectExpr(
        "CAST(k AS BIGINT) AS k",
        "n_club",
        "e_club",
        "CASE WHEN n_club > 1 THEN"
        " floor(CAST(e_club AS DOUBLE) * 2 / (CAST(n_club AS DOUBLE) * (n_club - 1))"
        " * 1000000) / 1000000 END AS phi",
    )


def rich_club_oracle(edges_cte: str, ks: tuple[int, ...] = (2, 4, 8, 16)) -> str:
    e_sums = ",\n         ".join(
        f"CAST(SUM(CAST(da > {k} AND db > {k} AS BIGINT)) AS BIGINT) AS e{k}"
        for k in ks
    )
    n_sums = ",\n         ".join(
        f"CAST(SUM(CAST(d > {k} AS BIGINT)) AS BIGINT) AS n{k}" for k in ks
    )
    arms = "\n  UNION ALL\n".join(
        f"  SELECT CAST({k} AS BIGINT) AS k, n{k} AS n_club, e{k} AS e_club FROM agg2"
        for k in ks
    )
    return f"""WITH s AS ({edges_cte}),
und AS (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM s WHERE src <> dst),
deg AS (
  SELECT id, CAST(COUNT(*) AS BIGINT) AS d FROM (
    SELECT a AS id FROM und UNION ALL SELECT b FROM und) u GROUP BY 1),
ewd AS (
  SELECT da.d AS da, db.d AS db
  FROM und JOIN deg da ON und.a = da.id JOIN deg db ON und.b = db.id),
e_agg AS (SELECT {e_sums} FROM ewd),
n_agg AS (SELECT {n_sums} FROM deg),
agg2 AS (SELECT * FROM e_agg CROSS JOIN n_agg),
rows_ AS (
{arms})
SELECT k, n_club, e_club,
  CASE WHEN n_club > 1 THEN
    floor(CAST(e_club AS DOUBLE) * 2 / (CAST(n_club AS DOUBLE) * (n_club - 1))
      * 1000000) / 1000000 END AS phi
FROM rows_"""


def triangle_census_directed(
    edges: DataFrame, max_limit: int | None = None
) -> DataFrame:
    """Directed triangle MOTIF census — cyclic (a→b→c→a, the feedback
    loop) vs transitive (a→b, b→c, a→c, the hierarchy motif): the
    direction-aware refinement of the reference's triangle pipeline
    (``rsjoin/RSJoinTriangleCount.java`` counts closures of its directed
    2-paths without classifying them).  On a follower graph the
    cyclic:transitive ratio is the classic hierarchy-vs-community
    signal: hierarchical graphs are transitive-heavy, reciprocal
    communities push cycles.

    Plan: ONE directed 2-path equi-join (the AP/RS wedge shape, MAX
    cutoff bounding hub fan-out exactly as the reference's jobs do),
    lazily checkpointed because BOTH closure probes read it; each
    closure is an equi-join against the distinct edge set.  A cyclic
    triangle produces 3 closing rotations (÷3); a transitive instance
    has distinguishable source/middle/sink roles and counts once.

    Output (2 rows): motif ∈ {cyclic, transitive}, n BIGINT.
    """
    e = directed_pairs(filter_max(edges, max_limit)).localCheckpoint(eager=False)
    p = _two_paths(e, e).localCheckpoint(eager=False)
    cyc = (
        _closed(p, e)
        .agg(F.count("*").alias("n3"))
        .selectExpr("'cyclic' AS motif", "CAST(n3 div 3 AS BIGINT) AS n")
    )
    # the transitive edge x→z closes the path as z→x of the reversed edges
    rev = e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    trans = (
        _closed(p, rev)
        .agg(F.count("*").alias("n1"))
        .selectExpr("'transitive' AS motif", "CAST(n1 AS BIGINT) AS n")
    )
    return cyc.unionAll(trans)


def triangle_census_directed_oracle(edges_cte: str) -> str:
    return f"""WITH s AS ({edges_cte}),
e AS (SELECT DISTINCT src, dst FROM s WHERE src <> dst),
p AS (
  SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
  FROM e e1 JOIN e e2 ON e1.dst = e2.src
  WHERE e1.src <> e2.dst)
SELECT 'cyclic' AS motif,
       CAST((SELECT COUNT(*) FROM p JOIN e e3 ON p.c = e3.src AND e3.dst = p.a) // 3
            AS BIGINT) AS n
UNION ALL
SELECT 'transitive',
       CAST((SELECT COUNT(*) FROM p JOIN e e3 ON p.a = e3.src AND e3.dst = p.c)
            AS BIGINT)"""


def closure_count(s1: DataFrame, s2: DataFrame, s3: DataFrame) -> DataFrame:
    """1-row ``n``: raw directed closures a→b→c→a with a≠c, position 1/2/3
    drawn from ``s1``/``s2``/``s3`` — the reference's RS closure probe
    (``rsjoin/RSJoinTriangleCount.java``) parameterized over its input
    relations — the exact full recounts the IVM operators and the
    streamed view gate against (the delta terms come from
    :func:`delta_closures`)."""
    return _closed(_two_paths(s1, s2), s3).agg(F.count("*").cast("long").alias("n"))


def delta_closures(d: DataFrame, u: DataFrame) -> DataFrame:
    """The three insert/delete IVM delta terms as ONE join pipeline:
    every raw closure a→b→c→a (a≠c) whose first edge is in ``d``,
    second and third edges drawn from ``u`` (src, dst, in_d) — ``u``
    must contain ``d`` and tag those rows ``in_d``.  Returns one row
    per closure with ``f2``/``f3`` (edge 2/3 is in D), so

        |(D,U,U)| = COUNT(*),  |(D,D,U)| = COUNT_IF(f2),
        |(D,D,D)| = COUNT_IF(f2 AND f3),

    and its weight ``w`` = 3 − 3·f2 + (f2∧f3), so ``SUM(w)`` is the IVM
    delta 3·|DUU| − 3·|DDU| + |DDD|.  Two joins and no aggregate where
    three :func:`closure_count` plans cost six joins and three
    aggregates; every row still starts from a delta edge."""
    paths = _two_paths(d, u.withColumnRenamed("in_d", "f2"))
    return _closed(paths, u.withColumnRenamed("in_d", "f3")).selectExpr(
        "f2", "f3", "CAST(3 - 3 * CAST(f2 AS INT) + CAST(f2 AND f3 AS INT) AS BIGINT) AS w"
    )


def delta_closure_sum(d: DataFrame, u: DataFrame) -> DataFrame:
    """1-row ``n``: the IVM delta 3·|DUU| − 3·|DDU| + |DDD| as
    ``SUM(w)`` over :func:`delta_closures` (0 on an empty delta)."""
    return delta_closures(d, u).agg(
        F.expr("CAST(coalesce(SUM(w), 0) AS BIGINT)").alias("n")
    )


#: Output column maps of the IVM pair over :func:`_ivm_counts`' row —
#: inserts add the split-off delta to the rest, deletes purge it from
#: the full set; the engine and its oracle select the same map.
_IVM_INSERTS = (
    "n_rest AS t_base_raw",
    "n_delta AS t_added_raw",
    "n_full AS t_total_raw",
    "n_rest + n_delta = n_full AS consistent",
)
_IVM_DELETES = (
    "n_full AS t_before_raw",
    "n_delta AS t_lost_raw",
    "n_rest AS t_after_raw",
    "n_full - n_delta = n_rest AS consistent",
)


def _ivm_counts(edges: DataFrame, max_limit: int | None, mod: int) -> DataFrame:
    """1 row (n_rest, n_delta, n_full) over U = the simple edge set,
    split by :func:`_edge_split` into D and the rest: the full
    recounts of the rest and of U, and the delta term
    3·|DUU| − 3·|DDU| + |DDD| from ONE tagged pass
    (:func:`delta_closure_sum`), U's rows carrying the split as
    ``in_d`` inside the one lazy checkpoint."""
    u = (
        directed_pairs(filter_max(edges, max_limit))
        .withColumn("in_d", _edge_split(mod))
        .localCheckpoint(eager=False)
    )
    d = u.where("in_d")
    rest = u.where("NOT in_d")
    # n - n: data-derived zero keys — a foldable literal would collapse
    # the equi-joins below into nested-loop crosses (the bm25 glob trick)
    n_rest = closure_count(rest, rest, rest).selectExpr("n AS n_rest", "n - n AS _k")
    n_delta = delta_closure_sum(d, u).selectExpr("n AS n_delta", "n - n AS _k")
    n_full = closure_count(u, u, u).selectExpr("n AS n_full", "n - n AS _k")
    return n_rest.join(F.broadcast(n_delta), "_k").join(F.broadcast(n_full), "_k")


def _ivm_counts_oracle(edges_cte: str, mod: int, cols: tuple[str, ...]) -> str:
    """DuckDB twin of :func:`_ivm_counts` with every closure term
    counted separately, then ``cols`` selected from it."""
    closure = (
        "SELECT CAST(COUNT(*) AS BIGINT) AS n "
        "FROM {s1} e1 JOIN {s2} e2 ON e1.dst = e2.src AND e1.src <> e2.dst "
        "JOIN {s3} e3 ON e3.src = e2.dst AND e3.dst = e1.src"
    )
    return f"""WITH s AS ({edges_cte}),
u AS (SELECT DISTINCT src, dst FROM s WHERE src <> dst),
d AS (SELECT * FROM u WHERE {_edge_split_sql(mod)}),
rest AS (SELECT * FROM u WHERE NOT ({_edge_split_sql(mod)})),
r AS ({closure.format(s1='rest', s2='rest', s3='rest')}),
a_duu AS ({closure.format(s1='d', s2='u', s3='u')}),
b_ddu AS ({closure.format(s1='d', s2='d', s3='u')}),
c_ddd AS ({closure.format(s1='d', s2='d', s3='d')}),
f AS ({closure.format(s1='u', s2='u', s3='u')}),
counts AS (
  SELECT r.n AS n_rest,
         CAST(3 * a_duu.n - 3 * b_ddu.n + c_ddd.n AS BIGINT) AS n_delta,
         f.n AS n_full
  FROM r, a_duu, b_ddu, c_ddd, f)
SELECT {", ".join(cols)} FROM counts"""


def triangle_count_ivm(
    edges: DataFrame, max_limit: int | None = None, delta_mod: int = 4
) -> DataFrame:
    """INCREMENTAL raw-triangle maintenance under edge inserts — the
    graph-IVM companion of ``degrees_incremental`` / ``join_delta_ivm``:
    a daily edge ingest updates the standing triangle count by counting
    only the closures the DELTA participates in, never recounting the
    base graph.  Base/delta split is deterministic (h64(src,dst) %
    ``delta_mod`` == 0 → delta, the house content-hash discipline).

    The delta contribution uses rotation symmetry + inclusion-exclusion
    over the three edge positions of the raw directed closure count
    (each cyclic triangle contributes its 3 rotations, so per-position
    counts are equal):

        added = 3·|(D,U,U)| − 3·|(D,D,U)| + |(D,D,D)|,  U = E ∪ D

    All three terms come from ONE tagged pass (:func:`delta_closures`):
    closures starting from a delta edge, joined twice against U whose
    rows carry the split predicate as the ``in_d`` flag, summed by
    closure weight.  Every row starts from a delta edge, so the
    joins are |D|·deg-driven — at 100 TB the base graph is touched only
    through the equi-joins the delta probes, which is the whole point
    of IVM.  ``t_total_raw`` is recomputed exactly as the gate companion
    (the sketch-op discipline: the consistency boolean
    ``t_base_raw + t_added_raw == t_total_raw`` is what the oracle
    pins; production omits the recount).

    Output (1 row): t_base_raw, t_added_raw, t_total_raw, consistent.
    """
    return _ivm_counts(edges, max_limit, delta_mod).selectExpr(*_IVM_INSERTS)


def triangle_count_ivm_oracle(edges_cte: str, delta_mod: int = 4) -> str:
    return _ivm_counts_oracle(edges_cte, delta_mod, _IVM_INSERTS)


def triangle_census_sampled(
    edges: DataFrame, max_limit: int | None = None, p: int = 4
) -> DataFrame:
    """DOULION-sampled directed motif census — the registered SCALE
    PATH past :func:`triangle_census_directed`'s MAX cutoff (the exact
    census costs one wedge join, quadratic in hub fan-out; measured
    8.6× from MAX=200→500 at sf0.1, SCALE.md).  Each directed edge
    survives with probability 1/p via the same DETERMINISTIC content
    hash as :func:`triangle_count_sampled` (reruns, retries, and the
    oracle see the identical sampled graph — never ``rand()``); the
    exact census pipeline runs on the sampled graph (wedge volume
    drops ~p², closures ~p³) and both motif counts scale by p³, since
    a triangle of either orientation needs its 3 specific edges to
    survive (Tsourakakis et al., KDD'09 — unbiased, variance shrinking
    with the triangle count).

    Output (2 rows): motif ∈ {cyclic, transitive}, sampled_n, and the
    p³-scaled estimated_n."""
    sampled = filter_max(edges, max_limit).where(_edge_split(p))
    census = triangle_census_directed(sampled, max_limit=None)
    return census.select(
        "motif",
        F.col("n").alias("sampled_n"),
        (F.col("n") * F.lit(p**3)).cast("long").alias("estimated_n"),
    )


def triangle_census_sampled_oracle(edges_cte: str, p: int = 4) -> str:
    return f"""WITH s AS ({edges_cte}),
samp AS (SELECT * FROM s WHERE {_edge_split_sql(p)}),
e AS (SELECT DISTINCT src, dst FROM samp WHERE src <> dst),
p2 AS (
  SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
  FROM e e1 JOIN e e2 ON e1.dst = e2.src
  WHERE e1.src <> e2.dst),
cyc AS (SELECT COUNT(*) // 3 AS n
        FROM p2 JOIN e e3 ON p2.c = e3.src AND e3.dst = p2.a),
trn AS (SELECT COUNT(*) AS n
        FROM p2 JOIN e e3 ON p2.a = e3.src AND e3.dst = p2.c)
SELECT 'cyclic' AS motif, CAST(n AS BIGINT) AS sampled_n,
       CAST(n * {p ** 3} AS BIGINT) AS estimated_n FROM cyc
UNION ALL
SELECT 'transitive', CAST(n AS BIGINT), CAST(n * {p ** 3} AS BIGINT) FROM trn"""


def negative_samples(
    edges: DataFrame, max_limit: int | None = None, k: int = 5, n_slots: int = 12
) -> DataFrame:
    """Deterministic NEGATIVE sampling for link-prediction training —
    the complement of :func:`link_prediction_scores` (which scores
    positive candidates): every node draws ``k`` non-neighbors as
    training negatives, reproducibly.  The standard ``rand()`` negative
    sampler is rerun/retry/partition-unstable and silently resamples on
    every epoch rebuild; here candidate ``v`` for ``(u, slot)`` is
    ``node_index[h64(u || ':' || slot) % |V|]`` — a pure function of
    the graph content, so the training set replays bit-identically
    (the house h64-membership discipline, splits.py).

    The dense node index is a DISTRIBUTED TWO-LEVEL PREFIX SUM (the
    ``concurrency_curve`` decomposition, events.py): a single global
    ``row_number`` over |V| nodes would be a one-task sort — at
    Twitter scale a hundreds-of-millions-row sort on one executor —
    so nodes bucket by ``pmod(h64(id), B)``, rank within their bucket
    (shuffle-partitioned window), and add an exclusive prefix sum of
    bucket sizes computed on the ≤B-row bucket spine (the only
    unpartitioned window, bounded by the constant B, broadcast back).
    ``idx = bucket_offset + rn − 1`` is dense 0..|V|−1 and a pure
    function of the node set, just not globally id-ordered — any
    deterministic bijection serves the sampler equally.

    Plan shape at 100 TB: candidates are |V|·n_slots scan-side hash
    rows equi-joined to the |V|-row node index (never a |V|² cross),
    anti-joined against the edge set (positives removed in one
    shuffle), then a per-u rank window keeps the first ``k`` by slot —
    state per node is n_slots rows, and collisions/self-pairs simply
    consume slots (n_slots > k buys headroom; nodes whose neighborhood
    swallows most slots emit fewer than k, the documented behavior a
    caller tunes n_slots for).

    Output: (u, v, slot, neg_rank) with neg_rank 1..≤k.
    """
    e = directed_pairs(filter_max(edges, max_limit))
    nodes = (
        e.select(F.col("src").alias("id"))
        .union(e.select(F.col("dst")))
        .distinct()
    )
    from pyspark.sql import Window

    B = NEG_INDEX_BUCKETS
    hb = h64_sql("cast(id as string)", "spark")
    bucketed = nodes.selectExpr("id AS v", f"({hb}) % {B} AS bkt")
    w_in = Window.partitionBy("bkt").orderBy(F.col("v").asc())
    # exclusive prefix sum of bucket sizes over the ≤B-row spine, with
    # no unpartitioned window and no driver collect
    offs = spine_offsets(
        bucketed.groupBy("bkt").agg(F.count("*").alias("bn")), "bkt", "bn", "off"
    )
    indexed = (
        bucketed.withColumn("rn", F.row_number().over(w_in))
        .join(F.broadcast(offs), "bkt")
        .select("v", (F.col("off") + F.col("rn") - 1).alias("idx"))
    )
    n_nodes = indexed.selectExpr("CAST(COUNT(*) AS BIGINT) AS n")
    h = h64_sql(f"concat(cast(u as string), ':', cast(slot as string))", "spark")
    cand = (
        nodes.select(F.col("id").alias("u"))
        .select("u", F.explode(F.array(*[F.lit(s) for s in range(n_slots)])).alias("slot"))
        .crossJoin(F.broadcast(n_nodes))  # |V|·slots × 1: declared cardinality × 1
        .selectExpr("u", "slot", f"({h}) % n AS idx")
        .join(indexed, "idx")
        .where(F.col("u") != F.col("v"))
    )
    # remove positives IN BOTH DIRECTIONS: (u,v) is a negative only if
    # neither u→v nor v→u exists in the directed edge set
    neg = cand.join(
        e, (cand["u"] == e["src"]) & (cand["v"] == e["dst"]), "left_anti"
    )
    neg = neg.join(
        e, (neg["u"] == e["dst"]) & (neg["v"] == e["src"]), "left_anti"
    )
    wr = Window.partitionBy("u").orderBy(F.col("slot").asc(), F.col("v").asc())
    return (
        neg.withColumn("neg_rank", F.row_number().over(wr))
        .where(F.col("neg_rank") <= k)
        .select("u", "v", "slot", "neg_rank")
    )


def negative_samples_oracle(
    edges_cte: str, k: int = 5, n_slots: int = 12
) -> str:
    h = h64_sql("CAST(u AS VARCHAR) || ':' || CAST(slot AS VARCHAR)", "duckdb")
    hb = h64_sql("CAST(id AS VARCHAR)", "duckdb")
    B = NEG_INDEX_BUCKETS
    return f"""WITH s AS ({edges_cte}),
e AS (SELECT DISTINCT src, dst FROM s WHERE src <> dst),
nodes AS (SELECT DISTINCT id FROM (SELECT src AS id FROM e UNION SELECT dst FROM e)),
bucketed AS (SELECT id AS v, ({hb}) % {B} AS bkt FROM nodes),
sized AS (SELECT bkt, COUNT(*) AS bn FROM bucketed GROUP BY bkt),
offs AS (
  SELECT bkt, COALESCE(SUM(bn) OVER (ORDER BY bkt ASC
    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off FROM sized),
indexed AS (
  SELECT b.v,
         o.off + ROW_NUMBER() OVER (PARTITION BY b.bkt ORDER BY b.v ASC) - 1 AS idx
  FROM bucketed b JOIN offs o ON b.bkt = o.bkt),
n_nodes AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes),
cand AS (
  SELECT u, slot, ({h}) % n AS idx
  FROM (SELECT id AS u FROM nodes) nu
  CROSS JOIN (SELECT unnest(range({n_slots})) AS slot) sl
  CROSS JOIN n_nodes),
withv AS (
  SELECT c.u, c.slot, i.v FROM cand c JOIN indexed i ON c.idx = i.idx
  WHERE c.u <> i.v),
neg AS (
  SELECT w.u, w.slot, w.v FROM withv w
  WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.src = w.u AND e.dst = w.v)
    AND NOT EXISTS (SELECT 1 FROM e WHERE e.src = w.v AND e.dst = w.u))
SELECT u, v, slot, neg_rank FROM (
  SELECT u, v, slot,
         ROW_NUMBER() OVER (PARTITION BY u ORDER BY slot ASC, v ASC) AS neg_rank
  FROM neg)
WHERE neg_rank <= {k}"""


def triangle_count_ivm_deletes(
    edges: DataFrame, max_limit: int | None = None, delete_mod: int = 4
) -> DataFrame:
    """Incremental raw-triangle maintenance under edge DELETIONS — the
    hard direction of graph IVM (inserts never invalidate standing
    results; deletes do, which is why append-only systems punt on
    them).  A deterministic hash split marks 1/``delete_mod`` of the
    edge set as a retention purge; the standing count is maintained by
    counting only the closures the purged edges participated in,
    against the PRE-deletion graph:

        lost = 3·|(D,U,U)| − 3·|(D,D,U)| + |(D,D,D)|,  U = full set

    — the same rotation-symmetry + inclusion-exclusion algebra as the
    insert case (:func:`triangle_count_ivm`), evaluated against U
    instead of the post-change graph, in the same single tagged pass
    (:func:`delta_closures`, the purge predicate as U's ``in_d``
    flag), so every join is |D|·deg-driven and the surviving graph is
    never recounted.  The exact recount of the post-deletion graph is
    the gate companion (``t_before_raw − t_lost_raw == t_after_raw``);
    production omits it.  Output (1 row): t_before_raw, t_lost_raw,
    t_after_raw, consistent.
    """
    return _ivm_counts(edges, max_limit, delete_mod).selectExpr(*_IVM_DELETES)


def triangle_count_ivm_deletes_oracle(edges_cte: str, delete_mod: int = 4) -> str:
    return _ivm_counts_oracle(edges_cte, delete_mod, _IVM_DELETES)
