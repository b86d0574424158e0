"""Iterative graph algorithms — connected components and PageRank —
the multi-pass extension of the reference's one/two-pass pattern jobs
(2-hop, triangles: SURVEY.md §2; ``rsjoin/RSJoinTriangleCount.java``
chains exactly two MapReduce jobs by hand via an HDFS ``Temp`` dir).

Spark-first iteration model: each pass is a declarative join + aggregate
DAG; the driver loop only decides WHEN to stop, never touches row data.
``_ckpt`` (a lazy localCheckpoint behind a bare-LogicalRDD rebuild, see
its docstring for the measured exponential it prevents) truncates
lineage AND captured optimizer state per pass so the plan stays O(1)
deep instead of O(iterations) (the Spark analogue of the reference's
job-chaining materialization, minus HDFS round-trips).
Checkpoints are lazy throughout: each pass's convergence action (or the
final sink, for fixed-iteration loops) is what materializes it, so a
pass costs ONE job — eager checkpointing doubled that with a
materialize-job before every convergence count.

Scale notes (100 TB):
  * hash-min label propagation converges in O(diameter) passes; for
    power-law webgraphs the published fix is large-star/small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14) which contracts high-degree stars in O(log n) passes —
    same join-shape per pass, so the plumbing below carries over.
  * each pass is two shuffles (join on dst, re-aggregate on id); the
    convergence check piggybacks on the same pass output (a count of
    changed labels), adding one cheap action per pass.
  * PageRank keeps per-pass rank sums in DECIMAL so the cross-engine
    result is exact: decimal SUM is associative/order-independent,
    unlike double SUM whose value depends on shuffle merge order.
    Per-edge contributions are IEEE double ops (bit-identical on any
    engine); only the commutative reduction is decimal.
"""

from __future__ import annotations

import re
import warnings

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: decimal type used for the order-independent rank reduction
_DEC = "decimal(28,12)"

#: fast-path instrumentation: count of successful bare-LogicalRDD
#: rebuilds (pinned by test — a Spark upgrade that drops the private
#: API must fail loudly, not silently re-hit the exponential wall)
_CKPT_FAST_PATH_USES = 0
_CKPT_FALLBACK_WARNED = False


def _ckpt(df: DataFrame) -> DataFrame:
    """Lazy localCheckpoint with PLAN-HISTORY SEVERANCE — what every
    iterative loop in this module uses instead of a bare
    ``localCheckpoint(eager=False)``.

    Root cause (measured, round 8): ``Dataset.localCheckpoint`` builds
    its result via ``LogicalRDD.fromDataset``, which CAPTURES the origin
    dataset's optimizer state (stats + constraint set) into the new
    leaf.  In a loop whose next pass references the checkpointed frame
    TWICE (every peeling/self-join shape), that captured state compounds
    ~2.5× per pass — by pass ~18 the ``localCheckpoint`` CALL ITSELF
    (driver-side, not the job: jobs stayed 6 jobs/10 stages/11 tasks
    flat) costs seconds and doubles every pass: 0.5 s → 0.8 → 1.6 → 4.2
    → 10 → 27 → 70 s on a 200-node toy graph, identically with
    eager=True, codegen off, broadcast off, and constraint propagation
    off.  Fix: rebuild a BARE ``LogicalRDD`` from the physical RDD
    (``internalCreateDataFrame`` — no origin capture) and checkpoint
    THAT: per-pass cost is flat 0.3 s through 30+ passes.  Correctness
    is unchanged — the wrapped ``localCheckpoint`` still does the
    row-copy + lazy materialization; values/schema are byte-identical
    (the full oracle suite re-passed).  Without this, ANY ≳17-pass chain
    (SCC's O(#SCC) super-rounds, BFS/SSSP frontiers, deep coreness
    tiers) hits a driver-side exponential wall that no cluster size can
    buy back.

    The bare-rebuild path touches one ``private[sql]`` JVM method, so it
    degrades gracefully to the plain form if the API drifts — but LOUDLY
    (one RuntimeWarning per process): silent degradation would re-hit
    the exponential wall with no signal.  ``_CKPT_FAST_PATH_USES`` pins
    the fast path in tests against exactly that drift."""
    global _CKPT_FAST_PATH_USES, _CKPT_FALLBACK_WARNED
    spark = df.sparkSession
    try:
        jdf = df._jdf
        jrdd = jdf.queryExecution().toRdd()
        j2 = spark._jsparkSession.internalCreateDataFrame(jrdd, jdf.schema(), False)
        df = DataFrame(j2, spark)
        _CKPT_FAST_PATH_USES += 1
    except Exception as exc:  # private-API drift fallback
        if not _CKPT_FALLBACK_WARNED:
            _CKPT_FALLBACK_WARNED = True
            warnings.warn(
                "_ckpt bare-LogicalRDD rebuild unavailable"
                f" ({type(exc).__name__}: {exc}); falling back to plain"
                " localCheckpoint — iterative chains of ~17+ passes will"
                " hit the exponential driver-side localCheckpoint cost"
                " this fast path exists to remove",
                RuntimeWarning,
                stacklevel=2,
            )
    return df.localCheckpoint(eager=False)


def _integral(dtype: str) -> bool:
    """True iff labels of Spark type ``dtype`` are whole numbers, so an
    exact DECIMAL(38,0) label sum is a faithful convergence fingerprint.
    Float, double and fractional-decimal labels are not: the cast rounds
    2.4 and 2.2 alike, so a moved label can leave the sum unchanged and
    stop the loop early — they take the hash fingerprint instead."""
    return dtype in ("tinyint", "smallint", "int", "bigint") or bool(
        re.fullmatch(r"decimal\(\d+,0\)", dtype)
    )


def connected_components(edges: DataFrame, max_iter: int = 50, fold: int = 4) -> DataFrame:
    """Undirected connected components by hash-min label propagation:
    every node's label converges to the minimum node id reachable from
    it.  Returns (id, comp).

    Round-12 optimization (guide §1.2 "the distributed algorithm" /
    §7.3 driver-side planning): ``fold`` propagation passes compose
    into ONE lazy plan between checkpoints, and convergence is checked
    once per fold instead of once per pass.  Measured at sf0.1 the old
    per-pass protocol cost ~0.25 s of Catalyst planning (the
    ``localCheckpoint`` call) plus ~0.09 s of convergence action per
    pass × 26 passes while the pass's actual data work was ~0.01 s —
    ~90% of the query was driver overhead.  Folding is label-exact:

      * each pass is ``comp'[v] = min(comp[v], min_{u∈N(v)} comp[u])``
        — composing k of them lazily computes the identical labels to
        k checkpointed passes (checkpoints never change values);
      * once converged, a pass is the identity, so the ≤ fold-1
        surplus passes the coarser convergence check admits cannot
        change the result — the returned fixpoint is identical;
      * labels are pointwise non-increasing, so ``SUM(comp)`` is
        strictly decreasing until convergence: an unchanged sum across
        a fold ⟺ no label moved in that fold (exact DECIMAL(38,0)
        sum of integral labels — no hash-collision caveat).  Other
        node ids (the collocation/dedup text graphs propagate STRING
        labels; float/double/fractional-decimal ids would round in
        the sum) use the ``connected_components_twostar`` fingerprint
        instead — (count, Σ xxhash64(id, comp)) — same 2⁻⁶⁴ collision
        discipline.

    The propagation table carries explicit self-loops so a pass
    references ``comp`` ONCE (``min over N(v) ∪ {v}``) — the k folded
    passes chain linearly instead of doubling the plan per pass.

    Scale trade-off (documented for the 100 TB path): each surplus
    pass re-shuffles the edge table, while each saved convergence
    check removes a full cluster barrier + driver round-trip; on
    O(diameter) graphs the check count drops by ``fold``× for at most
    ``2·fold-1`` identity passes.  ``fold=1`` restores per-pass
    checking for clusters where a pass is expensive relative to a
    barrier.
    """
    if fold < 1:
        raise ValueError(f"fold must be >= 1, got {fold}")
    und = (
        edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        .union(edges.select(F.col("dst").alias("a"), F.col("src").alias("b")))
        .distinct()
        .transform(_ckpt)
    )
    # neighbor view + self-loops: one reference to comp per pass, and
    # the seed pass (min over N(v) ∪ {v}) is the same single hash agg
    prop = und.unionAll(
        und.select(F.col("a"), F.col("a").alias("b")).distinct()
    ).transform(_ckpt)
    comp = (
        prop.groupBy(F.col("a").alias("id"))
        .agg(F.min("b").alias("comp"))
        .transform(_ckpt)
    )

    if _integral(dict(comp.dtypes)["comp"]):
        fp_aggs = [F.sum(F.col("comp").cast("decimal(38,0)")).alias("s")]
    else:
        fp_aggs = [
            F.count("*").alias("n"),
            F.sum(F.xxhash64("id", "comp").cast("decimal(38,0)")).alias("h"),
        ]
    prev_fp = None
    passes = 0
    while passes < max_iter:
        k = min(fold, max_iter - passes)
        for _ in range(k):
            comp = (
                prop.join(comp, prop["b"] == comp["id"])
                .groupBy(prop["a"].alias("id"))
                .agg(F.min("comp").alias("comp"))
            )
            passes += 1
        # one lazy checkpoint + one convergence action per fold: the
        # fingerprint agg below is what materializes the k passes
        comp = _ckpt(comp)
        cur_fp = tuple(comp.agg(*fp_aggs).collect()[0])
        if cur_fp == prev_fp:
            break
        prev_fp = cur_fp
    return comp


def connected_components_oracle(edges_cte: str) -> str:
    """DuckDB oracle: min reachable id via a recursive transitive
    closure — exponential-state formulation that is only viable at
    oracle scale (sf0.01), which is exactly why the engine side
    iterates label propagation instead."""
    return f"""WITH RECURSIVE s AS ({edges_cte}),
und AS (SELECT src AS a, dst AS b FROM s UNION SELECT dst, src FROM s),
walk(id, r) AS (
  SELECT a, a FROM und
  UNION
  SELECT w.id, u.b FROM walk w JOIN und u ON w.r = u.a
)
SELECT id, MIN(r) AS comp FROM walk GROUP BY id"""


def _pagerank_fixpoint(
    edges: DataFrame,
    iters: int,
    damping: float,
    seed_expr,
    teleport_expr,
    out_name: str,
    fold: int = 4,
) -> DataFrame:
    """Shared fixed-point loop for the PageRank family:
    rank₀ = seed_expr; rankᵢ₊₁ = teleport_expr + d·Σ rank(u)/out_deg(u)
    (un-normalized; dangling mass dropped — semantics pinned for the
    oracles).  ``seed_expr``/``teleport_expr`` are Column factories
    taking the node-id Column, so the global and personalized variants
    are one loop with two expressions swapped — a dangling-mass or
    checkpointing fix lands in both at once.

    Scale: out_deg is a static per-source property, folded into the
    edge table ONCE before the loop (halves the per-pass join count;
    the widened table is the natural artifact to bucket by src).
    Checkpoints are lazy — the final sink materializes the whole chain
    in one job; the rank reduction runs in DECIMAL so the result is
    bit-identical under any partitioning, which is what makes the
    unrolled-CTE oracles exact.

    Round-12 (guide §1.2 / §7.3): the rank frame is referenced exactly
    ONCE per pass (the contribs join), so consecutive passes chain
    LINEARLY and only every ``fold``-th pass needs the lineage-cutting
    checkpoint — checkpoints never change values, so the composed plan
    computes identical ranks.  Measured at sf0.1 the per-pass ``_ckpt``
    planning was 3.67 s of the 4.06 s warm runtime while executing the
    whole 5-pass DAG took 0.04 s; with ``fold=4`` the loop plans twice
    instead of five times."""
    if fold < 1:
        raise ValueError(f"fold must be >= 1, got {fold}")
    e = edges.select("src", "dst").transform(_ckpt)
    deg = e.groupBy("src").agg(F.count("*").alias("out_deg"))
    e_deg = e.join(deg, "src").transform(_ckpt)
    nodes = (
        e.select(F.col("src").alias("id"))
        .union(e.select(F.col("dst").alias("id")))
        .distinct()
        .transform(_ckpt)
    )
    ranks = nodes.select("id", seed_expr(F.col("id")).cast(_DEC).alias("rank"))
    for i in range(iters):
        contribs = e_deg.join(ranks, e_deg["src"] == ranks["id"]).select(
            F.col("dst").alias("id"),
            (F.col("rank").cast("double") / F.col("out_deg")).cast(_DEC).alias("contrib"),
        )
        sums = contribs.groupBy("id").agg(F.sum("contrib").alias("mass"))
        ranks = nodes.join(sums, "id", "left").select(
            "id",
            (
                teleport_expr(F.col("id"))
                + F.lit(damping) * F.coalesce(F.col("mass").cast("double"), F.lit(0.0))
            )
            .cast(_DEC)
            .alias("rank"),
        )
        # checkpoint every fold-th pass; the last pass flows straight
        # into the terminal emit below (a trailing barrier bought nothing)
        if (i + 1) % fold == 0 and (i + 1) < iters:
            ranks = _ckpt(ranks)
    # 6dp emission via exact integer floor on the decimal — DuckDB's
    # decimal downscale cast TRUNCATES while Spark's ROUNDS, so neither
    # is used: floor(rank*1e6) is exact in both.
    return ranks.select(
        "id",
        (F.floor(F.col("rank") * 1_000_000).cast("double") / F.lit(1_000_000.0)).alias(
            out_name
        ),
    )


def pagerank(edges: DataFrame, iters: int = 5, damping: float = 0.85) -> DataFrame:
    """Fixed-iteration textbook PageRank (un-normalized form:
    ``rank = (1-d) + d * Σ rank(u)/out_deg(u)``; dangling mass is
    dropped).  Returns (id, pagerank DOUBLE, floored at 6dp)."""
    return _pagerank_fixpoint(
        edges,
        iters,
        damping,
        seed_expr=lambda _id: F.lit(1.0),
        teleport_expr=lambda _id: F.lit(1.0 - damping),
        out_name="pagerank",
    )


def _pagerank_fixpoint_oracle(
    edges_cte: str,
    iters: int,
    damping: float,
    seed_sql: str,
    teleport_sql: str,
    out_name: str,
) -> str:
    """DuckDB oracle generator shared by the PageRank family: the same
    fixed-point unrolled as a CTE chain — identical decimal reduction,
    identical IEEE double per-edge ops; ``seed_sql``/``teleport_sql``
    are expressions over the node id column ``{id}``."""
    head = f"""WITH e AS ({edges_cte}),
deg AS (SELECT src, COUNT(*) AS out_deg FROM e GROUP BY src),
nodes AS (SELECT DISTINCT id FROM (SELECT src AS id FROM e UNION ALL SELECT dst FROM e)),
r0 AS (SELECT id, CAST({seed_sql.format(id='id')} AS DECIMAL(28,12)) AS rank FROM nodes)"""
    steps = []
    for i in range(iters):
        steps.append(
            f""",
r{i + 1} AS (
  SELECT n.id,
    CAST({teleport_sql.format(id='n.id')} +
         CAST({damping!r} AS DOUBLE) * COALESCE(CAST(c.mass AS DOUBLE), 0.0)
         AS DECIMAL(28,12)) AS rank
  FROM nodes n LEFT JOIN (
    SELECT e.dst AS id,
           SUM(CAST(CAST(r.rank AS DOUBLE) / d.out_deg AS DECIMAL(28,12))) AS mass
    FROM e JOIN r{i} r ON e.src = r.id JOIN deg d ON e.src = d.src
    GROUP BY e.dst) c ON n.id = c.id)"""
        )
    return (
        head
        + "".join(steps)
        + f"""
SELECT id, CAST(FLOOR(rank * 1000000) AS DOUBLE) / 1000000.0 AS {out_name} FROM r{iters}"""
    )


def pagerank_oracle(edges_cte: str, iters: int = 5, damping: float = 0.85) -> str:
    return _pagerank_fixpoint_oracle(
        edges_cte,
        iters,
        damping,
        seed_sql="1.0",
        teleport_sql=f"CAST({1.0 - damping!r} AS DOUBLE)",
        out_name="pagerank",
    )


# ---------------------------------------------------------------------------
# Two-phase star connected components (the power-law scale path)
# ---------------------------------------------------------------------------

def _canon_pairs(e: DataFrame) -> DataFrame:
    """Undirected canonical (u, v) with u > v, self-loops dropped."""
    return (
        e.select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def _large_star(e: DataFrame) -> DataFrame:
    """Large-star: connect every neighbor v > u to m = min(N(u) ∪ {u}).

    groupBy+join (not a window): the per-node min gets map-side partial
    aggregation, so a power-law hub's neighbor list never has to sort
    or gather on one task — exactly the skew the algorithm targets.

    Round-12 A/B note: an explode-of-both-orientations symmetrization
    (one reference to ``e`` instead of two) was measured at 4.72 s vs
    3.79 s fresh-JVM min-of-3 for graph_components_twostar at sf0.1 —
    WORSE (the Generate node costs more than the second scan of the
    checkpointed leaf) — and reverted; the union form stays."""
    nbrs = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = (
        nbrs.groupBy("u")
        .agg(F.min("v").alias("mn"))
        .select("u", F.least("mn", F.col("u")).alias("m"))
    )
    return (
        nbrs.join(mins, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Small-star: for each u, link all smaller neighbors (and u itself)
    to m = min of them."""
    c = _canon_pairs(e)
    mins = c.groupBy("u").agg(F.min("v").alias("m"))
    withm = c.join(mins, "u")
    return (
        withm.select(F.col("v").alias("u"), F.col("m").alias("v"))
        .union(mins.select("u", F.col("m").alias("v")))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def connected_components_twostar(edges: DataFrame, max_iter: int = 30) -> DataFrame:
    """Connected components via alternating large-star / small-star
    contractions (Kiveris et al., "Connected Components in MapReduce
    and Beyond", SoCC'14 — public algorithm).  Returns (id, comp),
    identical to :func:`connected_components`.

    Where hash-min label propagation needs O(diameter) passes, the star
    contractions converge in O(log n) — the difference between ~40 and
    ~6 rounds on a long-chain or power-law web graph; each round is the
    same two-shuffle join+agg shape, so per-round cost matches and the
    crossover strictly favors this form once diameter > log n.

    Convergence test: (count, xxhash64-sum) fingerprint of the edge set
    — one cheap action per round instead of two anti-joins; a collision
    would stop one round early with probability ~2⁻⁶⁴.
    """
    nodes = (
        edges.select(F.col("src").alias("id"))
        .union(edges.select(F.col("dst").alias("id")))
        .distinct()
        .transform(_ckpt)
    )
    e = _canon_pairs(
        edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
    ).transform(_ckpt)
    fp = None
    for _ in range(max_iter):
        # lazy checkpoint: the fingerprint agg below is the action that
        # materializes the round — one job per round, not two
        e = _small_star(_large_star(e)).transform(_ckpt)
        new_fp = e.agg(
            F.count("*").alias("n"),
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
        ).collect()[0]
        if fp == (new_fp["n"], new_fp["h"]):
            break
        fp = (new_fp["n"], new_fp["h"])
    # fixed point: every non-root points straight at its component min
    return nodes.join(
        e.select(F.col("u").alias("id"), F.col("v").alias("comp")), "id", "left"
    ).select("id", F.coalesce("comp", F.col("id")).alias("comp"))


# ---------------------------------------------------------------------------
# k-core decomposition by parallel peeling
# ---------------------------------------------------------------------------

def k_core(edges: DataFrame, k: int = 2, rounds: int = 8) -> DataFrame:
    """k-core of the undirected simple graph by synchronous parallel
    peeling: each round drops EVERY node whose degree within the
    surviving subgraph is < k, until a fixed point.  Returns
    (v, core_deg) for the surviving nodes — core_deg is the degree
    inside the core.

    Semantics are pinned to ``rounds`` synchronous rounds (the oracle
    unrolls exactly that many); once a round removes nothing the
    transformation is the identity, so early-stopping at the fixed
    point is result-identical and the engine does.

    Scale shape per round: re-derive surviving degrees with two
    equi-joins of the static neighbor view against the alive set (both
    sides shuffle on the node key; the alive set shrinks monotonically
    and broadcasts once it fits), one hash aggregate, one filter.
    ``localCheckpoint`` truncates lineage per round, exactly like the
    other iterative operators in this module.
    """
    if rounds < 1:
        raise ValueError(f"rounds must be >= 1, got {rounds}")
    from twitter_followers_patterns_mapreduce_spark.operators.graph import neighbor_view

    nbrs = neighbor_view(edges).transform(_ckpt)
    alive = nbrs.select("v").distinct().transform(_ckpt)
    prev = alive.count()
    deg = None
    for _ in range(rounds):
        # lazy checkpoint: the survivor count below materializes the
        # round — one job per round, not an eager job plus a count job
        deg = (
            nbrs.join(alive, "v")
            .join(alive.select(F.col("v").alias("n")), "n")
            .groupBy("v")
            .agg(F.count("*").cast("long").alias("core_deg"))
            .where(F.col("core_deg") >= k)
            .transform(_ckpt)
        )
        alive = deg.select("v")
        cur = deg.count()
        if cur == prev:
            break
        prev = cur
    return deg.select("v", "core_deg")


def k_core_oracle(edges_cte: str, k: int = 2, rounds: int = 8) -> str:
    """DuckDB oracle: the same synchronous peeling unrolled ``rounds``
    times as a CTE chain (identity once converged)."""
    head = f"""WITH s AS ({edges_cte}),
und AS (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
        FROM s WHERE src <> dst),
nbrs AS (SELECT a AS v, b AS n FROM und UNION ALL SELECT b AS v, a AS n FROM und),
alive0 AS (SELECT DISTINCT v FROM nbrs)"""
    steps = []
    for i in range(rounds):
        steps.append(
            f""",
alive{i + 1} AS (
  SELECT v, core_deg FROM (
    SELECT n.v, CAST(COUNT(*) AS BIGINT) AS core_deg
    FROM nbrs n
    JOIN alive{i} a1 ON n.v = a1.v
    JOIN alive{i} a2 ON n.n = a2.v
    GROUP BY n.v)
  WHERE core_deg >= {k})"""
        )
    return head + "".join(steps) + f"""
SELECT v, core_deg FROM alive{rounds}"""


def coreness(edges: DataFrame, kmax: int = 4, rounds: int = 8) -> DataFrame:
    """Core-number decomposition up to ``kmax``: coreness(v) = the
    largest k ≤ kmax with v in the k-core — the degeneracy-ordering
    signal used for influence ranking and as the densest-region
    pre-filter before clique/truss mining (Batagelj-Zaveršnik is the
    sequential classic; this is its bounded-k parallel form).

    Incremental peeling: the k-tier peeling STARTS from the surviving
    (k−1)-core alive set (valid because k-core ⊆ (k−1)-core), so the
    expensive early tiers are peeled exactly once — measured 16 s → ~6 s
    at sf0.01 vs restarting :func:`k_core` from the full graph per k.
    The base tier is free: every non-isolated node of the simple graph
    is in the 1-core (peeling at k=1 removes only degree-0 nodes).
    Semantics are pinned to ``rounds`` synchronous rounds PER TIER (the
    oracle unrolls exactly that; early-stopping at a tier's fixed point
    is result-identical and the engine does).

    Scale: ≤ kmax·rounds equi-join + hash-agg passes over a
    monotonically shrinking alive set; ``kmax`` is the documented knob
    (coreness saturates at kmax by contract — the full decomposition
    needs kmax ≥ degeneracy).  Output: (v, coreness INT).
    """
    from twitter_followers_patterns_mapreduce_spark.operators.graph import neighbor_view

    nbrs = neighbor_view(edges).transform(_ckpt)
    alive = nbrs.select("v").distinct().transform(_ckpt)
    parts = [alive.select("v", F.lit(1).alias("k"))]

    # Round-12 (guide §1.2 "don't compute things you throw away"): the
    # expensive part of a peeling round is the degree table
    # deg(alive) = (nbrs ⋈ alive ⋈ alive) → count per v, and a round
    # that removes NOBODY leaves it bit-identical — so keep the
    # checkpointed degree table as the loop state and recompute it only
    # when the alive set actually shrank.  On a subgraph whose k-tier
    # fixpoints immediately (the common case: measured at sf0.1 all 16
    # tiers of coreness_k17 peel nothing), a tier costs one filter+count
    # over the cached table instead of a fresh join+agg planning+run.
    # The alive-set/round sequence is unchanged: deg always equals the
    # degree table over the current alive set, exactly what the old
    # per-round recompute produced.
    def _deg(alive_set: DataFrame) -> DataFrame:
        return _ckpt(
            nbrs.join(alive_set, "v")
            .join(alive_set.select(F.col("v").alias("n")), "n")
            .groupBy("v")
            .agg(F.count("*").cast("long").alias("core_deg"))
        )

    deg = _deg(alive)
    prev = alive.count()
    for k in range(2, kmax + 1):
        if prev == 0:
            break
        for _ in range(rounds):
            survivors = deg.where(F.col("core_deg") >= k)
            alive = survivors.select("v")
            cur = survivors.count()
            if cur == prev:
                break
            # membership shrank: refresh the degree table for the next
            # round (and, at the fixpoint, for the following tiers)
            deg = _deg(alive)
            prev = cur
        if prev > 0:
            parts.append(alive.select("v", F.lit(k).alias("k")))
    allk = parts[0]
    for p in parts[1:]:
        allk = allk.unionByName(p)
    return allk.groupBy("v").agg(F.max("k").cast("int").alias("coreness"))


def coreness_oracle(edges_cte: str, kmax: int = 4, rounds: int = 8) -> str:
    """Chained unrolled peelings: the k-peeling STARTS from the
    (k-1)-core (valid because k-core is a subset of the (k-1)-core), so
    higher tiers peel only the already-shrunk subgraph — the
    incremental variant the engine docstring describes.  Every level is
    AS MATERIALIZED: each alive CTE is referenced twice by the next
    level, and DuckDB's default inlining makes a 24-deep chain
    exponential (it exhausted file handles re-expanding the scan)."""
    head = f"""WITH s AS ({edges_cte}),
und AS (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
        FROM s WHERE src <> dst),
nbrs AS MATERIALIZED (SELECT a AS v, b AS n FROM und UNION ALL SELECT b AS v, a AS n FROM und),
a2_0 AS MATERIALIZED (SELECT DISTINCT v FROM nbrs)"""
    steps = []
    for k in range(2, kmax + 1):
        if k > 2:
            steps.append(f",\na{k}_0 AS MATERIALIZED (SELECT v FROM a{k - 1}_{rounds})")
        for i in range(rounds):
            steps.append(
                f""",
a{k}_{i + 1} AS MATERIALIZED (
  SELECT v FROM (
    SELECT n.v, COUNT(*) AS core_deg
    FROM nbrs n
    JOIN a{k}_{i} x1 ON n.v = x1.v
    JOIN a{k}_{i} x2 ON n.n = x2.v
    GROUP BY n.v)
  WHERE core_deg >= {k})"""
            )
    tiers = ["SELECT v, 1 AS k FROM a2_0"] + [
        f"SELECT v, {k} AS k FROM a{k}_{rounds}" for k in range(2, kmax + 1)
    ]
    union = "\nUNION ALL\n".join(tiers)
    return f"""{head}{''.join(steps)}
SELECT v, CAST(MAX(k) AS INT) AS coreness FROM (
{union}
) GROUP BY v"""


# ---------------------------------------------------------------------------
# Single-source BFS shortest paths (directed)
# ---------------------------------------------------------------------------

def bfs_distances(edges: DataFrame, source: int, max_iter: int = 30) -> DataFrame:
    """Directed single-source shortest hop-counts by synchronous
    frontier expansion — the "how far does a retweet travel" primitive
    (returns (id, dist) for every node reachable from ``source``).

    Per pass: frontier ⋈ edges on the source endpoint (equi-join; the
    frontier side is small and broadcasts), DISTINCT the next frontier,
    LEFT ANTI against the visited set so each node is settled exactly
    once — BFS's "first arrival is shortest" makes per-pass settling
    correct with no re-relaxation.  O(diameter) passes like
    :func:`connected_components`, same lazy-checkpoint discipline
    (the frontier count is the one action per pass).

    Scale note: the visited set is O(|V reachable|) rows of (id, dist)
    — aggregate-sized state, never edges; power-law hubs inflate one
    pass's join fan-out, which AQE skew-splits like every other
    edge-keyed join in this module.
    """
    src_lit = F.lit(source).cast("long")
    spark = edges.sparkSession
    dist = spark.range(1).select(
        src_lit.alias("id"), F.lit(0).cast("long").alias("dist")
    ).transform(_ckpt)
    frontier = dist.select("id")
    e = edges.select("src", "dst").transform(_ckpt)
    for i in range(1, max_iter + 1):
        nxt = (
            frontier.join(e, frontier["id"] == e["src"])
            .select(F.col("dst").alias("id"))
            .distinct()
            .join(dist, "id", "left_anti")
            .select("id", F.lit(i).cast("long").alias("dist"))
            .transform(_ckpt)
        )
        if nxt.count() == 0:
            break
        dist = dist.unionAll(nxt).transform(_ckpt)
        frontier = nxt.select("id")
    return dist


def bfs_distances_oracle(edges_cte: str, source: int, max_iter: int = 30) -> str:
    """DuckDB oracle: bounded recursive closure, min hop count per node."""
    return f"""WITH RECURSIVE e AS ({edges_cte}),
walk(id, d) AS (
  SELECT CAST({source} AS BIGINT), CAST(0 AS BIGINT)
  UNION
  SELECT e.dst, w.d + 1 FROM walk w JOIN e ON w.id = e.src
  WHERE w.d < {max_iter}
)
SELECT id, MIN(d) AS dist FROM walk GROUP BY id"""


# ---------------------------------------------------------------------------
# k-truss: edge-centric cohesion (the edge analogue of k-core)
# ---------------------------------------------------------------------------

def _edge_support(e: DataFrame) -> DataFrame:
    """Per-edge triangle support within canonical edge set ``e``
    (columns (a, b), a < b): the number of common neighbors each
    edge's endpoints share inside ``e``.

    Shape: symmetrize, wedge-join on the shared neighbor z (equi-join
    — the same two-path join as the reference's 2-hop,
    ``exact/Exact2HopCount.java:61-69``), close each wedge against the
    edge set with a LEFT SEMI join, then one hash aggregate.  Never
    all-pairs; AQE splits hot-z wedges exactly as in triangle_count."""
    und = e.select("a", "b").union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    u1 = und.select(F.col("b").alias("z"), F.col("a").alias("x"))
    u2 = und.select(F.col("b").alias("z"), F.col("a").alias("y"))
    wedges = u1.join(u2, "z").where(F.col("x") < F.col("y")).select(
        F.col("x").alias("a"), F.col("y").alias("b")
    )
    closed = wedges.join(e, ["a", "b"], "left_semi")
    return closed.groupBy("a", "b").agg(F.count("*").cast("long").alias("support"))


def k_truss(edges: DataFrame, k: int = 3, rounds: int = 3) -> DataFrame:
    """k-truss of the undirected simple graph by synchronous edge
    peeling: each round recomputes every surviving edge's triangle
    support and drops edges with support < k-2, for ``rounds``
    synchronous rounds (oracle unrolls the same); a final support pass
    annotates the survivors.  Returns (a, b, support), a < b.

    This is the EDGE-centric cohesion dual of :func:`k_core` — the
    natural next member of the reference's triangle family
    (``rsjoin/RSJoinTriangleCount.java``: one support pass is exactly
    its two chained jobs; the truss iterates that pass to a fixed
    point).

    Scale: each round is the triangle-count join pipeline over a
    monotonically shrinking edge set — two shuffles (wedge join, per-
    edge agg) plus the semi-join; lineage truncated per round via lazy
    localCheckpoint like every iterative operator here."""
    if rounds < 1:
        raise ValueError(f"rounds must be >= 1, got {rounds}")
    e = (
        edges.where(F.col("src") != F.col("dst"))
        .select(F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b"))
        .distinct()
        .transform(_ckpt)
    )
    for _ in range(rounds):
        sup = _edge_support(e)
        e = (
            sup.where(F.col("support") >= k - 2)
            .select("a", "b")
            .transform(_ckpt)
        )
    # _edge_support's wedges are already semi-joined against e, so its
    # output is a subset of e — no extra membership join needed
    return _edge_support(e)


def k_truss_oracle(edges_cte: str, k: int = 3, rounds: int = 3) -> str:
    """DuckDB oracle: the same synchronous peeling unrolled as a CTE
    chain, one support CTE per round."""

    def support(src: str) -> str:
        return f"""(
  WITH und AS (SELECT a, b FROM {src} UNION ALL SELECT b AS a, a AS b FROM {src})
  SELECT u1.a AS a, u2.a AS b, CAST(COUNT(*) AS BIGINT) AS support
  FROM und u1 JOIN und u2 ON u1.b = u2.b AND u1.a < u2.a
  WHERE EXISTS (SELECT 1 FROM {src} e WHERE e.a = u1.a AND e.b = u2.a)
  GROUP BY u1.a, u2.a)"""

    head = f"""WITH s AS ({edges_cte}),
e0 AS (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
       FROM s WHERE src <> dst)"""
    steps = []
    for i in range(rounds):
        steps.append(
            f""",
e{i + 1} AS (SELECT a, b FROM {support(f'e{i}')} sup WHERE support >= {k - 2})"""
        )
    return (
        head
        + "".join(steps)
        + f"""
SELECT sup.a, sup.b, sup.support FROM {support(f'e{rounds}')} sup"""
    )


# ---------------------------------------------------------------------------
# Landmark closeness: multi-source BFS in one pipeline
# ---------------------------------------------------------------------------

def landmark_closeness(edges: DataFrame, mod: int = 20, max_depth: int = 4) -> DataFrame:
    """Landmark-based closeness centrality: run BFS from EVERY landmark
    (deterministic sample ``id % mod == 0``) simultaneously — the state
    is keyed by (landmark, node), so one synchronized frontier
    expansion serves all sources in the same jobs (|L| sequential BFS
    runs would cost |L|× the passes; this costs |L|× the state).  The
    landmark/sampled-sources formulation is the standard scale
    workaround for exact all-pairs closeness being O(|V|·|E|).

    Depth is capped at ``max_depth`` (bounded-horizon closeness — the
    oracle unrolls the same bound).  Per landmark the output is the
    reach histogram n_d1..n_d{max_depth} plus the closeness score
    Σ n_d/d computed EXACTLY: integer numerator Σ n_d·(LCM/d) over the
    per-depth counts, one final double division by LCM — no
    order-dependent float summation anywhere.

    Returns (landmark, n_d1.., n_reached, closeness)."""
    import math

    lcm = math.lcm(*range(1, max_depth + 1))
    e = edges.select("src", "dst").transform(_ckpt)
    nodes = e.select(F.col("src").alias("id")).union(
        e.select(F.col("dst").alias("id"))
    ).distinct()
    lm = nodes.where(F.col("id") % mod == 0)
    # settled state: (landmark, id, dist); seed = each landmark at itself
    dist = lm.select(
        F.col("id").alias("landmark"), F.col("id"), F.lit(0).cast("long").alias("dist")
    ).transform(_ckpt)
    frontier = dist.select("landmark", "id")
    for d in range(1, max_depth + 1):
        nxt = (
            frontier.join(e, frontier["id"] == e["src"])
            .select("landmark", F.col("dst").alias("id"))
            .distinct()
            .join(dist, ["landmark", "id"], "left_anti")
            .select("landmark", "id", F.lit(d).cast("long").alias("dist"))
            .transform(_ckpt)
        )
        dist = dist.unionAll(nxt).transform(_ckpt)
        frontier = nxt.select("landmark", "id")
    hist = (
        dist.where(F.col("dist") > 0)
        .groupBy("landmark", "dist")
        .agg(F.count("*").cast("long").alias("n"))
    )
    per_depth = [
        F.sum(F.when(F.col("dist") == d, F.col("n")).otherwise(0))
        .cast("long")
        .alias(f"n_d{d}")
        for d in range(1, max_depth + 1)
    ]
    numer = sum(
        (F.col(f"n_d{d}") * (lcm // d) for d in range(1, max_depth + 1)),
        start=F.lit(0),
    )
    return (
        hist.groupBy("landmark")
        .agg(*per_depth)
        .select(
            "landmark",
            *[f"n_d{d}" for d in range(1, max_depth + 1)],
            sum((F.col(f"n_d{d}") for d in range(1, max_depth + 1)), start=F.lit(0))
            .cast("long")
            .alias("n_reached"),
            F.round(numer.cast("double") / F.lit(float(lcm)), 6).alias("closeness"),
        )
    )


def landmark_closeness_oracle(edges_cte: str, mod: int = 20, max_depth: int = 4) -> str:
    import math

    lcm = math.lcm(*range(1, max_depth + 1))
    per_depth = ",\n  ".join(
        f"CAST(SUM(CASE WHEN dist = {d} THEN n ELSE 0 END) AS BIGINT) AS n_d{d}"
        for d in range(1, max_depth + 1)
    )
    numer = " + ".join(
        f"SUM(CASE WHEN dist = {d} THEN n ELSE 0 END) * {lcm // d}"
        for d in range(1, max_depth + 1)
    )
    total = " + ".join(
        f"SUM(CASE WHEN dist = {d} THEN n ELSE 0 END)" for d in range(1, max_depth + 1)
    )
    return f"""WITH RECURSIVE e AS ({edges_cte}),
nodes AS (SELECT DISTINCT id FROM (SELECT src AS id FROM e UNION ALL SELECT dst FROM e)),
lm AS (SELECT id AS landmark FROM nodes WHERE id % {mod} = 0),
walk(landmark, id, d) AS (
  SELECT landmark, landmark, CAST(0 AS BIGINT) FROM lm
  UNION
  SELECT w.landmark, e.dst, w.d + 1 FROM walk w JOIN e ON w.id = e.src
  WHERE w.d < {max_depth}
),
settled AS (SELECT landmark, id, MIN(d) AS dist FROM walk GROUP BY landmark, id),
hist AS (SELECT landmark, dist, CAST(COUNT(*) AS BIGINT) AS n
         FROM settled WHERE dist > 0 GROUP BY landmark, dist)
SELECT landmark,
  {per_depth},
  CAST({total} AS BIGINT) AS n_reached,
  round(CAST({numer} AS DOUBLE) / {float(lcm)}, 6) AS closeness
FROM hist GROUP BY landmark"""


def pagerank_personalized(
    edges: DataFrame, mod: int = 20, iters: int = 4, damping: float = 0.85
) -> DataFrame:
    """Personalized PageRank: identical fixed-point to :func:`pagerank`
    but the teleport mass returns to a SOURCE SET (ids ≡ 0 mod
    ``mod``) instead of every node — the random-walk-with-restart
    relevance score behind who-to-follow and related-entity ranking
    (vs global importance).

    rank = (1-d)·1[v ∈ S] + d·Σ rank(u)/out_deg(u); un-normalized like
    the global form, dangling mass dropped, DECIMAL reduction so the
    unrolled-CTE oracle is bit-exact.  One shared fixed-point loop with
    :func:`pagerank` — only the seed and teleport expressions differ."""
    return _pagerank_fixpoint(
        edges,
        iters,
        damping,
        seed_expr=lambda i: F.when(i % mod == 0, F.lit(1.0)).otherwise(F.lit(0.0)),
        teleport_expr=lambda i: F.when(i % mod == 0, F.lit(1.0 - damping)).otherwise(
            F.lit(0.0)
        ),
        out_name="ppr",
    )


def pagerank_personalized_oracle(
    edges_cte: str, mod: int = 20, iters: int = 4, damping: float = 0.85
) -> str:
    return _pagerank_fixpoint_oracle(
        edges_cte,
        iters,
        damping,
        seed_sql=f"CASE WHEN {{id}} % {mod} = 0 THEN 1.0 ELSE 0.0 END",
        teleport_sql=(
            f"CASE WHEN {{id}} % {mod} = 0 THEN CAST({1.0 - damping!r} AS DOUBLE)"
            " ELSE 0.0 END"
        ),
        out_name="ppr",
    )

# ---------------------------------------------------------------------------
# Community detection: synchronous label propagation (LPA)
# ---------------------------------------------------------------------------

def label_propagation(edges: DataFrame, rounds: int = 4) -> DataFrame:
    """Community detection by SYNCHRONOUS label propagation (Raghavan
    et al. 2007, the deterministic synchronous variant): labels start
    as node ids; each round every node adopts its neighbors' most
    frequent label, ties broken by the smallest label.  Exactly
    ``rounds`` rounds on both engines — synchronous LPA can oscillate
    on bipartite structures, so the round count IS the semantic, which
    is what makes a cross-engine oracle possible (the oracle unrolls
    the identical rounds).  Returns (v, label).

    Scale shape per round: one equi-join of the static neighbor view
    against the |V|-sized label table (shuffle on the node key), one
    (v, label) hash count, one per-v argmax — spelled as max_by over
    the (count, −label) struct, a HASH aggregate, not a window sort.
    Labels table localCheckpoints per round to keep lineage O(1).
    """
    if rounds < 1:
        raise ValueError(f"rounds must be >= 1, got {rounds}")
    from twitter_followers_patterns_mapreduce_spark.operators.graph import neighbor_view

    nbrs = neighbor_view(edges).transform(_ckpt)
    labels = nbrs.select("v").distinct().select(
        "v", F.col("v").cast("long").alias("label")
    ).transform(_ckpt)
    for _ in range(rounds):
        counted = (
            nbrs.join(
                labels.select(F.col("v").alias("n"), "label"), "n"
            )
            .groupBy("v", "label")
            .agg(F.count("*").cast("long").alias("cnt"))
        )
        # argmax by (cnt desc, label asc) as ONE hash agg: max_by over
        # the lexicographic (cnt, -label) struct — no window, no sort
        labels = (
            counted.groupBy("v")
            .agg(
                F.max_by(
                    "label", F.struct(F.col("cnt"), (-F.col("label")).alias("nl"))
                ).alias("label")
            )
            .transform(_ckpt)
        )
    return labels.select("v", "label")


def label_propagation_oracle(edges_cte: str, rounds: int = 4) -> str:
    """DuckDB oracle: the same synchronous rounds unrolled as a CTE
    chain, argmax via a (count desc, label asc) row_number."""
    head = f"""WITH s AS ({edges_cte}),
und AS (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
        FROM s WHERE src <> dst),
nbrs AS (SELECT a AS v, b AS n FROM und UNION ALL SELECT b AS v, a AS n FROM und),
lab0 AS (SELECT DISTINCT v, CAST(v AS BIGINT) AS label FROM nbrs)"""
    steps = []
    for i in range(rounds):
        steps.append(
            f""",
lab{i + 1} AS (
  SELECT v, label FROM (
    SELECT n.v, l.label,
           ROW_NUMBER() OVER (PARTITION BY n.v
                              ORDER BY COUNT(*) DESC, l.label ASC) AS rn
    FROM nbrs n JOIN lab{i} l ON n.n = l.v
    GROUP BY n.v, l.label)
  WHERE rn = 1)"""
        )
    return head + "".join(steps) + f"""
SELECT v, label FROM lab{rounds}"""


# ---------------------------------------------------------------------------
# HITS hubs & authorities (Kleinberg 1999)
# ---------------------------------------------------------------------------

def hits(edges: DataFrame, iters: int = 3) -> DataFrame:
    """HITS hubs/authorities on the DIRECTED follow graph — the natural
    companion analysis to the reference's follower-pattern jobs
    (``README.md:9-14`` motivates them as mining influence patterns):
    a high-authority account is followed by good hubs, a good hub
    follows high authorities.

    INTEGER-EXACT fixed-iteration form: hub/auth start at 1; each
    iteration is auth(v) = Σ_{u→v} hub(u) then hub(u) = Σ_{u→v} auth(v),
    UNNORMALIZED — after k rounds auth(v) is exactly the number of
    alternating-direction walks of the matching length ending at v, a
    BIGINT both engines agree on bit-for-bit (normalizing per round
    would put a float division inside the fixpoint, compounding
    rounding cross-engine; ranking is normalization-invariant).
    Overflow guard: values grow like (max-degree)^iters — the default 3
    rounds on a ≤1e6-degree graph stays far inside int64.

    Scale shape per round: two shuffles (one per direction), each an
    equi-join of the static deduped edge list against the |V|-sized
    score table followed by a hash re-agg on the other endpoint; the
    edge list localCheckpoints once, scores stay |V|-sized throughout.
    Returns (v, hub, auth) for every node incident to an edge.
    """
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    e = (
        edges.where(F.col("src") != F.col("dst"))
        .select("src", "dst")
        .distinct()
        .transform(_ckpt)
    )
    nodes = (
        e.select(F.col("src").alias("v"))
        .union(e.select(F.col("dst").alias("v")))
        .distinct()
        .transform(_ckpt)
    )
    hub = nodes.select("v", F.lit(1).cast("long").alias("hub"))
    auth = None
    # Inside the loop scores stay SPARSE (nodes absent from the agg
    # have score 0, and 0 contributes nothing to the next sum — the
    # inner joins drop them for free); the dense zero-filled view is
    # materialized ONCE on emit, so each round is exactly two
    # join+reagg shuffles, not four.
    for _ in range(iters):
        auth = (
            e.join(hub.select(F.col("v").alias("src"), "hub"), "src")
            .groupBy(F.col("dst").alias("v"))
            .agg(F.sum("hub").cast("long").alias("auth"))
            .transform(_ckpt)
        )
        hub = (
            e.join(auth.select(F.col("v").alias("dst"), "auth"), "dst")
            .groupBy(F.col("src").alias("v"))
            .agg(F.sum("auth").cast("long").alias("hub"))
            .transform(_ckpt)
        )
    return (
        nodes.join(hub, "v", "left")
        .join(auth, "v", "left")
        .select(
            "v",
            F.coalesce("hub", F.lit(0)).cast("long").alias("hub"),
            F.coalesce("auth", F.lit(0)).cast("long").alias("auth"),
        )
    )


def hits_oracle(edges_cte: str, iters: int = 3) -> str:
    """DuckDB oracle: the identical integer fixpoint unrolled as CTEs."""
    head = f"""WITH s AS ({edges_cte}),
e AS (SELECT DISTINCT src, dst FROM s WHERE src <> dst),
nodes AS (SELECT src AS v FROM e UNION SELECT dst AS v FROM e),
hub0 AS (SELECT v, CAST(1 AS BIGINT) AS hub FROM nodes)"""
    steps = []
    for i in range(iters):
        steps.append(
            f""",
auth{i + 1} AS (
  SELECT n.v, CAST(COALESCE(a.auth, 0) AS BIGINT) AS auth
  FROM nodes n LEFT JOIN (
    SELECT e.dst AS v, SUM(h.hub) AS auth
    FROM e JOIN hub{i} h ON e.src = h.v GROUP BY e.dst) a ON n.v = a.v),
hub{i + 1} AS (
  SELECT n.v, CAST(COALESCE(b.hub, 0) AS BIGINT) AS hub
  FROM nodes n LEFT JOIN (
    SELECT e.src AS v, SUM(a.auth) AS hub
    FROM e JOIN auth{i + 1} a ON e.dst = a.v GROUP BY e.src) b ON n.v = b.v)"""
        )
    return head + "".join(steps) + f"""
SELECT n.v, h.hub, a.auth
FROM nodes n JOIN hub{iters} h ON n.v = h.v JOIN auth{iters} a ON n.v = a.v"""


# ---------------------------------------------------------------------------
# Deterministic random walks (DeepWalk/node2vec corpus export)
# ---------------------------------------------------------------------------

def random_walks(edges: DataFrame, walks_per_node: int = 2, length: int = 3) -> DataFrame:
    """Fixed-length walk corpus over the directed graph — the sampling
    primitive behind DeepWalk/node2vec-style graph embeddings (the
    walks ARE training data; pair with ``corpus_export_shards`` to ship
    them).  ``walks_per_node`` walks start from every node with ≥ 1
    out-neighbor; each step moves to the neighbor at index
    ``h64(start:walk:step) % out_deg`` — a DETERMINISTIC hash choice,
    never ``rand()``, so reruns, task retries, and the DuckDB oracle
    all generate the identical corpus (the repo-wide rule every sampled
    operator follows).  Walks stop early at sink nodes.

    Plan shape: neighbors pre-aggregate ONCE into a sorted per-node
    array (one shuffle); each step is then a 1:1 equi-join of the walk
    frontier against that array table plus an ``element_at`` — no
    per-step fan-out, frontier stays |starts|·W rows.  At 100 TB the
    array row of a 10M-follower hub is the sizing concern: cap hub
    lists (uniform choice only needs a bounded reservoir per node) or
    split hot nodes into salted sub-arrays.

    Returns long format (start, walk, step, node), step 0 = the start.
    """
    from twitter_followers_patterns_mapreduce_spark.functions.hashing import h64_sql

    e = edges.where(F.col("src") != F.col("dst")).select("src", "dst").distinct()
    nbr = (
        e.groupBy("src")
        .agg(F.sort_array(F.collect_list("dst")).alias("arr"))
        .select("src", "arr", F.size("arr").cast("long").alias("deg"))
        .transform(_ckpt)
    )
    frontier = nbr.select(F.col("src").alias("start")).select(
        "start", F.explode(F.expr(f"sequence(1, {walks_per_node})")).alias("walk")
    ).select("start", "walk", F.col("start").alias("node"))
    out = frontier.select("start", "walk", F.lit(0).cast("int").alias("step"), "node")
    for step in range(1, length + 1):
        pick = h64_sql(
            f"concat(cast(start as string), ':', cast(walk as string), ':', '{step}')",
            "spark",
        )
        frontier = (
            frontier.join(nbr, frontier["node"] == nbr["src"])
            .select(
                "start",
                "walk",
                F.expr(f"element_at(arr, cast(({pick}) % deg as int) + 1)").alias("node"),
            )
        )
        out = out.unionByName(
            frontier.select("start", "walk", F.lit(step).cast("int").alias("step"), "node")
        )
    return out


def random_walks_oracle(edges_cte: str, walks_per_node: int = 2, length: int = 3) -> str:
    """Unrolled oracle: per-node sorted neighbor lists, then one CTE per
    step applying the identical hash-indexed choice."""
    from twitter_followers_patterns_mapreduce_spark.functions.hashing import h64_sql

    head = f"""WITH s AS ({edges_cte}),
e AS (SELECT DISTINCT src, dst FROM s WHERE src <> dst),
nbr AS (SELECT src, list_sort(list(dst)) AS arr, CAST(len(list(dst)) AS BIGINT) AS deg
        FROM e GROUP BY src),
f0 AS (SELECT n.src AS start, CAST(w.range AS BIGINT) AS walk, n.src AS node
       FROM nbr n, range(1, {walks_per_node + 1}) w)"""
    steps = []
    for step in range(1, length + 1):
        pick = h64_sql(
            f"concat(CAST(f.start AS VARCHAR), ':', CAST(f.walk AS VARCHAR), ':', '{step}')",
            "duckdb",
        )
        steps.append(
            f""",
f{step} AS (
  SELECT f.start, f.walk, n.arr[CAST(({pick}) % n.deg AS INT) + 1] AS node
  FROM f{step - 1} f JOIN nbr n ON f.node = n.src)"""
        )
    selects = " UNION ALL ".join(
        f"SELECT start, walk, CAST({i} AS INT) AS step, node FROM f{i}"
        for i in range(0, length + 1)
    )
    return head + "".join(steps) + "\n" + selects


# ---------------------------------------------------------------------------
# Bounded mutual reachability (the k-hop SCC relaxation)
# ---------------------------------------------------------------------------

def mutual_reach_pairs(edges: DataFrame, k: int = 3) -> DataFrame:
    """Pairs (u, v), u < v, mutually reachable within ``k`` DIRECTED
    hops — the bounded relaxation of strongly-connected components and
    the directed companion of the reference's 2-hop pattern jobs
    (``exact/Exact2HopCount.java`` asks "who reaches whom in exactly
    2"; this asks "who reaches whom AND BACK in ≤ k").  Mutual-follow
    cliques at radius k are the influence-circle signal the reference's
    README motivates (``README.md:9-14``).

    The hop bound IS the semantic (like the fixed-round iterative ops
    in this module): full SCC needs a data-dependent number of passes,
    which no unrolled cross-engine oracle can mirror; bounded mutual
    reach is exact on both engines by construction.

    Plan shape: k-1 frontier-extension passes over the deduped edge
    set — join on the frontier's dst, union, DISTINCT (the dedup is
    what keeps the closure a SET, bounding each pass at |reach| ≤ n² —
    on the engine's sparse mod-filtered graph it stays near-linear);
    lineage truncated per pass.  The mutual check is ONE left-semi
    self-join of the closure against its own swap.  At 100 TB the
    published scale path for unbounded reachability is hub labeling /
    landmark 2-hop covers; the bounded form here shuffles only
    closure-set tuples, never materializes paths.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    e = (
        edges.where(F.col("src") != F.col("dst"))
        .select("src", "dst")
        .distinct()
        .transform(_ckpt)
    )
    reach = e
    for _ in range(k - 1):
        step = (
            reach.alias("r")
            .join(e.alias("g"), F.col("r.dst") == F.col("g.src"))
            .select(F.col("r.src").alias("src"), F.col("g.dst").alias("dst"))
            .where(F.col("src") != F.col("dst"))
        )
        reach = (
            reach.unionByName(step).distinct().transform(_ckpt)
        )
    swap = reach.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    return (
        reach.join(swap, ["src", "dst"], "left_semi")
        .where(F.col("src") < F.col("dst"))
        .select(F.col("src").alias("u"), F.col("dst").alias("v"))
    )


def mutual_reach_pairs_oracle(edges_cte: str, k: int = 3) -> str:
    head = f"""WITH s AS ({edges_cte}),
e AS (SELECT DISTINCT src, dst FROM s WHERE src <> dst),
r1 AS (SELECT src, dst FROM e)"""
    steps = []
    for i in range(1, k):
        steps.append(
            f""",
r{i + 1} AS (
  SELECT src, dst FROM r{i}
  UNION
  SELECT r.src, g.dst FROM r{i} r JOIN e g ON r.dst = g.src
  WHERE r.src <> g.dst)"""
        )
    return head + "".join(steps) + f"""
SELECT r.src AS u, r.dst AS v
FROM r{k} r JOIN r{k} w ON r.src = w.dst AND r.dst = w.src
WHERE r.src < r.dst"""


# ---------------------------------------------------------------------------
# Strongly connected components: trim + forward/backward min-label peeling
# ---------------------------------------------------------------------------

def strongly_connected_components(
    edges: DataFrame, max_rounds: int = 30, max_prop: int = 50, fold: int = 1
) -> DataFrame:
    """Directed SCCs — ``(id, scc_id)`` where ``scc_id`` is the minimum
    node id in the component (the "who can mutually retweet whom"
    equivalence over the reference's follower edges; the directed
    refinement of :func:`connected_components`).

    Distributed FW-BW-with-trimming (the standard Pregel/MapReduce SCC
    decomposition — e.g. Orzan's coloring / FW-BW of Fleischer et al.,
    both built from exactly these primitives), expressed as DataFrame
    passes:

    1. **Trim**: a node with no in-edges or no out-edges in the live
       subgraph can sit on no cycle → it is its own singleton SCC.
       Each trim pass is two distinct-projections + one anti-join;
       iterated to fixpoint it clears the periphery (chains peel from
       both ends).
    2. **FW/BW min-label**: propagate ``fmin`` (min id that reaches v)
       along edges and ``bmin`` (min id v reaches) against them, both
       folded in the SAME synchronous pass (one join per direction,
       O(diameter) passes, the `connected_components` loop shape).
       ``fmin(v) == bmin(v) == c`` ⇔ c reaches v AND v reaches c ⇔
       v ∈ SCC(c) — every component whose minimum is the min of its own
       reach-closure settles in this round; at minimum the component of
       the globally smallest live id always does, so each super-round
       strictly shrinks the graph (termination ≤ |V| rounds, raised if
       ``max_rounds`` is hit first so a truncated answer can never
       masquerade as exact).
    3. Peel the settled nodes + their edges, repeat.

    Scale shape: state is O(|V|) label rows; every pass is an edge
    equi-join + hash-min aggregate (AQE skew-splits hub keys like the
    other iterative ops here); the driver sees only per-fold change
    checks.  The harness graphs settle in ONE super-round (1 trim pass
    + ~4 propagation passes — measured, FIXTURES.md).

    Round-12 (guide §1.2/§7.3, the connected_components fold applied to
    the FW/BW loop): self-loop rows for every live node fold the "own
    label" term into the propagation joins, so a pass is two
    single-reference joins of the label frame; ``fold`` passes compose
    into one lazy plan between checkpoints and convergence is the exact
    monotone (SUM(fmin), SUM(bmin)) fingerprint once per fold — labels
    identical (surplus passes past the fixpoint are the identity).  The
    peel step checkpoints only what a CONTINUING round re-reads (the
    shrunk node set, then the shrunk edge set after the emptiness
    check): the common settle-in-one-round case pays one checkpoint
    planning instead of four.

    ``fold`` defaults to 1 here, unlike connected_components: the
    registered SCC graph converges in ~4 propagation passes, so fold=4
    overshoots to 8 passes of real join work — measured warm at sf0.1
    fold=1 2.79 s / fold=2 2.88 s / fold=4 4.23 s.  On a cluster where
    a convergence action is a full barrier, raise it.
    """
    if fold < 1:
        raise ValueError(f"fold must be >= 1, got {fold}")
    e = (
        edges.select("src", "dst")
        .where(F.col("src") != F.col("dst"))
        .distinct()
        .transform(_ckpt)
    )
    # node set from the UNFILTERED edges: a node whose only edges are
    # self-loops has no row in ``e`` but is still a (singleton) SCC —
    # the first trim pass assigns it (no in- or out-edge in ``e``).
    # Matches connected_components' convention of keeping such nodes.
    nodes = (
        edges.select(F.col("src").alias("id"))
        .union(edges.select(F.col("dst").alias("id")))
        .distinct()
        .transform(_ckpt)
    )
    spark = edges.sparkSession
    assigned = spark.createDataFrame([], schema="id LONG, scc_id LONG")

    for _ in range(max_rounds):
        # --- trim to fixpoint: no-inbound or no-outbound ⇒ singleton SCC
        while True:
            live = (
                e.select(F.col("src").alias("id"))
                .distinct()
                .join(e.select(F.col("dst").alias("id")).distinct(), "id")
            )
            dead = nodes.join(live, "id", "left_anti").transform(_ckpt)
            if dead.count() == 0:
                break
            # assigned is a union chain over checkpointed leaves (one
            # per trim pass / super-round) — linear and shallow, no
            # lineage cut needed
            assigned = assigned.unionByName(
                dead.select("id", F.col("id").alias("scc_id"))
            )
            nodes = nodes.join(dead, "id", "left_anti").transform(_ckpt)
            e = (
                e.join(dead.select(F.col("id").alias("src")), "src", "left_anti")
                .join(dead.select(F.col("id").alias("dst")), "dst", "left_anti")
                .transform(_ckpt)
            )
        if nodes.count() == 0:
            break

        # --- forward/backward hash-min to fixpoint, `fold` passes per
        # checkpoint + convergence check (labels are pointwise
        # non-increasing, so equal (SUM(fmin), SUM(bmin)) across a fold
        # ⟺ no label moved in it).  Self-loop rows fold the own-label
        # term into the joins: fmin' = min over in-nbrs ∪ {v}.
        eprop = e.unionByName(
            nodes.select(F.col("id").alias("src"), F.col("id").alias("dst"))
        ).transform(_ckpt)
        lab = nodes.select(
            "id", F.col("id").alias("fmin"), F.col("id").alias("bmin")
        ).transform(_ckpt)
        if _integral(dict(lab.dtypes)["fmin"]):
            fp_aggs = [
                F.sum(F.col("fmin").cast("decimal(38,0)")).alias("sf"),
                F.sum(F.col("bmin").cast("decimal(38,0)")).alias("sb"),
            ]
        else:  # non-integral ids: the twostar hash-fingerprint discipline
            fp_aggs = [
                F.count("*").alias("n"),
                F.sum(F.xxhash64("id", "fmin", "bmin").cast("decimal(38,0)")).alias("h"),
            ]
        prev_fp = None
        passes = 0
        converged = False
        while passes < max_prop:
            k = min(fold, max_prop - passes)
            for _ in range(k):
                fprop = (
                    eprop.join(lab.select(F.col("id").alias("src"), "fmin"), "src")
                    .groupBy(F.col("dst").alias("id"))
                    .agg(F.min("fmin").alias("fmin"))
                )
                bprop = (
                    eprop.join(lab.select(F.col("id").alias("dst"), "bmin"), "dst")
                    .groupBy(F.col("src").alias("id"))
                    .agg(F.min("bmin").alias("bmin"))
                )
                lab = fprop.join(bprop, "id")
                passes += 1
            lab = _ckpt(lab)
            fp = tuple(lab.agg(*fp_aggs).collect()[0])
            if fp == prev_fp:
                converged = True
                break
            prev_fp = fp
        if not converged:
            raise RuntimeError(
                f"SCC label propagation did not converge in {max_prop} passes"
            )

        done = lab.where(F.col("fmin") == F.col("bmin")).select(
            "id", F.col("fmin").alias("scc_id")
        )
        assigned = assigned.unionByName(done)
        nodes = nodes.join(done, "id", "left_anti").transform(_ckpt)
        if nodes.count() == 0:
            break
        # only a CONTINUING round re-reads the peeled edge set — cut its
        # lineage after the emptiness check, not before
        e = (
            e.join(done.select(F.col("id").alias("src")), "src", "left_anti")
            .join(done.select(F.col("id").alias("dst")), "dst", "left_anti")
            .transform(_ckpt)
        )
    else:
        raise RuntimeError(f"SCC peeling did not converge in {max_rounds} rounds")
    return assigned


def strongly_connected_components_oracle(edges_cte: str) -> str:
    """DuckDB oracle: full transitive closure, scc_id(v) = min over v's
    mutual-reachability set — exponential-state formulation viable only
    at oracle scale, which is exactly why the engine peels instead."""
    return f"""WITH RECURSIVE s AS ({edges_cte}),
e AS (SELECT DISTINCT src, dst FROM s WHERE src <> dst),
nodes AS (SELECT DISTINCT id FROM (SELECT src AS id FROM s UNION ALL SELECT dst FROM s)),
reach(a, b) AS (
  SELECT src, dst FROM e
  UNION
  SELECT r.a, e2.dst FROM reach r JOIN e e2 ON r.b = e2.src
),
mutual AS (
  SELECT r1.a AS a, r1.b AS b
  FROM reach r1 JOIN reach r2 ON r1.a = r2.b AND r1.b = r2.a
)
SELECT n.id, LEAST(n.id, COALESCE(MIN(m.b), n.id)) AS scc_id
FROM nodes n LEFT JOIN mutual m ON m.a = n.id
GROUP BY n.id"""


def scc_condensation_edges(edges: DataFrame, scc: DataFrame) -> DataFrame:
    """Edges of the condensation DAG: distinct (scc_src, scc_dst) pairs
    with scc_src ≠ scc_dst — the component-level structure left after
    contracting every SCC of ``scc`` (= output of
    :func:`strongly_connected_components`) to one node.  Two broadcast-
    able dimension joins (the SCC map is O(|V|)) + one distinct."""
    m_src = scc.select(F.col("id").alias("src"), F.col("scc_id").alias("scc_src"))
    m_dst = scc.select(F.col("id").alias("dst"), F.col("scc_id").alias("scc_dst"))
    return (
        edges.select("src", "dst")
        .where(F.col("src") != F.col("dst"))
        .distinct()
        .join(m_src, "src")
        .join(m_dst, "dst")
        .where(F.col("scc_src") != F.col("scc_dst"))
        .select("scc_src", "scc_dst")
        .distinct()
    )


def scc_condensation_oracle(edges_cte: str) -> str:
    """Condensation-DAG edge list from the same closure as the SCC oracle."""
    scc = strongly_connected_components_oracle(edges_cte)
    return f"""WITH scc AS ({scc}),
g AS (SELECT DISTINCT src, dst FROM ({edges_cte}) WHERE src <> dst)
SELECT DISTINCT ms.scc_id AS scc_src, md.scc_id AS scc_dst
FROM g JOIN scc ms ON g.src = ms.id JOIN scc md ON g.dst = md.id
WHERE ms.scc_id <> md.scc_id"""


# ---------------------------------------------------------------------------
# Exact neighborhood function (reach profile): |{(u,v): dist(u,v) <= k}|
# ---------------------------------------------------------------------------

def reach_profile(edges: DataFrame, kmax: int = 3) -> DataFrame:
    """Exact neighborhood function N(k) for k = 1..kmax: the number of
    ordered node pairs within k directed hops, plus the average
    out-reach per node — the effective-diameter / "how fast does
    influence spread" profile (the exact small-k companion of the
    HyperLogLog-sketch ANF of Palmer et al.; at 100 TB the same loop
    swaps the exact distinct-pair state for mergeable HLL registers
    per node, everything else identical).

    Shape per hop: one equi-join of the closure tuples against the edge
    list + DISTINCT — closure TUPLES only (never paths, so the state is
    ≤ |V|² not fan-out^k), lineage cut per hop.  Output: one row per k,
    (k, n_pairs, avg_reach) with avg_reach = pairs/|V| floored at 1e-6."""
    e = (
        edges.select("src", "dst")
        .where(F.col("src") != F.col("dst"))
        .distinct()
        .transform(_ckpt)
    )
    nodes = (
        e.select(F.col("src").alias("id"))
        .union(e.select("dst"))
        .distinct()
        .agg(F.count("*").cast("long").alias("n_nodes"))
    )
    reach = e.select(F.col("src").alias("u"), F.col("dst").alias("v"))
    out = []
    for k in range(1, kmax + 1):
        if k > 1:
            step = (
                reach.join(e, reach["v"] == e["src"])
                .where(F.col("u") != F.col("dst"))
                .select("u", F.col("dst").alias("v"))
            )
            reach = reach.unionByName(step).distinct().transform(_ckpt)
        out.append(
            reach.agg(F.count("*").cast("long").alias("n_pairs"))
            .crossJoin(F.broadcast(nodes))
            .selectExpr(
                f"CAST({k} AS INT) AS k",
                "n_pairs",
                "floor(CAST(n_pairs AS DOUBLE) / n_nodes * 1000000) / 1000000 AS avg_reach",
            )
        )
    res = out[0]
    for df in out[1:]:
        res = res.unionByName(df)
    return res


def reach_profile_oracle(edges_cte: str, kmax: int = 3) -> str:
    head = f"""WITH s AS ({edges_cte}),
e AS (SELECT DISTINCT src, dst FROM s WHERE src <> dst),
nodes AS (SELECT CAST(COUNT(DISTINCT id) AS BIGINT) AS n_nodes
          FROM (SELECT src AS id FROM e UNION ALL SELECT dst FROM e)),
r1 AS (SELECT src AS u, dst AS v FROM e)"""
    steps = []
    for i in range(1, kmax):
        steps.append(
            f""",
r{i + 1} AS (
  SELECT u, v FROM r{i}
  UNION
  SELECT r.u, g.dst AS v FROM r{i} r JOIN e g ON r.v = g.src
  WHERE r.u <> g.dst)"""
        )
    selects = "\nUNION ALL\n".join(
        f"""SELECT CAST({k} AS INT) AS k, CAST(COUNT(*) AS BIGINT) AS n_pairs,
  floor(CAST(COUNT(*) AS DOUBLE) / (SELECT n_nodes FROM nodes) * 1000000) / 1000000 AS avg_reach
FROM r{k}"""
        for k in range(1, kmax + 1)
    )
    return head + "".join(steps) + "\n" + selects


def reach_anf(edges: DataFrame, kmax: int = 6) -> DataFrame:
    """Sketch-based approximate neighborhood function — HyperANF (Boldi
    & Vigna, WWW'11) on DataFrames: per-node HyperLogLog sketches of the
    ≤k-hop reachable set, advanced one hop per pass by unioning each
    node's sketch with its OUT-neighbors' sketches.  This is the actual
    100 TB reach path: state is O(|V|) fixed-size sketch blobs (a
    Datasketches HLL register array per node, ~2^12 registers), every
    pass is one edge equi-join + one ``hll_union_agg`` hash aggregate —
    contrast :func:`reach_profile`, whose exact closure state is
    Θ(reachable pairs) and blows up past k ≈ 3 on any well-connected
    graph.

    Determinism: HLL register updates are pure hashes and merges are
    per-register max — no RNG, order-independent, so the estimates are
    reproducible across runs/partitionings (pinned in pytest).  The
    estimate for ≤ a few hundred distinct ids is EXACT (sparse mode),
    which is why harness-scale estimates equal the exact closure.

    Output: (k, approx_pairs) for k = 1..kmax, approx_pairs =
    Σ_u (estimate(S_u^k) − 1) — each node's sketch is seeded with the
    node itself, so subtracting one per node matches
    :func:`reach_profile`'s "ordered pairs u ≠ v within k hops".
    """
    e = (
        edges.select("src", "dst")
        .where(F.col("src") != F.col("dst"))
        .distinct()
        .transform(_ckpt)
    )
    state = (
        e.select(F.col("src").alias("id"))
        .union(e.select("dst"))
        .groupBy("id")
        .agg(F.expr("hll_sketch_agg(id)").alias("sk"))
        .transform(_ckpt)
    )
    out = []
    for k in range(1, kmax + 1):
        nbr = e.join(
            state.select(F.col("id").alias("dst"), "sk"), "dst"
        ).select(F.col("src").alias("id"), "sk")
        state = (
            state.unionByName(nbr)
            .groupBy("id")
            .agg(F.expr("hll_union_agg(sk)").alias("sk"))
            .transform(_ckpt)
        )
        out.append(
            state.select(F.expr("hll_sketch_estimate(sk)").alias("est"))
            .agg(F.sum(F.col("est") - F.lit(1)).cast("long").alias("approx_pairs"))
            .selectExpr(f"CAST({k} AS INT) AS k", "approx_pairs")
        )
    res = out[0]
    for df in out[1:]:
        res = res.unionByName(df)
    return res


def reach_anf_checked(edges: DataFrame, kmax: int = 3, rel_tol: float = 0.05) -> DataFrame:
    """:func:`reach_anf` in ORACLE-CHECKABLE form (the
    ``sketch_summary_checked`` discipline, stats.py): sketch VALUES are
    implementation-specific, but "within rel_tol of the exact
    neighborhood function" is a deterministic boolean both engines agree
    on.  Joins the exact :func:`reach_profile` (k ≤ kmax, where the
    exact closure is cheap) against the HLL estimates; the oracle
    recomputes the exact side and asserts the boolean TRUE — a sketch
    gone wild hash-mismatches at the driver.  Observed error at harness
    scale: 0 (sparse-mode HLL is exact at these cardinalities); the
    default HLL lgConfigK=12 has rsd ≈ 1.6%, so 5% + 2 absolute is a
    conservative bound.  Output: (k, n_pairs, avg_reach, anf_ok)."""
    exact = reach_profile(edges, kmax=kmax)
    approx = reach_anf(edges, kmax=kmax)
    err = F.abs(F.col("approx_pairs") - F.col("n_pairs"))
    return (
        exact.join(approx, "k")
        .select(
            "k",
            "n_pairs",
            "avg_reach",
            (err <= F.greatest(rel_tol * F.col("n_pairs"), F.lit(2.0))).alias("anf_ok"),
        )
        .orderBy("k")
    )


def reach_anf_checked_oracle(edges_cte: str, kmax: int = 3) -> str:
    """Exact neighborhood function + asserted error-bound boolean."""
    inner = reach_profile_oracle(edges_cte, kmax=kmax)
    return f"""WITH ex AS ({inner})
SELECT k, n_pairs, avg_reach, TRUE AS anf_ok FROM ex ORDER BY k"""


def modularity(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """Newman modularity Q of a community assignment over the
    UNDIRECTED deduped graph — the "did community detection find real
    structure?" score (Q ≈ 0: no better than random; Q ≳ 0.3: strong):
    Q = Σ_c [ e_c/m − (d_c/2m)² ] with e_c intra-community edges, d_c
    the community degree sum, m total edges.

    ``labels`` is any (v, label) assignment (here: the synchronous LPA
    of :func:`label_propagation`, whose round count is the shared
    cross-engine semantic).  All counts are exact integers; each
    community's term is ONE pointwise double floored to a 1e-9-scaled
    BIGINT, the sum exact and order-independent (the engine's standard
    float-reduction discipline).  Shape: the label map is O(|V|) and
    joins map-side onto both edge endpoints; everything after is
    community-sized.  Output: (n_communities, m_edges, modularity)."""
    from twitter_followers_patterns_mapreduce_spark.operators.graph import undirected_pairs

    und = undirected_pairs(edges).transform(_ckpt)
    m_row = und.agg(F.count("*").cast("long").alias("m"))
    la = labels.select(F.col("v").alias("a"), F.col("label").alias("la"))
    lb = labels.select(F.col("v").alias("b"), F.col("label").alias("lb"))
    deg = (
        und.select(F.col("a").alias("v"))
        .unionAll(und.select("b"))
        .groupBy("v")
        .agg(F.count("*").cast("long").alias("deg"))
    )
    d_c = (
        deg.join(labels, "v")
        .groupBy("label")
        .agg(F.sum("deg").cast("long").alias("d_c"))
    )
    e_c = (
        und.join(la, "a")
        .join(lb, "b")
        .where(F.col("la") == F.col("lb"))
        .groupBy(F.col("la").alias("label"))
        .agg(F.count("*").cast("long").alias("e_c"))
    )
    terms = (
        d_c.join(e_c, "label", "left")
        .withColumn("e_c", F.coalesce("e_c", F.lit(0)))
        .crossJoin(F.broadcast(m_row))
        .selectExpr(
            "CAST(floor((CAST(e_c AS DOUBLE) / m"
            " - (CAST(d_c AS DOUBLE) / (2 * m)) * (CAST(d_c AS DOUBLE) / (2 * m)))"
            " * 1000000000) AS BIGINT) AS t9",
            "m",
        )
    )
    return terms.groupBy().agg(
        F.count("*").cast("long").alias("n_communities"),
        F.max("m").alias("m_edges"),
        (F.sum("t9").cast("double") / F.lit(1000000000.0)).alias("modularity"),
    )


def modularity_oracle(edges_cte: str, rounds: int = 4) -> str:
    """Oracle: LPA communities (same unrolled rounds) + the identical
    per-community term arithmetic."""
    comm = label_propagation_oracle(edges_cte, rounds=rounds)
    return f"""WITH comm AS ({comm}),
s2 AS ({edges_cte}),
und2 AS (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
         FROM s2 WHERE src <> dst),
mt AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM und2),
deg AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS deg
        FROM (SELECT a AS v FROM und2 UNION ALL SELECT b FROM und2)
        GROUP BY v),
d_c AS (SELECT c.label, CAST(SUM(d.deg) AS BIGINT) AS d_c
        FROM deg d JOIN comm c ON d.v = c.v GROUP BY c.label),
e_c AS (SELECT ca.label, CAST(COUNT(*) AS BIGINT) AS e_c
        FROM und2 u JOIN comm ca ON u.a = ca.v JOIN comm cb ON u.b = cb.v
        WHERE ca.label = cb.label GROUP BY ca.label),
terms AS (
  SELECT CAST(floor((CAST(COALESCE(e_c.e_c, 0) AS DOUBLE) / mt.m
    - (CAST(d_c.d_c AS DOUBLE) / (2 * mt.m)) * (CAST(d_c.d_c AS DOUBLE) / (2 * mt.m)))
    * 1000000000) AS BIGINT) AS t9, mt.m
  FROM d_c LEFT JOIN e_c ON d_c.label = e_c.label CROSS JOIN mt)
SELECT CAST(COUNT(*) AS BIGINT) AS n_communities,
       MAX(m) AS m_edges,
       CAST(SUM(t9) AS DOUBLE) / 1000000000.0 AS modularity
FROM terms"""


def effective_diameter(edges: DataFrame, kmax: int = 3, q: float = 0.9) -> DataFrame:
    """Effective-diameter readout over the neighborhood function (the
    ANF paper's headline consumer): the smallest k ≤ kmax whose pair
    count reaches q of N(kmax), with the classic linear interpolation
    between N(k−1) and N(k) for a fractional answer.

    Built ON :func:`reach_profile`'s exact closure (k ≤ kmax bounded by
    contract; at 100 TB the same readout runs over
    :func:`reach_anf`'s HLL estimates — identical arithmetic, sketch
    inputs).  The interpolation is ONE closed-form double over exact
    BIGINT pair counts; the k-selection is a MIN over a boolean filter —
    both engines evaluate identical text.  qi is scaled to an exact
    integer (q·1e6) so the threshold comparison is integer-exact, never
    a float-boundary coin flip.  Output: (k_star, n_pairs_kmax,
    eff_diameter) — NULL eff_diameter when even N(1) already reaches
    the quantile and interpolation has no left neighbor (k_star = 1:
    the graph is within one hop of the target mass).
    """
    prof = reach_profile(edges, kmax=kmax).transform(_ckpt)
    return _diameter_readout(prof, kmax=kmax, q=q)


def _diameter_readout(prof: DataFrame, kmax: int, q: float) -> DataFrame:
    """The effective-diameter readout over ANY (k, n_pairs) neighborhood
    profile — exact closure counts (:func:`reach_profile`) or HLL
    estimates (:func:`reach_anf`) plug in interchangeably; the
    arithmetic is identical, which is the ANF paper's whole point."""
    qi = round(q * 1_000_000)
    total = prof.where(F.col("k") == kmax).select(
        F.col("n_pairs").alias("n_total")
    )
    j = prof.crossJoin(F.broadcast(total))
    # integer-exact threshold: n_pairs·1e6 >= qi·n_total
    hit = j.where(
        F.col("n_pairs") * F.lit(1_000_000) >= F.lit(qi) * F.col("n_total")
    ).agg(F.min("k").alias("k_star"))
    prev = prof.selectExpr("k + 1 AS k_star", "n_pairs AS n_prev")
    cur = prof.selectExpr("k AS k_star", "n_pairs AS n_cur")
    return (
        hit.join(prev, "k_star", "left")
        .join(cur, "k_star")
        .crossJoin(F.broadcast(total))
        .selectExpr(
            "k_star",
            "n_total AS n_pairs_kmax",
            # interpolate within (k-1, k]: k-1 + (q·N_total − N(k−1)) / (N(k) − N(k−1))
            f"CASE WHEN n_prev IS NOT NULL AND n_cur > n_prev THEN"
            f" floor((k_star - 1 + (CAST({q!r} AS DOUBLE) * n_total - n_prev) / (n_cur - n_prev))"
            " * 1000000) / 1000000 END AS eff_diameter",
        )
    )


def effective_diameter_anf(
    edges: DataFrame, kmax: int = 3, q: float = 0.9, rel_tol: float = 0.05
) -> DataFrame:
    """:func:`effective_diameter` computed FROM THE HLL SKETCH PROFILE
    (:func:`reach_anf`) — the actual 100 TB form the exact variant's
    docstring promises — gated with the ``reach_anf_checked``
    discipline: the EXPOSED columns are the exact readout (both engines
    can compute them), and the sketch-derived diameter only feeds an
    oracle-asserted agreement boolean, so a sketch gone wild
    hash-mismatches at the driver instead of hiding.

    ``anf_ok`` := both diameters NULL (k_star = 1 on both profiles), or
    both defined and |anf − exact| ≤ max(rel_tol·exact, rel_tol) — the
    absolute floor covers exact diameters near 0 where a relative band
    is vacuous.  At harness scale sparse-mode HLL is exact, so the two
    readouts are bit-identical and the boolean is deterministically
    TRUE; at 100 TB only this variant is runnable (the exact closure's
    Θ(pairs) state is not), with lgConfigK=12 rsd ≈ 1.6% well inside
    the 5% band.  Output: (k_star, n_pairs_kmax, eff_diameter, anf_ok).
    """
    exact = _diameter_readout(
        reach_profile(edges, kmax=kmax).transform(_ckpt), kmax=kmax, q=q
    )
    anf_prof = reach_anf(edges, kmax=kmax).selectExpr(
        "k", "approx_pairs AS n_pairs"
    )
    anf = _diameter_readout(
        anf_prof.transform(_ckpt), kmax=kmax, q=q
    ).selectExpr("eff_diameter AS ed_anf")
    ok = (
        "(eff_diameter IS NULL AND ed_anf IS NULL) OR "
        f"(eff_diameter IS NOT NULL AND ed_anf IS NOT NULL AND "
        f"abs(ed_anf - eff_diameter) <= greatest({rel_tol!r} * eff_diameter, {rel_tol!r}))"
    )
    return (
        exact.crossJoin(F.broadcast(anf))
        .selectExpr(
            "k_star", "n_pairs_kmax", "eff_diameter", f"({ok}) AS anf_ok"
        )
    )


def effective_diameter_anf_oracle(
    edges_cte: str, kmax: int = 3, q: float = 0.9
) -> str:
    """Exact readout + asserted sketch-agreement boolean (the
    ``reach_anf_checked_oracle`` discipline)."""
    inner = effective_diameter_oracle(edges_cte, kmax=kmax, q=q)
    return f"""WITH ex AS ({inner})
SELECT k_star, n_pairs_kmax, eff_diameter, TRUE AS anf_ok FROM ex"""


def effective_diameter_oracle(edges_cte: str, kmax: int = 3, q: float = 0.9) -> str:
    qi = round(q * 1_000_000)
    prof = reach_profile_oracle(edges_cte, kmax=kmax)
    return f"""WITH prof AS ({prof}),
total AS (SELECT n_pairs AS n_total FROM prof WHERE k = {kmax}),
hit AS (
  SELECT MIN(k) AS k_star FROM prof CROSS JOIN total
  WHERE n_pairs * 1000000 >= {qi} * n_total),
prev AS (SELECT k + 1 AS k_star, n_pairs AS n_prev FROM prof),
cur AS (SELECT k AS k_star, n_pairs AS n_cur FROM prof)
SELECT h.k_star, t.n_total AS n_pairs_kmax,
  CASE WHEN p.n_prev IS NOT NULL AND c.n_cur > p.n_prev THEN
    floor((h.k_star - 1 + (CAST({q!r} AS DOUBLE) * t.n_total - p.n_prev) / (c.n_cur - p.n_prev))
      * 1000000) / 1000000 END AS eff_diameter
FROM hit h
LEFT JOIN prev p ON h.k_star = p.k_star
JOIN cur c ON h.k_star = c.k_star
CROSS JOIN total t"""


# ---------------------------------------------------------------------------
# Weighted single-source shortest paths (bounded-hop Bellman-Ford)
# ---------------------------------------------------------------------------

def sssp_weighted(edges: DataFrame, source: int, max_hops: int = 6) -> DataFrame:
    """Weighted single-source shortest distances by synchronous
    Bellman-Ford relaxation, bounded at ``max_hops`` edges — the
    weighted upgrade of :func:`bfs_distances` (hop counts can't rank
    routes when edges carry costs; BFS's settle-once trick is invalid
    under weights, so every pass re-relaxes: union candidates, MIN per
    node).

    Edge weights are derived deterministically from the endpoints
    (``1 + (src + dst) % 5`` — the harness has no weight column), so
    the DuckDB oracle prices every edge identically.

    Semantics: after k passes, dist(v) = min total weight over paths
    from ``source`` with ≤ k edges — EXACTLY the oracle's hop-bounded
    recursive walk, so bounded-round output is comparable even if the
    graph's weighted eccentricity exceeds ``max_hops`` (the k-core
    bounded-rounds discipline).

    Scale shape: per pass ONE frontier ⋈ edges equi-join (AQE splits
    hub keys) and one MIN hash-agg over O(|V reachable|) rows; state
    is (id, dist) — aggregate-sized, never edges; lazy-checkpoint
    severance per pass (``_ckpt``).  O(max_hops) passes with NO
    per-pass driver action: the loop is a fixed-depth plan chain, the
    one materializing action is the final readout.
    Output: (id, dist) for every node reachable within ``max_hops``.
    """
    e = edges.selectExpr(
        "src", "dst", "CAST(1 + (src + dst) % 5 AS BIGINT) AS w"
    ).transform(_ckpt)
    spark = edges.sparkSession
    dist = spark.range(1).select(
        F.lit(source).cast("long").alias("id"),
        F.lit(0).cast("long").alias("dist"),
    ).transform(_ckpt)
    for _ in range(max_hops):
        cand = (
            dist.join(e, dist["id"] == e["src"])
            .select(e["dst"].alias("id"), (dist["dist"] + e["w"]).alias("dist"))
        )
        dist = (
            dist.unionAll(cand)
            .groupBy("id")
            .agg(F.min("dist").cast("long").alias("dist"))
            .transform(_ckpt)
        )
    return dist


def sssp_weighted_oracle(edges_cte: str, source: int, max_hops: int = 6) -> str:
    """DuckDB oracle: hop-bounded recursive walk over the same priced
    edges, MIN total weight per node."""
    return f"""WITH RECURSIVE e AS (
  SELECT src, dst, CAST(1 + (src + dst) % 5 AS BIGINT) AS w
  FROM ({edges_cte})),
walk(id, d, h) AS (
  SELECT CAST({source} AS BIGINT), CAST(0 AS BIGINT), 0
  UNION
  SELECT e.dst, w.d + e.w, w.h + 1 FROM walk w JOIN e ON w.id = e.src
  WHERE w.h < {max_hops}
)
SELECT id, CAST(MIN(d) AS BIGINT) AS dist FROM walk GROUP BY id"""


# ---------------------------------------------------------------------------
# Hub-attack tolerance: robustness of the component structure
# ---------------------------------------------------------------------------

def hub_attack_tolerance(edges: DataFrame, top_k: int = 5, max_iter: int = 30) -> DataFrame:
    """Targeted-attack robustness readout: remove the ``top_k``
    highest-degree hubs and measure what happens to the component
    structure — the scale-free-network fragility experiment (Albert,
    Jeong & Barabási 2000: power-law graphs shrug off random failures
    but shatter under targeted hub removal).  For a follower graph
    this is "how much of the network's connectivity is carried by the
    top accounts".

    Composition of existing scale paths: undirected degrees (one hash
    agg), hub pick by (degree DESC, id ASC) TakeOrdered — total-order
    deterministic; two :func:`connected_components` runs (full and
    hub-removed, O(log n) two-star rounds each); survivors that lost ALL
    their edges with the hubs are counted as singleton components via
    one anti-join count (CC only labels nodes with ≥1 edge).  The
    before/after summaries are 1-row reduces combined by declared 1×1
    crosses.

    Output (1 row): n_nodes, n_hubs_removed, n_comp_before,
    giant_before, n_comp_after, giant_after, n_isolated_after.
    """
    # materialize the (possibly expensive) edge derivation ONCE — five
    # downstream consumers (degrees, both CC runs, kept, survivors)
    # otherwise each re-run the scan + DISTINCT
    edges = edges.select("src", "dst").transform(_ckpt)
    und = edges.select(F.col("src").alias("a"), F.col("dst").alias("b")).union(
        edges.select(F.col("dst").alias("a"), F.col("src").alias("b"))
    ).distinct()
    deg = und.groupBy(F.col("a").alias("id")).agg(F.count("*").cast("long").alias("d"))
    hubs = (
        deg.orderBy(F.col("d").desc(), F.col("id").asc())
        .limit(top_k)
        .select("id")
    )
    nodes = deg.select("id")

    def summary(e: DataFrame, prefix: str) -> DataFrame:
        # two-star contraction, not hash-min: the sparse slice's
        # diameter makes label propagation ~2x slower per run here
        # (O(diameter) vs O(log n) rounds) — measured 21 s -> 12 s at
        # sf0.1 for the pair of runs
        comp = connected_components_twostar(e, max_iter=max_iter)
        sizes = comp.groupBy("comp").agg(F.count("*").cast("long").alias("sz"))
        return sizes.agg(
            F.count("*").cast("long").alias(f"n_comp_{prefix}"),
            # coalesce: hub removal can strip EVERY edge (small graph /
            # large top_k), and max over zero rows is NULL — both
            # engines must emit 0 for the empty component set
            F.coalesce(F.max("sz"), F.lit(0)).cast("long").alias(f"giant_{prefix}"),
        )

    kept = (
        edges.join(F.broadcast(hubs), edges["src"] == hubs["id"], "left_anti")
        .join(F.broadcast(hubs), F.col("dst") == hubs["id"], "left_anti")
    )
    # the before/after CC runs are INDEPENDENT iterative loops whose
    # wall time is dominated by sequential driver round-trips (per-round
    # planning + convergence action) — run them concurrently from two
    # driver threads so one loop's actions back-fill the other's idle
    # gaps (guide §2.6 "overlap independent jobs"); results are the
    # same two 1-row frames, composed identically below
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        f_before = pool.submit(summary, edges, "before")
        f_after = pool.submit(summary, kept, "after0")
        before = f_before.result()
        after_conn = f_after.result()
    survivors = nodes.join(F.broadcast(hubs), "id", "left_anti")
    connected_after = (
        kept.select(F.col("src").alias("id"))
        .union(kept.select(F.col("dst").alias("id")))
        .distinct()
    )
    isolated = survivors.join(connected_after, "id", "left_anti").agg(
        F.count("*").cast("long").alias("n_isolated_after")
    )
    totals = nodes.agg(F.count("*").cast("long").alias("n_nodes"))
    # four 1-row reduces → three declared 1×1 crosses
    return (
        totals.crossJoin(F.broadcast(before))
        .crossJoin(F.broadcast(after_conn))
        .crossJoin(F.broadcast(isolated))
        .selectExpr(
            "n_nodes",
            f"CAST({top_k} AS BIGINT) AS n_hubs_removed",
            "n_comp_before",
            "giant_before",
            "n_comp_after0 + n_isolated_after AS n_comp_after",
            "giant_after0 AS giant_after",
            "n_isolated_after",
        )
    )


def hub_attack_tolerance_oracle(edges_cte: str, top_k: int = 5) -> str:
    return f"""WITH RECURSIVE s AS ({edges_cte}),
und AS (SELECT src AS a, dst AS b FROM s UNION SELECT dst, src FROM s),
deg AS (SELECT a AS id, CAST(COUNT(*) AS BIGINT) AS d FROM und GROUP BY 1),
hubs AS (SELECT id FROM deg ORDER BY d DESC, id ASC LIMIT {top_k}),
walk(id, r) AS (
  SELECT a, a FROM und
  UNION
  SELECT w.id, u.b FROM walk w JOIN und u ON w.r = u.a
),
comp_b AS (SELECT id, MIN(r) AS comp FROM walk GROUP BY id),
sizes_b AS (SELECT comp, CAST(COUNT(*) AS BIGINT) AS sz FROM comp_b GROUP BY 1),
before AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_comp_before,
                  CAST(coalesce(MAX(sz), 0) AS BIGINT) AS giant_before FROM sizes_b),
kept AS (
  SELECT src, dst FROM s
  WHERE src NOT IN (SELECT id FROM hubs) AND dst NOT IN (SELECT id FROM hubs)),
undk AS (SELECT src AS a, dst AS b FROM kept UNION SELECT dst, src FROM kept),
walk2(id, r) AS (
  SELECT a, a FROM undk
  UNION
  SELECT w.id, u.b FROM walk2 w JOIN undk u ON w.r = u.a
),
comp_a AS (SELECT id, MIN(r) AS comp FROM walk2 GROUP BY id),
sizes_a AS (SELECT comp, CAST(COUNT(*) AS BIGINT) AS sz FROM comp_a GROUP BY 1),
after0 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_comp_after0,
                  CAST(coalesce(MAX(sz), 0) AS BIGINT) AS giant_after0 FROM sizes_a),
survivors AS (SELECT id FROM deg WHERE id NOT IN (SELECT id FROM hubs)),
isolated AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_isolated_after FROM survivors
  WHERE id NOT IN (SELECT id FROM comp_a)),
totals AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes FROM deg)
SELECT n_nodes, CAST({top_k} AS BIGINT) AS n_hubs_removed,
  n_comp_before, giant_before,
  n_comp_after0 + n_isolated_after AS n_comp_after,
  giant_after0 AS giant_after,
  n_isolated_after
FROM totals CROSS JOIN before CROSS JOIN after0 CROSS JOIN isolated"""


#: One Brandes dependency term on the 1e-6 integer grid — the device
#: that makes the backward pass hash-gateable: σ_v/σ_w is ONE correctly
#: rounded IEEE division (σ_w = Σ predecessors ≥ σ_v, so the ratio is
#: ≤ 1), the (1 + δ_w/1e6) factor and the product are each one rounded
#: op on identical inputs in both engines, and the floored micro-term
#: is a BIGINT whose per-node SUM is exact and order-free — a double
#: SUM here would be shuffle-order dependent and break the oracle hash.
_BRANDES_TERM = (
    "CAST(FLOOR(1000000.0 * ((CAST({sv} AS DOUBLE) / CAST({sw} AS DOUBLE)) * "
    "(1.0 + CAST({dw} AS DOUBLE) / 1000000.0)) + 0.5) AS BIGINT)"
)


def betweenness_landmark(
    edges: DataFrame, mod: int = 20, max_depth: int = 3
) -> DataFrame:
    """Landmark-sampled betweenness centrality (Brandes 2001, the
    standard sampled estimator: exact dependency accumulation from a
    deterministic source sample, here ids ≡ 0 mod ``mod`` — never a
    rand() source set): which nodes sit on the shortest paths of the
    follow graph — the brokerage score closeness/PageRank don't give.

    FORWARD: one synchronized multi-source BFS keyed by (landmark,
    node) — the ``landmark_closeness`` state shape — except the
    frontier carries σ (shortest-path counts): each pass is one
    frontier⋈edges join + a SUM(σ) hash-agg per new node, anti-joined
    against settled.  BACKWARD (Brandes): δ(v) = Σ_{w∈succ}
    (σ_v/σ_w)(1+δ_w) accumulated depth-by-depth from ``max_depth``
    down, each pass one settled⋈edges⋈settled equi-join + a BIGINT
    hash-agg of micro-unit terms (``_BRANDES_TERM``).  Both directions
    are |L|·deg-driven equi-joins; horizon-bounded like every landmark
    op here (the oracle unrolls the same bound).

    Output: (id, bw_micro, n_landmarks) for nodes with positive
    accumulated dependency — bw_micro/1e6 ≈ Σ_{s∈L} δ_s(v), the
    unnormalized sampled betweenness.
    """
    e = edges.select("src", "dst").distinct().transform(_ckpt)
    nodes = (
        e.select(F.col("src").alias("id"))
        .union(e.select(F.col("dst").alias("id")))
        .distinct()
    )
    lm = nodes.where(F.col("id") % mod == 0)
    # settled σ-state: (landmark, id, dist, sigma); seed σ(s,s)=1
    sig = lm.select(
        F.col("id").alias("landmark"),
        F.col("id"),
        F.lit(0).cast("long").alias("dist"),
        F.lit(1).cast("long").alias("sigma"),
    ).transform(_ckpt)
    frontier = sig
    for d in range(1, max_depth + 1):
        nxt = (
            frontier.join(e, frontier["id"] == e["src"])
            .select("landmark", F.col("dst").alias("id"), "sigma")
            .groupBy("landmark", "id")
            .agg(F.sum("sigma").cast("long").alias("sigma"))
            .join(sig.select("landmark", "id"), ["landmark", "id"], "left_anti")
            .select(
                "landmark", "id", F.lit(d).cast("long").alias("dist"), "sigma"
            )
            .transform(_ckpt)
        )
        sig = sig.unionAll(nxt).transform(_ckpt)
        frontier = nxt
    # backward dependency accumulation, deepest level first (δ there 0);
    # every INTERMEDIATE level (dist 1..max_depth-1) contributes to the
    # final score — the source level itself is excluded by definition
    delta = None  # (landmark, id, delta_micro) for dist == current d+1
    all_deltas = []
    for d in range(max_depth - 1, 0, -1):
        lvl = sig.where(F.col("dist") == d).select(
            "landmark", "id", F.col("sigma").alias("sigma_v")
        )
        succ = sig.where(F.col("dist") == d + 1).select(
            F.col("landmark").alias("slm"),
            F.col("id").alias("wid"),
            F.col("sigma").alias("sigma_w"),
        )
        j = (
            lvl.join(e, lvl["id"] == e["src"])
            .join(
                succ,
                (F.col("slm") == F.col("landmark"))
                & (F.col("wid") == F.col("dst")),
            )
            .select("landmark", "id", "sigma_v", "wid", "sigma_w")
        )
        if delta is not None:
            j = j.join(
                delta.select(
                    F.col("landmark").alias("dl"),
                    F.col("id").alias("dwid"),
                    F.col("delta_micro").alias("dw"),
                ),
                (F.col("dl") == F.col("landmark"))
                & (F.col("dwid") == F.col("wid")),
                "left",
            ).select(
                "landmark",
                "id",
                "sigma_v",
                "sigma_w",
                F.coalesce(F.col("dw"), F.lit(0).cast("long")).alias("dw"),
            )
        else:
            j = j.select(
                "landmark",
                "id",
                "sigma_v",
                "sigma_w",
                F.lit(0).cast("long").alias("dw"),
            )
        term = _BRANDES_TERM.format(sv="sigma_v", sw="sigma_w", dw="dw")
        delta = (
            j.selectExpr("landmark", "id", f"{term} AS t")
            .groupBy("landmark", "id")
            .agg(F.sum("t").cast("long").alias("delta_micro"))
            .transform(_ckpt)
        )
        all_deltas.append(delta)
    acc = all_deltas[0]
    for piece in all_deltas[1:]:
        acc = acc.unionAll(piece)
    bw = (
        acc.where(F.col("id") != F.col("landmark"))
        .groupBy("id")
        .agg(
            F.sum("delta_micro").cast("long").alias("bw_micro"),
            F.count("*").cast("long").alias("n_landmarks"),
        )
        .where(F.col("bw_micro") > 0)
    )
    return bw


def betweenness_landmark_oracle(
    edges_cte: str, mod: int = 20, max_depth: int = 3
) -> str:
    """Unrolled-CTE mirror: walk counts per depth give (dist, σ) as
    (MIN depth, count at that depth); the backward pass unrolls one CTE
    per depth with the same micro-unit term."""
    walks = ["w0(landmark, id, c) AS (SELECT landmark, landmark, CAST(1 AS BIGINT) FROM lm)"]
    for d in range(1, max_depth + 1):
        walks.append(
            f"w{d}(landmark, id, c) AS (SELECT w.landmark, e.dst, CAST(SUM(w.c) AS BIGINT) "
            f"FROM w{d - 1} w JOIN e ON w.id = e.src GROUP BY w.landmark, e.dst)"
        )
    allw = " UNION ALL ".join(
        f"SELECT landmark, id, {d} AS d, c FROM w{d}" for d in range(0, max_depth + 1)
    )
    deltas = [
        f"delta{max_depth} AS (SELECT landmark, id, CAST(0 AS BIGINT) AS delta_micro "
        f"FROM sig WHERE dist = {max_depth} AND 1 = 0)"  # empty: deepest level has δ=0
    ]
    term = _BRANDES_TERM.format(
        sv="v.sigma", sw="sw.sigma", dw="coalesce(dw.delta_micro, 0)"
    )
    for d in range(max_depth - 1, 0, -1):
        deltas.append(
            f"""delta{d} AS (
  SELECT v.landmark, v.id, CAST(SUM({term}) AS BIGINT) AS delta_micro
  FROM sig v
  JOIN e ON v.id = e.src
  JOIN sig sw ON sw.landmark = v.landmark AND sw.id = e.dst AND sw.dist = {d + 1}
  LEFT JOIN delta{d + 1} dw ON dw.landmark = v.landmark AND dw.id = sw.id
  WHERE v.dist = {d}
  GROUP BY v.landmark, v.id)"""
        )
    walks_sql = ",\n".join(walks)
    deltas_sql = ",\n".join(deltas)
    all_delta_sql = " UNION ALL ".join(
        f"SELECT landmark, id, delta_micro FROM delta{d}"
        for d in range(1, max_depth)
    )
    return f"""WITH e AS (SELECT DISTINCT src, dst FROM ({edges_cte}) s0),
nodes AS (SELECT DISTINCT id FROM (SELECT src AS id FROM e UNION ALL SELECT dst FROM e) n0),
lm AS (SELECT id AS landmark FROM nodes WHERE id % {mod} = 0),
{walks_sql},
allw AS ({allw}),
settled AS (SELECT landmark, id, MIN(d) AS dist FROM allw GROUP BY landmark, id),
sig AS (
  SELECT s.landmark, s.id, s.dist, w.c AS sigma
  FROM settled s JOIN allw w
    ON w.landmark = s.landmark AND w.id = s.id AND w.d = s.dist),
{deltas_sql},
alldelta AS ({all_delta_sql})
SELECT id, CAST(SUM(delta_micro) AS BIGINT) AS bw_micro,
       CAST(COUNT(*) AS BIGINT) AS n_landmarks
FROM alldelta
WHERE id <> landmark
GROUP BY id
HAVING SUM(delta_micro) > 0"""
