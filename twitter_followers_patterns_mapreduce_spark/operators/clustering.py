"""Deterministic k-means (Lloyd's algorithm) over the ``embeddings``
table — the coarse-quantizer trainer for IVF-style ANN
(``operators/similarity.py`` uses the harness ``label`` column as a
stand-in assignment; this is the real trainer, Spark-first).

Oracle-exact iterative ML, same recipe as PageRank
(``operators/graph_iter.py``): fixed iteration count, deterministic
init (the first ``k`` vectors by ``vec_id``), per-dimension means
reduced in DECIMAL (order-independent), distances as IEEE-double folds
in index order (bit-identical across engines), and the argmin floored
onto a 1e-9 grid with a cid tie-break so assignment never depends on a
last-ulp difference.  The DuckDB oracle is the same fixed-point
unrolled as a CTE chain.

Scale shape per iteration: one bounded |V| × k cross against the
broadcast centroid table (the declared IVF probe pattern), a hash-agg
argmin (``min(struct(d, cid))``, partial map-side — see ``_assign``),
one posexplode + hash-agg for the means — no windows, no global sorts,
no data-sized cross joins.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from twitter_followers_patterns_mapreduce_spark.functions.checkpoint import lazy_ckpt
from twitter_followers_patterns_mapreduce_spark.functions.vector import as_double
from twitter_followers_patterns_mapreduce_spark.sources.readers import fan_out

_DEC = "decimal(28,12)"
#: argmin comparisons happen on floor(dist² · GRID): absorbs any
#: cross-engine last-ulp noise; ties broken by cid.
_GRID = 1_000_000_000
DIMS = 64


def _dist2(v: Column, c: Column) -> Column:
    """Squared L2 distance as a sequential fold (deterministic order)."""
    return F.aggregate(
        F.zip_with(v, c, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _assign(emb: DataFrame, cents: DataFrame) -> DataFrame:
    """(vec_id, v, cid): nearest centroid per vector — bounded |V| × k
    cross against the broadcast centroid table, grid-floored argmin.

    The argmin is a hash aggregate (``min(struct(d, cid))`` —
    lexicographic struct ordering IS the (d, cid) tiebreak), not a
    partitioned window: partial aggregation collapses the k candidate
    rows map-side, so the shuffle carries |V| rows instead of sorting
    |V|·k — the difference between an agg and a sort at 100 TB; the
    vector column rejoins from the checkpointed base (k-free)."""
    scored = emb.crossJoin(F.broadcast(cents)).select(
        "vec_id",
        "cid",
        F.floor(_dist2(F.col("v"), F.col("c")) * _GRID).alias("d"),
    )
    best = (
        scored.groupBy("vec_id")
        .agg(F.min(F.struct("d", "cid")).alias("b"))
        .select("vec_id", F.col("b.cid").alias("cid"))
    )
    return emb.join(best, "vec_id").select("vec_id", "v", "cid")


def _update(assign: DataFrame) -> DataFrame:
    """(cid, c): per-dimension DECIMAL-mean of each cluster's members."""
    dims = assign.select("cid", F.posexplode_outer("v").alias("pos", "val"))
    means = dims.groupBy("cid", "pos").agg(
        (F.sum(F.col("val").cast(_DEC)).cast("double") / F.count("*")).alias("m")
    )
    return means.groupBy("cid").agg(
        F.expr("transform(array_sort(collect_list(struct(pos, m))), x -> x.m)").alias("c")
    )


def kmeans_model(
    embeddings: DataFrame, k: int = 8, iters: int = 2
) -> tuple[DataFrame, DataFrame]:
    """Train the quantizer: returns (centroids (cid, c ARRAY<DOUBLE>),
    assignment (vec_id, v, cid)) after ``iters`` Lloyd update rounds
    from the deterministic init plus a final assignment."""
    emb = fan_out(embeddings).select(
        "vec_id", as_double("embedding").alias("v")
    ).transform(lazy_ckpt)
    cents = emb.where(F.col("vec_id") < k).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("c")
    )
    for _ in range(iters):
        # lazy checkpoint per round: each centroid table is computed
        # once even though the next round references it k·|V| times in
        # the assignment cross, and the plan stays O(1) deep
        cents = _update(_assign(emb, cents)).transform(lazy_ckpt)
    # consumers (IVF search, semantic dedup) join the assignment against
    # itself — checkpoint it so the Lloyd chain never replays per branch
    return cents, _assign(emb, cents).transform(lazy_ckpt)


def kmeans_fit(embeddings: DataFrame, k: int = 8, iters: int = 2) -> DataFrame:
    """Exploded comparable form of :func:`kmeans_model`:
    (cid, dim, centroid_val 6dp, n_members) — flat doubles, no nested
    arrays in the comparable output."""
    cents, final = kmeans_model(embeddings, k=k, iters=iters)
    counts = final.groupBy("cid").agg(F.count("*").alias("n_members"))
    out = cents.select("cid", F.posexplode_outer("c").alias("dim", "centroid_val"))
    return out.join(counts, "cid").selectExpr(
        "cid",
        "CAST(dim AS BIGINT) AS dim",
        "floor(centroid_val * 1e6) / 1e6 AS centroid_val",
        "n_members",
    )


def _dist2_sql(v: str, c: str) -> str:
    return (
        f"list_aggregate(list_transform(range(1, {DIMS + 1}), "
        f"i -> ({v}[i] - {c}[i]) * ({v}[i] - {c}[i])), 'sum')"
    )


def _kmeans_cte_chain(k: int = 8, iters: int = 2) -> str:
    """The Lloyd fixed point unrolled as DuckDB CTEs: ``WITH emb, c0,
    a0, c1, …, a{iters}`` — reused by the fit oracle and the IVF-search
    oracle."""
    parts = [
        f"""WITH emb AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), c0 AS (
  SELECT vec_id AS cid, v AS c FROM emb WHERE vec_id < {k}
)"""
    ]
    d = _dist2_sql("e.v", "c.c")
    for i in range(iters + 1):  # iters updates + the final assignment
        parts.append(
            f""",
a{i} AS (
  SELECT vec_id, v, cid FROM (
    SELECT e.vec_id, e.v, c.cid,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY floor({d} * {_GRID}) ASC, c.cid ASC) AS rn
    FROM emb e CROSS JOIN c{i} c
  ) WHERE rn = 1
)"""
        )
        if i < iters:
            parts.append(
                f""",
c{i + 1} AS (
  SELECT cid, list(m ORDER BY i) AS c FROM (
    SELECT cid, i,
           CAST(SUM(CAST(v[i] AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*) AS m
    FROM a{i}, (SELECT unnest(range(1, {DIMS + 1})) AS i) dims
    GROUP BY cid, i
  ) GROUP BY cid
)"""
            )
    return "".join(parts)


def kmeans_fit_oracle(k: int = 8, iters: int = 2) -> str:
    return (
        _kmeans_cte_chain(k, iters)
        + f"""
SELECT c.cid,
       CAST(i - 1 AS BIGINT) AS dim,
       floor(c.c[i] * 1e6) / 1e6 AS centroid_val,
       n.n_members
FROM c{iters} c,
     (SELECT unnest(range(1, {DIMS + 1})) AS i) dims,
     (SELECT cid, COUNT(*) AS n_members FROM a{iters} GROUP BY cid) n
WHERE n.cid = c.cid"""
    )


# ---------------------------------------------------------------------------
# IVF search over the trained quantizer (train → assign → probe → search)
# ---------------------------------------------------------------------------

def ann_topk_ivf_kmeans(embeddings: DataFrame, k: int = 5, n_probe: int = 2,
                        n_clusters: int = 8, iters: int = 2) -> DataFrame:
    """End-to-end IVF ANN with the k-means-trained coarse quantizer —
    closes the loop that ``similarity.ann_topk_ivf`` approximates with
    the harness ``label`` column.  One lazy DAG: Lloyd training, final
    corpus assignment, per-query probe selection over the (tiny,
    broadcast) centroid table, exact cosine top-k inside the probed
    inverted lists.  Probe ordering compares cosines on a 1e-9-grid
    floor (cid tie-break) so probe choice never turns on a last ulp.
    """
    from twitter_followers_patterns_mapreduce_spark.functions.vector import (
        cosine,
        cosine_with_norms,
        norm,
    )
    from twitter_followers_patterns_mapreduce_spark.operators.similarity import QUERY_MOD

    cents, assign = kmeans_model(embeddings, k=n_clusters, iters=iters)
    corpus = assign.withColumn("nv", norm(F.col("v")))
    q = corpus.where(F.col("vec_id") % QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv"), F.col("nv").alias("nq")
    )
    qc = F.broadcast(q).crossJoin(F.broadcast(cents)).select(
        "query_id", "qv", "nq", "cid",
        F.floor(cosine(F.col("qv"), F.col("c")) * _GRID).alias("cs"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cs").desc(), F.col("cid").asc())
    probes = (
        qc.withColumn("crank", F.row_number().over(w))
        .where(F.col("crank") <= n_probe)
        .select("query_id", "qv", "nq", "cid")
    )
    sim = F.round(cosine_with_norms(F.col("qv"), F.col("v"), F.col("nq"), F.col("nv")), 6)
    scored = (
        F.broadcast(probes)
        .join(corpus, (probes["cid"] == corpus["cid"]) & (F.col("query_id") != F.col("vec_id")))
        .select("query_id", F.col("vec_id").alias("neighbor_id"), sim.alias("sim"))
    )
    wk = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(wk))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "sim")
    )


def semantic_dedup(embeddings: DataFrame, threshold: float = 0.95,
                   n_clusters: int = 8, iters: int = 2) -> DataFrame:
    """SemDeDup-style semantic near-duplicate removal (Abbas et al.,
    "SemDeDup: Data-efficient learning at web-scale through semantic
    deduplication", 2023 — public method): k-means-cluster the
    embeddings, then compare pairs ONLY within a cluster and drop every
    vector whose cosine to a lower-id cluster-mate reaches ``threshold``.

    Returns one row per vector: (vec_id, cid, is_dup, dup_of, sim) —
    ``dup_of`` is the lower-id cluster-mate with the highest similarity
    (grid-floored ordering, id tie-break), NULL when the vector is kept.

    Determinism note: published SemDeDup keeps the cluster member
    farthest from the centroid per duplicate group; this engine keeps
    the LOWEST vec_id and marks a vector dup if ANY earlier cluster-mate
    is near — a relational (join + window) rule with no sequential
    dependence, so the result is exact and oracle-checkable.  The
    decision compares ``floor(cos·1e9)`` so it never turns on a last
    ulp.

    Scale shape (the SemDeDup point): candidate pairs are bounded by
    Σ|cluster|² instead of n² — the cluster id is the equi-join key, so
    the comparison is a shuffle hash join per cluster, never a global
    cross join; AQE splits any megacluster.  Train cost is the k-means
    DAG (bounded |V|·k cross against broadcast centroids).
    """
    from twitter_followers_patterns_mapreduce_spark.functions.vector import (
        cosine_with_norms,
        norm,
    )

    _, assign = kmeans_model(embeddings, k=n_clusters, iters=iters)
    # lazy checkpoint (round-11): a, b, and the final left join all read
    # this frame — without the barrier the k-means assignment DAG
    # (n·k broadcast-argmin distance evaluations) executed three times
    # per run (measured cold 9.9 s → 5.8 s at sf0.1; output identical)
    corpus = assign.withColumn("nv", norm(F.col("v"))).transform(lazy_ckpt)
    a = corpus.select(
        F.col("vec_id").alias("vec_id"), F.col("cid").alias("cid"),
        F.col("v").alias("av"), F.col("nv").alias("an"),
    )
    b = corpus.select(
        F.col("vec_id").alias("b_id"), F.col("cid").alias("b_cid"),
        F.col("v").alias("bv"), F.col("nv").alias("bn"),
    )
    cos = cosine_with_norms(F.col("av"), F.col("bv"), F.col("an"), F.col("bn"))
    pairs = (
        a.join(b, (a["cid"] == b["b_cid"]) & (b["b_id"] < a["vec_id"]))
        .select("vec_id", "cid", "b_id", F.floor(cos * _GRID).alias("s"))
        .where(F.col("s") >= int(threshold * _GRID))
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("s").desc(), F.col("b_id").asc())
    best = (
        pairs.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            F.col("vec_id").alias("d_id"),
            F.col("b_id").alias("dup_of"),
            (F.col("s") / _GRID).alias("sim"),
        )
    )
    return (
        corpus.join(best, corpus["vec_id"] == best["d_id"], "left")
        .select(
            "vec_id",
            "cid",
            F.col("dup_of").isNotNull().alias("is_dup"),
            "dup_of",
            F.round("sim", 6).alias("sim"),
        )
    )


def semantic_dedup_oracle(threshold: float = 0.95, n_clusters: int = 8,
                          iters: int = 2) -> str:
    from twitter_followers_patterns_mapreduce_spark.functions.vector import (
        cosine_sql_duckdb,
    )

    cos = cosine_sql_duckdb("a.v", "b.v")
    thr = int(threshold * _GRID)
    return (
        _kmeans_cte_chain(n_clusters, iters)
        + f""",
corpus AS (SELECT vec_id, v, cid FROM a{iters}),
pairs AS (
  SELECT a.vec_id, a.cid, b.vec_id AS b_id, floor(({cos}) * {_GRID}) AS s
  FROM corpus a JOIN corpus b ON a.cid = b.cid AND b.vec_id < a.vec_id
  WHERE floor(({cos}) * {_GRID}) >= {thr}
),
best AS (
  SELECT vec_id AS d_id, b_id AS dup_of, s / {_GRID} AS sim FROM (
    SELECT vec_id, b_id, s,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY s DESC, b_id ASC) AS rn
    FROM pairs
  ) WHERE rn = 1
)
SELECT c.vec_id, c.cid,
       (b.dup_of IS NOT NULL) AS is_dup,
       b.dup_of,
       round(b.sim, 6) AS sim
FROM corpus c LEFT JOIN best b ON c.vec_id = b.d_id"""
    )


def ann_topk_ivf_kmeans_oracle(k: int = 5, n_probe: int = 2,
                               n_clusters: int = 8, iters: int = 2) -> str:
    from twitter_followers_patterns_mapreduce_spark.functions.vector import (
        cosine_sql_duckdb,
    )
    from twitter_followers_patterns_mapreduce_spark.operators.similarity import QUERY_MOD

    cos_c = cosine_sql_duckdb("q.qv", "c.c")
    cos_v = cosine_sql_duckdb("p.qv", "e.v")
    return (
        _kmeans_cte_chain(n_clusters, iters)
        + f""",
corpus AS (SELECT vec_id, v, cid FROM a{iters}),
q AS (
  SELECT vec_id AS query_id, v AS qv FROM corpus WHERE vec_id % {QUERY_MOD} = 0
),
probes AS (
  SELECT query_id, qv, cid FROM (
    SELECT q.query_id, q.qv, c.cid,
           row_number() OVER (PARTITION BY q.query_id
                              ORDER BY floor(({cos_c}) * {_GRID}) DESC, c.cid ASC) AS crank
    FROM q CROSS JOIN c{iters} c
  ) WHERE crank <= {n_probe}
),
scored AS (
  SELECT p.query_id, e.vec_id AS neighbor_id, round({cos_v}, 6) AS sim
  FROM probes p JOIN corpus e ON p.cid = e.cid AND p.query_id <> e.vec_id
),
ranked AS (
  SELECT query_id, neighbor_id, sim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY sim DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, sim
FROM ranked WHERE rank <= {k}"""
    )


# ---------------------------------------------------------------------------
# Logistic regression by full-batch gradient descent (supervised trainer)
# ---------------------------------------------------------------------------


def _logreg_weights(
    embeddings: DataFrame, target_label: int, iters: int, lr: float
) -> tuple[DataFrame, list[float], float]:
    """Shared GD loop for the logreg family: returns (emb, w, b) — the
    checkpointed (vec_id, v, y) base plus the trained weight vector and
    bias as plain Python floats.

    Distributed supervised training as a PARAMETER SERVER round-trip:
    the model is O(d) values, so each iteration broadcasts it back as
    LITERAL expressions (the dot product is a scan-side IEEE fold inside
    codegen — zero joins, zero shuffles) and the gradient allreduce is
    ONE hash-agg: posexplode the feature vector with the bias folded in
    as a constant pseudo-feature (dim d, x = 1), group by dim — d+1
    output cells, per-term reductions quantized on the DECIMAL(28,12)
    grid so the result is identical under any partitioning.  One action
    per iteration collects the d+1 gradient cells; row data never
    leaves the executors.

    Round-12 (guide §1.2 per-task work, the splits.py ``_dot``
    discipline): the quantized terms accumulate as hi/lo-split BIGINTs
    (``q12 = CAST(grid value × 10¹² AS BIGINT)``, exact long sums of
    ``q12 DIV 10⁶`` and ``q12 % 10⁶``, DECIMAL(24,0) reconstruction on
    the d+1 group rows only) instead of DECIMAL sums — same grid, same
    doubles out (weight trajectories compared bit-identical vs the
    decimal plan at sf0.1), no per-row BigDecimal accumulation; exact
    through ~10²⁴ scaled units (≅ 10¹² rows per dim).

    Bound: one term must satisfy |x·r| < 2⁶³/10¹² ≈ 9.22e6, or its
    ``q12`` cast overflows BIGINT.  The engine session runs ANSI
    (``spark.sql.ansi.enabled``), so such a term raises
    ``CAST_OVERFLOW`` and the fit returns no weights; it never becomes a
    NULL that drops the term while ``_n`` still counts it.  Since
    |r| < 1, any feature with |x| < 9.22e6 is always within the bound.

    Exactness contract: the left fold ((0+x₁w₁)+x₂w₂)+… runs in fixed
    index order — bit-identical on any engine — and the oracle unrolls
    the same fold (``list_reduce``), the same DECIMAL gradient sums, and
    the same IEEE weight updates, so the weight trajectory matches
    bit-for-bit through the exp/sigmoid chain.  w₀ = 0.
    """
    emb = (
        fan_out(embeddings)
        .select(
            "vec_id",
            as_double("embedding").alias("v"),
            (F.col("label") == target_label).cast("double").alias("y"),
        )
        .localCheckpoint(eager=False)
    )
    # dimensionality from the data (one metadata-sized action), so the
    # trainer is not pinned to the harness DIMS
    d = emb.select(F.size("v").alias("d")).first()["d"]
    w = [0.0] * d
    b = 0.0
    for _ in range(iters):
        z = _fold_dot(w, b)
        r = (F.col("y") - F.lit(1.0) / (F.lit(1.0) + F.exp(-z))).alias("r")
        grad_rows = (
            emb.select(
                r,
                F.posexplode(
                    F.concat(F.col("v"), F.array(F.lit(1.0)))
                ).alias("dim", "x"),
            )
            .selectExpr(
                "dim",
                f"CAST(CAST(x * r AS {_DEC}) * 1000000000000 AS BIGINT) AS _q12",
            )
            .groupBy("dim")
            .agg(
                F.expr("SUM(_q12 DIV 1000000)").alias("_sh"),
                F.expr("SUM(_q12 % 1000000)").alias("_sl"),
                F.count("*").alias("_n"),
            )
            .selectExpr(
                "dim",
                "CAST(CAST(CAST(_sh AS DECIMAL(23,0)) * 1000000 + _sl"
                " AS DECIMAL(24,0)) / 1000000000000 AS DOUBLE) / _n AS g",
            )
            .collect()
        )
        g = {row["dim"]: row["g"] for row in grad_rows}
        w = [w[i] + lr * g[i] for i in range(d)]
        b = b + lr * g[d]
    return emb, w, b


def _fold_dot(w: list[float], b: float):
    """Scan-side dot product against the literal model: a fixed-order
    IEEE left fold over the 64 dims, then + bias — pure codegen, no
    join, bit-identical to the oracle's ``list_reduce``."""
    wlit = F.array(*[F.lit(x) for x in w])
    return (
        F.aggregate(
            F.zip_with(F.col("v"), wlit, lambda a, c: a * c),
            F.lit(0.0),
            lambda acc, t: acc + t,
        )
        + F.lit(b)
    )


def logreg_fit(
    embeddings: DataFrame, target_label: int = 0, iters: int = 3, lr: float = 0.5
) -> DataFrame:
    """The trained model in comparable form: (dim, weight floor-6dp),
    dim −1 = bias.  See :func:`_logreg_weights` for the training loop."""
    emb, w, b = _logreg_weights(embeddings, target_label, iters, lr)
    import math

    rows = [(i, math.floor(w[i] * 1_000_000) / 1_000_000.0) for i in range(len(w))]
    rows.append((-1, math.floor(b * 1_000_000) / 1_000_000.0))
    return emb.sparkSession.createDataFrame(rows, schema="dim bigint, weight double")


def logreg_score(
    embeddings: DataFrame,
    target_label: int = 0,
    iters: int = 3,
    lr: float = 0.5,
    threshold: float = 0.5,
) -> DataFrame:
    """Batch inference with the trained model — the curation filter
    itself: every vector scored sigmoid(w·x + b) in a single scan-side
    codegen expression (the model rides in as literals; no join, no
    shuffle), thresholded into a keep/drop verdict.
    Returns (vec_id, y, score floor-6dp, keep)."""
    emb, w, b = _logreg_weights(embeddings, target_label, iters, lr)
    score = F.floor(
        (F.lit(1.0) / (F.lit(1.0) + F.exp(-_fold_dot(w, b)))) * 1_000_000
    ) / F.lit(1_000_000.0)
    return emb.select(
        "vec_id",
        F.col("y").cast("bigint").alias("y"),
        score.alias("score"),
    ).withColumn("keep", (F.col("score") >= threshold).cast("boolean"))


def logreg_eval(
    embeddings: DataFrame,
    target_label: int = 0,
    iters: int = 3,
    lr: float = 0.5,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact model evaluation at scale: ROC-AUC by the grouped
    average-rank method, accuracy at ``threshold``, and the Brier score
    — one summary row.

    AUC never sorts the rows: scores emit floored to 6dp, so the rank
    statistic collapses onto the DISTINCT score values — one hash-agg to
    (score, n, n_pos) then a window over that bounded histogram
    (≤ 10⁶+1 rows whatever the corpus size).  Tied scores get the
    average rank, which is what makes the rank-sum formula exact:
    AUC = (Σ_pos avg_rank − n₊(n₊+1)/2) / (n₊ n₋).  Counts are integer,
    the final divisions are fixed IEEE expressions, everything rounds
    at 6dp on emit.
    """
    from pyspark.sql import Window

    # checkpoint the scored projection: downstream the score column is
    # referenced by the groupBy key and three aggregates — without the
    # cut Catalyst collapses the projection and re-expands the 64-term
    # literal fold into every reference
    scored = logreg_score(embeddings, target_label, iters, lr, threshold).localCheckpoint(
        eager=False
    )
    hist = scored.groupBy("score").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("y").cast("long").alias("n_pos"),
        F.sum(F.when(F.col("keep") == (F.col("y") == 1), 1).otherwise(0))
        .cast("long")
        .alias("n_correct"),
    )
    w = Window.partitionBy(F.lit(0)).orderBy("score").rowsBetween(
        Window.unboundedPreceding, -1
    )
    ranked = hist.select(
        "score",
        "n",
        "n_pos",
        "n_correct",
        F.coalesce(F.sum("n").over(w), F.lit(0)).cast("long").alias("cum_before"),
    )
    # Per-term doubles are exact multiples of 1e-12 (scores carry 6dp),
    # so the DECIMAL reductions below are EXACT — the rank-sum and Brier
    # totals cannot depend on partitioning or merge order.
    rank_term = (
        F.col("n_pos").cast("double")
        * (F.col("cum_before").cast("double") + (F.col("n") + 1).cast("double") / F.lit(2.0))
    ).cast(_DEC)
    brier_term = (
        F.col("n").cast("double") * F.col("score") * F.col("score")
        - F.lit(2.0) * F.col("score") * F.col("n_pos").cast("double")
        + F.col("n_pos").cast("double")
    ).cast(_DEC)
    return ranked.agg(
        F.sum("n_pos").cast("long").alias("n_pos"),
        (F.sum("n") - F.sum("n_pos")).cast("long").alias("n_neg"),
        F.round(
            (
                F.sum(rank_term).cast("double")
                - F.sum("n_pos").cast("double")
                * (F.sum("n_pos") + 1).cast("double")
                / F.lit(2.0)
            )
            / (
                F.sum("n_pos").cast("double")
                * (F.sum("n") - F.sum("n_pos")).cast("double")
            ),
            6,
        ).alias("auc"),
        F.round(
            F.sum("n_correct").cast("double") / F.sum("n").cast("double"), 6
        ).alias("accuracy"),
        # Brier from the histogram: y ∈ {0,1} ⇒ Σ(s−y)² per score group
        # = n·s² − 2·s·n_pos + n_pos — no per-row pass needed
        F.round(
            F.sum(brier_term).cast("double") / F.sum("n").cast("double"), 6
        ).alias("brier"),
    )


def _logreg_cte_chain(target_label: int = 0, iters: int = 3, lr: float = 0.5) -> str:
    """The GD fixed point unrolled as DuckDB CTEs in the SAME fold form
    the engine executes: z is a ``list_reduce`` left fold (bit-identical
    to Spark's ``aggregate``), gradients are per-dim DECIMAL sums with
    the bias as pseudo-dim 65, weight updates are plain IEEE doubles."""
    d1 = DIMS + 1
    head = f"""WITH emb AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         CASE WHEN label = {target_label} THEN 1.0 ELSE 0.0 END AS y
  FROM embeddings),
w0 AS (SELECT list_transform(range(1, {DIMS + 1}), i -> 0.0) AS wv, 0.0 AS b)"""
    fold = (
        f"list_reduce(list_transform(range(1, {DIMS + 1}), i -> e.v[i] * w.wv[i]), "
        f"(a, c) -> a + c) + w.b"
    )
    steps = []
    for t in range(iters):
        steps.append(
            f""",
r{t} AS (
  SELECT e.vec_id, e.v,
         e.y - 1.0 / (1.0 + exp(-({fold}))) AS r
  FROM emb e, w{t} w),
g{t} AS (
  SELECT list(g ORDER BY i) AS gl FROM (
    SELECT i, CAST(SUM(CAST(x * r AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*) AS g
    FROM (
      SELECT r, unnest(range(1, {d1 + 1})) AS i,
             unnest(list_transform(range(1, {d1 + 1}),
                    i -> CASE WHEN i <= {DIMS} THEN v[i] ELSE 1.0 END)) AS x
      FROM r{t})
    GROUP BY i)),
w{t + 1} AS (
  SELECT list_transform(range(1, {DIMS + 1}), j -> w.wv[j] + {lr} * g.gl[j]) AS wv,
         w.b + {lr} * g.gl[{d1}] AS b
  FROM w{t} w, g{t} g)"""
        )
    return head + "".join(steps)


def _logreg_scored_cte(iters: int) -> str:
    fold = (
        f"list_reduce(list_transform(range(1, {DIMS + 1}), i -> e.v[i] * w.wv[i]), "
        f"(a, c) -> a + c) + w.b"
    )
    return f""",
scored AS (
  SELECT e.vec_id, CAST(e.y AS BIGINT) AS y,
         floor(1.0 / (1.0 + exp(-({fold}))) * 1000000) / 1000000.0 AS score
  FROM emb e, w{iters} w)"""


def logreg_fit_oracle(target_label: int = 0, iters: int = 3, lr: float = 0.5) -> str:
    return _logreg_cte_chain(target_label, iters, lr) + f"""
SELECT CAST(u.i - 1 AS BIGINT) AS dim, floor(w.wv[u.i] * 1000000) / 1000000.0 AS weight
FROM w{iters} w, (SELECT unnest(range(1, {DIMS + 1})) AS i) u
UNION ALL
SELECT CAST(-1 AS BIGINT), floor(b * 1000000) / 1000000.0 FROM w{iters}"""


def logreg_score_oracle(
    target_label: int = 0, iters: int = 3, lr: float = 0.5, threshold: float = 0.5
) -> str:
    return (
        _logreg_cte_chain(target_label, iters, lr)
        + _logreg_scored_cte(iters)
        + f"""
SELECT vec_id, y, score, score >= {threshold} AS keep FROM scored"""
    )


def logreg_eval_oracle(
    target_label: int = 0, iters: int = 3, lr: float = 0.5, threshold: float = 0.5
) -> str:
    return (
        _logreg_cte_chain(target_label, iters, lr)
        + _logreg_scored_cte(iters)
        + f""",
hist AS (
  SELECT score, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(y) AS BIGINT) AS n_pos,
         CAST(SUM(CASE WHEN (score >= {threshold}) = (y = 1) THEN 1 ELSE 0 END) AS BIGINT) AS n_correct
  FROM scored GROUP BY score),
ranked AS (
  SELECT score, n, n_pos, n_correct,
         CAST(COALESCE(SUM(n) OVER (ORDER BY score
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
  FROM hist)
SELECT CAST(SUM(n_pos) AS BIGINT) AS n_pos,
       CAST(SUM(n) - SUM(n_pos) AS BIGINT) AS n_neg,
       round((CAST(SUM(CAST(CAST(n_pos AS DOUBLE) * (CAST(cum_before AS DOUBLE)
                    + CAST(n + 1 AS DOUBLE) / 2.0) AS DECIMAL(28,12))) AS DOUBLE)
              - CAST(SUM(n_pos) AS DOUBLE) * CAST(SUM(n_pos) + 1 AS DOUBLE) / 2.0)
             / (CAST(SUM(n_pos) AS DOUBLE) * CAST(SUM(n) - SUM(n_pos) AS DOUBLE)),
             6) AS auc,
       round(CAST(SUM(n_correct) AS DOUBLE) / CAST(SUM(n) AS DOUBLE), 6) AS accuracy,
       round(CAST(SUM(CAST(CAST(n AS DOUBLE) * score * score
                    - 2.0 * score * CAST(n_pos AS DOUBLE)
                    + CAST(n_pos AS DOUBLE) AS DECIMAL(28,12))) AS DOUBLE)
             / CAST(SUM(n) AS DOUBLE), 6) AS brier
FROM ranked"""
    )


def logreg_calibration(
    embeddings: DataFrame,
    target_label: int = 0,
    iters: int = 3,
    lr: float = 0.5,
    n_bins: int = 10,
) -> DataFrame:
    """Reliability diagram for the trained curation filter: bucket the
    predicted probabilities into ``n_bins`` equal-width bins over the
    OBSERVED score range and
    compare mean predicted probability with the observed positive rate
    per bin — plus each bin's Expected-Calibration-Error contribution
    (|acc − conf| · n/N).  A quality-score model that keeps documents
    at "score ≥ 0.9" is only trustworthy if 0.9 means 90%; this is the
    operator that checks it, and it is how you pick the keep-threshold
    for a 100 TB curation sweep without labeling more data.

    Scale shape: scoring is the same scan-side literal-model fold as
    :func:`logreg_score` (no join), binning is integer floor math, and
    everything reduces in ONE |bins|-row hash agg; the bin table then
    takes the house 1-row totals cross for the ECE share (declared
    cardinality × 1).  Scores are floored at 1e-6 BEFORE binning so
    both engines bin identical grid values; bin n_bins (score exactly
    1.0) folds into the last bin, the standard reliability-diagram
    convention.
    Output: (bin, n, mean_score, pos_rate, ece_term) — ≤ n_bins rows.
    """
    emb, w, b = _logreg_weights(embeddings, target_label, iters, lr)
    score = F.floor(
        (F.lit(1.0) / (F.lit(1.0) + F.exp(-_fold_dot(w, b)))) * 1_000_000
    ) / F.lit(1_000_000.0)
    raw = emb.select(F.col("y").cast("long").alias("y"), score.alias("score"))
    # range-adaptive bins: a few-iteration GD scorer compresses its
    # scores into a narrow band (measured: full corpus inside one
    # absolute 0.1-wide bin), which would leave the diagram 1 row and
    # the gate vacuous — so bin over the OBSERVED [min, max] score
    # range (1-row broadcast, declared cross), the standard move for
    # compressed scorers; thresholds read off the same mean_score axis
    rng = raw.agg(F.min("score").alias("_lo"), F.max("score").alias("_hi"))
    binexpr = (
        f"CASE WHEN _hi > _lo THEN least(CAST(floor((score - _lo) / (_hi - _lo)"
        f" * {n_bins}) AS BIGINT), {n_bins - 1}) ELSE CAST(0 AS BIGINT) END"
    )
    scored = raw.crossJoin(F.broadcast(rng)).selectExpr(
        "y", "score", f"{binexpr} AS bin"
    )
    cells = scored.groupBy("bin").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("y").cast("long").alias("n_pos"),
        # score is a 1e-6 grid point: accumulate as exact micro-units
        F.sum(F.expr("CAST(round(score * 1000000) AS BIGINT)")).alias("_sum_micro"),
    )
    tot = scored.agg(F.count("*").cast("long").alias("nt"))
    conf = "(CAST(_sum_micro AS DOUBLE) / n / 1000000)"
    acc = "(CAST(n_pos AS DOUBLE) / n)"
    return cells.crossJoin(F.broadcast(tot)).selectExpr(
        "bin",
        "n",
        f"floor({conf} * 1000000) / 1000000 AS mean_score",
        f"floor({acc} * 1000000) / 1000000 AS pos_rate",
        f"floor(abs({acc} - {conf}) * CAST(n AS DOUBLE) / nt * 1000000) / 1000000"
        " AS ece_term",
    )


def logreg_calibration_oracle(
    target_label: int = 0, iters: int = 3, lr: float = 0.5, n_bins: int = 10
) -> str:
    conf = "(CAST(_sum_micro AS DOUBLE) / n / 1000000)"
    acc = "(CAST(n_pos AS DOUBLE) / n)"
    return (
        _logreg_cte_chain(target_label, iters, lr)
        + _logreg_scored_cte(iters)
        + f""",
rng AS (SELECT MIN(score) AS _lo, MAX(score) AS _hi FROM scored),
binned AS (
  SELECT y, score,
         CASE WHEN _hi > _lo THEN least(CAST(floor((score - _lo) / (_hi - _lo)
           * {n_bins}) AS BIGINT), {n_bins - 1}) ELSE CAST(0 AS BIGINT) END AS bin
  FROM scored CROSS JOIN rng),
cells AS (
  SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(y) AS BIGINT) AS n_pos,
         CAST(SUM(CAST(round(score * 1000000) AS BIGINT)) AS BIGINT) AS _sum_micro
  FROM binned GROUP BY 1),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS nt FROM binned)
SELECT bin, n,
  floor({conf} * 1000000) / 1000000 AS mean_score,
  floor({acc} * 1000000) / 1000000 AS pos_rate,
  floor(abs({acc} - {conf}) * CAST(n AS DOUBLE) / nt * 1000000) / 1000000 AS ece_term
FROM cells CROSS JOIN tot"""
    )


def nearest_centroid_eval(embeddings: DataFrame) -> DataFrame:
    """Nearest-centroid (Rocchio) multiclass classifier evaluated
    in-corpus as a confusion matrix — the supervised complement of
    :func:`kmeans_fit` (same centroid machinery, but centroids come
    from the LABELS) and the multiclass sibling of the binary logreg
    family.  A centroid classifier is the cheapest possible multiclass
    baseline over 100 TB of embeddings: training is one aggregate,
    inference is |labels| distance expressions per row.

    Exactness end-to-end in integers: elements scale to micro-BIGINT
    (``floor(x·1e6)``, |x| ≤ 3 ⇒ |xi| ≤ 3e6); per-(label, dim)
    centroids are exact floor-divided means (DECIMAL sum, BIGINT
    divide); squared distances are Σ(xi − ci)² ≤ 64·(6e6)² ≈ 2.3e15 —
    LONG-safe, so the argmin has NO float ties and the label tie-break
    (smaller label wins) is total.  Spark-side the per-element fan is
    a posexplode equi-joined to the |labels|·d centroid table on dim
    (bounded dimension table, broadcasts), then one (vec, label) hash
    agg + a row_number argmin — |V|·d·L intermediate rows, L = 8
    bounded.  Output: (true_label, pred_label, n) confusion cells.
    """
    el = embeddings.select(
        F.col("vec_id"),
        F.col("label").cast("long").alias("true_label"),
        F.posexplode(as_double("embedding")).alias("dim", "x"),
    ).selectExpr(
        "vec_id", "true_label", "dim", "CAST(floor(x * 1000000) AS BIGINT) AS xi"
    )
    cent = (
        el.groupBy(F.col("true_label").alias("c_label"), F.col("dim").alias("c_dim"))
        .agg(
            F.sum(F.expr("CAST(xi AS DECIMAL(38,0))")).alias("s"),
            F.count("*").cast("long").alias("n"),
        )
        .selectExpr("c_label", "c_dim", "CAST(floor(CAST(s AS DOUBLE) / n) AS BIGINT) AS ci")
    )
    dists = (
        el.join(F.broadcast(cent), el["dim"] == cent["c_dim"])
        .selectExpr(
            "vec_id",
            "true_label",
            "c_label",
            "(xi - ci) * (xi - ci) AS sq",
        )
        .groupBy("vec_id", "true_label", "c_label")
        .agg(F.sum("sq").cast("long").alias("d2"))
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("d2").asc(), F.col("c_label").asc())
    pred = (
        dists.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select("vec_id", "true_label", F.col("c_label").alias("pred_label"))
    )
    return pred.groupBy("true_label", "pred_label").agg(
        F.count("*").cast("long").alias("n")
    )


def nearest_centroid_eval_oracle() -> str:
    return f"""WITH el AS (
  SELECT vec_id, CAST(label AS BIGINT) AS true_label,
         CAST(i - 1 AS INT) AS dim,
         CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT) AS xi
  FROM embeddings, (SELECT unnest(range(1, {DIMS + 1})) AS i) dims),
cent AS (
  SELECT true_label AS c_label, dim AS c_dim,
    CAST(floor(CAST(SUM(CAST(xi AS DECIMAL(38,0))) AS DOUBLE) / COUNT(*)) AS BIGINT) AS ci
  FROM el GROUP BY 1, 2),
dists AS (
  SELECT vec_id, true_label, c_label,
         CAST(SUM((xi - ci) * (xi - ci)) AS BIGINT) AS d2
  FROM el JOIN cent ON el.dim = cent.c_dim
  GROUP BY 1, 2, 3),
pred AS (
  SELECT vec_id, true_label, c_label AS pred_label FROM (
    SELECT vec_id, true_label, c_label,
      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2 ASC, c_label ASC) AS rk
    FROM dists) WHERE rk = 1)
SELECT true_label, pred_label, CAST(COUNT(*) AS BIGINT) AS n
FROM pred GROUP BY 1, 2"""


def conformal_coverage(
    embeddings: DataFrame,
    target_label: int = 0,
    alpha: float = 0.1,
    cal_pct: int = 50,
    iters: int = 3,
    lr: float = 0.5,
) -> DataFrame:
    """Split-conformal prediction audit over the logreg scorer — the
    distribution-free step past :func:`logreg_calibration`: an h64
    vec_id split carves out a calibration set, the (1−α)(n+1)/n
    empirical quantile of calibration nonconformity (1 − p̂(true
    class)) becomes the threshold q̂, and the TEST half reports realized
    coverage (P[true class ∈ prediction set] — guaranteed ≥ 1−α in
    expectation by exchangeability) plus the average prediction-set
    size, the efficiency metric that says whether the guarantee is
    vacuous (sets of size 2 cover trivially).

    Determinism: scores are the already-gated 6dp-floored sigmoid, the
    split is the house h64-mod, and the conformal quantile comes from a
    cumulative window over the BOUNDED distinct-score histogram (the
    logreg_eval AUC discipline — never a data-sized rank).  The
    ``meets_target`` boolean is informative (finite-sample coverage
    fluctuates around the guarantee); the oracle recomputes it
    identically.

    Output (1 row): n_cal, n_test, qhat, coverage, avg_set_size,
    meets_target.
    """
    from pyspark.sql import Window

    from twitter_followers_patterns_mapreduce_spark.functions.hashing import h64_sql

    scored = logreg_score(embeddings, target_label, iters, lr).localCheckpoint(
        eager=False
    )
    h = h64_sql("CAST(vec_id AS STRING)", "spark")
    tagged = scored.selectExpr(
        "score",
        "CASE WHEN y = 1 THEN 1.0 - score ELSE score END AS s",
        f"{h} % 100 < {cal_pct} AS is_cal",
    ).localCheckpoint(eager=False)
    cal = tagged.where("is_cal")
    tot = cal.agg(F.count("*").cast("long").alias("n_cal"))
    hist = cal.groupBy("s").agg(F.count("*").cast("long").alias("n"))
    w = (
        Window.partitionBy(F.lit(0))
        .orderBy("s")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = hist.withColumn("cum", F.sum("n").over(w))
    k = f"CAST(ceil((n_cal + 1) * {1.0 - alpha!r}) AS BIGINT)"
    # bounded histogram × 1-row total: the conformal rank threshold
    qrow = (
        cum.crossJoin(F.broadcast(tot))
        .where(F.expr(f"cum >= {k}"))
        .agg(F.min("s").alias("q_raw"))
        # rank beyond the calibration set (tiny n_cal) -> cover all
        .selectExpr("coalesce(q_raw, 1.0) AS qhat")
    )
    readout = (
        tagged.where("NOT is_cal")
        .crossJoin(F.broadcast(qrow))
        .agg(
            F.count("*").cast("long").alias("n_test"),
            F.sum(F.expr("CAST(s <= qhat AS BIGINT)")).cast("long").alias("n_cov"),
            F.sum(
                F.expr(
                    "CAST(1.0 - score <= qhat AS BIGINT)"
                    " + CAST(score <= qhat AS BIGINT)"
                )
            )
            .cast("long")
            .alias("set_sum"),
            F.max("qhat").alias("qhat"),
        )
    )
    return readout.crossJoin(F.broadcast(tot)).selectExpr(
        "n_cal",
        "n_test",
        "qhat",
        "CASE WHEN n_test > 0 THEN"
        " floor(CAST(n_cov AS DOUBLE) / n_test * 1000000) / 1000000 END AS coverage",
        "CASE WHEN n_test > 0 THEN"
        " floor(CAST(set_sum AS DOUBLE) / n_test * 1000000) / 1000000 END"
        " AS avg_set_size",
        f"CASE WHEN n_test > 0 THEN"
        f" CAST(n_cov AS DOUBLE) / n_test >= {1.0 - alpha!r} END AS meets_target",
    )


def conformal_coverage_oracle(
    target_label: int = 0,
    alpha: float = 0.1,
    cal_pct: int = 50,
    iters: int = 3,
    lr: float = 0.5,
) -> str:
    from twitter_followers_patterns_mapreduce_spark.functions.hashing import h64_sql

    h = h64_sql("CAST(vec_id AS VARCHAR)", "duckdb")
    return (
        _logreg_cte_chain(target_label, iters, lr)
        + _logreg_scored_cte(iters)
        + f""",
tagged AS (
  SELECT score,
         CASE WHEN y = 1 THEN 1.0 - score ELSE score END AS s,
         ({h}) % 100 < {cal_pct} AS is_cal
  FROM scored),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_cal FROM tagged WHERE is_cal),
hist AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS n FROM tagged WHERE is_cal GROUP BY 1),
cum AS (
  SELECT s, SUM(n) OVER (ORDER BY s
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM hist),
qrow AS (
  SELECT COALESCE(MIN(s), 1.0) AS qhat
  FROM cum CROSS JOIN tot
  WHERE cum >= CAST(ceil((n_cal + 1) * {1.0 - alpha!r}) AS BIGINT)),
readout AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_test,
         CAST(SUM(CAST(s <= qhat AS BIGINT)) AS BIGINT) AS n_cov,
         CAST(SUM(CAST(1.0 - score <= qhat AS BIGINT)
                  + CAST(score <= qhat AS BIGINT)) AS BIGINT) AS set_sum,
         MAX(qhat) AS qhat
  FROM tagged CROSS JOIN qrow WHERE NOT is_cal)
SELECT n_cal, n_test, qhat,
  CASE WHEN n_test > 0 THEN
    floor(CAST(n_cov AS DOUBLE) / n_test * 1000000) / 1000000 END AS coverage,
  CASE WHEN n_test > 0 THEN
    floor(CAST(set_sum AS DOUBLE) / n_test * 1000000) / 1000000 END AS avg_set_size,
  CASE WHEN n_test > 0 THEN
    CAST(n_cov AS DOUBLE) / n_test >= {1.0 - alpha!r} END AS meets_target
FROM readout CROSS JOIN tot"""
    )


def uncertainty_sample(
    embeddings: DataFrame,
    k: int = 25,
    target_label: int = 0,
    iters: int = 3,
    lr: float = 0.5,
) -> DataFrame:
    """Active-learning uncertainty sampling: the ``k`` vectors whose
    logreg score sits closest to the 0.5 decision boundary — the batch
    a labeling budget buys next (margin sampling degenerates to this
    for a binary scorer).  Composes the trained scorer with a
    TakeOrdered top-k (per-partition heap + merge, never a global
    sort); scores are the gated 6dp floor so the margin ranking and its
    vec_id tie-break are deterministic on both engines.

    Output (k rows): (vec_id, y, score, margin).
    """
    scored = logreg_score(embeddings, target_label, iters, lr)
    ranked = scored.selectExpr(
        "vec_id",
        "y",
        "score",
        "floor(abs(score - 0.5) * 1000000) / 1000000 AS margin",
    )
    return ranked.orderBy(
        F.col("margin").asc(), F.col("vec_id").asc()
    ).limit(k)


def uncertainty_sample_oracle(
    k: int = 25, target_label: int = 0, iters: int = 3, lr: float = 0.5
) -> str:
    return (
        _logreg_cte_chain(target_label, iters, lr)
        + _logreg_scored_cte(iters)
        + f"""
SELECT vec_id, y, score,
       floor(abs(score - 0.5) * 1000000) / 1000000 AS margin
FROM scored
ORDER BY margin ASC, vec_id ASC
LIMIT {k}"""
    )
