"""General basic-graph-pattern (BGP) matching compiled to joins — the
SPARQL-style generalization of the reference's fixed pattern pipeline
(its CE/EX/AP/RS jobs are each ONE hand-built pattern: edge, wedge,
2-hop path, triangle; see ``rsjoin/RSJoinTriangleCount.java`` and
SURVEY.md §2.3).  ``match_pattern`` takes any edge-atom list
[(var_a, var_b), ...] and compiles it to a chain of equi-joins over the
edge table with variable binding — the "Twitter follower patterns" idea
as a query language instead of four bespoke jobs (PAPERS.md: "SPARQL
Graph Pattern Processing with Apache Spark", PODS 2017; the MapReduce
lineage is GLog, ICDE 2014).

Compilation model:
  * each atom scans the SAME deduped edge relation (Catalyst reuses the
    scan); atom i joins on whichever of its two variables are already
    bound (equi-join keys), binding the rest.
  * atom ORDER is greedy left-deep: always pick next an atom sharing
    the most variables with the bound set (ties: input order).  A
    fully-unbound atom would be a cross product — rejected, not
    planned (disconnected patterns are a caller bug at any scale).
  * optional inequality constraints and a DISTINCT-vars toggle give
    isomorphism (vs homomorphism) semantics.

Scale notes (100 TB): a left-deep plan materializes k-1 partial-binding
relations; for cycle patterns the bushy split (join two half-cycles on
their shared endpoints) keeps intermediates at half-path size — the
registered square count uses exactly that rewrite (2-path ⋈ 2-path on
BOTH endpoints, never a 3-path relation).  Hub fan-out bounds follow
the same MAX-filter lever as the reference's jobs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from twitter_followers_patterns_mapreduce_spark.operators.graph import directed_pairs


def match_pattern(
    edges: DataFrame,
    atoms: list[tuple[str, str]],
    constraints: list[str] | None = None,
    distinct_vars: bool = False,
) -> DataFrame:
    """Bindings of the pattern's variables over the directed edge set:
    one output row per homomorphism (per isomorphism with
    ``distinct_vars=True``), columns = variables in first-appearance
    order.  ``constraints`` are extra SQL predicates over the variable
    columns (e.g. canonicalizers like ``"a < b"``)."""
    if not atoms:
        raise ValueError("match_pattern: empty pattern")
    e = directed_pairs(edges).localCheckpoint(eager=False)

    remaining = list(atoms)
    bound: list[str] = []
    out: DataFrame | None = None
    while remaining:
        # greedy: the atom sharing the most already-bound variables
        scores = [len({a, b} & set(bound)) for a, b in remaining]
        best = max(range(len(remaining)), key=lambda i: (scores[i], -i))
        a, b = remaining.pop(best)
        atom = e.select(F.col("src").alias(a), F.col("dst").alias(b))
        if out is None:
            out = atom
            bound = [a, b] if a != b else [a]
            continue
        shared = [v for v in (a, b) if v in bound]
        if not shared:
            raise ValueError(
                f"match_pattern: atom ({a},{b}) shares no variable with "
                f"{bound} — disconnected patterns plan cross products"
            )
        out = out.join(atom, on=list(dict.fromkeys(shared)))
        for v in (a, b):
            if v not in bound:
                bound.append(v)
    assert out is not None
    if distinct_vars:
        for i, u in enumerate(bound):
            for v in bound[i + 1 :]:
                out = out.where(F.col(u) != F.col(v))
    for c in constraints or []:
        out = out.where(F.expr(c))
    return out.select(*bound)


def match_pattern_count(
    edges: DataFrame,
    atoms: list[tuple[str, str]],
    constraints: list[str] | None = None,
    distinct_vars: bool = False,
    out_name: str = "n_matches",
) -> DataFrame:
    return match_pattern(edges, atoms, constraints, distinct_vars).agg(
        F.count("*").cast("long").alias(out_name)
    )


def square_count(edges: DataFrame) -> DataFrame:
    """Directed 4-cycles a→b→c→d→a, each counted ONCE (anchored at the
    cycle's minimum vertex: ``a < b, a < c, a < d``; ``a ≠ c`` and
    ``b ≠ d`` make the cycle simple — the other distinctness pairs are
    edges, excluded by the self-loop filter).  The square is to this
    engine what the triangle is to the reference's RS job: the next
    motif up.

    BUSHY compile (not the left-deep chain): the cycle splits into two
    2-path half-relations joined on BOTH endpoints —
    ``(a→b→c) ⋈ (c→d→a) ON (a, c)`` — so the largest intermediate is
    the 2-path relation, never a 3-path (at the engine's test graph
    that is 365k vs 20M rows; same asymptotics argument at 100 TB).
    """
    e = directed_pairs(edges).localCheckpoint(eager=False)
    half1 = (
        e.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        .join(e.select(F.col("src").alias("b"), F.col("dst").alias("c")), "b")
        .where((F.col("a") < F.col("b")) & (F.col("a") != F.col("c")))
    )
    half2 = (
        e.select(F.col("src").alias("c"), F.col("dst").alias("d"))
        .join(e.select(F.col("src").alias("d"), F.col("dst").alias("a")), "d")
        .where(F.col("a") < F.col("d"))
    )
    return (
        half1.join(half2, ["a", "c"])
        .where((F.col("a") < F.col("c")) & (F.col("b") != F.col("d")))
        .agg(F.count("*").cast("long").alias("n_squares"))
    )


def square_count_oracle(edges_cte: str) -> str:
    return f"""WITH s AS ({edges_cte}),
e AS (SELECT DISTINCT src, dst FROM s WHERE src <> dst)
SELECT CAST(COUNT(*) AS BIGINT) AS n_squares
FROM e e1
JOIN e e2 ON e1.dst = e2.src
JOIN e e3 ON e2.dst = e3.src
JOIN e e4 ON e3.dst = e4.src AND e4.dst = e1.src
WHERE e1.src < e2.src AND e1.src < e3.src AND e1.src < e4.src
  AND e1.src <> e2.dst AND e2.src <> e3.dst"""


#: diamond = feed-forward motif a→b, a→c, b→d, c→d with b < c (dedup the
#: {b,c} swap) and d ≠ a — the co-recommendation convergence pattern
DIAMOND_ATOMS = [("a", "b"), ("a", "c"), ("b", "d"), ("c", "d")]
DIAMOND_CONSTRAINTS = ["b < c", "a != d"]


def diamond_count(edges: DataFrame) -> DataFrame:
    """Feed-forward diamonds via the GENERIC matcher — the registered
    proof that ``match_pattern`` compiles a real multi-atom pattern
    end-to-end (the square uses the hand-bushy form; this one exercises
    the greedy left-deep compiler: after (a,b),(a,c) the remaining
    atoms each share one bound variable and close on d)."""
    return match_pattern_count(
        edges, DIAMOND_ATOMS, DIAMOND_CONSTRAINTS, out_name="n_diamonds"
    )


def diamond_count_oracle(edges_cte: str) -> str:
    return f"""WITH s AS ({edges_cte}),
e AS (SELECT DISTINCT src, dst FROM s WHERE src <> dst)
SELECT CAST(COUNT(*) AS BIGINT) AS n_diamonds
FROM e ab
JOIN e ac ON ab.src = ac.src AND ab.dst < ac.dst
JOIN e bd ON bd.src = ab.dst
JOIN e cd ON cd.src = ac.dst AND cd.dst = bd.dst
WHERE bd.dst <> ab.src"""
