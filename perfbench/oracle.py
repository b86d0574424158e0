"""Independent answers for every benchmark job, computed with DuckDB on
the same generated files, and the comparison that flags a wrong one.

The SQL restates each job's definition from the reference (MAX filters,
round-trip exclusion, raw = 3 x triangles); it shares no code with the
engine.  It runs outside every timed region.
"""

from __future__ import annotations

import os

import duckdb

MAX_EDGE_COUNT = 11_316_812  # countedges/CountEdgesAfterMax.java
MAX_JOIN_JOBS = 12_500  # approx/Approx2HopCount.java
RANK_K = 20

_RAW_CLOSURES = """
SELECT count(*) FROM {e} a
JOIN {e} b ON a.dst = b.src AND a.src <> b.dst
JOIN {e} c ON c.src = b.dst AND c.dst = a.src
"""


def answers(input_dir: str, jobs: tuple[str, ...], stream: bool) -> dict:
    """Expected result of each job in ``jobs`` over ``edges.csv``, and with
    ``stream`` the expected triangle view over the distinct feed arrivals."""
    con = duckdb.connect()
    try:
        con.execute(f"SET temp_directory = '{os.path.join(input_dir, 'duckdb.tmp')}'")
        con.execute(
            "CREATE TABLE e AS SELECT * FROM read_csv(?, header = false, "
            "columns = {'src': 'BIGINT', 'dst': 'BIGINT'})",
            [os.path.join(input_dir, "edges.csv")],
        )
        con.execute(f"CREATE VIEW f AS SELECT * FROM e WHERE src < {MAX_JOIN_JOBS} AND dst < {MAX_JOIN_JOBS}")
        out: dict = {}
        one = lambda sql: con.execute(sql).fetchone()[0]  # noqa: E731
        raw = None
        for job in jobs:
            if job == "count_edges":
                out[job] = one(f"SELECT count(*) FROM e WHERE src < {MAX_EDGE_COUNT} AND dst < {MAX_EDGE_COUNT}")
            elif job == "two_hop_exact":
                out[job] = one(
                    "SELECT coalesce(sum(i.n * o.n), 0) FROM "
                    "(SELECT dst AS id, count(*) AS n FROM e GROUP BY dst) i JOIN "
                    "(SELECT src AS id, count(*) AS n FROM e GROUP BY src) o USING (id)"
                )
            elif job == "rank_degree":
                out[job] = [
                    tuple(r)
                    for r in con.execute(
                        "SELECT row_number() OVER (ORDER BY o + i DESC, id), id, o + i, i, o FROM ("
                        "  SELECT id, sum(o) AS o, sum(i) AS i FROM ("
                        "    SELECT src AS id, 1 AS o, 0 AS i FROM e UNION ALL "
                        "    SELECT dst, 0, 1 FROM e) GROUP BY id) "
                        f"ORDER BY o + i DESC, id LIMIT {RANK_K}"
                    ).fetchall()
                ]
            elif job == "two_hop_approx":
                out[job] = one("SELECT count(*) FROM f a JOIN f b ON a.dst = b.src")
            elif job in ("triangle_rs", "triangle_rj", "triangle_auto"):
                if raw is None:
                    raw = one(_RAW_CLOSURES.format(e="f"))
                out[job] = raw // 3 if job == "triangle_auto" else raw
            else:
                raise KeyError(job)
        if stream:
            con.execute(
                "CREATE TABLE u AS SELECT DISTINCT src, dst FROM read_parquet(?) WHERE src <> dst",
                [os.path.join(input_dir, "feed", "*.parquet")],
            )
            out["stream"] = {
                "t_raw": one(_RAW_CLOSURES.format(e="u")),
                "n_edges": one("SELECT count(*) FROM u"),
                "consistent": True,
            }
        return out
    finally:
        con.close()


def matches(got, want) -> bool:
    """Exact equality after normalising Spark rows to plain tuples."""
    if isinstance(want, list):
        return [tuple(r) for r in got] == [tuple(r) for r in want]
    return got == want
