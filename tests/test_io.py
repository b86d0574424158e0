"""S1/S3/S4 coverage: CSV edge ingestion (the reference's sole input
mode, ``Makefile:10`` ``local.input=input/edges.csv``) and the file
sink.  The README sample graph round-trips through a real temp CSV and
must reproduce the §2.9 goldens (CE=10, EX=16, RS raw=6).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from twitter_followers_patterns_mapreduce_spark.operators import graph as G
from twitter_followers_patterns_mapreduce_spark.sources.readers import (
    edges_from_csv,
    edges_from_lines,
)
from twitter_followers_patterns_mapreduce_spark.sources.writers import write_result

SAMPLE_CSV = "\n".join(
    ["1,2", "2,3", "3,1", "1,4", "4,5", "5,6", "6,4", "3,6", "2,5", "5,3"]
)


def one(df):
    return df.collect()[0][0]


def _write_sample(tmp_path) -> str:
    p = tmp_path / "edges.csv"
    p.write_text(SAMPLE_CSV + "\n")
    return str(p)


def test_edges_from_csv_goldens(spark, tmp_path):
    edges = edges_from_csv(spark, _write_sample(tmp_path))
    assert [f.dataType.simpleString() for f in edges.schema.fields] == ["bigint", "bigint"]
    assert one(G.count_edges(edges, 11_316_812)) == 10
    assert one(G.two_hop_count_exact(edges)) == 16
    assert one(G.triangle_count_raw(edges, 12_500, strategy="shuffle")) == 6


def test_edges_from_lines_matches_csv_reader(spark, tmp_path):
    path = _write_sample(tmp_path)
    via_lines = edges_from_lines(spark.read.text(path))
    via_csv = edges_from_csv(spark, path)
    assert sorted(map(tuple, via_lines.collect())) == sorted(map(tuple, via_csv.collect()))
    assert one(G.two_hop_count_exact(via_lines)) == 16


def test_write_result_roundtrip_parquet(spark, sample_edges, tmp_path):
    paths = G.two_hop_paths(sample_edges, 12_500)
    out = str(tmp_path / "paths_parquet")
    write_result(paths, out, format="parquet")
    back = spark.read.parquet(out)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, paths.collect()))


def test_write_result_roundtrip_csv(spark, sample_edges, tmp_path):
    deg = G.degrees(sample_edges)
    out = str(tmp_path / "deg_csv")
    write_result(deg, out, format="csv")
    back = spark.read.option("header", "true").csv(out, inferSchema=True)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, deg.collect()))


def test_write_result_roundtrip_orc(spark, sample_edges, tmp_path):
    deg = G.degrees(sample_edges)
    out = str(tmp_path / "deg_orc")
    write_result(deg, out, format="orc")
    back = spark.read.orc(out)
    # ORC keeps names+types (csv cannot); nullability flips on write
    assert [(f.name, f.dataType) for f in back.schema.fields] == [
        (f.name, f.dataType) for f in deg.schema.fields
    ]
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, deg.collect()))


def test_write_result_partitioned(spark, sample_edges, tmp_path):
    out = str(tmp_path / "edges_by_src")
    write_result(sample_edges, out, format="parquet", partition_by=["src"])
    back = spark.read.parquet(out)
    assert back.count() == 10
    # hive-style layout: one directory per src value
    assert any(d.name.startswith("src=") for d in (tmp_path / "edges_by_src").iterdir())


def test_write_result_rejects_unknown_format(sample_edges, tmp_path):
    try:
        write_result(sample_edges, str(tmp_path / "x"), format="orc8")
    except ValueError as e:
        assert "orc8" in str(e)
    else:
        raise AssertionError("expected ValueError")


def test_compact_merges_small_files(spark, tmp_path):
    from twitter_followers_patterns_mapreduce_spark.sources.writers import compact

    out = str(tmp_path / "many_parts")
    df = spark.range(1000).selectExpr("id", "id * 2 AS v")
    df.repartition(16).write.parquet(out)
    import os

    before = sum(1 for f in os.listdir(out) if f.startswith("part-"))
    assert before == 16
    after = compact(spark, out, target_files=2)
    assert after == 2
    back = spark.read.parquet(out)
    assert back.count() == 1000
    assert back.agg({"v": "sum"}).collect()[0][0] == 999 * 1000  # content preserved


def test_json_and_orc_edge_sources_match_csv(spark, tmp_path):
    from twitter_followers_patterns_mapreduce_spark.sources.readers import (
        edges_from_csv,
        edges_from_json,
        edges_from_orc,
    )

    csv_path = _write_sample(tmp_path)
    edges = edges_from_csv(spark, csv_path)
    jp, op = str(tmp_path / "edges_json"), str(tmp_path / "edges_orc")
    edges.write.json(jp)
    edges.write.orc(op)
    base = {(r["src"], r["dst"]) for r in edges.collect()}
    assert {(r["src"], r["dst"]) for r in edges_from_json(spark, jp).collect()} == base
    assert {(r["src"], r["dst"]) for r in edges_from_orc(spark, op).collect()} == base
    # same goldens through a non-CSV source (§2.9: CE=10 at huge MAX)
    assert one(G.count_edges(edges_from_json(spark, jp), 10**9)) == 10


def test_malformed_csv_lines_become_nulls_not_crashes(spark, tmp_path):
    """The reference throws NumberFormatException mid-job on a bad line
    (exact/Exact2HopCount.java:55-59 parses unconditionally); the
    engine's schema'd reader yields NULL fields instead (PERMISSIVE),
    so 100 TB ingests degrade per-row, not per-job.  Dropping the
    malformed rows is then an explicit, testable filter."""
    from twitter_followers_patterns_mapreduce_spark.sources.readers import edges_from_csv

    p = tmp_path / "bad_edges.csv"
    p.write_text("1,2\nnot,a,number\n3\n4,5\nx,y\n")
    edges = edges_from_csv(spark, str(p))
    assert edges.count() == 5  # every line yields a row...
    clean = edges.dropna()
    assert {(r["src"], r["dst"]) for r in clean.collect()} == {(1, 2), (4, 5)}


def test_compact_parquet_merges_small_files(spark, tmp_path):
    from twitter_followers_patterns_mapreduce_spark.sources.writers import compact_parquet

    src = str(tmp_path / "shattered")
    dst = str(tmp_path / "compacted")
    df = spark.range(0, 10_000).selectExpr("id", "id * 2 AS v")
    df.repartition(64).write.parquet(src)  # 64 tiny files
    import glob as _glob

    n_in = len(_glob.glob(f"{src}/part-*"))
    assert n_in >= 32
    n_out = compact_parquet(spark, src, dst, target_file_bytes=1 << 30)
    assert n_out == 1
    files_out = _glob.glob(f"{dst}/part-*")
    assert len(files_out) == 1
    # content identical
    a = sorted(tuple(r) for r in spark.read.parquet(src).collect())
    b = sorted(tuple(r) for r in spark.read.parquet(dst).collect())
    assert a == b


def test_edges_from_csv_malformed_lines_become_nulls_not_crashes(spark, tmp_path):
    """Reference parity NOTE: the reference throws NumberFormatException /
    ArrayIndexOutOfBoundsException on malformed lines
    (countedges/CountEdgesAfterMax.java:52-53) and the whole job dies.
    The engine's schema'd CSV read is PERMISSIVE: unparseable fields
    surface as NULLs, and the documented cleanup is one where() — the
    job survives dirty 100 TB inputs."""
    from pyspark.sql import functions as F

    from twitter_followers_patterns_mapreduce_spark.sources.readers import edges_from_csv

    p = tmp_path / "dirty.csv"
    p.write_text("1,2\nnot,a,number\n3\n4,5\nx,9\n7,\n")
    edges = edges_from_csv(spark, str(p))
    rows = edges.collect()
    assert len(rows) == 6  # every line yields a row, none kills the job
    clean = edges.where(F.col("src").isNotNull() & F.col("dst").isNotNull())
    assert sorted((r["src"], r["dst"]) for r in clean.collect()) == [(1, 2), (4, 5)]


def test_materialized_edges_csv_matches_derivation(spark):
    """The staged CSV (ce_count_edges_csv's input) must contain exactly
    the derived edge view — materialization is cached by mtime, so a
    stale or truncated file would silently skew the S1 parity query."""
    from tests.conftest import SF_DIR
    from twitter_followers_patterns_mapreduce_spark.sources.readers import (
        derived_edges,
        edges_from_csv,
        materialize_edges_csv,
    )

    path = materialize_edges_csv(SF_DIR)
    got = sorted((r["src"], r["dst"]) for r in edges_from_csv(spark, path).collect())
    want = sorted((r["src"], r["dst"]) for r in derived_edges(spark, SF_DIR).collect())
    assert got == want
    # idempotent: second call reuses the cached file (same mtime)
    import os

    m1 = os.path.getmtime(path)
    assert materialize_edges_csv(SF_DIR) == path
    assert os.path.getmtime(path) == m1


def test_fan_out_repartitions_small_local_scan(spark, tmp_path):
    # a single small parquet file estimates to 1 scan split, far below
    # the target — the RoundRobin repartition must still fire (this is
    # the branch every local bench plan exercises)
    from twitter_followers_patterns_mapreduce_spark.sources.readers import fan_out

    p = str(tmp_path / "one_file")
    spark.range(0, 1000).coalesce(1).write.parquet(p)
    df = spark.read.parquet(p)
    out = fan_out(df, 8)
    assert out is not df
    assert "repartition" in out._jdf.queryExecution().logical().toString().lower()


def test_fan_out_noop_when_scan_already_parallel_enough(spark, tmp_path):
    # the guarded branch (round-11 verdict item): when the file-based
    # scan estimate already reaches the target, fan_out must NOT insert
    # a shuffle — at 100 TB the scan arrives well-split and a
    # round-robin repartition of the fact projection is pure waste
    from twitter_followers_patterns_mapreduce_spark.sources.readers import (
        _estimated_scan_partitions,
        fan_out,
    )

    p = str(tmp_path / "two_files")
    spark.range(0, 1000).repartition(2).write.parquet(p)
    df = spark.read.parquet(p)
    # two files charge 2 x openCostInBytes -> estimate >= 1
    assert _estimated_scan_partitions(df) >= 1
    out = fan_out(df, 1)
    assert out is df  # unchanged frame, no Exchange added


def test_bytes_conf_parses_spark_size_strings(spark):
    # Spark 4 reports size confs with a unit suffix ('134217728b'), and a
    # user may set one as '128m': both parse to bytes in Python
    from twitter_followers_patterns_mapreduce_spark.sources.readers import _bytes_conf

    key = "spark.sql.files.maxPartitionBytes"
    assert spark.conf.get(key) == "134217728b"
    assert _bytes_conf(spark, key, -1) == 128 * 1024 * 1024
    assert _bytes_conf(spark, "spark.sql.files.openCostInBytes", -1) == 4 * 1024 * 1024
    spark.conf.set(key, "128m")
    try:
        assert _bytes_conf(spark, key, -1) == 128 * 1024 * 1024
    finally:
        spark.conf.unset(key)
    assert _bytes_conf(spark, "spark.graft.no.such.size", 7) == 7


def test_fan_out_falls_back_for_fileless_frames(spark):
    # in-memory frames have no file lineage: keep the old unconditional
    # repartition (the estimate abstains rather than guessing)
    from twitter_followers_patterns_mapreduce_spark.sources.readers import fan_out

    df = spark.createDataFrame([(1,), (2,)], "x LONG")
    out = fan_out(df, 4)
    assert out is not df


# ---------------------------------------------------------------------------
# Staged edge table: one parse per session, exact invalidation
# ---------------------------------------------------------------------------


def _duck_edges(pattern: str) -> list[tuple[int, int]]:
    """The input's edges as a fresh DuckDB read sees them right now."""
    import duckdb

    con = duckdb.connect()
    try:
        return sorted(
            con.sql(
                f"SELECT src, dst FROM read_csv('{pattern}', header=false,"
                " columns={'src': 'BIGINT', 'dst': 'BIGINT'})"
            ).fetchall()
        )
    finally:
        con.close()


def _edges(df) -> list[tuple[int, int]]:
    return sorted((r["src"], r["dst"]) for r in df.collect())


def _staged_files() -> set[str]:
    """Every file under the context's SparkFiles root (where copies live)."""
    import os

    from pyspark import SparkFiles

    root = SparkFiles.getRootDirectory()
    return {os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs}


def _bump_mtime(path) -> None:
    import os

    st = os.stat(path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 5_000_000_000))


def test_staged_edges_same_size_rewrite_restages(spark, tmp_path):
    p = tmp_path / "edges.csv"
    p.write_text("1,2\n2,3\n3,1\n")
    assert _edges(edges_from_csv(spark, str(p))) == _duck_edges(str(p))
    p.write_text("1,2\n2,3\n3,4\n")  # same size, different content
    _bump_mtime(p)
    got = _edges(edges_from_csv(spark, str(p)))
    assert got == _duck_edges(str(p)) == [(1, 2), (2, 3), (3, 4)]


def test_staged_edges_different_size_rewrite_restages(spark, tmp_path):
    p = tmp_path / "edges.csv"
    p.write_text("1,2\n2,3\n")
    assert one(G.count_edges(edges_from_csv(spark, str(p)), None)) == 2
    p.write_text("1,2\n2,3\n3,1\n4,1\n")
    got = edges_from_csv(spark, str(p))
    assert _edges(got) == _duck_edges(str(p))
    assert one(G.count_edges(got, None)) == 4


def test_staged_edges_file_added_to_directory_restages(spark, tmp_path):
    d = tmp_path / "edges_dir"
    d.mkdir()
    (d / "part-0.csv").write_text("1,2\n2,3\n")
    assert _edges(edges_from_csv(spark, str(d))) == _duck_edges(f"{d}/*.csv")
    (d / "part-1.csv").write_text("3,1\n")
    got = _edges(edges_from_csv(spark, str(d)))
    assert got == _duck_edges(f"{d}/*.csv") == [(1, 2), (2, 3), (3, 1)]


def _duck_wedge_answers(path: str) -> dict[str, int]:
    """The benchmarked wedge jobs' answers on the input as DuckDB reads
    it (distinct, loop-free edges under the default MAX)."""
    import duckdb

    con = duckdb.connect()
    try:
        con.sql(
            f"CREATE TABLE e AS SELECT * FROM read_csv('{path}', header=false,"
            " columns={'src': 'BIGINT', 'dst': 'BIGINT'})"
        )
        (two_hop,) = con.sql("SELECT count(*) FROM e a JOIN e b ON a.dst = b.src").fetchone()
        (raw,) = con.sql(
            "SELECT count(*) FROM e a JOIN e b ON a.dst = b.src AND a.src <> b.dst"
            " WHERE EXISTS (SELECT 1 FROM e c WHERE c.src = b.dst AND c.dst = a.src)"
        ).fetchone()
    finally:
        con.close()
    return {"two_hop_approx": two_hop, "triangle_rs": raw, "triangle_rj": raw, "triangle_auto": raw // 3}


#: the benchmarked wedge jobs, as ``perfbench`` calls them
_WEDGE_JOBS = {
    "two_hop_approx": G.two_hop_count_approx,
    "triangle_rs": lambda e: G.triangle_count_raw(e, strategy="shuffle"),
    "triangle_rj": lambda e: G.triangle_count_raw(e, strategy="broadcast"),
    "triangle_auto": lambda e: G.triangle_count(e, strategy="auto", min_rotation=True),
}


def test_staged_edges_repeated_rewrites_restages(spark, tmp_path):
    """Each re-stage releases the previous input's partitioned in-memory
    copies, so three rewrites leave the persisted-RDD count where the
    first staging put it.  The copies only speed the wedge jobs up: with
    the cache cleared, every job still gives DuckDB's answer."""
    import random

    from pyspark import StorageLevel

    from twitter_followers_patterns_mapreduce_spark.sources.readers import partitioned_on

    p = tmp_path / "edges.csv"
    rnd = random.Random(17)
    frames, persisted = [], []
    for n in (150, 180, 210, 240):  # the first write, then 3 rewrites
        pairs = set()
        while len(pairs) < n:
            a, b = rnd.randrange(40), rnd.randrange(40)
            if a != b:
                pairs.add((a, b))
        p.write_text("".join(f"{a},{b}\n" for a, b in sorted(pairs)))
        edges = edges_from_csv(spark, str(p))
        want = _duck_wedge_answers(str(p))
        assert one(G.two_hop_count_approx(edges)) == want["two_hop_approx"]
        frames.append(edges)
        persisted.append(spark.sparkContext._jsc.getPersistentRDDs().size())
    assert persisted == persisted[:1] * 4
    for old in frames[:-1]:
        assert [partitioned_on(old, k).storageLevel for k in ("src", "dst")] == [StorageLevel.NONE] * 2
    assert partitioned_on(frames[-1], "dst").storageLevel != StorageLevel.NONE
    spark.catalog.clearCache()
    assert {job: one(run(frames[-1])) for job, run in _WEDGE_JOBS.items()} == want


def test_staged_edges_repeat_call_reuses_frame_and_writes_nothing(spark, tmp_path):
    path = _write_sample(tmp_path)
    first = edges_from_csv(spark, path)
    assert _edges(first) == _duck_edges(path)
    before = _staged_files()
    again = edges_from_csv(spark, path)
    assert again is first
    assert _staged_files() == before
    assert one(G.two_hop_count_exact(again)) == 16


def test_staged_edges_non_local_master_reads_csv(spark, tmp_path, monkeypatch):
    # a non-local master's executors cannot see the driver's SparkFiles
    # root: the reader must keep the plain CSV scan and stage nothing
    path = _write_sample(tmp_path)
    monkeypatch.setattr(spark.sparkContext, "master", "spark://cluster:7077")
    before = _staged_files()
    edges = edges_from_csv(spark, path)
    assert [f.endswith("/edges.csv") for f in edges.inputFiles()] == [True]
    assert edges_from_csv(spark, path) is not edges
    assert _staged_files() == before
    assert _edges(edges) == _duck_edges(path)


def test_fan_out_repartitions_post_aggregate_frame(spark, tmp_path):
    # an aggregate's output is partitioned by its shuffle, not by the leaf
    # files: even when those files alone estimate to enough splits, the
    # RoundRobin exchange must stay
    from twitter_followers_patterns_mapreduce_spark.sources.readers import (
        _estimated_scan_partitions,
        fan_out,
    )

    p = str(tmp_path / "leaves")
    # 40 files charge 40 x openCostInBytes (4 MiB) > one 128 MiB split
    spark.range(0, 1000).repartition(40).write.parquet(p)
    agg = spark.read.parquet(p).groupBy((F.col("id") % 7).alias("k")).count()
    assert _estimated_scan_partitions(agg) >= 2
    out = fan_out(agg, 2)
    assert out is not agg
    assert "RoundRobinPartitioning" in out._jdf.queryExecution().executedPlan().toString()
