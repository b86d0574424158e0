"""Sources: edge-table readers and harness table loaders.

Reference scan surface (SURVEY.md §2.1):
  * S1 — text line scan of ``edges.csv`` (``exact/Exact2HopCount.java:131``,
    ``countedges/CountEdgesAfterMax.java:80``): here a schema'd CSV read,
    parsed once per session.  Under a ``local[...]`` master
    :func:`edges_from_csv` stages the parse as a parquet copy in the
    context's ``SparkFiles`` root and hands every later call the same
    frame over that copy, for as long as the input's fingerprint (path,
    size, mtime, and for local files ctime and inode, of every file Spark
    would read) is unchanged; any change re-stages.  Catalyst pushes
    filters into the scan and prunes columns either way.  The staged
    frame also gets two in-memory copies hash-partitioned on ``src`` and
    on ``dst`` (:func:`partitioned_on`), which the 2-path join reads
    with no exchange.
  * S3 — line parse ``StringTokenizer``+``split(",")``+``parseInt``
    (``exact/Exact2HopCount.java:55-59``): subsumed by the CSV reader's
    typed schema; also provided over raw-line DataFrames for parity.
  * S2 — multi-source scan (``rsjoin/RSJoinTriangleCount.java:217-218``)
    needs no special API in Spark: two DataFrames feeding one join.

IDs are ``LongType`` throughout — the reference parses 32-bit
(``countedges/CountEdgesAfterMax.java:52-53``) but accumulates 64-bit;
at 100 TB scale 64-bit ids are mandatory.
"""

from __future__ import annotations

import os
import re
import shutil
import uuid

from pyspark import SparkFiles
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

EDGE_SCHEMA = T.StructType(
    [
        T.StructField("src", T.LongType(), False),
        T.StructField("dst", T.LongType(), False),
    ]
)

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

#: Modulus used to derive a dense edge view from ``lineitem`` — dense enough
#: (~997 nodes) to contain 2-hop paths and triangles at sf0.01 (FIXTURES.md §1.5).
EDGE_MODULUS = 997

#: DuckDB-compatible CTE body defining the identical edge view for oracles.
EDGES_ORACLE_CTE = (
    "SELECT DISTINCT CAST(l_orderkey % 997 AS BIGINT) AS src, "
    "CAST(l_partkey % 997 AS BIGINT) AS dst "
    "FROM lineitem WHERE l_orderkey % 997 <> l_partkey % 997"
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Columnar parquet scan of one harness table (TESTDATA.md)."""
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``events`` loader, adaptive to the parquet's physical ``ts`` type
    (the generator has shipped both TIMESTAMP(NANOS) and TIMESTAMP(US)):

    * nanos — Spark's vectorized reader rejects it; read nanos as BIGINT
      and convert with INTEGER division (``div`` — a double division
      would lose precision above 2^53 ns ≈ 104 days). DuckDB truncates
      nanos→micros the same way, so oracles align.
    * micros — arrives as TIMESTAMP_NTZ; cast to the session-zone
      timestamp (session tz is pinned UTC in ``session.py``, so the
      instant is unchanged and downstream ``unix_micros``/``window()``
      math matches DuckDB's ``epoch_us`` exactly).
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = load_table(spark, sf_dir, "events")
    ts_type = dict(raw.dtypes)["ts"]
    if ts_type == "bigint":
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


#: masters whose ``SparkFiles`` root is readable by every task
_LOCAL_MASTER = re.compile(r"local(\[[^\]]*\])?")

#: path -> (session, fingerprint, staged frame), see :func:`edges_from_csv`
_STAGED: dict[str, tuple[SparkSession, tuple, DataFrame]] = {}


def _hidden(name: str) -> bool:
    """Spark's file-listing filter (``HadoopFSUtils.shouldFilterOutPathName``):
    ``_``/``.`` names, except ``k=v`` partition dirs and parquet
    ``_metadata``/``_common_metadata``, and in-flight ``._COPYING_`` files."""
    if name.startswith(("_common_metadata", "_metadata")):
        return False
    return (name.startswith("_") and "=" not in name) or name.startswith(".") or name.endswith("._COPYING_")


def _fingerprint(spark: SparkSession, path: str) -> tuple:
    """Identity of every file a read of ``path`` could scan, taken on the
    driver without resolving a Spark relation: the Hadoop glob of
    ``path``, every directory under a match walked with :func:`_hidden`
    applied to each name (a root directory's own name excepted, as Spark
    does).  A superset of what Spark reads when nested non-partition
    directories exist, so a change there re-stages needlessly but never
    goes unseen.  Each file gives (path, size, mtime_ns), and local files
    add ``ctime_ns`` and inode from ``os.stat``, since a same-size
    rewrite can keep a coarse mtime.  Empty when nothing matches."""
    jvm = spark.sparkContext._jvm
    pattern = jvm.org.apache.hadoop.fs.Path(path)
    fs = pattern.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    local = fs.getScheme() == "file"
    files = []

    def visit(status):
        p = status.getPath()
        if status.isDirectory():
            for child in fs.listStatus(p):
                if not _hidden(child.getPath().getName()):
                    visit(child)
        elif not _hidden(p.getName()):
            if local:
                st = os.stat(p.toUri().getPath())
                files.append((p.toString(), st.st_size, st.st_mtime_ns, st.st_ctime_ns, st.st_ino))
            else:
                files.append((p.toString(), status.getLen(), status.getModificationTime() * 1_000_000))

    for status in fs.globStatus(pattern) or ():
        visit(status)
    return tuple(sorted(files))


def edges_from_csv(spark: SparkSession, path: str) -> DataFrame:
    """Read a ``src,dst`` edge list exactly like the reference's input
    (``Makefile:10`` ``local.input=input/edges.csv``, no header).

    Explicit schema — no inference pass over 100 TB of text.

    Parsed once per session: under a ``local[...]`` master the first call
    writes the CSV read as a parquet copy under
    ``SparkFiles.getRootDirectory()`` (deleted when the context's JVM
    exits) and returns ``spark.read.schema(EDGE_SCHEMA).parquet(copy)``;
    every later call with the same ``path`` returns that same frame while
    :func:`_fingerprint` of ``path`` is unchanged.  Any change to the
    fingerprint stages a new copy.  The fingerprint is taken before and
    after the staging write, and a copy whose two fingerprints differ is
    never kept: that call returns the plain CSV read instead.

    Staging also caches and fills :func:`partitioned_on` of the copy
    for ``src`` and for ``dst`` (two Spark jobs), so every later
    ``partitioned_on`` of the returned frame is an in-memory scan that
    already carries its hash partitioning.  They are filled at once
    because under AQE a cached plan reports its partitioning only after
    it has run: an unfilled copy gets an exchange above it on the first
    join that reads it.  Re-staging a path releases the previous copy's
    two in-memory copies.  They only save time: after
    ``spark.catalog.clearCache()`` the same calls plan a hash exchange
    per side and give the same answers.

    The returned frame is a snapshot of the input at call time, not a
    live view: a rewrite of the file after the call is seen by the next
    call, not by frames already returned (their parquet copies stay
    until the JVM exits, so they keep working, without the in-memory
    copies once re-staged).  Values are the CSV reader's,
    so a malformed line's NULL fields (PERMISSIVE mode) round-trip
    through the copy unchanged.  Under any other master the copy would
    sit on the driver's disk where executors cannot read it, so the
    function keeps the plain CSV read; it also does when nothing matches
    ``path`` (the read then raises Spark's own path error).
    """
    if not _LOCAL_MASTER.fullmatch(spark.sparkContext.master):
        return spark.read.schema(EDGE_SCHEMA).csv(path)
    fp = _fingerprint(spark, path)
    hit = _STAGED.get(path)
    if hit is not None and hit[0] is spark and hit[1] == fp:
        return hit[2]
    plain = spark.read.schema(EDGE_SCHEMA).csv(path)
    if not fp:
        return plain
    copy = os.path.join(SparkFiles.getRootDirectory(), "edges", uuid.uuid4().hex)
    plain.write.parquet("file://" + copy)
    if _fingerprint(spark, path) != fp:  # the input moved under the write
        shutil.rmtree(copy, ignore_errors=True)
        return plain
    staged = spark.read.schema(EDGE_SCHEMA).parquet("file://" + copy)
    if hit is not None and hit[0].sparkContext is spark.sparkContext:
        for key in EDGE_SCHEMA.names:
            partitioned_on(hit[2], key).unpersist()
    for key in EDGE_SCHEMA.names:
        partitioned_on(staged, key).cache().count()
    _STAGED[path] = (spark, fp, staged)
    return staged


def edges_from_lines(lines: DataFrame, col: str = "value") -> DataFrame:
    """Parse raw text lines ``"src,dst"`` into typed edges (S3 parity:
    ``exact/Exact2HopCount.java:55-59``). JVM-side split+cast, no UDF."""
    parts = F.split(F.col(col), ",")
    return lines.select(
        parts.getItem(0).cast("long").alias("src"),
        parts.getItem(1).cast("long").alias("dst"),
    )


def derived_edges(spark: SparkSession, sf_dir: str, modulus: int = EDGE_MODULUS) -> DataFrame:
    """Deterministic edge view over ``lineitem`` (FIXTURES.md §1.5),
    expressible identically in DuckDB SQL for the oracle harness.

    Only two columns are read from the parquet scan (Catalyst column
    pruning), and the DISTINCT is a single hash-aggregate shuffle.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.select(
            (F.col("l_orderkey") % modulus).cast("long").alias("src"),
            (F.col("l_partkey") % modulus).cast("long").alias("dst"),
        )
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )


def materialize_edges_csv(sf_dir: str) -> str:
    """Materialize the derived edge view as a headerless ``src,dst``
    CSV — the reference's NATIVE input format (``Makefile:10``
    ``local.input=input/edges.csv``) — so the CSV scan path (S1) can be
    exercised end-to-end under the DuckDB oracle, not only on the
    parquet-derived view.

    Deterministic (ORDER BY src, dst over the same DISTINCT edge
    derivation as :data:`EDGES_ORACLE_CTE`), cached under the repo's
    ``.cache/`` keyed by sf-dir name, regenerated only when the source
    parquet is newer.  Written via tmp+rename so a concurrent reader
    never sees a half-written file."""
    import duckdb

    repo_root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    name = os.path.basename(os.path.normpath(sf_dir))
    out_dir = os.path.join(repo_root, ".cache", "edges_csv", name)
    path = os.path.join(out_dir, "edges.csv")
    src = os.path.join(sf_dir, "lineitem.parquet")
    if os.path.exists(path) and os.path.getmtime(path) >= os.path.getmtime(src):
        return path
    os.makedirs(out_dir, exist_ok=True)
    derivation = EDGES_ORACLE_CTE.replace("FROM lineitem", f"FROM '{src}'")
    tmp = path + ".tmp"
    con = duckdb.connect()
    try:
        con.sql(f"COPY ({derivation} ORDER BY src, dst) TO '{tmp}' (HEADER false)")
    finally:
        con.close()
    os.replace(tmp, path)
    return path


def fan_out(df: DataFrame) -> DataFrame:
    """Round-robin repartition into ``defaultParallelism`` partitions,
    ahead of an expansion-heavy join or a per-row-expensive projection
    stage.

    Scan partitioning is sized by INPUT bytes
    (``spark.sql.files.maxPartitionBytes``); a stage whose cost is
    dominated by output amplification (a co-follow self-join emits far
    more rows than it reads) or by heavy per-row expressions
    (128-permutation minhash) needs partitioning sized by WORK instead.
    Locally the single-row-group testdata parquet pins such stages to
    one task — this one small shuffle of the input unlocks all cores.
    The repartition is unconditional, whatever the input's own split
    count.  Joins on a key use :func:`partitioned_on` instead.
    """
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism)


def partitioned_on(df: DataFrame, key: str) -> DataFrame:
    """``df`` hash-partitioned on column ``key`` into
    ``defaultParallelism`` partitions: the keyed shuffle the reference
    runs before each join (``approx/Approx2HopCount.java:68-76``).

    Two frames partitioned on their join keys by this helper join with
    no further exchange.  On the frame :func:`edges_from_csv` stages, a
    call resolves through Spark's ``CacheManager`` to the in-memory copy
    staged for ``key``, so the shuffle is paid once per session; on any
    other frame it is a plain hash exchange.  Filters go on its OUTPUT,
    or the plan no longer matches the cached copy (Catalyst still pushes
    them below the exchange where nothing is cached).
    """
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism, key)

