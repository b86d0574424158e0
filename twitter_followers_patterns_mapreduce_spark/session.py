"""SparkSession factory tuned for this engine.

The reference statically provisions per-task heaps in Hadoop XML
(``config/pseudo/mapred-site.xml:26-38``: map 2048 MB / reduce 4096 MB).
Spark's unified memory manager + AQE replace all of that; the only
local-mode knobs that matter are core count, shuffle parallelism, and
driver heap.

At cluster scale the same plans run unchanged: AQE coalesces shuffle
partitions, re-plans skew joins (Twitter follower graphs are power-law
— the hot-key problem the reference dodges with its compile-time MAX
filter, ``README.md:77``), and auto-selects broadcast joins.

PySpark 4's DataFrame debugging hook (``errors/utils.py::_with_origin``,
``spark.python.sql.dataFrameDebugging.enabled``, on by default) is
switched off as a fixed builder setting.  With it on, every wrapped
``F.*``, ``Column`` and ``DataFrame`` call asks for the active session,
reads ``spark.sql.stackTracesInDataFrameContext``, sets and clears a JVM
call-site origin and walks the Python stack: building one
``triangle_count(strategy="auto", min_rotation=True)`` over an
in-memory edge frame sends 428 Py4J commands with the hook on and 118
with it off.  That is plan-build cost on every operator call and every
micro-batch, paid for a detail of the error message.  It is a fixed
setting, not a parameter: a caller who wants the call sites back
passes ``extra_conf={"spark.python.sql.dataFrameDebugging.enabled":
"true"}``, which is applied after the fixed settings.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "twitter-followers-patterns-spark",
    cpus: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a local SparkSession with scale-aware defaults.

    AQE is on so runtime statistics drive partition coalescing, skew-join
    splitting, and shuffle→broadcast join demotion — the dynamic
    equivalents of the reference's hand-chosen RS-join vs Rep-join
    strategies (``README.md:79-81``).

    DataFrame call-site capture is off
    (``spark.python.sql.dataFrameDebugging.enabled=false``; see the
    module docstring for its cost).  What that gives up: an error no
    longer carries the PySpark file:line fragment
    (``DataFrameQueryContext``).  The exception class and error class
    are unchanged, so a failing plan still raises the same
    ``AnalysisException``/``ArithmeticException``.  To get call sites
    back, pass ``extra_conf={"spark.python.sql.dataFrameDebugging.enabled":
    "true"}``.  PySpark reads the flag once per process, the first time
    a DataFrame API call checks it, and caches it: the setting holds
    only where the process's first DataFrame call runs under a session
    that carries it.
    """
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS") or "*"
    n_shuffle = shuffle_partitions or int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
