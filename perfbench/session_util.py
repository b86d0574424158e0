"""Environment pinning and Spark session lifetime for the benchmark.

The engine reads its resources from environment knobs (``session.py``);
the benchmark pins them so every run on a machine sees the same engine:
all the CPUs this process may use, a fixed driver heap below physical
memory, and fresh local and temp directories inside the run's work dir.
"""

from __future__ import annotations

import os

DRIVER_MEM = "1g"


def pin_env(work: str) -> dict:
    """Set the engine's knobs for this process and its children; return them."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    pinned = {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        # no /tmp/hsperfdata files; JVM temp files stay in the work dir
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "PYTHONWARNINGS": "ignore::FutureWarning,ignore::DeprecationWarning",
    }
    os.environ.update(pinned)
    return pinned


def spark_conf(work: str) -> dict:
    return {
        "spark.ui.showConsoleProgress": "false",
        # a fixed heap: how far the JVM grows it otherwise depends on GC time,
        # which tracks the host's load more than the engine's
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }


def stop_spark(spark, timeout: float = 60.0) -> None:
    """Stop the session, close the gateway and wait for the JVM to exit
    (it exits when its stdin closes)."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        proc.wait(timeout=timeout)
