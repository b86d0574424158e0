"""Read the engine's layers from outside, through Spark's public surfaces.

Nothing here changes what the engine does: it reads the executed plan's
SQL metrics, the status tracker, streaming progress events, JVM
management beans, ``/proc`` and the state directory on disk.  ``Tracer``
keeps the benchmark's own spans around each call into a layer.
"""

from __future__ import annotations

import json
import os
import threading
import time
import uuid
from contextlib import contextmanager
from datetime import datetime

# -- spans ------------------------------------------------------------------


class Tracer:
    """In-memory spans (name, start, end, parent) sharing one run id."""

    def __init__(self) -> None:
        self.run_id = uuid.uuid4().hex
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def add(self, name: str, start: float, end: float, parent: int | None, **attrs) -> int:
        span_id = len(self.spans) + 1
        self.spans.append(
            {"run_id": self.run_id, "id": span_id, "parent": parent, "name": name,
             "start": start, "end": end, **attrs}
        )
        return span_id

    @contextmanager
    def span(self, name: str, **attrs):
        """Time the block as a child of the innermost open span; yields the
        span's record so the block can attach attributes to it."""
        parent = self._stack[-1] if self._stack else None
        span_id = self.add(name, time.time(), 0.0, parent, **attrs)
        self._stack.append(span_id)
        try:
            yield self.spans[span_id - 1]
        finally:
            self._stack.pop()
            self.spans[span_id - 1]["end"] = time.time()

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


# -- executed-plan SQL metrics ------------------------------------------------


def plan_nodes(plan) -> list[tuple[str, str, dict]]:
    """(class, join type, metric values) for every node of an executed plan,
    descending through adaptive plans and query stages."""
    out = []
    todo = [plan]
    while todo:
        p = todo.pop()
        cls = p.getClass().getSimpleName()
        metrics = {}
        it = p.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            metrics[kv._1()] = kv._2().value()
        join_type = p.joinType().toString() if cls.endswith("JoinExec") else ""
        out.append((cls, join_type, metrics))
        if cls == "AdaptiveSparkPlanExec":
            todo.append(p.executedPlan())
        elif cls.endswith("QueryStageExec"):
            todo.append(p.plan())
        else:
            kids = p.children().iterator()
            while kids.hasNext():
                todo.append(kids.next())
    return out


def plan_counts(nodes: list[tuple[str, str, dict]]) -> dict:
    """Sum the plan metrics the benchmark reports, over one job's plan."""
    c = dict.fromkeys(
        ("scan_rows", "scan_bytes", "scans", "shuffle_bytes", "shuffle_records",
         "shuffle_write_ms", "spill_bytes", "agg_build_ms", "wedge_rows",
         "closed_rows", "broadcast_bytes", "hash_build_ms"),
        0,
    )
    for cls, join_type, m in nodes:
        if cls == "FileSourceScanExec":
            c["scans"] += 1
            c["scan_rows"] += m.get("numOutputRows", 0)
            c["scan_bytes"] += m.get("filesSize", 0)
        elif cls == "ShuffleExchangeExec":
            c["shuffle_bytes"] += m.get("shuffleBytesWritten", 0)
            c["shuffle_records"] += m.get("shuffleRecordsWritten", 0)
            c["shuffle_write_ms"] += m.get("shuffleWriteTime", 0) / 1e6
        elif cls == "BroadcastExchangeExec":
            c["broadcast_bytes"] += m.get("dataSize", 0)
            c["hash_build_ms"] += m.get("buildTime", 0)
        elif cls == "ShuffledHashJoinExec":
            c["hash_build_ms"] += m.get("buildTime", 0)
        elif cls in ("HashAggregateExec", "ObjectHashAggregateExec"):
            c["agg_build_ms"] += m.get("aggTime", 0)
        if join_type == "Inner":
            c["wedge_rows"] += m.get("numOutputRows", 0)
        elif join_type == "LeftSemi":
            c["closed_rows"] += m.get("numOutputRows", 0)
        c["spill_bytes"] += m.get("spillSize", 0)
    return c


def group_tasks(sc, group: str) -> int:
    """Tasks completed by the jobs of one job group (status tracker)."""
    st = sc.statusTracker()
    stages = set()
    for job_id in st.getJobIdsForGroup(group):
        info = st.getJobInfo(job_id)
        if info is not None:
            stages.update(info.stageIds)
    total = 0
    for s in stages:
        info = st.getStageInfo(s)
        if info is not None:
            total += info.numCompletedTasks
    return total


# -- streaming progress and state on disk ------------------------------------


def make_progress_listener(events: list):
    """A ``StreamingQueryListener`` that appends each progress to ``events``."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Progress(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            events.append(
                {"batch": p.batchId, "timestamp": p.timestamp,
                 "rows": p.numInputRows, "ms": dict(p.durationMs)}
            )

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return _Progress()


def epoch(ts: str) -> float:
    """Progress timestamps are ISO-8601 UTC (``2026-01-01T00:00:00.000Z``)."""
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for name in files:
            try:
                total += os.path.getsize(os.path.join(root, name))
            except FileNotFoundError:
                pass  # pruned while walking
    return total


class StateWatcher:
    """Polls the stream's versioned state directory and records the size of
    every committed version (``v=<id>/_SUCCESS``) before retention prunes
    it, so bytes written over the drain can be summed afterwards."""

    def __init__(self, state_dir: str, interval: float = 0.05) -> None:
        self.state_dir = state_dir
        self.interval = interval
        self.sizes: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _poll(self) -> None:
        for table in ("edges", "count"):
            tdir = os.path.join(self.state_dir, table)
            try:
                versions = os.listdir(tdir)
            except FileNotFoundError:
                continue
            for v in versions:
                key = f"{table}/{v}"
                vdir = os.path.join(tdir, v)
                if key not in self.sizes and os.path.exists(os.path.join(vdir, "_SUCCESS")):
                    self.sizes[key] = dir_bytes(vdir)

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self._poll()

    def __enter__(self) -> StateWatcher:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._poll()


# -- JVM and process ----------------------------------------------------------


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def peak_rss_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of a process, from ``/proc``."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def jvm_gc(spark) -> dict:
    """Cumulative GC time and count, and peak heap use, from the JVM's
    management beans."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    gc_ms = gc_count = 0
    for bean in mf.getGarbageCollectorMXBeans():
        gc_ms += max(0, bean.getCollectionTime())
        gc_count += max(0, bean.getCollectionCount())
    heap_peak = 0
    for pool in mf.getMemoryPoolMXBeans():
        if pool.getType().toString() == "Heap memory":
            heap_peak += pool.getPeakUsage().getUsed()
    return {"gc_ms": gc_ms, "gc_count": gc_count, "heap_peak_mb": heap_peak / 2**20}


def env_snapshot() -> dict:
    """Load average and the other Spark JVMs and Python processes running
    on the machine, so a slow run can be told apart from a slow program."""
    snap: dict = {"cpus": len(os.sched_getaffinity(0)), "loadavg": list(os.getloadavg())}
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    snap["cpu_ticks"] = sum(ticks)
    snap["steal_ticks"] = ticks[7] if len(ticks) > 7 else 0  # time the host ran others on our CPUs
    me = os.getpid()
    jvms = pys = 0
    for pid in os.listdir("/proc"):
        if not pid.isdigit() or int(pid) == me:
            continue
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read().replace(b"\0", b" ").decode(errors="replace")
        except OSError:
            continue
        if "java" in cmd and "spark" in cmd.lower():
            jvms += 1
        elif "python" in cmd:
            pys += 1
    snap["spark_jvms"] = jvms
    snap["python_procs"] = pys
    return snap
