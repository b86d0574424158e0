"""Benchmark for the spark-graft engine on generated power-law follower graphs.

    python3 perfbench/run.py --workload wedge-closure --seed 1 --seconds 16 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 16

One run generates the workload's inputs from ``--seed``, computes every
expected answer with DuckDB, then drives the engine only through its
public functions (``session.get_spark``, ``sources.readers.edges_from_csv``,
``operators.graph.*``, ``streaming.triangles.*``) in a closed loop for
``--seconds``.  Every answer is checked; the last stdout line is one JSON
object ``{"correct", "attempted", "failed", "metrics"}`` holding the
end-to-end metrics (``--trace 0``) or the per-layer metrics (``--trace 1``)
listed in ``BENCHMARK.json``.  ``--workload all`` runs every workload
untraced and prints the per-job table.  Reports and span files are
written to ``perfbench/_out``; generated inputs live in ``perfbench/_work``
and are deleted at exit.
"""

from __future__ import annotations

import argparse
import dataclasses
import importlib.util
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402
import probes  # noqa: E402
from session_util import pin_env, spark_conf, stop_spark  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

ENGINE = "twitter_followers_patterns_mapreduce_spark"
DEADLINE_S = 175  # a run must end within 180 s
STREAM_DELTAS_PER_S = 0.6  # timed delta files per second of --seconds; a warm micro-batch takes ~1.5 s
STREAM_WARMUP = 5  # untimed delta files after the base file

#: end-to-end metrics (``--trace 0``), the same on every workload
E2E_UNITS = {
    "setup_s": "s",
    "job_s_geomean": "s",
    "edges_per_s": "1/s",
    "peak_rss_mb": "MB",
}

#: each batch job: the public ``operators.graph`` function and its arguments.
#: The traced run drives all of them on every workload's graph, so that
#: every per-layer metric exists on every workload.
JOBS = {
    "count_edges": ("count_edges", {}),
    "two_hop_exact": ("two_hop_count_exact", {}),
    "rank_degree": ("rank_by_degree", {"k": oracle.RANK_K}),
    "two_hop_approx": ("two_hop_count_approx", {}),
    "triangle_rs": ("triangle_count_raw", {"strategy": "shuffle"}),  # what the CLI runs
    "triangle_rj": ("triangle_count_raw", {"strategy": "broadcast"}),
    # what the registered queries run
    "triangle_auto": ("triangle_count", {"strategy": "auto", "min_rotation": True}),
}
BATCH_JOBS = tuple(JOBS)

_JOB_COMMON = {
    "plan_s": "s",
    "exec_s": "s",
    "shuffle_bytes": "bytes",
    "shuffle_records": "count",
    "shuffle_write_ms": "ms",
    "spill_bytes": "bytes",
    "tasks": "count",
}
_JOB_EXTRA = {
    "count_edges": {"agg_build_ms": "ms"},
    "two_hop_exact": {"agg_build_ms": "ms"},
    "rank_degree": {"agg_build_ms": "ms"},
    "two_hop_approx": {"wedge_rows": "count"},
}
_TRIANGLE_EXTRA = {
    "wedge_rows": "count",
    "closed_rows": "count",
    "closure_hit_ratio": "ratio",
    "broadcast_bytes": "bytes",
    "hash_build_ms": "ms",
}


def job_metric_units(job: str) -> dict:
    """The per-layer metrics reported for one batch job, with units."""
    return {**_JOB_COMMON, **(_TRIANGLE_EXTRA if job.startswith("triangle") else _JOB_EXTRA[job])}


def layer_units() -> dict:
    """Per-layer metrics (``--trace 1``), the same on every workload."""
    units = {
        "session.jvm_gc_ms": "ms",
        "session.jvm_gc_count": "count",
        "session.heap_peak_mb": "MB",
        "sources.scan_s": "s",
        "sources.scan_rows_per_edge": "ratio",
        "sources.scan_bytes": "bytes",
    }
    for job in BATCH_JOBS:
        for k, u in job_metric_units(job).items():
            units[f"operators.graph.{job}.{k}"] = u
    units.update(
        {
            "streaming.triangles.add_batch_ms": "ms",
            "streaming.triangles.query_planning_ms": "ms",
            "streaming.triangles.get_batch_ms": "ms",
            "streaming.triangles.wal_commit_ms": "ms",
            "streaming.triangles.state_bytes_written_per_edge": "bytes",
            "streaming.triangles.state_bytes_per_edge": "bytes",
            "streaming.triangles.admit_ratio": "ratio",
            "streaming.triangles.view_s": "s",
            "trace.overhead_frac": "ratio",
        }
    )
    return units


# -- engine calls ---------------------------------------------------------------


def job_frame(spark, job: str, csv: str):
    """Build one job's lazy DataFrame through the engine's public API."""
    from twitter_followers_patterns_mapreduce_spark.operators import graph as G
    from twitter_followers_patterns_mapreduce_spark.sources.readers import edges_from_csv

    fn, kwargs = JOBS[job]
    return getattr(G, fn)(edges_from_csv(spark, csv), **kwargs)


def job_value(job: str, rows):
    return rows if job == "rank_degree" else rows[0][0]


class Tally:
    """Counts attempted and failed operations; a failure is an exception
    or an answer that differs from the DuckDB oracle."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def fail(self, what: str, why: str, n: int = 1) -> None:
        self.failed += n
        if len(self.errors) < 20:
            self.errors.append(f"{what}: {why}"[:500])
        print(f"perfbench: FAILED {what}: {why}"[:500], file=sys.stderr)

    def check(self, what: str, got, want) -> None:
        self.attempted += 1
        if not oracle.matches(got, want):
            self.fail(what, f"got {got!r}, want {want!r}")


def timed_job(spark, job: str, csv: str, want, tally: Tally) -> float:
    """Run one job to completion, check its answer; return its latency."""
    t0 = time.perf_counter()
    try:
        rows = job_frame(spark, job, csv).collect()
    except Exception as ex:  # a failed job is counted, the run goes on
        tally.attempted += 1
        tally.fail(job, repr(ex))
        return time.perf_counter() - t0
    dt = time.perf_counter() - t0
    tally.check(job, job_value(job, rows), want[job])
    return dt


def drain_stream(spark, feed: str, state: str, n_files: int, tally: Tally, events: list) -> float:
    """Drain the feed through ``triangles_apply_stream``; each progress
    event lands in ``events``.  Returns the drain's wall time."""
    from twitter_followers_patterns_mapreduce_spark.streaming import triangles as T

    listener = probes.make_progress_listener(events)
    spark.streams.addListener(listener)
    tally.attempted += n_files
    t0 = time.perf_counter()
    try:
        T.triangles_apply_stream(
            spark, T.edges_tri_stream(spark, feed), os.path.join(state, "s"), os.path.join(state, "ckpt")
        )
        drained = True
    except Exception as ex:
        tally.fail("triangles_apply_stream", repr(ex), n_files)
        drained = False
    drain_s = time.perf_counter() - t0
    deadline = time.time() + 10
    while drained and len(events) < n_files and time.time() < deadline:
        time.sleep(0.05)  # progress events arrive asynchronously
    spark.streams.removeListener(listener)
    if drained and len(events) != n_files:
        tally.fail("triangles_apply_stream", f"{len(events)} progress events for {n_files} files",
                   abs(n_files - len(events)))
    events.sort(key=lambda e: e["batch"])
    return drain_s


def check_view(spark, state: str, want: dict, tally: Tally) -> dict | None:
    from twitter_followers_patterns_mapreduce_spark.streaming import triangles as T

    try:
        row = T.triangle_view_from_state(spark, os.path.join(state, "s")).collect()[0]
    except Exception as ex:
        tally.attempted += 1
        tally.fail("triangle_view_from_state", repr(ex))
        return None
    got = {"t_raw": row["t_raw"], "n_edges": row["n_edges"], "consistent": row["consistent"]}
    tally.check("triangle_view_from_state", got, want)
    return got


# -- statistics -------------------------------------------------------------------


def tail(samples: list[float]) -> tuple[float, float] | None:
    """(percentile, value): the highest percentile with at least ten
    samples beyond it, or None below eleven samples."""
    n = len(samples)
    if n < 11:
        return None
    return 100.0 * (n - 10) / n, sorted(samples)[n - 11]


def metric(value: float, unit: str, **extra) -> dict:
    return {"value": value, "unit": unit, **extra}


# -- the two kinds of run -------------------------------------------------------------


def time_setup(work: str):
    """Time one ``get_spark()``, JVM launch included; return the session
    and the seconds it took."""
    from twitter_followers_patterns_mapreduce_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(extra_conf=spark_conf(work))
    return spark, time.perf_counter() - t0


def run_untraced(spark, w, inp: str, meta: dict, want: dict, seconds: float, tally: Tally) -> dict:
    """The end-to-end run.  Batch workloads: a cold first pass, one
    untimed warm-up pass, then timed passes for ``seconds``.  The stream
    workload: one drain of the feed; its first micro-batch is the cold pass
    and the first ``STREAM_WARMUP`` deltas are not timed.  The cold pass is
    reported in ``detail`` only: it is one sample per JVM."""
    csv = os.path.join(inp, "edges.csv")
    out: dict = {}
    if w.jobs:
        t0 = time.perf_counter()
        for job in w.jobs:
            timed_job(spark, job, csv, want, tally)
        first_pass_s = time.perf_counter() - t0
        for job in w.jobs:  # JIT warm-up
            timed_job(spark, job, csv, want, tally)
        lat: dict[str, list[float]] = {j: [] for j in w.jobs}
        passes = 0
        t0 = time.perf_counter()
        while passes == 0 or time.perf_counter() - t0 < seconds:
            for job in w.jobs:
                lat[job].append(timed_job(spark, job, csv, want, tally))
            passes += 1
        wall = time.perf_counter() - t0
        medians = {j: statistics.median(v) for j, v in lat.items()}
        out["job_s_geomean"] = math.exp(statistics.fmean(math.log(v) for v in medians.values()))
        out["edges_per_s"] = meta["edges"] * len(w.jobs) * passes / wall
        out["detail"] = {f"{j}_s": metric(m, "s", n=len(lat[j]), samples=lat[j]) for j, m in medians.items()}
        out["detail"]["first_pass_s"] = metric(first_pass_s, "s", n=1)
        out["detail"]["edges_per_s"] = metric(out["edges_per_s"], "1/s", passes=passes)
        return out
    events: list[dict] = []
    drain_s = drain_stream(spark, os.path.join(inp, "feed"), os.path.join(inp, "state"),
                           meta["feed_files"], tally, events)
    check_view(spark, os.path.join(inp, "state"), want["stream"], tally)
    batch_s = [e["ms"]["triggerExecution"] / 1000.0 for e in events]
    if len(batch_s) < 2 + STREAM_WARMUP:
        raise RuntimeError(f"the stream ran {len(batch_s)} micro-batches, too few to time")
    warm = batch_s[1 + STREAM_WARMUP:]
    out["job_s_geomean"] = statistics.median(warm)
    # the timed micro-batches only; the whole drain, cold batch included, is in ``detail``
    out["edges_per_s"] = sum(e["rows"] for e in events[1 + STREAM_WARMUP:]) / sum(warm)
    out["detail"] = {
        "first_batch_s": metric(batch_s[0], "s", n=1, batches=batch_s),
        "batch_s_p50": metric(out["job_s_geomean"], "s", n=len(warm)),
        "stream_edges_per_s": metric(meta["arrivals"] / drain_s, "1/s", arrivals=meta["arrivals"]),
    }
    t = tail(warm)
    out["detail"]["batch_s_tail"] = (
        metric(t[1], "s", percentile=round(t[0], 1), n=len(warm))
        if t
        else metric(None, "s", n=len(warm), note="needs at least 11 timed batches")
    )
    return out


def run_traced(spark, w, inp: str, meta: dict, want: dict, tally: Tally, tracer: probes.Tracer) -> dict:
    """The per-layer run: spans around every call into a layer, plan and
    status-tracker counts per job, streaming progress per micro-batch."""
    sc = spark.sparkContext
    csv = os.path.join(inp, "edges.csv")
    m: dict = {}

    # warm-up pass, then untraced passes either side of the traced one to
    # hold it against
    for job in BATCH_JOBS:
        timed_job(spark, job, csv, want, tally)
    untraced_s = sum(timed_job(spark, job, csv, want, tally) for job in BATCH_JOBS)

    with tracer.span("sources.edges_from_csv", sink="noop"):
        from twitter_followers_patterns_mapreduce_spark.sources.readers import edges_from_csv

        t0 = time.perf_counter()
        edges_from_csv(spark, csv).write.format("noop").mode("overwrite").save()
        m["sources.scan_s"] = time.perf_counter() - t0

    traced_s = 0.0
    counts = {}
    for job in BATCH_JOBS:
        group = f"perfbench-{job}"
        sc.setJobGroup(group, job)
        fn, kwargs = JOBS[job]
        t0 = time.perf_counter()
        with tracer.span(f"operators.graph.{fn}", job=job, **kwargs):
            with tracer.span("plan"):
                t1 = time.perf_counter()
                df = job_frame(spark, job, csv)
                df._jdf.queryExecution().executedPlan()
                plan_s = time.perf_counter() - t1
            with tracer.span("execute"):
                t1 = time.perf_counter()
                try:
                    rows = df.collect()
                except Exception as ex:
                    rows = None
                    tally.attempted += 1
                    tally.fail(job, repr(ex))
                exec_s = time.perf_counter() - t1
        traced_s += time.perf_counter() - t0
        if rows is not None:
            tally.check(job, job_value(job, rows), want[job])
        c = probes.plan_counts(probes.plan_nodes(df._jdf.queryExecution().executedPlan()))
        c.update(plan_s=plan_s, exec_s=exec_s, tasks=probes.group_tasks(sc, group))
        c["closure_hit_ratio"] = c["closed_rows"] / c["wedge_rows"] if c["wedge_rows"] else 0.0
        counts[job] = c
    sc.setJobGroup("perfbench-stream", "stream")
    untraced_s += sum(timed_job(spark, job, csv, want, tally) for job in BATCH_JOBS)
    m["trace.overhead_frac"] = traced_s / (untraced_s / 2) - 1.0

    for job in BATCH_JOBS:
        for k in job_metric_units(job):
            m[f"operators.graph.{job}.{k}"] = counts[job][k]
    scan_jobs = w.jobs or BATCH_JOBS
    scans = sum(counts[j]["scans"] for j in scan_jobs)
    m["sources.scan_rows_per_edge"] = sum(counts[j]["scan_rows"] for j in scan_jobs) / (meta["edges"] * scans)
    m["sources.scan_bytes"] = sum(counts[j]["scan_bytes"] for j in scan_jobs)

    events: list[dict] = []
    state = os.path.join(inp, "state")
    with tracer.span("streaming.triangles.triangles_apply_stream") as drain_span:
        with probes.StateWatcher(os.path.join(state, "s")) as watcher:
            drain_stream(spark, os.path.join(inp, "feed"), state, meta["feed_files"], tally, events)
    for e in events:
        start = probes.epoch(e["timestamp"])
        tracer.add("micro_batch", start, start + e["ms"]["triggerExecution"] / 1000.0, drain_span["id"],
                   batch=e["batch"], rows=e["rows"])
    with tracer.span("streaming.triangles.triangle_view_from_state"):
        t0 = time.perf_counter()
        view = check_view(spark, state, want["stream"], tally)
        m["streaming.triangles.view_s"] = time.perf_counter() - t0

    for key, name in (("addBatch", "add_batch_ms"), ("queryPlanning", "query_planning_ms"),
                      ("getBatch", "get_batch_ms"), ("walCommit", "wal_commit_ms")):
        m[f"streaming.triangles.{name}"] = statistics.fmean(e["ms"].get(key, 0) for e in events)
    arrivals = sum(e["rows"] for e in events)
    n_edges = view["n_edges"] if view else meta["edges"]
    latest = {}
    for key, size in watcher.sizes.items():
        table, v = key.split("/v=")
        if int(v) >= latest.get(table, (-1, 0))[0]:
            latest[table] = (int(v), size)
    m["streaming.triangles.state_bytes_written_per_edge"] = sum(watcher.sizes.values()) / arrivals
    m["streaming.triangles.state_bytes_per_edge"] = sum(size for _, size in latest.values()) / n_edges
    m["streaming.triangles.admit_ratio"] = n_edges / arrivals

    gc = probes.jvm_gc(spark)
    m["session.jvm_gc_ms"] = gc["gc_ms"]
    m["session.jvm_gc_count"] = gc["gc_count"]
    m["session.heap_peak_mb"] = gc["heap_peak_mb"]
    return m


# -- entry point ---------------------------------------------------------------------


def run_one(workload: str, seed: int, seconds: int, trace: bool) -> dict:
    """Generate, check, measure one workload; return the result object."""
    w = WORKLOADS[workload]
    run_name = f"{workload}-s{seed}-t{int(trace)}"
    work = os.path.join(HERE, "_work", f"{run_name}-{os.getpid()}")
    out_dir = os.path.join(HERE, "_out")
    os.makedirs(out_dir, exist_ok=True)
    shutil.rmtree(work, ignore_errors=True)
    try:
        env = pin_env(work)
        report: dict = {"workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
                        "env": env, "env_start": probes.env_snapshot()}
        inp = os.path.join(work, "input")
        graph = w.graph
        if not w.jobs and not trace:  # the stream's timed loop is its feed: size it by --seconds
            timed = max(2, round(seconds * STREAM_DELTAS_PER_S))
            graph = dataclasses.replace(graph, deltas=STREAM_WARMUP + timed)
        meta = gen.generate(graph, seed, inp)
        want = oracle.answers(inp, BATCH_JOBS if trace else w.jobs, stream=trace or not w.jobs)
        report["input"] = meta
        tally = Tally()
        tracer = probes.Tracer()
        with tracer.span("session.get_spark"):  # after generation and the oracle, with nothing beside it
            spark, setup_s = time_setup(work)
        try:
            spark.sparkContext.setLogLevel("ERROR")
            if trace:
                values = run_traced(spark, w, inp, meta, want, tally, tracer)
                metrics = {k: metric(values[k], u) for k, u in layer_units().items()}
            else:
                values = run_untraced(spark, w, inp, meta, want, seconds, tally)
                values["setup_s"] = setup_s
                values["peak_rss_mb"] = probes.peak_rss_mb(probes.jvm_pid(spark))
                metrics = {k: metric(values[k], u) for k, u in E2E_UNITS.items()}
                detail = values["detail"]
                detail["setup_s"] = metric(setup_s, "s", n=1)
                detail["peak_rss_mb"] = metrics["peak_rss_mb"]
                detail["failed_frac"] = metric(tally.failed / max(1, tally.attempted), "ratio")
                report["detail"] = detail
        finally:
            stop_spark(spark)
        report["env_end"] = end = probes.env_snapshot()
        start = report["env_start"]
        report["cpu_steal_frac"] = (end["steal_ticks"] - start["steal_ticks"]) / max(
            1, end["cpu_ticks"] - start["cpu_ticks"]
        )
        report["errors"] = tally.errors
        result = {
            "correct": tally.failed == 0,
            "attempted": tally.attempted,
            "failed": tally.failed,
            "metrics": metrics,
        }
        report["result"] = result
        with open(os.path.join(out_dir, f"{run_name}.json"), "w") as f:
            json.dump(report, f, indent=1)
        if trace:
            tracer.write(os.path.join(out_dir, f"spans-{run_name}.jsonl"))
        return result
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run_all(seed: int, seconds: int) -> int:
    """Each workload untraced in its own process, then one table of the
    per-job and per-workload figures."""
    rc = 0
    for name in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
        p = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        rc = rc or p.returncode
        with open(os.path.join(HERE, "_out", f"{name}-s{seed}-t0.json")) as f:
            report = json.load(f)
        res = report["result"]
        print(f"{name}: correct={res['correct']} attempted={res['attempted']} failed={res['failed']}")
        for k, v in sorted(report.get("detail", {}).items()):
            note = ", ".join(f"{a}={b}" for a, b in v.items() if a not in ("value", "unit", "samples", "batches"))
            value = "n/a" if v["value"] is None else f"{v['value']:.4f}"
            print(f"  {k:22s} {value:>14s} {v['unit']:6s} {note}")
    return rc


def main(argv: list[str] | None = None) -> int:
    sys.path.insert(0, ROOT)
    if importlib.util.find_spec(ENGINE) is None:
        print(f"perfbench: engine package {ENGINE} not found under {ROOT}", file=sys.stderr)
        return 2
    ap = argparse.ArgumentParser(description="spark-graft benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS) + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.workload == "all":
        return run_all(args.seed, args.seconds)

    def _overdue(signum, frame):
        raise TimeoutError(f"run exceeded {DEADLINE_S} s")

    signal.signal(signal.SIGALRM, _overdue)
    signal.alarm(DEADLINE_S)
    result = run_one(args.workload, args.seed, args.seconds, bool(args.trace))
    signal.alarm(0)
    for k, v in result["metrics"].items():
        print(f"{k} {v['value']!r} {v['unit']}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
