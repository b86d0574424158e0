"""Tests of the benchmark itself: input generation, the output check, the
printed metrics and the repeatability of the traced counts.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider

The run tests call ``run.py`` in fresh processes on the full workloads
with a short timed loop; they launch Spark several times, so the module
takes a few minutes.
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402
from run import BATCH_JOBS  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

SMALL = gen.GraphSpec(nodes=3000, edges=12000, alpha=0.9, base_frac=0.5, deltas=3, rearrive=0.1)


def _digests(path: str) -> dict:
    out = {}
    for root, _, files in os.walk(path):
        for name in files:
            with open(os.path.join(root, name), "rb") as f:
                out[os.path.relpath(os.path.join(root, name), path)] = hashlib.sha256(f.read()).hexdigest()
    return out


def test_generator_is_byte_identical_per_seed_and_differs_across_seeds(tmp_path):
    metas = [gen.generate(SMALL, seed, str(tmp_path / name)) for name, seed in (("a", 7), ("b", 7), ("c", 8))]
    a, b, c = (_digests(str(tmp_path / n)) for n in "abc")
    assert a == b and metas[0] == metas[1]
    assert sorted(a) == sorted(c)
    assert all(a[k] != c[k] for k in a if k != "meta.json")


def test_generated_graph_is_distinct_loop_free_and_power_law(tmp_path):
    meta = gen.generate(SMALL, 3, str(tmp_path))
    with open(tmp_path / "edges.csv") as f:
        edges = [tuple(map(int, line.split(","))) for line in f]
    assert len(edges) == len(set(edges)) == SMALL.edges == meta["edges"]
    assert all(s != d for s, d in edges)
    # a Zipf followee law puts the top hub far above the mean in-degree
    assert meta["max_in_degree"] > 20 * SMALL.edges / SMALL.nodes
    # a base file of 6000 edges, then three deltas of 2000 new edges and
    # 200 re-arrivals each
    assert meta["feed_files"] == SMALL.deltas + 1
    assert meta["arrivals"] == SMALL.edges + 3 * 200


def test_oracle_agrees_with_generator_counts_and_flags_off_by_one(tmp_path):
    meta = gen.generate(SMALL, 5, str(tmp_path))
    want = oracle.answers(str(tmp_path), BATCH_JOBS, stream=True)
    assert want["count_edges"] == meta["edges"]
    assert want["two_hop_exact"] == meta["two_hop_paths"]
    assert want["triangle_rs"] == want["triangle_rj"] == 3 * want["triangle_auto"] > 0
    assert want["stream"]["n_edges"] == meta["edges"]

    tally = run.Tally()
    for job in BATCH_JOBS:
        tally.check(job, want[job], want[job])
    assert tally.failed == 0
    tally.check("count_edges", want["count_edges"] + 1, want["count_edges"])
    rank = [list(r) for r in want["rank_degree"]]
    rank[-1][2] -= 1
    tally.check("rank_degree", rank, want["rank_degree"])
    tally.check("stream", {**want["stream"], "t_raw": want["stream"]["t_raw"] - 1}, want["stream"])
    assert (tally.attempted, tally.failed) == (len(BATCH_JOBS) + 3, 3)


# -- whole runs, each in its own process ---------------------------------------------


def _run(*args: str) -> tuple[dict, dict]:
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), *args],
                       stdout=subprocess.PIPE, text=True, cwd=os.path.dirname(HERE), timeout=600)
    assert p.returncode == 0
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    printed = {}
    for line in lines[:-1]:
        name, value, unit = line.split(" ")
        printed[name] = (float(value), unit)
    return result, printed


@pytest.fixture(scope="module")
def bench_json():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_names_the_runs_workloads(bench_json):
    # follow-scan runs only under --workload all (see workloads.py)
    assert [w["name"] for w in bench_json["workloads"]] == [n for n in WORKLOADS if n != "follow-scan"]
    assert {m["name"]: m["unit"] for m in bench_json["end_to_end"]} == run.E2E_UNITS
    assert {m["name"]: m["unit"] for m in bench_json["per_layer"]} == run.layer_units()


@pytest.mark.parametrize("workload", ["wedge-closure", "follow-stream"])
def test_untraced_run_prints_every_end_to_end_metric(bench_json, workload):
    result, printed = _run("--workload", workload, "--seed", "3", "--seconds", "4", "--trace", "0")
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 2
    want = {m["name"]: m["unit"] for m in bench_json["end_to_end"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    assert {k: u for k, (_, u) in printed.items()} == want
    assert all(v["value"] > 0 for v in result["metrics"].values())


@pytest.fixture(scope="module")
def traced_twice():
    out = []
    for _ in range(2):
        result, _ = _run("--workload", "wedge-closure", "--seed", "4", "--seconds", "4", "--trace", "1")
        with open(os.path.join(HERE, "_out", "spans-wedge-closure-s4-t1.jsonl")) as f:
            out.append((result, [json.loads(line) for line in f]))
    return out


def test_traced_run_prints_every_layer_metric_and_writes_spans(traced_twice, bench_json):
    result, spans = traced_twice[0]
    assert result["correct"] and result["failed"] == 0
    want = {m["name"]: m["unit"] for m in bench_json["per_layer"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    names = {s["name"] for s in spans}
    assert {"session.get_spark", "sources.edges_from_csv", "operators.graph.triangle_count_raw",
            "plan", "execute", "streaming.triangles.triangles_apply_stream", "micro_batch",
            "streaming.triangles.triangle_view_from_state"} <= names
    assert len({s["run_id"] for s in spans}) == 1
    ids = {s["id"] for s in spans}
    assert all(s["parent"] is None or s["parent"] in ids for s in spans)
    assert all(s["end"] >= s["start"] for s in spans)


def test_traced_plan_counts_repeat_exactly_on_one_seed(traced_twice):
    (a, _), (b, _) = traced_twice
    keys = [k for k in a["metrics"] if k.endswith((".wedge_rows", ".closed_rows", ".shuffle_records"))]
    assert len(keys) == 2 * 3 + 1 + len(BATCH_JOBS)
    assert {k: a["metrics"][k]["value"] for k in keys} == {k: b["metrics"][k]["value"] for k in keys}
    assert a["metrics"]["operators.graph.triangle_rs.closed_rows"]["value"] > 0
