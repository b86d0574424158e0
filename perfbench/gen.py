"""Seeded generator for the benchmark's power-law follower graphs.

One workload's inputs are a pure function of ``(spec, seed)``: the same
seed writes byte-identical files.  The engine receives only the files:

* ``edges.csv`` -- the graph as headerless ``src,dst`` lines (the
  reference's native input format), distinct and loop-free;
* ``feed/part-NNNN.parquet`` -- the same edges as an arrival stream, one
  file per micro-batch: a base file, then equal delta files in which a
  fixed share of rows re-arrive (copies of edges from earlier files), so
  the stream's dedup anti-join has work;
* ``meta.json`` -- node, edge, max-in-degree, 2-hop path and arrival counts.

Followers are uniform over the nodes; followees are drawn from a Zipf
law over a seeded popularity ranking, which gives the power-law in-degree
hubs of a follower graph.

Run as ``python3 perfbench/gen.py --workload wedge-closure --seed 1 --out DIR``.
"""

from __future__ import annotations

import argparse
import json
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.csv as pcsv
import pyarrow.parquet as pq


@dataclass(frozen=True)
class GraphSpec:
    nodes: int
    edges: int
    alpha: float  # Zipf exponent of followee popularity
    base_frac: float  # share of the edges in the first feed file
    deltas: int  # feed files after the base file
    rearrive: float  # re-arrived rows per new row in each delta file


def power_law_edges(rng: np.random.Generator, spec: GraphSpec) -> tuple[np.ndarray, np.ndarray]:
    """``spec.edges`` distinct loop-free edges, in arrival order."""
    n = spec.nodes
    if spec.edges > n * (n - 1) // 4:
        raise ValueError(f"{spec.edges} edges is too dense for {n} nodes")
    rank_to_node = rng.permutation(n)
    weights = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** spec.alpha
    cdf = np.cumsum(weights / weights.sum())
    keys = np.empty(0, dtype=np.int64)
    while len(keys) < spec.edges:
        k = int((spec.edges - len(keys)) * 1.2) + 1024
        src = rng.integers(0, n, k)
        dst = rank_to_node[np.minimum(np.searchsorted(cdf, rng.random(k), side="right"), n - 1)]
        keys = np.concatenate([keys, (src * n + dst)[src != dst]])
        _, first = np.unique(keys, return_index=True)
        keys = keys[np.sort(first)]
    keys = keys[: spec.edges]
    return keys // n, keys % n


def feed_batches(
    rng: np.random.Generator, src: np.ndarray, dst: np.ndarray, spec: GraphSpec
) -> list[tuple[np.ndarray, np.ndarray]]:
    """Split the edges into a base batch and ``spec.deltas`` delta batches;
    each delta also carries re-arrivals drawn from earlier batches."""
    m = len(src)
    n_base = int(m * spec.base_frac) if spec.deltas else m
    bounds = [0, n_base] + [
        n_base + (m - n_base) * (i + 1) // spec.deltas for i in range(spec.deltas)
    ]
    batches = []
    for lo, hi in zip(bounds, bounds[1:]):
        s, d = src[lo:hi], dst[lo:hi]
        if lo > 0:
            again = rng.integers(0, lo, int((hi - lo) * spec.rearrive))
            order = rng.permutation(hi - lo + len(again))
            s = np.concatenate([s, src[again]])[order]
            d = np.concatenate([d, dst[again]])[order]
        batches.append((s, d))
    return batches


def describe(src: np.ndarray, dst: np.ndarray, arrivals: int, files: int) -> dict:
    n = int(max(src.max(), dst.max())) + 1
    indeg = np.bincount(dst, minlength=n)
    outdeg = np.bincount(src, minlength=n)
    return {
        "nodes": int(np.count_nonzero(indeg + outdeg)),
        "edges": int(len(src)),
        "max_in_degree": int(indeg.max()),
        "two_hop_paths": int(np.dot(indeg, outdeg)),
        "arrivals": int(arrivals),
        "feed_files": int(files),
    }


def generate(spec: GraphSpec, seed: int, out_dir: str) -> dict:
    """Write one workload's inputs into ``out_dir``; return its meta."""
    rng = np.random.default_rng(seed)
    src, dst = power_law_edges(rng, spec)
    os.makedirs(os.path.join(out_dir, "feed"), exist_ok=True)
    pcsv.write_csv(
        pa.table({"src": src, "dst": dst}),
        os.path.join(out_dir, "edges.csv"),
        pcsv.WriteOptions(include_header=False),
    )
    batches = feed_batches(rng, src, dst, spec)
    for i, (s, d) in enumerate(batches):
        pq.write_table(
            pa.table({"src": s, "dst": d}),
            os.path.join(out_dir, "feed", f"part-{i:04d}.parquet"),
        )
    meta = describe(src, dst, sum(len(s) for s, _ in batches), len(batches))
    with open(os.path.join(out_dir, "meta.json"), "w") as f:
        json.dump(meta, f, indent=1, sort_keys=True)
    return meta


def main() -> None:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    print(json.dumps(generate(WORKLOADS[args.workload].graph, args.seed, args.out)))


if __name__ == "__main__":
    main()
