"""The benchmark's workloads: input shape and the jobs each one times.

Every workload is a closed loop with one client: each job starts only
after the previous one has returned.

``wedge-closure`` and ``follow-stream`` are the workloads ``BENCHMARK.json``
lists.  ``follow-scan`` runs only under ``--workload all``: a third gated
workload would push a comparison of two commits well past an hour on a
loaded host (see README.md).  Its CSV scan and degree aggregate are still timed per
job on every workload by the traced run.
"""

from __future__ import annotations

from dataclasses import dataclass

from gen import GraphSpec


@dataclass(frozen=True)
class Workload:
    name: str
    graph: GraphSpec
    jobs: tuple[str, ...]  # batch jobs named in ``run.JOBS``; empty: the timed loop is the stream drain


WORKLOADS = {
    w.name: w
    for w in (
        # hub-skewed 2-hop expansion and the closure semi-join; nodes sit just
        # above the MAX of 12,500, so the filter drops few of the scanned rows
        Workload(
            "wedge-closure",
            GraphSpec(nodes=13_000, edges=115_000, alpha=0.9, base_frac=0.25, deltas=3, rearrive=0.1),
            ("two_hop_approx", "triangle_rs", "triangle_rj", "triangle_auto"),
        ),
        # small deltas against a large standing edge set; ``run.py`` sets the
        # number of delta files from --seconds
        Workload(
            "follow-stream",
            GraphSpec(nodes=25_000, edges=90_000, alpha=0.9, base_frac=0.7, deltas=10, rearrive=0.1),
            (),
        ),
        # CSV scan and degree hash-aggregate, no joins
        Workload(
            "follow-scan",
            GraphSpec(nodes=200_000, edges=600_000, alpha=1.0, base_frac=0.25, deltas=3, rearrive=0.1),
            ("count_edges", "two_hop_exact", "rank_degree"),
        ),
    )
}
