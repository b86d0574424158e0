"""Lazy localCheckpoint with plan-history severance — what every
iterative loop in ``operators/graph_iter.py``, and the reuse barriers
that opted in elsewhere, use instead of a bare
``localCheckpoint(eager=False)``.

Root cause (measured, round 8): ``Dataset.localCheckpoint`` builds its
result via ``LogicalRDD.fromDataset``, which CAPTURES the origin
dataset's optimizer state (stats + constraint set) into the new leaf.
In a loop whose next pass references the checkpointed frame TWICE
(every peeling/self-join shape), that captured state compounds ~2.5×
per pass — by pass ~18 the ``localCheckpoint`` CALL ITSELF
(driver-side, not the job: jobs stayed 6 jobs/10 stages/11 tasks flat)
costs seconds and doubles every pass: 0.5 s → 0.8 → 1.6 → 4.2 → 10 →
27 → 70 s on a 200-node toy graph, identically with eager=True, codegen
off, broadcast off, and constraint propagation off.  Fix: rebuild a
BARE ``LogicalRDD`` from the physical RDD (``internalCreateDataFrame``
— no origin capture) and checkpoint THAT: per-pass cost is flat 0.3 s
through 30+ passes.  Correctness is unchanged — the wrapped
``localCheckpoint`` still does the row-copy + lazy materialization;
values/schema are byte-identical (the full oracle suite re-passed).
Without this, ANY ≳17-pass chain (SCC's O(#SCC) super-rounds, BFS/SSSP
frontiers, deep coreness tiers) hits a driver-side exponential wall
that no cluster size can buy back.

The origin-capture cost is paid per ``localCheckpoint`` CALL, loops or
not; round 12 measured it at non-iterative reuse barriers too:
ann_mmr_topk 2.44→2.11 s, dedup_semantic 5.56→4.72 s,
ann_topk_ivf_kmeans 2.83→2.26 s warm.

Trade-off to know before swapping a site: the bare rebuild drops the
origin dataset's CAPTURED STATS, so the static planner can no longer
prove the checkpointed frame small enough to auto-broadcast (AQE still
converts at runtime from actual shuffle sizes, and explicit
``F.broadcast`` pins are unaffected).  Sites whose downstream joins
rely on static auto-broadcast of the checkpointed side should keep the
plain form — which is why call sites opt in one by one, with an A/B,
rather than via a global swap.

The bare-rebuild path touches one ``private[sql]`` JVM method, so it
degrades to the plain form if the API drifts — but LOUDLY (one
RuntimeWarning per process): silent degradation would re-hit the
exponential wall with no signal.
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame

#: count of successful bare-LogicalRDD rebuilds (pinned by test — a
#: Spark upgrade that drops the private API must fail loudly)
_FAST_PATH_USES = 0
_FALLBACK_WARNED = False


def lazy_ckpt(df: DataFrame) -> DataFrame:
    """Rebuild a bare ``LogicalRDD`` from ``df``'s physical RDD (no
    origin-state capture) and lazily localCheckpoint THAT.  Values and
    schema are byte-identical to ``df.localCheckpoint(eager=False)``;
    only the captured optimizer state (and its per-call cost) is shed.
    Degrades loudly to the plain form if the private API drifts."""
    global _FAST_PATH_USES, _FALLBACK_WARNED
    spark = df.sparkSession
    try:
        jdf = df._jdf
        jrdd = jdf.queryExecution().toRdd()
        j2 = spark._jsparkSession.internalCreateDataFrame(jrdd, jdf.schema(), False)
        df = DataFrame(j2, spark)
        _FAST_PATH_USES += 1
    except Exception as exc:  # private-API drift fallback
        if not _FALLBACK_WARNED:
            _FALLBACK_WARNED = True
            warnings.warn(
                "lazy_ckpt bare-LogicalRDD rebuild unavailable"
                f" ({type(exc).__name__}: {exc}); falling back to plain"
                " localCheckpoint — iterative chains of ~17+ passes will"
                " hit the exponential driver-side localCheckpoint cost"
                " this fast path removes, and reuse barriers regain the"
                " captured optimizer-state cost",
                RuntimeWarning,
                stacklevel=2,
            )
    return df.localCheckpoint(eager=False)
