"""Carry-in of a distributed two-level prefix sum, with no window.

A global running sum is a single-partition window.  The two-level form
ranks or sums rows inside shuffle-partitioned buckets and adds each
bucket's carry-in: the exclusive prefix sum of the bucket totals, taken
over a spine of at most B rows.  :func:`spine_offsets` computes that
carry-in on one row: it sorts the spine into an array, runs the O(B²)
running sum inside ``transform``/``aggregate`` (32k integer adds for
B = 256), and explodes back to one row per bucket.  The plan stays one
lazy DAG with no unpartitioned window and no driver collect.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def spine_offsets(sized: DataFrame, key: str, size: str, out: str) -> DataFrame:
    """``(key, out)`` for a spine of one row per ``key`` with an integer
    ``size``: ``out`` = Σ ``size`` over the rows with a smaller key (0
    for the smallest)."""
    return (
        sized.agg(F.sort_array(F.collect_list(F.struct(key, size))).alias("arr"))
        .select(
            F.explode(
                F.expr(
                    f"transform(arr, (s, i) -> struct(s.{key} AS {key}, "
                    f"aggregate(slice(arr, 1, i), CAST(0 AS BIGINT), "
                    f"(a, y) -> a + y.{size}) AS {out}))"
                )
            ).alias("o")
        )
        .select(f"o.{key}", f"o.{out}")
    )
