"""Job-runner CLI — the reference's entry-point contract, Spark-first.

Reference usage (``Makefile:43-44``):
    hadoop jar target/mr-demo-1.0.jar exact.Exact2HopCount <in> <out>

Engine usage:
    python -m twitter_followers_patterns_mapreduce_spark <job> <edges.csv> <out_dir> \
        [--max N] [--format parquet|csv|json] [--strategy auto|shuffle|broadcast]

Jobs map 1:1 to the reference classes (SURVEY.md §0); MAX is a runtime
flag instead of a compile-time constant (``CountEdgesAfterMax.java:34``
"Change this value as needed" — the part we deliberately un-bake).
Every job writes its result as part files under <out_dir> AND prints the
scalar to stdout, mirroring the counter-plus-part-files contract.
"""

from __future__ import annotations

import argparse
import sys

REFERENCE_MAX_CE = 11_316_812  # countedges/CountEdgesAfterMax.java:34
REFERENCE_MAX_JOIN = 12_500  # approx/Approx2HopCount.java:41, rsjoin/...:33

JOBS = (
    "count-edges",
    "exact-2hop",
    "approx-2hop",
    "rsjoin-triangle",
    "repjoin-triangle",
    "query",  # run any registered named query: input = table dir, --name required
    "sql",  # run arbitrary SQL over the table dir: --sql required
    "compact",  # rewrite a parquet dir into target-sized files
    "list",  # print every registered query with its description
)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="twitter_followers_patterns_mapreduce_spark", description=__doc__)
    p.add_argument("job", choices=JOBS)
    p.add_argument(
        "input",
        nargs="?",
        default=None,
        help="edge list CSV ('src,dst' per line, no header) or table dir; unused by 'list'",
    )
    p.add_argument(
        "output", nargs="?", default=None, help="output directory for part files"
    )
    p.add_argument("--max", type=int, default=None, help="MAX node-id cutoff (reference default per job)")
    p.add_argument("--format", default="parquet", choices=("parquet", "csv", "json"))
    p.add_argument(
        "--strategy",
        default=None,
        choices=("auto", "shuffle", "broadcast"),
        help="triangle closure join strategy (rsjoin=shuffle, repjoin=broadcast)",
    )
    p.add_argument(
        "--name",
        default=None,
        help="registered query name for the 'query' job (see plans/registry)",
    )
    p.add_argument(
        "--sql",
        default=None,
        help="SQL text for the 'sql' job; tables from the input dir plus the "
        "derived 'edges' view are pre-registered as temp views",
    )
    p.add_argument(
        "--target-mb",
        type=int,
        default=128,
        help="target output file size for the 'compact' job (MiB)",
    )
    args = p.parse_args(argv)

    if args.job == "list":
        # no SparkSession: listing must be instant
        from twitter_followers_patterns_mapreduce_spark.plans.registry import (
            _REGISTRY,
            _load_all,
        )

        _load_all()
        for name in sorted(_REGISTRY):
            spec = _REGISTRY[name]
            kind = "oracle" if spec.oracle else "rows-only"
            print(f"{name:36s} [{kind}] {spec.description}")
        return 0

    if args.input is None or args.output is None:
        p.error(f"job {args.job!r} requires input and output arguments")

    from twitter_followers_patterns_mapreduce_spark.operators import graph as G
    from twitter_followers_patterns_mapreduce_spark.session import get_spark
    from twitter_followers_patterns_mapreduce_spark.sources.readers import edges_from_csv
    from twitter_followers_patterns_mapreduce_spark.sources.writers import write_result

    spark = get_spark(app_name=f"job:{args.job}")

    if args.job == "query":
        # engine surface beyond reference parity: run ANY registered
        # named query against a directory of harness-layout parquet
        # tables and persist the result as part files
        from twitter_followers_patterns_mapreduce_spark.plans.registry import all_queries

        qs = all_queries()
        if not args.name or args.name not in qs:
            known = ", ".join(sorted(qs))
            p.error(f"--name must be one of: {known}")
        result = qs[args.name](spark, args.input).persist()
        write_result(result, args.output, format=args.format)
        print(result.count())  # served from the cache the write populated
        result.unpersist()
        return 0

    if args.job == "compact":
        from twitter_followers_patterns_mapreduce_spark.sources.writers import compact_parquet

        n = compact_parquet(
            spark, args.input, args.output, target_file_bytes=args.target_mb << 20
        )
        print(n)
        return 0

    if args.job == "sql":
        # ad-hoc SQL over the harness table layout — the declarative
        # front door the reference never had (its "query language" is
        # editing job.name in the Makefile, README.md:87).  Every
        # registered view goes through the same readers as the named
        # queries, so pushdown/pruning behave identically.
        import os

        from twitter_followers_patterns_mapreduce_spark.sources.readers import (
            TABLES,
            derived_edges,
            load_table,
        )

        if not args.sql:
            p.error("--sql is required for the 'sql' job")
        from twitter_followers_patterns_mapreduce_spark.sources.readers import load_events

        for t in TABLES:
            if os.path.exists(os.path.join(args.input, f"{t}.parquet")):
                # events goes through its adaptive loader (nanos vs
                # micros parquet timestamps) — same reader the named
                # queries use, so ad-hoc SQL sees identical semantics
                df = (
                    load_events(spark, args.input)
                    if t == "events"
                    else load_table(spark, args.input, t)
                )
                df.createOrReplaceTempView(t)
        # the derived edge view needs lineitem; register it only when
        # the backing table exists so partial table dirs still work
        if os.path.exists(os.path.join(args.input, "lineitem.parquet")):
            derived_edges(spark, args.input).createOrReplaceTempView("edges")
        result = spark.sql(args.sql).persist()
        write_result(result, args.output, format=args.format)
        print(result.count())  # served from the cache the write populated
        result.unpersist()
        return 0

    edges = edges_from_csv(spark, args.input)

    if args.job == "count-edges":
        result = G.count_edges(edges, args.max if args.max is not None else REFERENCE_MAX_CE)
    elif args.job == "exact-2hop":
        result = G.two_hop_count_exact(edges, args.max)
    elif args.job == "approx-2hop":
        # AP writes the path tuples AND prints the count
        # (approx/Approx2HopCount.java:114,119)
        paths = G.two_hop_paths(edges, args.max if args.max is not None else REFERENCE_MAX_JOIN)
        write_result(paths, args.output, format=args.format)
        n = paths.count()
        print(n)
        return 0
    else:
        strategy = args.strategy or (
            "broadcast" if args.job == "repjoin-triangle" else "shuffle"
        )
        result = G.triangle_count_raw(edges, args.max if args.max is not None else REFERENCE_MAX_JOIN, strategy)

    write_result(result, args.output, format=args.format)
    print(result.collect()[0][0])
    return 0


if __name__ == "__main__":
    sys.exit(main())
