"""Named event-time queries over ``events`` — tumbling/sliding windows,
sessionization, JSON prop extraction, and an event-derived edge view
feeding the graph operators (source-agnostic edge-table abstraction,
exactly like the reference's CSV input).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from twitter_followers_patterns_mapreduce_spark.operators import events as E
from twitter_followers_patterns_mapreduce_spark.operators import graph as G
from twitter_followers_patterns_mapreduce_spark.operators import temporal as TJ
from twitter_followers_patterns_mapreduce_spark.plans.registry import register
from twitter_followers_patterns_mapreduce_spark.sources.readers import load_events


@register(
    "events_tumbling_hourly",
    oracle=E.TUMBLING_HOURLY_ORACLE,
    description="tumbling 1h windows per event_type via native window() — epoch-aligned",
)
def events_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    return E.tumbling_hourly(load_events(spark, sf_dir))


@register(
    "events_ewma_hourly",
    oracle=E.EWMA_HOURLY_ORACLE,
    description="EWMA-smoothed hourly value volume per event_type (8-tap FIR kernel, "
    "alpha=0.3, exact rational weights 3*7^d/10^(d+1)): hour-distance-weighted "
    "bounded self-join of the bucket table (gap-correct, unlike row-lag decay), "
    "exact integer numerator over denominator 10^8, floored 1e-6",
)
def events_ewma_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    return E.ewma_hourly(load_events(spark, sf_dir))


@register(
    "events_sliding_1h_30m",
    oracle=E.SLIDING_ORACLE,
    description="sliding windows (1h size / 30m slide): each event in two windows",
)
def events_sliding_1h_30m(spark: SparkSession, sf_dir: str) -> DataFrame:
    return E.sliding_1h_30m(load_events(spark, sf_dir))


@register(
    "events_sessionize",
    oracle=E.SESSIONIZE_ORACLE,
    description="per-user 30-min-gap sessionization: lag + running-sum window pair",
)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    return E.sessionize(load_events(spark, sf_dir))


@register(
    "events_json_props",
    oracle=E.JSON_PROP_ORACLE,
    description="semi-structured: extract $.k from JSON props, aggregate per event_type",
)
def events_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    return E.json_prop_stats(load_events(spark, sf_dir))


#: Edge view derived from the event stream (consecutive same-bucket events
#: → interaction edge) — demonstrates graph ops are source-agnostic.
EVENT_EDGES_CTE = """SELECT DISTINCT
  CAST(src AS BIGINT) AS src, CAST(dst AS BIGINT) AS dst
FROM (
  SELECT user_id % 997 AS src,
         LEAD(user_id % 997) OVER (PARTITION BY user_id % 16 ORDER BY ts ASC, event_id ASC) AS dst
  FROM events
) hop
WHERE dst IS NOT NULL AND src <> dst"""


@register(
    "event_graph_degrees",
    oracle=f"""WITH edges AS ({EVENT_EDGES_CTE}),
tagged AS (
  SELECT src AS id, 1 AS out_deg, 0 AS in_deg FROM edges
  UNION ALL
  SELECT dst AS id, 0 AS out_deg, 1 AS in_deg FROM edges)
SELECT id, CAST(SUM(out_deg) AS BIGINT) AS out_deg, CAST(SUM(in_deg) AS BIGINT) AS in_deg
FROM tagged GROUP BY id""",
    description="graph degrees over the event-derived edge view (source-agnostic edge table)",
)
def event_graph_degrees(spark: SparkSession, sf_dir: str) -> DataFrame:
    return G.degrees(E.user_interaction_edges(load_events(spark, sf_dir)))


@register(
    "events_asof_purchase_click",
    oracle=TJ.asof_join_oracle("purchase", "click"),
    description="as-of join: each purchase gets the user's most recent prior click — "
    "merge formulation (union + ordered window), zero pair materialization",
)
def events_asof_purchase_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TJ.asof_join(load_events(spark, sf_dir), "purchase", "click")


@register(
    "events_range_attribution",
    oracle=TJ.range_join_oracle("view", "purchase"),
    description="range join: purchases within 4 h after a view, per user — "
    "time-bin equi-join candidates, never a nested-loop theta join",
)
def events_range_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TJ.range_join_attribution(load_events(spark, sf_dir), "view", "purchase")


from twitter_followers_patterns_mapreduce_spark.operators import stats as ST  # noqa: E402


@register(
    "events_sketch_summary",
    oracle=ST.sketch_summary_checked_oracle(),
    description="HLL++ distinct-users and approx_percentile sketches per event_type, "
    "oracle-checked: exact companions hash-compared, sketch values certified via "
    "error-bound booleans the oracle asserts TRUE (mergeable constant-memory 100 TB path)",
)
def events_sketch_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ST.sketch_summary_checked(load_events(spark, sf_dir))


@register(
    "events_kll_value_merged",
    oracle=ST.kll_quantile_profile_oracle("events", "value"),
    description="TWO-LEVEL KLL merge: per-event_type value sketches rolled up via "
    "kll_merge_agg into one global sketch that must satisfy the same rank-error "
    "gate as a single-level build — pins the MERGE path (per-partition/per-day "
    "rollup without re-reading history, the 100 TB reason the structure exists); "
    "exact companions from percentile(array), oracle asserts the booleans",
)
def events_kll_value_merged(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ST.kll_quantile_profile_merged(load_events(spark, sf_dir), "event_type", "value")


@register(
    "events_kll_streamed",
    oracle=ST.kll_quantile_profile_oracle("events", "value"),
    description="streaming KLL quantile view under the oracle gate (fourteenth "
    "streaming class): 4 micro-batches each build a |batch|-local value sketch "
    "merged into ONE fixed-size versioned state sketch (keep-2 replay-idempotent "
    "versions); the drained sketch must satisfy the same rank-error band as the "
    "batch build — streamed maintenance == batch == plain-SQL oracle",
)
def events_kll_streamed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from twitter_followers_patterns_mapreduce_spark.streaming.kll import (
        kll_apply_stream,
        kll_profile_from_state,
        value_stream,
    )

    feed_dir, state_dir, ckpt_dir = _stage_event_batches(
        spark, sf_dir, cols=("event_id", "value"), name="kll"
    )
    kll_apply_stream(spark, value_stream(spark, feed_dir), state_dir, ckpt_dir)
    return kll_profile_from_state(
        spark, state_dir, load_events(spark, sf_dir), "value"
    )


@register(
    "events_theta_retention",
    oracle=ST.theta_set_profile_oracle(),
    description="theta-sketch set algebra across two purchase-activity snapshots "
    "(days<=7 vs days>=22): distinct-user union/intersection/difference on the "
    "SKETCHES (the set ops HLL cannot do) vs exact inclusion-exclusion companions; "
    "five error-bound booleans asserted TRUE by the oracle — the mergeable "
    "new/retained/churned path for snapshot versions at 100 TB",
)
def events_theta_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ST.theta_set_profile(load_events(spark, sf_dir))


@register(
    "events_type_pivot",
    oracle=E.USER_DECILE_PIVOT_ORACLE,
    description="declared-values pivot: one conditional-aggregate shuffle, "
    "no distinct-discovery job",
)
def events_type_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    return E.user_decile_type_pivot(load_events(spark, sf_dir))


@register(
    "events_typed_json",
    oracle=E.TYPED_JSON_ORACLE,
    description="from_json schema-on-read: parse props once into a typed struct, "
    "aggregate on struct fields",
)
def events_typed_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    return E.typed_json_props(load_events(spark, sf_dir))


from twitter_followers_patterns_mapreduce_spark.operators.skew import (  # noqa: E402
    salted_count,
    salted_skew_join,
)
from twitter_followers_patterns_mapreduce_spark.sources.readers import load_table  # noqa: E402


@register(
    "events_salted_dim_join",
    oracle="SELECT e.event_id, e.user_id, e.event_type, c.c_mktsegment "
    "FROM events e JOIN customer c ON e.user_id = c.c_custkey "
    "ORDER BY e.event_id",
    description="EXECUTION twin of the join_skew_planner prescription: events "
    "joined to customer with keys above 70 fact rows salted 8 ways (hot fact rows "
    "spread across salts, matching dim rows replicated per salt) unioned with the "
    "plain join of the cold remainder; oracle is the unsalted equi-join, proving "
    "the split-replicate-union rewrite is semantics-preserving",
)
def events_salted_dim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_events(spark, sf_dir)
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    joined = salted_skew_join(
        events, cust, "user_id", "c_custkey", hot_threshold=70, n_salts=8,
        salt_col="event_id",  # unique id: deterministic salt, full spread
    )
    return joined.select("event_id", "user_id", "event_type", "c_mktsegment").orderBy(
        "event_id"
    )


@register(
    "events_salted_user_count",
    oracle="SELECT user_id, CAST(COUNT(*) AS BIGINT) AS count FROM events GROUP BY user_id",
    description="per-user event counts via explicit two-stage salted aggregation — "
    "the hot-key fallback for groups AQE cannot split; oracle is the plain GROUP BY, "
    "proving salt-and-merge is semantics-preserving",
)
def events_salted_user_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return salted_count(load_events(spark, sf_dir), "user_id", n_salts=16)


@register(
    "events_session_window",
    oracle=E.SESSION_WINDOW_ORACLE,
    description="per-user sessions via Spark's native session_window groupBy — gap "
    "semantics identical to the lag+running-sum form, and the streaming-safe shape",
)
def events_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    return E.session_window_native(load_events(spark, sf_dir))


@register(
    "events_type_streaks",
    oracle=E.TYPE_STREAKS_ORACLE,
    description="gaps-and-islands: longest consecutive same-type run per (user, type) "
    "via the double-row_number island key — one window shuffle, zero self-joins",
)
def events_type_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    return E.type_streaks(load_events(spark, sf_dir))


@register(
    "events_funnel_conversion",
    oracle=E.FUNNEL_ORACLE,
    description="first-touch funnel per user-decile: click -> purchase-within-1h "
    "conversion; first-touch collapses users before the probe join (never event x event)",
)
def events_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    return E.funnel_conversion(load_events(spark, sf_dir))


@register(
    "events_gapfill_hourly",
    oracle=E.GAPFILL_HOURLY_ORACLE,
    description="time-series gap fill: dense hourly spine per event type generated "
    "engine-side (sequence+explode), zero-filled via a left join whose both sides "
    "are |hours|x|types|-bounded (counts side broadcasts)",
)
def events_gapfill_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    return E.gapfill_hourly(load_events(spark, sf_dir))


@register(
    "events_value_moving_1h",
    oracle=E.VALUE_MOVING_1H_ORACLE,
    description="trailing 1h moving sum/avg per user via a RANGE window frame on "
    "epoch seconds (value-distance frame, partitioned — never global); decimal-exact",
)
def events_value_moving_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    return E.value_moving_1h(load_events(spark, sf_dir))


@register(
    "events_funnel_timing",
    oracle=E.funnel_step_timing_oracle(),
    description="time-to-convert distribution (latency companion of the funnel "
    "counts): first click -> first purchase within 1h per user, exact integer-"
    "second deltas, type-7 p50/p90; user-grain aggs before the one equi-join",
)
def events_funnel_timing(spark: SparkSession, sf_dir: str) -> DataFrame:
    return E.funnel_step_timing(load_events(spark, sf_dir))


@register(
    "events_user_growth_accounting",
    oracle=E.USER_GROWTH_ORACLE,
    description="daily DAU decomposition (new vs returning vs cumulative): one "
    "(user, day) distinct, per-user first-day agg joined back, cumulative as a "
    "window over the bounded day spine — exact integers, day strings sort "
    "chronologically",
)
def events_user_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    return E.user_growth_accounting(load_events(spark, sf_dir))


@register(
    "events_ab_test",
    oracle=E.ab_test_oracle(),
    description="two-proportion A/B conversion z-test between deterministic "
    "user-parity arms (purchase conversion): exact per-user existence agg + 2-row "
    "arm reduce, pooled z as one closed-form double over exact counts, degenerate "
    "pools NULL-guarded",
)
def events_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    return E.ab_test_proportions(load_events(spark, sf_dir))


@register(
    "events_variant_deciles",
    oracle=E.VARIANT_PROP_DECILES_ORACLE,
    description="Spark 4 VARIANT path: parse_json once into binary variant, typed "
    "variant_get access, decile rollup — the schema-free dual of events_typed_json",
)
def events_variant_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    return E.variant_prop_deciles(load_events(spark, sf_dir))


def _staged_events_dir(sf_dir: str) -> str:
    """Directory staging for FileStreamSource (it monitors a DIRECTORY;
    a bare file path is rejected): a per-sf_dir symlink dir pointing at
    the harness events parquet — no data copied, deterministic
    location."""
    import hashlib
    import os
    import tempfile

    # abspath BEFORE hashing/linking: a relative sf_dir would produce a
    # symlink that resolves relative to the /tmp staging dir — dangling,
    # which FileStreamSource treats as an EMPTY directory and the stream
    # silently emits zero rows (caught by the sf1 growth run).
    sf_dir = os.path.abspath(sf_dir)
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:12]
    d = os.path.join(tempfile.gettempdir(), f"spark_stream_events_{tag}")
    os.makedirs(d, exist_ok=True)
    link = os.path.join(d, "events.parquet")
    # lexists (NOT exists): a dangling symlink from a moved sf_dir must
    # be replaced, not re-created (exists follows the link and lies);
    # the except guards the concurrent-runs race on the same tag
    if os.path.lexists(link):
        os.unlink(link)
    try:
        os.symlink(os.path.join(sf_dir, "events.parquet"), link)
    except FileExistsError:
        pass
    return d


@register(
    "events_tumbling_hourly_streamed",
    oracle=E.TUMBLING_HOURLY_ORACLE,
    description="the tumbling-hourly aggregate executed as a REAL Structured Streaming "
    "query (file source -> watermarked window agg -> memory sink, availableNow trigger) "
    "— stream == batch == oracle, the exactly-once incremental-ingest path under the "
    "same correctness gate as every batch query",
)
def events_tumbling_hourly_streamed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runs the stream to completion (availableNow drains all currently
    available files), then returns the memory-sink table.  Re-invocation
    safe: the terminated query's name is reused and the memory sink
    re-registers the temp view.

    Cites the same reference jobs as the batch form — the reference has
    no streaming at all (SURVEY.md §2.5); this is the engine's
    incremental execution of the identical logical aggregate."""
    from twitter_followers_patterns_mapreduce_spark.streaming.windows import (
        events_file_stream,
        run_available_now,
        tumbling_hourly_stream,
    )

    stream = tumbling_hourly_stream(events_file_stream(spark, _staged_events_dir(sf_dir)))
    run_available_now(
        stream,
        "events_tumbling_hourly_streamed_sink",
        output_mode="complete",
        # hour-window key space is tiny (day-scale spine): size state to it
        state_partitions=8,
    )
    return spark.table("events_tumbling_hourly_streamed_sink")


def _stage_ewma_feed(spark: SparkSession, sf_dir: str, parts: int = 3) -> tuple[str, str, str]:
    """Stage the events table as ``parts`` parquet files split by
    ``event_id % parts`` so ``maxFilesPerTrigger=1`` replays them as
    that many micro-batches (real multi-batch incrementality under the
    gate, like _stage_scd2_feed).  Returns (feed_dir, state_dir,
    checkpoint_dir); state + checkpoint wiped per invocation."""
    import glob as _glob
    import hashlib
    import os
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    tag = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:12]
    root = os.path.join(tempfile.gettempdir(), f"spark_ewma_{tag}")
    feed_dir = os.path.join(root, "feed")
    state_dir = os.path.join(root, "state")
    ckpt_dir = os.path.join(root, "ckpt")
    for d in (state_dir, ckpt_dir):
        shutil.rmtree(d, ignore_errors=True)
    # presence of ALL staged files, not just the dir: a failed prior
    # staging attempt must re-stage, not silently feed an empty stream
    if len(_glob.glob(os.path.join(feed_dir, "f*.parquet"))) != parts:
        shutil.rmtree(feed_dir, ignore_errors=True)
        os.makedirs(feed_dir)
        ev = load_events(spark, sf_dir)
        for p in range(parts):
            tmp = os.path.join(root, f"stage_p{p}")
            ev.where(F.pmod(F.col("event_id"), F.lit(parts)) == p).coalesce(1).write.mode(
                "overwrite"
            ).parquet(tmp)
            (part,) = _glob.glob(os.path.join(tmp, "part-*.parquet"))
            os.rename(part, os.path.join(feed_dir, f"f{p}.parquet"))
            shutil.rmtree(tmp)
    return feed_dir, state_dir, ckpt_dir


@register(
    "events_ewma_streamed",
    oracle=E.EWMA_HOURLY_ORACLE,
    description="TENTH streaming class — incrementally-maintained EWMA (IVM "
    "view-on-view): micro-batches merge into the self-maintainable hourly bucket "
    "state (versioned v=<batch_id> dirs, replay-idempotent, pruned to two), the "
    "8-tap kernel re-derives from state on read via the SAME code as the batch "
    "plan; stream == batch == oracle",
)
def events_ewma_streamed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming form of ``events_ewma_hourly`` — see ``streaming/ewma.py``
    for the maintain-the-grain / recompute-the-kernel split."""
    from twitter_followers_patterns_mapreduce_spark.streaming.ewma import (
        ewma_apply_stream,
        ewma_event_stream,
        read_ewma_view,
    )

    feed_dir, state_dir, ckpt_dir = _stage_ewma_feed(spark, sf_dir)
    ewma_apply_stream(spark, ewma_event_stream(spark, feed_dir), state_dir, ckpt_dir)
    return read_ewma_view(spark, state_dir)


@register(
    "events_segment_hourly_streamed",
    oracle=f"""WITH dim AS (
  SELECT DISTINCT user_id, CAST(user_id % 4 AS BIGINT) AS segment FROM events)
SELECT strftime(date_trunc('hour', e.ts), '{E.TS_FMT_DUCK}') AS window_start,
  d.segment,
  COUNT(*) AS n_events
FROM events e JOIN dim d USING (user_id)
GROUP BY 1, 2""",
    description="stream-STATIC broadcast join under the oracle gate: the event "
    "stream enriched with a static user->segment dim per micro-batch, then "
    "watermarked hourly windows per segment — the second real Structured "
    "Streaming query (file source -> join -> window agg -> memory sink)",
)
def events_segment_hourly_streamed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream–static join form (``streaming/windows.py``
    ``segment_window_stream``): the static dim is derived
    deterministically from the same events table (user_id % 4), so the
    oracle is pure ANSI SQL over the registered views."""
    from twitter_followers_patterns_mapreduce_spark.streaming.windows import (
        events_file_stream,
        run_available_now,
        segment_window_stream,
    )
    from pyspark.sql import functions as F

    dim = (
        load_events(spark, sf_dir)
        .select("user_id")
        .distinct()
        .withColumn("segment", (F.col("user_id") % 4).cast("long"))
    )
    stream = segment_window_stream(events_file_stream(spark, _staged_events_dir(sf_dir)), dim)
    run_available_now(
        stream,
        "events_segment_hourly_streamed_sink",
        output_mode="complete",
        # (hour, segment) state: 4 segments x day-scale hours — tiny
        state_partitions=8,
    )
    return spark.table("events_segment_hourly_streamed_sink")


@register(
    "events_attribution_streamed",
    oracle=f"""WITH c AS (
  SELECT user_id, ts AS click_ts, event_id AS click_id
  FROM events WHERE event_type = 'click'),
p AS (
  SELECT user_id, ts AS purchase_ts, event_id AS purchase_id, value AS purchase_value
  FROM events WHERE event_type = 'purchase')
SELECT c.user_id, c.click_id, p.purchase_id,
  strftime(c.click_ts, '{E.TS_FMT_DUCK}') AS click_ts,
  strftime(p.purchase_ts, '{E.TS_FMT_DUCK}') AS purchase_ts,
  p.purchase_value
FROM c JOIN p ON c.user_id = p.user_id
  AND p.purchase_ts >= c.click_ts
  AND p.purchase_ts < c.click_ts + INTERVAL 4 HOUR""",
    description="stream-STREAM interval join under the oracle gate: click and purchase "
    "streams joined on user_id within [click_ts, click_ts+4h), watermarked state on "
    "both sides — the third real Structured Streaming query class",
)
def events_attribution_streamed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``events_range_attribution``'s semantics class
    (``streaming/joins.py``; stream==batch pinned additionally in
    tests/test_streaming_joins.py).  Inner interval joins emit matches
    as soon as both rows arrive — the watermark bounds state retention,
    not emission — so availableNow drains to the complete batch
    answer."""
    from twitter_followers_patterns_mapreduce_spark.streaming.joins import (
        attribution_stream_join,
    )
    from twitter_followers_patterns_mapreduce_spark.streaming.windows import (
        events_file_stream,
        run_available_now,
    )
    from pyspark.sql import functions as F

    d = _staged_events_dir(sf_dir)
    clicks = events_file_stream(spark, d).where(F.col("event_type") == "click")
    purchases = events_file_stream(spark, d).where(F.col("event_type") == "purchase")
    joined = attribution_stream_join(clicks, purchases)
    run_available_now(
        joined,
        "events_attribution_streamed_sink",
        output_mode="append",
        # both join buffers fit in MBs at bench scale; at 100 TB size this
        # to user_id volume per watermark horizon instead
        state_partitions=8,
    )
    return spark.table("events_attribution_streamed_sink").select(
        "user_id",
        "click_id",
        "purchase_id",
        F.date_format("click_ts", E.TS_FMT_SPARK).alias("click_ts"),
        F.date_format("purchase_ts", E.TS_FMT_SPARK).alias("purchase_ts"),
        "purchase_value",
    )


@register(
    "events_hourly_anomaly",
    oracle=E.hourly_anomaly_oracle(),
    description="hourly anomaly z-scores over the gap-filled series (trailing 24h "
    "window, integer-exact sums -> fixed IEEE expression tree); silent hours score "
    "because the spine makes them rows",
)
def events_hourly_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    return E.hourly_anomaly_zscores(load_events(spark, sf_dir))


@register(
    "events_retention_cohorts",
    oracle=E.RETENTION_COHORTS_ORACLE,
    description="weekly cohort retention triangle: first-seen week per user + distinct "
    "(user, week) activity + user-keyed join — two hash aggs, never event x event; "
    "exact integer week offsets, bigint/bigint retention share",
)
def events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return E.retention_cohorts(load_events(spark, sf_dir))


@register(
    "events_type_transitions",
    oracle=E.TYPE_TRANSITION_ORACLE,
    description="first-order Markov transition matrix over per-user event sequences "
    "(partitioned LEAD window + hash agg); exact bigint/bigint row probabilities",
)
def events_type_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    return E.type_transition_matrix(load_events(spark, sf_dir))


@register(
    "events_temporal_two_hop",
    oracle=E.temporal_two_hop_oracle(),
    description="time-respecting 2-hop count (temporal motif): the reference's core "
    "2-hop join plus a time-ordering conjunct inside it — hop 2 observed after hop 1 "
    "within 4h; integer-microsecond arithmetic",
)
def events_temporal_two_hop(spark: SparkSession, sf_dir: str) -> DataFrame:
    return E.temporal_two_hop_count(load_events(spark, sf_dir))


@register(
    "events_sessionized_streamed",
    oracle=f"""WITH seq AS (
  SELECT user_id, ts, event_id, epoch_us(ts) AS us,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
                OVER (PARTITION BY user_id ORDER BY ts, event_id) > {E.SESSION_GAP_US}
              THEN 1 ELSE 0 END AS new_session
  FROM events
), numbered AS (
  SELECT user_id, us,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS session_seq
  FROM seq
), sess AS (
  SELECT user_id, session_seq,
         MIN(us) AS start_us, MAX(us) AS end_us, COUNT(*) AS n_events
  FROM numbered GROUP BY 1, 2
), wm AS (
  SELECT epoch_ms(MAX(ts)) * 1000 - 3600000000 AS cutoff_us FROM events
), emitted AS (
  SELECT * FROM (
    SELECT s.*, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY session_seq DESC) AS rn
    FROM sess s
  ), wm
  WHERE rn > 1 OR end_us <= cutoff_us
)
SELECT user_id,
       strftime(make_timestamp(start_us), '{E.TS_FMT_DUCK}') AS session_start,
       n_events,
       (end_us - start_us) // 1000000 AS duration_sec
FROM emitted""",
    description="custom STATEFUL streaming operator under the oracle gate: per-user "
    "inactivity-gap sessionization via applyInPandasWithState (event-time timeout, "
    "integer-microsecond state) — emits gap-closed sessions plus trailing sessions "
    "the final watermark expires",
)
def events_sessionized_streamed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``applyInPandasWithState`` escape hatch (SURVEY.md §2.7/§2.8)
    proven against ANSI SQL: the oracle replays the same gap semantics
    with lag+running-sum windows, then keeps exactly what the stream
    emits by end-of-input — every session except each user's trailing
    one, which is emitted only if the final watermark
    (``floor_ms(max ts) − 30 min``) passed its ``last_event + 30 min``
    event-time timeout.  Pinned empirically at sf0.001/sf0.01 (945 and
    matching row hashes); a tie exactly on the ms boundary would be
    sensitive to Spark's strict-vs-inclusive timeout comparison — no
    such tie exists in the harness data."""
    from pyspark.sql import functions as F

    from twitter_followers_patterns_mapreduce_spark.streaming.stateful import sessionize_stream
    from twitter_followers_patterns_mapreduce_spark.streaming.windows import (
        events_file_stream,
        run_available_now,
    )

    stream = sessionize_stream(events_file_stream(spark, _staged_events_dir(sf_dir)))
    run_available_now(
        stream,
        "events_sessionized_streamed_sink",
        output_mode="append",
        state_partitions=8,
    )
    return spark.table("events_sessionized_streamed_sink").select(
        "user_id",
        F.date_format("session_start", E.TS_FMT_SPARK).alias("session_start"),
        "n_events",
        "duration_sec",
    )


@register(
    "events_value_mad",
    oracle="""SELECT event_type,
  COUNT(*) AS n_events,
  median(value) AS median_value,
  mad(value) AS mad_value
FROM events GROUP BY event_type""",
    description="grouped-agg pandas UDAF (Series->scalar, Arrow-batched) under the "
    "hash gate: exact per-type median and median-absolute-deviation of event value "
    "— the robust-dispersion stat Spark has no builtin for",
)
def events_value_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    from twitter_followers_patterns_mapreduce_spark.functions.udafs import (
        count_udaf,
        mad_udaf,
        median_udaf,
    )

    return (
        load_events(spark, sf_dir)
        .groupBy("event_type")
        .agg(
            # count must itself be a UDAF here: Spark rejects mixing
            # grouped-agg pandas UDFs with non-pandas aggregates
            count_udaf("value").alias("n_events"),
            median_udaf("value").alias("median_value"),
            mad_udaf("value").alias("mad_value"),
        )
    )


@register(
    "events_hourly_anomaly_robust",
    oracle=E.hourly_anomaly_robust_oracle(z_cut=3.5),
    description="median/MAD modified z-score outliers over the gap-filled hourly "
    "series (Iglewicz-Hoaglin, 50% breakdown) — composes the pandas-UDAF stats "
    "with a broadcast join back; the robust companion to events_hourly_anomaly",
)
def events_hourly_anomaly_robust(spark: SparkSession, sf_dir: str) -> DataFrame:
    return E.hourly_anomaly_robust(load_events(spark, sf_dir), z_cut=3.5)


@register(
    "events_sliding_1h_30m_streamed",
    oracle=E.SLIDING_ORACLE,
    description="the 1h/30m SLIDING window aggregate as a real Structured Streaming "
    "query (each event in two overlapping state windows) — stream == batch == oracle; "
    "fifth streaming query class under the gate",
)
def events_sliding_1h_30m_streamed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from twitter_followers_patterns_mapreduce_spark.streaming.windows import (
        events_file_stream,
        run_available_now,
        sliding_window_stream,
    )

    stream = sliding_window_stream(events_file_stream(spark, _staged_events_dir(sf_dir)))
    run_available_now(
        stream,
        "events_sliding_1h_30m_streamed_sink",
        output_mode="complete",
        # window spine × 2 overlap: still day-scale tiny
        state_partitions=8,
    )
    return spark.table("events_sliding_1h_30m_streamed_sink")


@register(
    "events_dedup_streamed",
    oracle=f"""SELECT event_id, user_id, event_type,
  strftime(ts, '{E.TS_FMT_DUCK}') AS ts_s FROM events""",
    description="streaming exact-dedup under the oracle gate: the event stream "
    "UNIONED WITH ITSELF (every event arrives twice) deduped by "
    "dropDuplicatesWithinWatermark on event_id — output must equal the singleton "
    "base table, proving the duplicates collapsed; state is bounded (keys evicted "
    "past the watermark horizon), the exactly-once ingest-dedup path; sixth "
    "streaming query class under the gate",
)
def events_dedup_streamed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming form of ``dedup_exact`` (``streaming/dedup.py``): two
    file-source reads of the same staged events dir union into a stream
    where every event arrives exactly twice; the dedup operator must
    reduce it back to the base table for the oracle's hash to match.
    ``dropDuplicatesWithinWatermark`` is a stateful FILTER (not an
    aggregation) so rows append as they arrive — the dedup decision is
    per-row-at-arrival, never wait-for-watermark.

    The reference is batch-only (SURVEY.md §2.7); its closest analogue
    is re-running the whole job on the grown input — this is the
    incremental-ingest replacement."""
    from pyspark.sql import functions as F

    from twitter_followers_patterns_mapreduce_spark.streaming.dedup import (
        dedup_events_stream,
    )
    from twitter_followers_patterns_mapreduce_spark.streaming.windows import (
        events_file_stream,
        run_available_now,
    )

    d = _staged_events_dir(sf_dir)
    doubled = events_file_stream(spark, d).unionByName(events_file_stream(spark, d))
    deduped = dedup_events_stream(doubled).select(
        "event_id",
        "user_id",
        "event_type",
        F.date_format("ts", E.TS_FMT_SPARK).alias("ts_s"),
    )
    run_available_now(
        deduped,
        "events_dedup_streamed_sink",
        output_mode="append",
        # state is keyed by event_id (|events| keys, evicted by the
        # watermark) — small fixed partition count keeps the per-batch
        # state-store commit cost flat
        state_partitions=8,
    )
    return spark.table("events_dedup_streamed_sink")


@register(
    "events_heavy_hitters",
    oracle=E.heavy_hitters_oracle(phi=0.008),
    description="exact phi-heavy-hitters over user_id: per-partition Misra-Gries "
    "candidates (capacity 1/phi, superset guarantee, no shuffle) + exact recount "
    "behind a broadcast semi-join — result exact and partitioning-independent",
)
def events_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    return E.heavy_hitters(load_events(spark, sf_dir), phi=0.008)


def _stage_event_batches(
    spark: SparkSession,
    sf_dir: str,
    n_batches: int = 4,
    cols: tuple[str, ...] = ("event_id", "user_id"),
    name: str = "hh",
):
    """Stage the named event columns as ``n_batches`` parquet files split
    by ``event_id % n_batches`` — a deterministic micro-batch replay of
    the events table.  Returns (feed_dir, state_dir, checkpoint_dir);
    state and checkpoint are wiped per invocation for a fresh replay.
    ``name`` keys the cached feed so consumers with different column
    sets never read each other's staging."""
    import glob as _glob
    import hashlib
    import os
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    tag = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:12]
    root = os.path.join(tempfile.gettempdir(), f"spark_{name}_{tag}")
    feed_dir = os.path.join(root, "feed")
    state_dir = os.path.join(root, "state")
    ckpt_dir = os.path.join(root, "ckpt")
    for d in (state_dir, ckpt_dir):
        shutil.rmtree(d, ignore_errors=True)
    if not os.path.exists(feed_dir):
        os.makedirs(feed_dir)
        ev = load_events(spark, sf_dir).select(*cols)
        for b in range(n_batches):
            tmp = os.path.join(root, f"stage_b{b}")
            ev.where(F.col("event_id") % n_batches == b).coalesce(1).write.mode(
                "overwrite"
            ).parquet(tmp)
            (part,) = _glob.glob(os.path.join(tmp, "part-*.parquet"))
            os.rename(part, os.path.join(feed_dir, f"b{b}.parquet"))
            shutil.rmtree(tmp)
    return feed_dir, state_dir, ckpt_dir


@register(
    "events_heavy_hitters_streamed",
    oracle=E.heavy_hitters_oracle(phi=0.008),
    description="streaming exact heavy hitters under the oracle gate: the events "
    "table replayed as 4 micro-batches, each merged into a versioned per-user count "
    "view (IVM full-outer coalesce-sum, O(|batch|+|keys|) per batch, history never "
    "rescanned); phi-threshold query over the final view == the batch operator == "
    "the plain-SQL oracle; eighth streaming query class under the gate",
)
def events_heavy_hitters_streamed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from twitter_followers_patterns_mapreduce_spark.streaming.counts import (
        counts_apply_stream,
        heavy_hitters_from_view,
        user_event_stream,
    )

    feed_dir, state_dir, ckpt_dir = _stage_event_batches(spark, sf_dir)
    counts_apply_stream(
        spark, user_event_stream(spark, feed_dir), state_dir, ckpt_dir
    )
    return heavy_hitters_from_view(spark, state_dir, phi=0.008)


@register(
    "events_sliding_distinct_theta",
    oracle=E.sliding_distinct_theta_oracle(window_hours=24),
    description="sliding 24h distinct users per hour via theta-sketch UNION "
    "(distinct is not distributive across panes; mergeable sketches answer every "
    "trailing window from one per-hour sketch table) — exact COUNT(DISTINCT) "
    "companion on the fanned pair table gates the values, per-window ok booleans "
    "assert the estimates; third mergeable-sketch consumer",
)
def events_sliding_distinct_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    return E.sliding_distinct_theta(load_events(spark, sf_dir), window_hours=24)


@register(
    "events_diff_in_diff",
    oracle=E.diff_in_diff_oracle(cutover="1996-01-01"),
    description="difference-in-differences on mean event value (treatment = odd "
    "user_id, period split at 1996-01-01): all four cell (n, sum) pairs in ONE "
    "conditional aggregate over one scan, DiD closed-form over exact cent integers",
)
def events_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    return E.diff_in_diff(load_events(spark, sf_dir), cutover="1996-01-01")


@register(
    "events_session_trigrams",
    oracle=E.session_trigrams_oracle(k=20),
    description="level-3 sequential pattern mining: top-20 contiguous event-type "
    "trigrams within gap-sessions (the three-step journeys funnels get "
    "reverse-engineered from) — one sessionize window pass, a lead-2 window on the "
    "same shuffle key, a |types^3|-bounded agg, TakeOrdered top-k",
)
def events_session_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    return E.session_trigrams(load_events(spark, sf_dir), k=20)


@register(
    "events_bottomk_sample",
    oracle=E.bottomk_sample_oracle(k=200),
    description="deterministic bottom-k uniform sample: the 200 rows with the "
    "smallest h64(event_id) are a uniform without-replacement draw that replays "
    "identically on rerun/retry/oracle (no rand()); TakeOrdered computes it as "
    "per-partition bottom-k + merge, never a global sort",
)
def events_bottomk_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    return E.bottomk_sample(load_events(spark, sf_dir), k=200)


@register(
    "events_bottomk_streamed",
    oracle=E.bottomk_sample_oracle(k=200),
    description="streaming bottom-k uniform sample under the oracle gate (twelfth "
    "streaming class): 4 micro-batches each contribute a |batch|-local bottom-k "
    "merged into <=200-row versioned state (bottom-k is mergeable and order-free), "
    "so the final state equals the batch operator and the plain-SQL oracle exactly",
)
def events_bottomk_streamed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from twitter_followers_patterns_mapreduce_spark.streaming.bottomk import (
        bottomk_apply_stream,
        bottomk_from_view,
        sample_event_stream,
    )

    feed_dir, state_dir, ckpt_dir = _stage_event_batches(
        spark, sf_dir, cols=("event_id", "user_id", "event_type"), name="bk"
    )
    bottomk_apply_stream(
        spark, sample_event_stream(spark, feed_dir), state_dir, ckpt_dir, k=200
    )
    return bottomk_from_view(spark, state_dir)


@register(
    "events_topk_churn",
    oracle=E.topk_churn_oracle(cutover="1996-01-01", k=100),
    description="top-k leaderboard churn across the 1996-01-01 cutover: per-period "
    "user ranks (count desc, id ties) on the |users| spine, top-100 set overlap, "
    "newcomers/dropouts, and the Spearman footrule over common members — the "
    "did-the-ranking-actually-move monitor, exact integers + one floored ratio",
)
def events_topk_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    return E.topk_churn(load_events(spark, sf_dir), cutover="1996-01-01", k=100)


@register(
    "events_distinct_theta_streamed",
    oracle="SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users, TRUE AS ok "
    "FROM events",
    description="streaming theta-sketch distinct view under the oracle gate "
    "(fifteenth streaming class): 4 micro-batches each build a |batch|-local "
    "user sketch theta-UNIONED into one fixed-size versioned state sketch "
    "(keep-2 replay-idempotent versions, lgK=14 sized to the largest gated SF); "
    "the drained estimate must sit within max(8% of exact, 2) — streamed union "
    "== batch sketch == plain COUNT(DISTINCT)",
)
def events_distinct_theta_streamed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from twitter_followers_patterns_mapreduce_spark.streaming.theta import (
        distinct_from_state,
        key_stream,
        theta_apply_stream,
    )

    feed_dir, state_dir, ckpt_dir = _stage_event_batches(
        spark, sf_dir, cols=("event_id", "user_id"), name="th"
    )
    theta_apply_stream(spark, key_stream(spark, feed_dir), state_dir, ckpt_dir)
    return distinct_from_state(
        spark, state_dir, load_events(spark, sf_dir), "user_id"
    )


@register(
    "events_temporal_triangles",
    oracle=E.temporal_triangle_oracle(),
    description="time-ordered triangle count (delta-temporal motif, 24h window): the "
    "reference's RS triangle with strictly increasing edge times riding the joins — "
    "cause-vs-echo influence loops; time order fixes the rotation (no /3)",
)
def events_temporal_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    return E.temporal_triangle_count(load_events(spark, sf_dir))


@register(
    "events_segment_entropy_kl",
    oracle=ST.categorical_entropy_kl_oracle("events", "user_id % 8", "event_type"),
    description="per-shard class-mix drift: Shannon entropy of each user-segment's "
    "event_type distribution + KL divergence vs the global mix — the sampling-skew "
    "diagnostic of a sharded training pipeline; pointwise ln over exact counts, "
    "1e-9-floored BIGINT term sums (order-independent)",
)
def events_segment_entropy_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ST.categorical_entropy_kl(load_events(spark, sf_dir), "user_id % 8", "event_type")


@register(
    "events_type_hour_mi",
    oracle=ST.mutual_information_oracle("events", "event_type", "EXTRACT(HOUR FROM ts)"),
    description="mutual information between event type and hour-of-day (the KL of the "
    "joint vs product-of-marginals) plus both entropies and normalized MI — exact "
    "BIGINT cells, 1e-9-floored pointwise ln terms, order-independent sums",
)
def events_type_hour_mi(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ST.mutual_information(
        load_events(spark, sf_dir), "event_type", "EXTRACT(HOUR FROM ts)"
    )


@register(
    "events_user_ltv_decay",
    oracle=E.user_ltv_decay_oracle(k=100),
    description="exponentially time-decayed per-user value (tau = 1 week, anchored "
    "at the corpus max timestamp): exact integer-second ages, per-event double "
    "terms floored to 1e-6 BIGINTs, order-independent sums, top-100 users",
)
def events_user_ltv_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    return E.user_ltv_decay(load_events(spark, sf_dir), k=100)


@register(
    "events_top_users_streamed",
    oracle="""SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
FROM events GROUP BY user_id
ORDER BY total_value DESC, user_id
LIMIT 10""",
    description="streaming leaderboard (ninth gated streaming class): global per-user "
    "totals sorted + limited INSIDE the streaming query — sort is only legal in "
    "complete output mode, each micro-batch re-emits the ranked top-10 from "
    "aggregate state; DECIMAL totals make the result batching-order-independent",
)
def events_top_users_streamed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from twitter_followers_patterns_mapreduce_spark.streaming.windows import (
        events_file_stream,
        run_available_now,
        top_users_stream,
    )

    stream = top_users_stream(events_file_stream(spark, _staged_events_dir(sf_dir)))
    run_available_now(
        stream,
        "events_top_users_streamed_sink",
        output_mode="complete",
        # state is the per-user aggregate; users are thousands, not millions
        state_partitions=8,
    )
    return spark.table("events_top_users_streamed_sink")


@register(
    "events_seasonal_baseline",
    oracle=E.seasonal_baseline_oracle(z_thresh=3.0),
    description="day-of-week × hour-of-day seasonal traffic profile with per-cell "
    "anomaly counts — weekly seasonality decomposed before flagging (vs the global-"
    "mean events_hourly_anomaly); dow via epoch-day arithmetic, immune to the "
    "Spark/DuckDB dayofweek numbering mismatch; everything rides the bounded "
    "hourly-count spine",
)
def events_seasonal_baseline(spark: SparkSession, sf_dir: str) -> DataFrame:
    return E.seasonal_baseline(load_events(spark, sf_dir), z_thresh=3.0)


@register(
    "events_hourly_acf",
    oracle=E.hourly_acf_oracle(lags=(1, 2, 24, 168)),
    description="autocorrelation of hourly event volume at lags 1/2/24/168 — the "
    "seasonality detector behind the (dow, hod) baseline: dense hourly spine "
    "(gaps count 0), per-lag spine self-joins, exact DECIMAL moments, IEEE sqrt",
)
def events_hourly_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    return E.hourly_acf(load_events(spark, sf_dir), lags=(1, 2, 24, 168))


@register(
    "events_cms_frequency",
    oracle=ST.cms_frequency_profile_oracle("events", "user_id", k=10),
    description="count-min-sketch frequency profile (third mergeable-sketch family "
    "after KLL/theta): 4×512 counter grid from the engine's OWN md5-h64 universal "
    "hashes, so the DuckDB oracle rebuilds the sketch bit-identically and the "
    "ESTIMATES hash-gate — exact top-10 companion, never_under + within-bound "
    "booleans",
)
def events_cms_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ST.cms_frequency_profile(load_events(spark, sf_dir), "user_id", k=10)


@register(
    "events_multitouch_attribution",
    oracle=TJ.multitouch_attribution_oracle("view", "purchase"),
    description="linear multi-touch revenue attribution by touch hour-of-day: "
    "time-bin equi-join candidates (the range-join shape), per-conversion window "
    "count for the credit split, micro-unit BIGINT credit sums — double-sum order "
    "never reaches the output",
)
def events_multitouch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TJ.multitouch_attribution(load_events(spark, sf_dir), "view", "purchase")


@register(
    "events_cms_streamed",
    oracle=ST.cms_frequency_profile_oracle("events", "user_id", k=10),
    description="streaming CMS (eleventh gated streaming class): the d×w counter "
    "grid maintained as streaming aggregate state — fixed-size state regardless of "
    "stream length — drained availableNow, then the shared probe readout over the "
    "streamed grid; same oracle as the batch CMS, so streaming maintenance == "
    "one-shot batch == DuckDB rebuild",
)
def events_cms_streamed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from twitter_followers_patterns_mapreduce_spark.functions.hashing import h64_sql
    from twitter_followers_patterns_mapreduce_spark.streaming.cms import cms_grid_stream
    from twitter_followers_patterns_mapreduce_spark.streaming.windows import (
        events_file_stream,
        run_available_now,
    )

    stream = cms_grid_stream(events_file_stream(spark, _staged_events_dir(sf_dir)))
    run_available_now(
        stream,
        "events_cms_streamed_sink",
        output_mode="complete",
        # state is the d×w grid: 2048 cells, not data-sized
        state_partitions=8,
    )
    cells = spark.table("events_cms_streamed_sink")
    h = h64_sql("CAST(CAST(user_id AS BIGINT) AS STRING)", "spark")
    keyed = load_events(spark, sf_dir).selectExpr("CAST(user_id AS BIGINT) AS key", f"{h} AS h")
    from twitter_followers_patterns_mapreduce_spark.functions.hashing import CMS_WIDTH

    return ST.cms_probe_readout(cells, keyed, w=CMS_WIDTH, k=10)


@register(
    "events_concurrency_curve",
    oracle=E.concurrency_curve_oracle(),
    description="peak concurrent sessions per day: sweep line over gap-session "
    "boundaries as a DISTRIBUTED two-level prefix sum — within-day windows "
    "partitioned by day + a carry-in from the bounded day spine (the parallel-scan "
    "decomposition; a global running sum would be the banned single-partition window)",
)
def events_concurrency_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    return E.concurrency_curve(load_events(spark, sf_dir))


@register(
    "events_cusum_changepoints",
    oracle=E.cusum_changepoints_oracle(k=5),
    description="CUSUM level-shift detection on hourly volume: top-5 |CUSUM| hours "
    "(the mean-shift changepoint MLE) — deviations kept exact by integer scaling "
    "(n*H - T), running sum and rank ride the bounded hourly spine",
)
def events_cusum_changepoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    return E.cusum_changepoints(load_events(spark, sf_dir), k=5)


@register(
    "events_markov_accuracy",
    oracle=E.MARKOV_ACCURACY_ORACLE,
    description="order-1 Markov next-event predictor + in-corpus hit rate per state: "
    "per-user lead window for transitions, modal pick via row_number over the "
    "|types|^2 count table (string tie-break), broadcast predictor join — the "
    "baseline every sequence model must beat",
)
def events_markov_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    return E.markov_prediction_accuracy(load_events(spark, sf_dir))


@register(
    "events_burstiness",
    oracle=E.INTERARRIVAL_BURSTINESS_ORACLE,
    description="Goh-Barabasi burstiness B=(sigma-mu)/(sigma+mu) of within-user "
    "inter-arrival gaps per event type (bot-cadence vs organic-session screen): "
    "one lag window + a |types|-row exact-moment reduce over micro-second BIGINT "
    "gaps",
)
def events_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    return E.interarrival_burstiness(load_events(spark, sf_dir))


@register(
    "events_holt_forecast",
    oracle=E.holt_linear_forecast_oracle(horizon=3),
    description="Holt double-exponential smoothing (level + linear trend) with a "
    "3-hour-ahead forecast per event type, over the GAP-FILLED hourly demand "
    "series (a missing hour is a real zero, never skipped): per type one "
    "map_from_entries + transform(sequence) lookup against the 1-row hour range "
    "builds the bounded spine without an explode shuffle, and the recursion is a "
    "fixed-order aggregate() fold with DYADIC alpha=1/2, beta=1/4 — every multiply "
    "exact, so the DuckDB recursive-CTE oracle replays the trajectory bit-for-bit; "
    "fold state is 2 doubles per type regardless of event volume",
)
def events_holt_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    return E.holt_linear_forecast(load_events(spark, sf_dir), horizon=3)


@register(
    "events_holt_streamed",
    oracle=E.holt_linear_forecast_oracle(horizon=3),
    description="Holt forecast served from the MAINTAINED streaming bucket state "
    "(the view-on-view payoff of the tenth class: one self-maintainable hourly "
    "grain serves the EWMA kernel AND the trend forecast): micro-batches merge "
    "into the versioned (event_type, hour) state, and the Holt fold re-derives "
    "from state on read via the SAME code as the batch plan — bucket counts are "
    "a commutative monoid, so stream == batch == oracle unchanged",
)
def events_holt_streamed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from twitter_followers_patterns_mapreduce_spark.streaming.ewma import (
        ewma_apply_stream,
        ewma_event_stream,
        state_tables,
    )
    from twitter_followers_patterns_mapreduce_spark.streaming.state import read_state

    feed_dir, state_dir, ckpt_dir = _stage_ewma_feed(spark, sf_dir)
    ewma_apply_stream(spark, ewma_event_stream(spark, feed_dir), state_dir, ckpt_dir)
    buckets = read_state(spark, state_tables(state_dir))["buckets"]
    return E.holt_from_counts(
        buckets.select("event_type", "h", F.col("n_events").cast("long").alias("c")),
        horizon=3,
    )
