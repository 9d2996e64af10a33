"""Event-time window queries over the events table.

These are the batch-checkable form of the streaming surface: Spark's
``window()`` / ``session_window()`` produce identical groupings in batch
and streaming mode, so the DuckDB oracles here (time_bucket / gaps-and-
islands) verify the exact semantics the Structured Streaming pipelines in
censo_escolar_spark/streaming reuse. Watermark/late-data behavior is
streaming-only and covered in tests/test_streaming.py instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from censo_escolar_spark.plans.registry import register
from censo_escolar_spark.sources.readers import load_table

DEC = "decimal(18,2)"


# ---------------------------------------------------------------------------
# e01 — tumbling 1-hour windows: count + exact sum per (window, event_type).
# ---------------------------------------------------------------------------
@register(
    "e01_tumbling_hourly",
    oracle="""
    SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
      event_type,
      COUNT(*) AS n_events,
      CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2
    ORDER BY window_start, event_type
    """,
)
def e01_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast(DEC)).cast("double").alias("total_value"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "total_value")
        .orderBy("window_start", "event_type")
    )


# ---------------------------------------------------------------------------
# e02 — sliding windows (30 min wide, 15 min slide): each event lands in
# exactly 2 windows; the oracle enumerates both via the two bucket offsets.
# ---------------------------------------------------------------------------
@register(
    "e02_sliding_windows",
    oracle="""
    WITH expanded AS (
      SELECT time_bucket(INTERVAL '15 minutes', ts) - (k * INTERVAL '15 minutes') AS window_start,
        value
      FROM events CROSS JOIN (SELECT unnest([0, 1]) AS k)
    )
    SELECT window_start, COUNT(*) AS n_events,
      CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM expanded
    GROUP BY 1
    ORDER BY window_start
    """,
)
def e02_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "30 minutes", "15 minutes").alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast(DEC)).cast("double").alias("total_value"),
        )
        .select(F.col("w.start").alias("window_start"), "n_events", "total_value")
        .orderBy("window_start")
    )


# ---------------------------------------------------------------------------
# e03 — session windows (30 min gap) per user; oracle is gaps-and-islands.
# Session end follows Spark semantics: last event + gap; a new session
# starts when the inter-event gap is >= the gap duration ([start, end)).
# ---------------------------------------------------------------------------
@register(
    "e03_user_sessions",
    oracle="""
    WITH marked AS (
      SELECT user_id, ts, value,
        CASE WHEN lag(ts) OVER w IS NULL
               OR ts - lag(ts) OVER w >= INTERVAL '30 minutes'
             THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
      SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, value
                                  ROWS UNBOUNDED PRECEDING) AS session_id
      FROM marked
    )
    SELECT user_id,
      MIN(ts) AS session_start,
      MAX(ts) + INTERVAL '30 minutes' AS session_end,
      COUNT(*) AS n_events,
      CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM sess
    GROUP BY user_id, session_id
    ORDER BY user_id, session_start
    """,
)
def e03_user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast(DEC)).cast("double").alias("total_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "total_value",
        )
        .orderBy("user_id", "session_start")
    )


# ---------------------------------------------------------------------------
# e04 — as-of join (most recent prior event of another type, per user):
# Spark lacks a native as-of join; the scalable formulation is the
# union-and-ffill window trick — tag both streams, sort once per user,
# carry the last 'view' timestamp forward with last_value(ignorenulls).
# The oracle uses DuckDB's native ASOF JOIN.
# ---------------------------------------------------------------------------
@register(
    "e04_asof_click_to_view",
    oracle="""
    SELECT c.event_id, c.user_id, c.ts AS click_ts, v.ts AS view_ts
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
      ON c.user_id = v.user_id AND c.ts >= v.ts
    ORDER BY c.event_id
    """,
)
def e04_asof_click_to_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    from censo_escolar_spark.operators.asof import asof_join

    e = load_table(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    views = e.filter(F.col("event_type") == "view").select("user_id", F.col("ts").alias("view_ts"))
    return (
        asof_join(
            clicks,
            views,
            on="user_id",
            left_ts="ts",
            right_ts="view_ts",
        )
        .select("event_id", "user_id", F.col("ts").alias("click_ts"), "view_ts")
        .orderBy("event_id")
    )


# ---------------------------------------------------------------------------
# e05 — bounded range join: all views by the same user in the 5 minutes
# up to each click (bucketized interval join, operators/rangejoin.py),
# then per-click aggregation with left-outer semantics so zero-view
# clicks survive. The oracle is the naive inequality left join.
# ---------------------------------------------------------------------------
@register(
    "e05_views_before_click",
    oracle="""
    SELECT c.event_id, c.user_id, c.ts AS click_ts,
      CAST(COUNT(v.ts) AS BIGINT) AS n_views_5m,
      MAX(v.ts) AS last_view_ts
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
      ON v.user_id = c.user_id
     AND v.ts BETWEEN c.ts - INTERVAL 5 MINUTE AND c.ts
    GROUP BY 1, 2, 3
    ORDER BY c.event_id
    """,
)
def e05_views_before_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    from censo_escolar_spark.operators.rangejoin import bounded_range_join

    e = load_table(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    views = e.filter(F.col("event_type") == "view").select(
        "user_id", F.col("ts").alias("view_ts")
    )
    pairs = bounded_range_join(
        clicks, views, on="user_id", left_ts="ts", right_ts="view_ts", lower=-300, upper=0
    )
    per_click = pairs.groupBy("event_id").agg(
        F.count("*").alias("n_views_5m"),
        F.max("view_ts").alias("last_view_ts"),
    )
    return (
        clicks.join(per_click, "event_id", "left")
        .select(
            "event_id",
            "user_id",
            F.col("ts").alias("click_ts"),
            F.coalesce("n_views_5m", F.lit(0).cast("bigint")).alias("n_views_5m"),
            "last_view_ts",
        )
        .orderBy("event_id")
    )


# ---------------------------------------------------------------------------
# e06 — latest-by-key compaction (CDC snapshot): one row per user, the
# newest event. Implemented as a max_by AGGREGATE (partial aggregation:
# each input partition ships one candidate per key) rather than a
# row_number window (full shuffle + sort of every version) — see
# operators/compact.py. The oracle is the window formulation, which
# must select the identical row because (ts, event_id) totally orders
# each user's events.
# ---------------------------------------------------------------------------
@register(
    "e06_latest_event_per_user",
    oracle="""
    SELECT user_id, event_id, ts, event_type, value
    FROM (
      SELECT user_id, event_id, ts, event_type, value,
        row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    )
    WHERE rn = 1
    ORDER BY user_id
    """,
)
def e06_latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    from censo_escolar_spark.operators.compact import latest_by_key

    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "event_type", "value"
    )
    return latest_by_key(
        e, ["user_id"], [F.col("ts"), F.col("event_id")]
    ).orderBy("user_id")


# ---------------------------------------------------------------------------
# e07 — time-spine gap fill + carry-forward (the hypertable/resampling
# shape): per user, one row per hour from that user's first to last
# hour; hours with no events get n_events = 0 and the last observed
# value carried forward. Spine = sequence()+explode per user (bounded
# by the user's own time range — no global calendar join); the fill is
# a user-partitioned last(ignorenulls) window. carried_value is a COPY
# of a stored double (never recomputed), so it is bit-exact
# cross-engine.
# ---------------------------------------------------------------------------
@register(
    "e07_hourly_gap_fill",
    oracle="""
    WITH ranked AS (
      SELECT user_id, date_trunc('hour', ts) AS hr, value,
        row_number() OVER (PARTITION BY user_id, date_trunc('hour', ts)
                           ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ),
    hourly AS (
      SELECT user_id, hr,
        CAST(COUNT(*) AS BIGINT) AS n_events,
        MAX(CASE WHEN rn = 1 THEN value END) AS last_in_hour
      FROM ranked GROUP BY user_id, hr
    ),
    bounds AS (
      SELECT user_id, MIN(hr) AS h0, MAX(hr) AS h1 FROM hourly GROUP BY user_id
    ),
    spine AS (
      SELECT user_id, g.hr
      FROM bounds, UNNEST(generate_series(h0, h1, INTERVAL 1 HOUR)) AS g(hr)
    )
    SELECT s.user_id, s.hr,
      COALESCE(h.n_events, 0) AS n_events,
      last_value(h.last_in_hour IGNORE NULLS) OVER (
        PARTITION BY s.user_id ORDER BY s.hr
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS carried_value
    FROM spine s LEFT JOIN hourly h USING (user_id, hr)
    ORDER BY s.user_id, s.hr
    """,
)
def e07_hourly_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    hourly = (
        e.withColumn("hr", F.date_trunc("hour", "ts"))
        .groupBy("user_id", "hr")
        .agg(
            F.count("*").alias("n_events"),
            F.max_by("value", F.struct("ts", "event_id")).alias("last_in_hour"),
        )
    )
    spine = (
        hourly.groupBy("user_id")
        .agg(F.min("hr").alias("h0"), F.max("hr").alias("h1"))
        .select(
            "user_id",
            F.explode(F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))).alias("hr"),
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("hr")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        spine.join(hourly, ["user_id", "hr"], "left")
        .select(
            "user_id",
            "hr",
            F.coalesce("n_events", F.lit(0).cast("bigint")).alias("n_events"),
            F.last("last_in_hour", ignorenulls=True).over(w).alias("carried_value"),
        )
        .orderBy("user_id", "hr")
    )


# ---------------------------------------------------------------------------
# e08 — ordered conversion funnel: view -> click-after-view ->
# purchase-after-click, per user, reduced to one stage-counts row.
#
# Scale shape: all three "first event after previous stage" columns are
# unbounded windows over the SAME partitioning (user_id), so the chain
# costs ONE shuffle; per-user state is three timestamps, never an event
# list. The final global agg is a single partial-combined row.
# ---------------------------------------------------------------------------
@register(
    "e08_conversion_funnel",
    oracle="""
    WITH s1 AS (
      SELECT user_id, ts, event_type,
        MIN(CASE WHEN event_type = 'view' THEN ts END)
          OVER (PARTITION BY user_id) AS first_view
      FROM events
    ),
    s2 AS (
      SELECT *, MIN(CASE WHEN event_type = 'click' AND ts > first_view THEN ts END)
          OVER (PARTITION BY user_id) AS first_click
      FROM s1
    ),
    s3 AS (
      SELECT *, MIN(CASE WHEN event_type = 'purchase' AND ts > first_click THEN ts END)
          OVER (PARTITION BY user_id) AS first_purchase
      FROM s2
    ),
    per_user AS (
      SELECT user_id, MAX(first_view) AS v, MAX(first_click) AS c,
             MAX(first_purchase) AS p
      FROM s3 GROUP BY user_id
    )
    SELECT CAST(COUNT(v) AS BIGINT) AS n_viewed,
      CAST(COUNT(c) AS BIGINT) AS n_clicked,
      CAST(COUNT(p) AS BIGINT) AS n_purchased,
      CAST(SUM(CASE WHEN c IS NOT NULL
               THEN date_diff('second', v, c) END) AS BIGINT) AS click_delay_sec,
      CAST(SUM(CASE WHEN p IS NOT NULL
               THEN date_diff('second', c, p) END) AS BIGINT) AS purchase_delay_sec
    FROM per_user
    """,
)
def e08_conversion_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    is_t = lambda t: F.col("event_type") == t  # noqa: E731
    s1 = e.withColumn("first_view", F.min(F.when(is_t("view"), F.col("ts"))).over(w))
    s2 = s1.withColumn(
        "first_click",
        F.min(F.when(is_t("click") & (F.col("ts") > F.col("first_view")), F.col("ts"))).over(w),
    )
    s3 = s2.withColumn(
        "first_purchase",
        F.min(F.when(is_t("purchase") & (F.col("ts") > F.col("first_click")), F.col("ts"))).over(w),
    )
    per_user = s3.groupBy("user_id").agg(
        F.max("first_view").alias("v"),
        F.max("first_click").alias("c"),
        F.max("first_purchase").alias("p"),
    )
    # integer-second delay sums: exact cross-engine (no float aggregation)
    delay = lambda a, b: F.unix_timestamp(b) - F.unix_timestamp(a)  # noqa: E731
    return per_user.agg(
        F.count("v").alias("n_viewed"),
        F.count("c").alias("n_clicked"),
        F.count("p").alias("n_purchased"),
        F.sum(F.when(F.col("c").isNotNull(), delay(F.col("v"), F.col("c"))))
        .cast("bigint")
        .alias("click_delay_sec"),
        F.sum(F.when(F.col("p").isNotNull(), delay(F.col("c"), F.col("p"))))
        .cast("bigint")
        .alias("purchase_delay_sec"),
    )


# ---------------------------------------------------------------------------
# e09 — weekly cohort retention: users are cohorted by the ISO week of
# their first event; each (cohort_week, week_offset) cell counts the
# distinct users active that many weeks later.
#
# Scale shape: cohorting is one groupBy(user_id); activity rejoins on
# user_id (co-partitioned shuffle join, both sides hashed the same way);
# the cell count pre-aggregates (user, cohort, offset) DISTINCT before
# the cell groupBy, so the wide shuffle carries one row per active
# user-week, never per event. No driver-side collection anywhere.
# ---------------------------------------------------------------------------
@register(
    "e09_cohort_retention",
    oracle="""
    WITH cohorts AS (
      SELECT user_id, date_trunc('week', MIN(ts)) AS cohort_week
      FROM events GROUP BY user_id
    ),
    active AS (
      SELECT DISTINCT e.user_id, c.cohort_week,
        CAST(date_diff('day', c.cohort_week, date_trunc('week', e.ts)) // 7 AS INT)
          AS week_offset
      FROM events e JOIN cohorts c USING (user_id)
    ),
    sized AS (
      SELECT cohort_week, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS cohort_size
      FROM cohorts GROUP BY cohort_week
    )
    SELECT a.cohort_week, a.week_offset,
      CAST(COUNT(*) AS BIGINT) AS n_active,
      CAST(COUNT(*) AS DOUBLE) / CAST(s.cohort_size AS DOUBLE) AS retention
    FROM active a JOIN sized s USING (cohort_week)
    GROUP BY a.cohort_week, a.week_offset, s.cohort_size
    ORDER BY cohort_week, week_offset
    """,
)
def e09_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    cohorts = e.groupBy("user_id").agg(F.date_trunc("week", F.min("ts")).alias("cohort_week"))
    active = (
        e.join(cohorts, "user_id")
        .select(
            "user_id",
            "cohort_week",
            (
                F.datediff(F.date_trunc("week", F.col("ts")), F.col("cohort_week"))
                / F.lit(7)
            )
            .cast("int")
            .alias("week_offset"),
        )
        .distinct()
    )
    sized = cohorts.groupBy("cohort_week").agg(
        F.countDistinct("user_id").alias("cohort_size")
    )
    return (
        active.groupBy("cohort_week", "week_offset")
        .agg(F.count("*").alias("n_active"))
        .join(sized, "cohort_week")
        .select(
            "cohort_week",
            "week_offset",
            "n_active",
            (F.col("n_active").cast("double") / F.col("cohort_size").cast("double")).alias(
                "retention"
            ),
        )
        .orderBy("cohort_week", "week_offset")
    )


# ---------------------------------------------------------------------------
# e10 — last-touch attribution: each purchase is attributed to the most
# recent click at-or-before it by the same user; the click's channel is
# derived from its JSON props (get_json_object → int → bucket), and
# revenue rolls up per channel. Composes the as-of join operator with
# semi-structured extraction; un-attributed purchases (no prior click)
# land in channel 'organic'.
#
# Scale shape: the as-of join is operators/asof.py's union+carry-forward
# — ONE shuffle on user_id, no range join; the channel rollup is a
# partial-aggregated groupBy on a 4-value key.
# ---------------------------------------------------------------------------
@register(
    "e10_last_touch_attribution",
    oracle="""
    WITH clicks AS (
      SELECT user_id, ts AS click_ts,
        'ch' || CAST(CAST(json_extract_string(props, '$.k') AS INT) % 3 AS VARCHAR)
          AS channel
      FROM events WHERE event_type = 'click'
    ),
    purchases AS (
      SELECT user_id, ts, value FROM events WHERE event_type = 'purchase'
    )
    SELECT COALESCE(c.channel, 'organic') AS channel,
      CAST(COUNT(*) AS BIGINT) AS n_purchases,
      CAST(SUM(CAST(p.value AS DECIMAL(18,2))) AS DOUBLE) AS attributed_value
    FROM purchases p
    ASOF LEFT JOIN clicks c ON p.user_id = c.user_id AND p.ts >= c.click_ts
    GROUP BY 1
    ORDER BY channel
    """,
)
def e10_last_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from censo_escolar_spark.operators.asof import asof_join

    e = load_table(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("ts").alias("click_ts"),
        F.concat(
            F.lit("ch"),
            (F.get_json_object("props", "$.k").cast("int") % 3).cast("string"),
        ).alias("channel"),
    )
    purchases = e.filter(F.col("event_type") == "purchase").select("user_id", "ts", "value")
    return (
        asof_join(purchases, clicks, on="user_id", left_ts="ts", right_ts="click_ts")
        .groupBy(F.coalesce("channel", F.lit("organic")).alias("channel"))
        .agg(
            F.count("*").alias("n_purchases"),
            F.sum(F.col("value").cast(DEC)).cast("double").alias("attributed_value"),
        )
        .orderBy("channel")
    )


# ---------------------------------------------------------------------------
# e11 — incremental rollup maintenance (operators/rollup.py): history
# (days 1-14) is pre-aggregated into mergeable partials, the delta
# (day 15+) folds in WITHOUT reprocessing history, derived measures
# come from the merged partials. The oracle is the full recompute — the
# incremental path must be indistinguishable from it.
# ---------------------------------------------------------------------------
@register(
    "e11_incremental_rollup",
    oracle="""
    SELECT user_id, event_type,
      CAST(COUNT(*) AS BIGINT) AS n,
      CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total,
      CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
        / CAST(COUNT(*) AS DOUBLE) AS mean,
      MIN(value) AS vmin,
      MAX(value) AS vmax
    FROM events
    GROUP BY user_id, event_type
    ORDER BY user_id, event_type
    """,
)
def e11_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from censo_escolar_spark.operators import rollup

    e = load_table(spark, sf_dir, "events")
    cutoff = F.lit("2024-01-15").cast("timestamp")
    history = rollup.partials(
        e.filter(F.col("ts") < cutoff), ["user_id", "event_type"], "value"
    )
    delta = rollup.partials(
        e.filter(F.col("ts") >= cutoff), ["user_id", "event_type"], "value"
    )
    return rollup.finalize(rollup.merge(history, delta)).orderBy("user_id", "event_type")


# ---------------------------------------------------------------------------
# e12 — event-type transition matrix: counts of consecutive
# (prev_type -> type) steps per user stream, the Markov-chain view of
# user behavior (funnel analysis' aggregate sibling). One lag window
# over the user_id partitioning, one groupBy on a 25-value key.
# ---------------------------------------------------------------------------
@register(
    "e12_transition_matrix",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
        LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
          AS prev_type
      FROM events
    )
    SELECT prev_type, event_type AS next_type,
      CAST(COUNT(*) AS BIGINT) AS n_transitions
    FROM seq WHERE prev_type IS NOT NULL
    GROUP BY prev_type, next_type
    ORDER BY prev_type, next_type
    """,
)
def e12_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.withColumn("prev_type", F.lag("event_type").over(w))
    return (
        seq.filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count("*").alias("n_transitions"))
        .orderBy("prev_type", "next_type")
    )


# ---------------------------------------------------------------------------
# e13 — "rows since reset" window pattern: for every event, how many
# events this user has produced since their last purchase (the
# recency-feature shape — counts reset at a marker event). Two window
# expressions over ONE user_id partitioning: a running row_number and
# the carried-forward row_number of the latest purchase.
# ---------------------------------------------------------------------------
@register(
    "e13_events_since_purchase",
    oracle="""
    WITH numbered AS (
      SELECT event_id, user_id, ts, event_type,
        row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      FROM events
    ),
    seq AS (
      SELECT event_id, user_id, rn,
        MAX(CASE WHEN event_type = 'purchase' THEN rn END)
          OVER (PARTITION BY user_id ORDER BY ts, event_id
                ROWS UNBOUNDED PRECEDING) AS last_purchase_rn
      FROM numbered
    )
    SELECT event_id, user_id,
      CAST(rn - COALESCE(last_purchase_rn, 0) AS BIGINT) AS events_since_purchase
    FROM seq
    ORDER BY event_id
    """,
)
def e13_events_since_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wc = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    rn = F.row_number().over(w)
    seq = e.select(
        "event_id",
        "user_id",
        rn.alias("rn"),
        F.max(F.when(F.col("event_type") == "purchase", rn)).over(wc).alias(
            "last_purchase_rn"
        ),
    )
    return seq.select(
        "event_id",
        "user_id",
        (F.col("rn") - F.coalesce("last_purchase_rn", F.lit(0)))
        .cast("bigint")
        .alias("events_since_purchase"),
    ).orderBy("event_id")


# ---------------------------------------------------------------------------
# e14 — DAU / trailing-7-day WAU stickiness: sliding COUNT DISTINCT via
# the e02 offset-expansion trick — each (user, day) lands in the 7
# trailing windows it belongs to, so the weekly distinct is an exact
# groupBy count, never a distinct-over-window-frame (which Spark would
# run as one state blob per row). Shuffles: one per-day distinct + one
# 7-way expanded groupBy — both partial-aggregated.
# ---------------------------------------------------------------------------
@register(
    "e14_dau_wau_stickiness",
    oracle="""
    WITH ud AS (
      SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
      FROM events
    ),
    dau AS (
      SELECT day, CAST(COUNT(*) AS BIGINT) AS dau FROM ud GROUP BY day
    ),
    expanded AS (
      SELECT user_id, CAST(day + k * INTERVAL 1 DAY AS DATE) AS wau_day
      FROM ud CROSS JOIN (SELECT unnest(range(0, 7)) AS k)
    ),
    wau AS (
      SELECT wau_day AS day, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS wau
      FROM expanded GROUP BY wau_day
    )
    SELECT CAST(d.day AS TIMESTAMP) AS day, d.dau, w.wau,
      CAST(d.dau AS DOUBLE) / CAST(w.wau AS DOUBLE) AS stickiness
    FROM dau d JOIN wau w USING (day)
    ORDER BY d.day
    """,
)
def e14_dau_wau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    ud = e.select(
        "user_id", F.date_trunc("day", "ts").cast("date").alias("day")
    ).distinct()  # day stays DATE internally; output casts to timestamp

    dau = ud.groupBy("day").agg(F.count("*").alias("dau"))
    expanded = ud.select(
        "user_id",
        F.explode(F.sequence(F.lit(0), F.lit(6))).alias("k"),
        "day",
    ).select("user_id", F.date_add("day", F.col("k")).alias("day"))
    wau = expanded.groupBy("day").agg(F.countDistinct("user_id").alias("wau"))
    return (
        dau.join(wau, "day")
        .select(
            F.col("day").cast("timestamp").alias("day"),
            "dau",
            "wau",
            (F.col("dau").cast("double") / F.col("wau").cast("double")).alias(
                "stickiness"
            ),
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# e15 — SCD Type-2 dimension build: compress each user's event_type
# stream into validity intervals [valid_from, valid_to) with an
# is_current flag (the warehouse "slowly changing dimension" shape; the
# reference materializes only current-state tables, load_external_tables
# .sql:3-55 — this is the history-preserving upgrade). Plan: one
# user_id-partitioned window detects state changes (lag), a running sum
# of change markers numbers the runs, a groupBy collapses runs, and a
# second window over (user, run) chains valid_to = next valid_from.
# Everything shuffles once on user_id and stays partial-aggregated.
# ---------------------------------------------------------------------------
@register(
    "e15_scd2_intervals",
    oracle="""
    WITH marked AS (
      SELECT user_id, event_type, ts, event_id,
        CASE WHEN event_type IS DISTINCT FROM
          LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        THEN 1 ELSE 0 END AS chg
      FROM events
    ),
    runs AS (
      SELECT user_id, event_type, ts,
        SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS UNBOUNDED PRECEDING) AS run_id
      FROM marked
    ),
    collapsed AS (
      SELECT user_id, CAST(run_id AS BIGINT) AS run_id,
        event_type AS state, MIN(ts) AS valid_from,
        CAST(COUNT(*) AS BIGINT) AS n_events
      FROM runs GROUP BY user_id, run_id, event_type
    )
    SELECT user_id, run_id, state, valid_from,
      LEAD(valid_from) OVER (PARTITION BY user_id ORDER BY run_id)
        AS valid_to,
      CASE WHEN LEAD(valid_from) OVER (PARTITION BY user_id ORDER BY run_id)
        IS NULL THEN TRUE ELSE FALSE END AS is_current,
      n_events
    FROM collapsed
    ORDER BY user_id, run_id
    """,
)
def e15_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return _scd2_intervals(e).orderBy("user_id", "run_id")


def _scd2_intervals(e: DataFrame) -> DataFrame:
    """Per-user event_type validity intervals (operators/scd2.py — the
    batch build shared with the point-in-time lookup e17 and the
    streaming maintainer streaming/scd2.py)."""
    from censo_escolar_spark.operators.scd2 import scd2_intervals

    return scd2_intervals(e)


# ---------------------------------------------------------------------------
# e16 — peak concurrent sessions per day: sessionize (30-min gap, the
# e03 rule), clip each session interval to the calendar days it
# overlaps, then run a +1/-1 sweep per day — running sum over a window
# PARTITIONED BY DAY (never a global ordering; the day partition is the
# scale unit). Tie rule: at equal timestamps starts count before ends
# (overlap-inclusive), encoded as ORDER BY (t, delta DESC) in both
# engines so the sweep is deterministic cross-engine.
# ---------------------------------------------------------------------------
@register(
    "e16_peak_concurrency",
    oracle="""
    WITH gaps AS (
      SELECT user_id, ts, event_id,
        CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
          > INTERVAL 30 MINUTE OR
          LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        THEN 1 ELSE 0 END AS new_s
      FROM events
    ),
    sess AS (
      SELECT user_id, ts,
        SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS UNBOUNDED PRECEDING) AS session_id
      FROM gaps
    ),
    iv AS (
      SELECT user_id, session_id, MIN(ts) AS s, MAX(ts) AS e
      FROM sess GROUP BY user_id, session_id
    ),
    days AS (
      SELECT user_id, session_id,
        CAST(date_trunc('day', s) + k * INTERVAL 1 DAY AS DATE) AS day, s, e
      FROM iv CROSS JOIN (SELECT unnest(range(0, 3)) AS k)
      WHERE date_trunc('day', s) + k * INTERVAL 1 DAY <= e
    ),
    pts AS (
      SELECT day, GREATEST(s, CAST(day AS TIMESTAMP)) AS t, 1 AS delta
      FROM days
      UNION ALL
      SELECT day, LEAST(e, CAST(day AS TIMESTAMP) + INTERVAL 1 DAY), -1
      FROM days
    ),
    sweep AS (
      SELECT day, t,
        SUM(delta) OVER (PARTITION BY day ORDER BY t, delta DESC
                         ROWS UNBOUNDED PRECEDING) AS live
      FROM pts
    )
    SELECT CAST(day AS TIMESTAMP) AS day,
      CAST(MAX(live) AS BIGINT) AS peak_concurrent
    FROM sweep GROUP BY day
    ORDER BY day
    """,
)
def e16_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wc = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    gaps = e.withColumn(
        "new_s",
        F.when(
            (
                F.timestamp_diff(
                    "MICROSECOND", F.lag("ts").over(w), F.col("ts")
                )
                > 1_800_000_000  # exact: SECOND-unit diffs truncate, so a
                # 1800.5s gap would split sessions in one engine only
            )
            | F.lag("ts").over(w).isNull(),
            1,
        ).otherwise(0),
    )
    sess = gaps.withColumn("session_id", F.sum("new_s").over(wc))
    iv = sess.groupBy("user_id", "session_id").agg(
        F.min("ts").alias("s"), F.max("ts").alias("e")
    )
    # clip to overlapped days: sessions are gap-bounded (<3 days here; the
    # WHERE keeps only genuinely overlapped days, so extra k's drop out)
    days = (
        iv.select(
            "s",
            "e",
            F.explode(F.sequence(F.lit(0), F.lit(2))).alias("k"),
        )
        .select(
            F.date_add(F.date_trunc("day", "s").cast("date"), F.col("k")).alias(
                "day"
            ),
            "s",
            "e",
        )
        .filter(F.col("day").cast("timestamp") <= F.col("e"))
    )
    day_ts = F.col("day").cast("timestamp")
    # +1/-1 points via array+explode, NOT a union of two selects: union
    # branches are not common-subexpression-eliminated, so the whole
    # sessionize pipeline would run twice
    pts = days.select(
        "day",
        F.explode(
            F.array(
                F.struct(
                    F.greatest("s", day_ts).alias("t"), F.lit(1).alias("delta")
                ),
                F.struct(
                    F.least(
                        "e", F.timestamp_add("DAY", F.lit(1), day_ts)
                    ).alias("t"),
                    F.lit(-1).alias("delta"),
                ),
            )
        ).alias("pt"),
    ).select("day", F.col("pt.t").alias("t"), F.col("pt.delta").alias("delta"))
    ws = Window.partitionBy("day").orderBy(
        F.col("t").asc(), F.col("delta").desc()
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sweep = pts.withColumn("live", F.sum("delta").over(ws))
    return (
        sweep.groupBy("day")
        .agg(F.max("live").cast("bigint").alias("peak_concurrent"))
        .select(F.col("day").cast("timestamp").alias("day"), "peak_concurrent")
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# e17 — point-in-time (temporal) join: each purchase is joined to the
# SCD2 state version (e15's intervals) valid AT ITS TIMESTAMP — the
# leakage-free feature lookup of a training pipeline (a fact must not
# see a dimension version from its future). Not an interval join:
# operators/asof.point_in_time_join rides the backward-as-of
# carry-forward, ONE user_id shuffle. The oracle is the declarative
# interval join the operator replaces.
# ---------------------------------------------------------------------------
@register(
    "e17_point_in_time_state",
    oracle="""
    WITH marked AS (
      SELECT user_id, event_type, ts, event_id,
        CASE WHEN event_type IS DISTINCT FROM
          LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        THEN 1 ELSE 0 END AS chg
      FROM events
    ),
    runs AS (
      SELECT user_id, event_type, ts,
        SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS UNBOUNDED PRECEDING) AS run_id
      FROM marked
    ),
    collapsed AS (
      SELECT user_id, CAST(run_id AS BIGINT) AS run_id,
        event_type AS state, MIN(ts) AS valid_from
      FROM runs GROUP BY user_id, run_id, event_type
    ),
    scd AS (
      SELECT user_id, run_id, state, valid_from,
        LEAD(valid_from) OVER (PARTITION BY user_id ORDER BY run_id)
          AS valid_to
      FROM collapsed
    ),
    p AS (
      SELECT event_id, user_id, ts FROM events
      WHERE event_type = 'purchase'
    )
    SELECT p.event_id, p.user_id, s.state, s.run_id, s.valid_from
    FROM p JOIN scd s ON s.user_id = p.user_id
      AND p.ts >= s.valid_from
      AND (s.valid_to IS NULL OR p.ts < s.valid_to)
    ORDER BY p.event_id
    """,
)
def e17_point_in_time_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    from censo_escolar_spark.operators.asof import point_in_time_join

    e = load_table(spark, sf_dir, "events")
    dim = _scd2_intervals(e).select(
        "user_id", "run_id", "state", "valid_from", "valid_to"
    )
    facts = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    return (
        point_in_time_join(facts, dim, on="user_id", ts_col="ts")
        .select("event_id", "user_id", "state", "run_id", "valid_from")
        .orderBy("event_id")
    )


# ---------------------------------------------------------------------------
# e18 — time-weighted average value (TWAP) per user: each event's value
# holds until the user's next event; the average weights each value by
# its holding duration (exact integer MICROSECONDS — sub-second
# timestamps make 'whole seconds' engine-dependent: Spark truncates the
# unit difference, DuckDB counts boundary crossings). One lead() window
# per user (single
# shuffle), then a partial-aggregated groupBy. Division discipline:
# value is held exact as DECIMAL, durations as BIGINT — the weighted
# sum is an exact decimal·int sum, with ONE double division at the end
# (cross-engine bit parity; float accumulation would be
# fold-order-dependent).
# ---------------------------------------------------------------------------
@register(
    "e18_time_weighted_avg",
    oracle="""
    WITH seq AS (
      SELECT user_id,
        CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v_cents,
        CAST(date_diff('microsecond', ts,
          LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
          AS BIGINT) // 1000 AS dur_ms
      FROM events
    )
    SELECT user_id,
      CAST(SUM(v_cents * dur_ms) AS DOUBLE)
        / CAST(SUM(dur_ms) AS DOUBLE) / 100.0 AS twap,
      CAST(SUM(dur_ms) AS BIGINT) AS observed_ms
    FROM seq
    WHERE dur_ms IS NOT NULL AND dur_ms > 0
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def e18_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Millisecond-resolution TWAP in exact integer arithmetic.

    Exactness discipline: the naive shape — decimal Σ(v·dur_µs) cast to
    DOUBLE — is exact in BOTH engines, yet still hash-diverges: the
    sum's unscaled value exceeds 2^53 and the DECIMAL→DOUBLE conversion
    rounds differently (JVM BigDecimal.doubleValue is one-step
    correctly rounded; DuckDB's int128 path is not guaranteed to be).
    So the weighted sum is kept as a BIGINT of cent·ms units — bounded
    by max|value|·corpus-span, ~1.5e14 here, comfortably inside 2^53
    even at 1000× the span — whose DOUBLE conversion is value-exact,
    and twap is two IEEE divisions of identical operands."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "user_id",
        (F.col("value").cast(DEC) * 100).cast("bigint").alias("v_cents"),
        F.expr(
            "timestampdiff(MICROSECOND, ts, lead(ts) over "
            "(partition by user_id order by ts, event_id)) div 1000"
        ).alias("dur_ms"),
    ).filter(F.col("dur_ms").isNotNull() & (F.col("dur_ms") > 0))
    return (
        seq.groupBy("user_id")
        .agg(
            (
                F.sum(F.col("v_cents") * F.col("dur_ms")).cast("double")
                / F.sum("dur_ms").cast("double")
                / F.lit(100.0)
            ).alias("twap"),
            F.sum("dur_ms").cast("bigint").alias("observed_ms"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# e19 — semi-additive metric (end-of-day balance): per (user, day) the
# LAST value of the day (max_by over the full event order — never
# additive within the day), then summed ACROSS users per day. The
# max_by(value, (ts, event_id)) struct argmax is one partial-aggregated
# groupBy; no window at all. This is the balance/inventory aggregation
# rule every warehouse needs and naive SUM gets wrong.
# ---------------------------------------------------------------------------
@register(
    "e19_end_of_day_balance",
    oracle="""
    WITH ranked AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day, user_id, value,
        row_number() OVER (
          PARTITION BY user_id, date_trunc('day', ts)
          ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ),
    eod AS (
      SELECT day, user_id, CAST(value AS DECIMAL(18,2)) AS closing
      FROM ranked WHERE rn = 1
    )
    SELECT CAST(day AS TIMESTAMP) AS day,
      CAST(COUNT(*) AS BIGINT) AS n_users,
      CAST(SUM(closing) AS DOUBLE) AS total_closing_balance
    FROM eod GROUP BY day
    ORDER BY day
    """,
)
def e19_end_of_day_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    eod = (
        e.select(
            F.date_trunc("day", "ts").cast("date").alias("day"),
            "user_id",
            F.col("value").cast(DEC).alias("v"),
            F.struct(F.col("ts"), F.col("event_id")).alias("ord"),
        )
        .groupBy("day", "user_id")
        .agg(F.max_by("v", F.col("ord")).alias("closing"))
    )
    return (
        eod.groupBy("day")
        .agg(
            F.count("*").alias("n_users"),
            F.sum("closing").cast("double").alias("total_closing_balance"),
        )
        .select(
            F.col("day").cast("timestamp").alias("day"),
            "n_users",
            "total_closing_balance",
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# e20 — rolling z-score anomaly flags: each event's value scored
# against the mean/std of the user's previous 20 events. Moment sums
# over the frame are EXACT decimals (sum, sum of squares); mean/std/z
# are derived from them with a fixed double expression — one window,
# fold-order-independent, so the flags are oracle-hashable (a float
# stddev over a frame would differ by summation order across engines).
# ---------------------------------------------------------------------------
@register(
    "e20_rolling_zscore",
    oracle="""
    WITH seq AS (
      SELECT event_id, user_id, CAST(value AS DECIMAL(18,2)) AS v,
        CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS s1,
        CAST(SUM(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2)))
          OVER w AS DOUBLE) AS s2,
        CAST(COUNT(value) OVER w AS BIGINT) AS n
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)
    )
    SELECT event_id, user_id,
      CAST(CASE WHEN n >= 5
        AND (s2 - s1 * s1 / n) / (n - 1) > 0
        THEN abs(CAST(v AS DOUBLE) - s1 / n)
             / sqrt((s2 - s1 * s1 / n) / (n - 1))
      END AS DOUBLE) AS zscore
    FROM seq
    WHERE n >= 5 AND (s2 - s1 * s1 / n) / (n - 1) > 0
      AND abs(CAST(v AS DOUBLE) - s1 / n)
          / sqrt((s2 - s1 * s1 / n) / (n - 1)) > 3.0
    ORDER BY event_id
    """,
)
def e20_rolling_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-20, -1)
    )
    v = F.col("value").cast(DEC)
    seq = e.select(
        "event_id",
        "user_id",
        v.alias("v"),
        F.sum(v).over(w).cast("double").alias("s1"),
        F.sum(v * v).over(w).cast("double").alias("s2"),
        F.count("value").over(w).cast("bigint").alias("n"),
    )
    var = (F.col("s2") - F.col("s1") * F.col("s1") / F.col("n")) / (
        F.col("n") - 1
    )
    z = F.abs(F.col("v").cast("double") - F.col("s1") / F.col("n")) / F.sqrt(var)
    return (
        seq.filter((F.col("n") >= 5) & (var > 0) & (z > 3.0))
        .select("event_id", "user_id", z.cast("double").alias("zscore"))
        .orderBy("event_id")
    )


# ---------------------------------------------------------------------------
# e21 — merged activity intervals (gaps-and-islands over VARIABLE-length
# intervals): each event covers [ts, ts + (floor(value)+1) seconds];
# overlapping/touching intervals per user merge into islands via the
# classic running-max-end sweep. Variable lengths mean this is NOT
# expressible as session_window (whose gap is a constant) — it is the
# general interval-union operator (total covered time, island count).
# Scale: one shuffle on user_id, one window per user partition; island
# durations are summed in exact integer microseconds so the per-user
# totals are fold-order-free and oracle-hashable.
# ---------------------------------------------------------------------------
@register(
    "e21_active_intervals",
    oracle="""
    WITH iv AS (
      SELECT user_id, event_id, ts AS s,
        ts + (CAST(floor(value) AS BIGINT) + 1) * INTERVAL 1 SECOND AS e
      FROM events
    ),
    flagged AS (
      SELECT user_id, event_id, s, e,
        CASE WHEN MAX(e) OVER (PARTITION BY user_id ORDER BY s, e, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
          >= s THEN 0 ELSE 1 END AS new_island
      FROM iv
    ),
    islands AS (
      SELECT user_id, s, e,
        SUM(new_island) OVER (PARTITION BY user_id ORDER BY s, e, event_id
                              ROWS UNBOUNDED PRECEDING) AS island_id
      FROM flagged
    ),
    merged AS (
      SELECT user_id, island_id,
        MIN(s) AS island_start, MAX(e) AS island_end
      FROM islands GROUP BY user_id, island_id
    )
    SELECT user_id,
      CAST(COUNT(*) AS BIGINT) AS n_islands,
      CAST(SUM(epoch_us(island_end) - epoch_us(island_start)) AS BIGINT)
        AS active_micros
    FROM merged GROUP BY user_id
    ORDER BY user_id
    """,
)
def e21_active_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from censo_escolar_spark.operators.intervals import (
        covered_micros,
        merge_intervals,
    )

    e = load_table(spark, sf_dir, "events")
    iv = e.select(
        "user_id",
        "event_id",
        F.col("ts").alias("s"),
        F.timestamp_add(
            "SECOND", (F.floor("value") + F.lit(1)).cast("int"), F.col("ts")
        ).alias("e"),
    )
    merged = merge_intervals(iv, "user_id", "s", "e", "event_id")
    return (
        merged.groupBy("user_id")
        .agg(
            F.count("*").cast("bigint").alias("n_islands"),
            F.sum(covered_micros(F.col("island_start"), F.col("island_end")))
            .cast("bigint")
            .alias("active_micros"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# e22 — gap fill with LINEAR INTERPOLATION (the numeric-resampling dual
# of e07's carry-forward): per event_type, hours with no events get
# prev + (next − prev) · elapsed/gap between the nearest observed
# hourly totals. Present-hour totals are exact decimal sums stored as
# doubles; the interpolation is one fixed double expression over
# stored values and INTEGER hour distances, so filled values are
# bit-identical cross-engine. Plan: spine bounded per type (no global
# calendar), two windows over the SAME type partitioning.
# ---------------------------------------------------------------------------
@register(
    "e22_interpolated_fill",
    oracle="""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS hr,
        CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS v
      FROM events GROUP BY event_type, date_trunc('hour', ts)
    ),
    bounds AS (
      SELECT event_type, MIN(hr) AS h0, MAX(hr) AS h1
      FROM hourly GROUP BY event_type
    ),
    spine AS (
      SELECT event_type, g.hr
      FROM bounds, UNNEST(generate_series(h0, h1, INTERVAL 1 HOUR)) AS g(hr)
    ),
    marked AS (
      SELECT s.event_type, s.hr, h.v,
        last_value(h.v IGNORE NULLS) OVER w_prev AS pv,
        last_value(CASE WHEN h.v IS NOT NULL THEN s.hr END IGNORE NULLS)
          OVER w_prev AS ph,
        first_value(h.v IGNORE NULLS) OVER w_next AS nv,
        first_value(CASE WHEN h.v IS NOT NULL THEN s.hr END IGNORE NULLS)
          OVER w_next AS nh
      FROM spine s LEFT JOIN hourly h USING (event_type, hr)
      WINDOW
        w_prev AS (PARTITION BY s.event_type ORDER BY s.hr
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        w_next AS (PARTITION BY s.event_type ORDER BY s.hr
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT event_type, hr,
      CASE WHEN v IS NOT NULL THEN v
        ELSE pv + (nv - pv) *
          (CAST(date_diff('hour', ph, hr) AS DOUBLE)
           / CAST(date_diff('hour', ph, nh) AS DOUBLE))
      END AS filled_value,
      v IS NULL AS interpolated
    FROM marked
    ORDER BY event_type, hr
    """,
)
def e22_interpolated_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    hourly = (
        e.withColumn("hr", F.date_trunc("hour", "ts"))
        .groupBy("event_type", "hr")
        .agg(F.sum(F.col("value").cast(DEC)).cast("double").alias("v"))
    )
    spine = (
        hourly.groupBy("event_type")
        .agg(F.min("hr").alias("h0"), F.max("hr").alias("h1"))
        .select(
            "event_type",
            F.explode(
                F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))
            ).alias("hr"),
        )
    )
    joined = spine.join(hourly, ["event_type", "hr"], "left")
    w_prev = (
        Window.partitionBy("event_type")
        .orderBy("hr")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_next = (
        Window.partitionBy("event_type")
        .orderBy("hr")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    present_hr = F.when(F.col("v").isNotNull(), F.col("hr"))
    marked = joined.select(
        "event_type",
        "hr",
        "v",
        F.last("v", ignorenulls=True).over(w_prev).alias("pv"),
        F.last(present_hr, ignorenulls=True).over(w_prev).alias("ph"),
        F.first("v", ignorenulls=True).over(w_next).alias("nv"),
        F.first(present_hr, ignorenulls=True).over(w_next).alias("nh"),
    )
    frac = F.timestamp_diff("HOUR", F.col("ph"), F.col("hr")).cast(
        "double"
    ) / F.timestamp_diff("HOUR", F.col("ph"), F.col("nh")).cast("double")
    return marked.select(
        "event_type",
        "hr",
        F.when(F.col("v").isNotNull(), F.col("v"))
        .otherwise(F.col("pv") + (F.col("nv") - F.col("pv")) * frac)
        .alias("filled_value"),
        F.col("v").isNull().alias("interpolated"),
    ).orderBy("event_type", "hr")


# ---------------------------------------------------------------------------
# e23 — CUSUM change-point alerts (Page 1954): the clamped recurrence
# s_i = max(0, s_{i-1} + dev_i) is not a window function, but it has an
# exact closed form over running sums: s_i = RS_i − min(0, min_{j≤i}
# RS_j) — two frames over ONE user partitioning, no recursion, no UDF.
# Deviations and both running aggregates are exact decimals, so the
# alert flags are engine- and partitioning-independent. This is the
# streaming-analytics drift detector in its batch-checkable form.
# ---------------------------------------------------------------------------
@register(
    "e23_cusum_alerts",
    oracle="""
    WITH dev AS (
      SELECT user_id, event_id, ts,
        CAST(value AS DECIMAL(18,2)) - 60.0 AS d
      FROM events
    ),
    sums AS (
      SELECT user_id, event_id, ts,
        -- narrow from the window SUM's DECIMAL(38,2): at width 38 the
        -- later run_sum - LEAST(run_min, 0) would exceed DuckDB's
        -- decimal cap and silently fall back to DOUBLE arithmetic
        -- (measured 1.1e-13 drift vs Spark's exact decimal path)
        CAST(SUM(d) OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING) AS DECIMAL(30,2)) AS run_sum
      FROM dev
    ),
    rs AS (
      SELECT user_id, event_id, run_sum,
        MIN(run_sum) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS run_min
      FROM sums
    )
    SELECT user_id, event_id,
      -- CASE, not LEAST: DuckDB's LEAST promotes DECIMAL args to
      -- DOUBLE, which would float the whole final subtraction
      CAST(run_sum - (CASE WHEN run_min < 0 THEN run_min
                      ELSE CAST(0 AS DECIMAL(30,2)) END) AS DOUBLE) AS cusum
    FROM rs
    WHERE run_sum - (CASE WHEN run_min < 0 THEN run_min
                     ELSE CAST(0 AS DECIMAL(30,2)) END) > 500.0
    ORDER BY user_id, event_id
    """,
)
def e23_cusum_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    # decimal literal, NOT 60.0 (a double would promote d to DOUBLE and
    # turn the windowed running sum into a float accumulation — DuckDB
    # parses 60.0 as DECIMAL(3,1) and stays exact; measured 2.3e-13
    # drift at sf0.01 before this pin)
    dev = e.select(
        "user_id",
        "event_id",
        "ts",
        (F.col("value").cast(DEC) - F.lit("60.0").cast("decimal(3,1)")).alias("d"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sums = dev.select(
        "user_id",
        "event_id",
        "ts",
        F.sum("d").over(w).alias("run_sum"),
    )
    rs = sums.select(
        "user_id",
        "event_id",
        "run_sum",
        F.min("run_sum").over(w).alias("run_min"),
    )
    cusum = F.col("run_sum") - F.least(F.col("run_min"), F.lit(0).cast(DEC))
    return (
        rs.filter(cusum > F.lit("500.0").cast("decimal(4,1)"))
        .select("user_id", "event_id", cusum.cast("double").alias("cusum"))
        .orderBy("user_id", "event_id")
    )


# ---------------------------------------------------------------------------
# e24 — dyadic EWMA smoothing: per-user exponentially weighted trailing
# average of `value` with α = 1/2 over the last 8 observations (the
# final tap reuses weight 1/128 so the kernel sums to exactly 1). The
# monitoring-pipeline smoother, written as an explicit 8-tap lag chain
# instead of a float recurrence: every weight is a power of two (IEEE
# scaling is EXACT) and the taps are summed in one fixed left-to-right
# tree shared with the oracle — so unlike s_t = αx + (1−α)s_{t−1} run
# engine-side, the result is bit-identical cross-engine and
# partition-independent. One window partitioned by user_id; missing
# leading history contributes zero mass (documented truncation).
# ---------------------------------------------------------------------------
@register(
    "e24_ewma_smoothing",
    oracle="""
    SELECT event_id, user_id, ts, value,
      value / 2
      + COALESCE(LAG(value, 1) OVER w, 0) / 4
      + COALESCE(LAG(value, 2) OVER w, 0) / 8
      + COALESCE(LAG(value, 3) OVER w, 0) / 16
      + COALESCE(LAG(value, 4) OVER w, 0) / 32
      + COALESCE(LAG(value, 5) OVER w, 0) / 64
      + COALESCE(LAG(value, 6) OVER w, 0) / 128
      + COALESCE(LAG(value, 7) OVER w, 0) / 128 AS ewma8
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ORDER BY user_id, ts, event_id
    """,
)
def e24_ewma_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")

    def tap(i: int, denom: int):
        return F.coalesce(F.lag("value", i).over(w), F.lit(0)) / denom

    ewma = (
        F.col("value") / 2
        + tap(1, 4)
        + tap(2, 8)
        + tap(3, 16)
        + tap(4, 32)
        + tap(5, 64)
        + tap(6, 128)
        + tap(7, 128)
    )
    return e.select(
        "event_id", "user_id", "ts", "value", ewma.alias("ewma8")
    ).orderBy("user_id", "ts", "event_id")


# ---------------------------------------------------------------------------
# e25 — conversion latency: first 'view' → first subsequent 'purchase'
# per user, rolled up to the first-view day cohort with exact
# interpolating latency percentiles over integer microseconds (the q46
# percentile pairing — midpoints of integers are exact in double). Two
# user-keyed groupBys and one user-keyed equi-join — co-partitioned,
# no broadcast of anything user-sized, and the percentile runs per
# cohort day, never globally.
# ---------------------------------------------------------------------------
@register(
    "e25_conversion_latency",
    oracle="""
    WITH v AS (
      SELECT user_id, MIN(ts) AS vts FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    p AS (
      SELECT e.user_id, v.vts, MIN(e.ts) AS pts
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'purchase' AND e.ts > v.vts
      GROUP BY e.user_id, v.vts
    ),
    lat AS (
      SELECT date_trunc('day', vts) AS cohort_day,
        epoch_us(pts) - epoch_us(vts) AS lat_us
      FROM p
    )
    SELECT cohort_day,
      CAST(COUNT(*) AS BIGINT) AS n_conversions,
      quantile_cont(lat_us, 0.5) AS p50_latency_us,
      quantile_cont(lat_us, 0.9) AS p90_latency_us
    FROM lat GROUP BY cohort_day ORDER BY cohort_day
    """,
)
def e25_conversion_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("vts"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("vts"))
        .groupBy("user_id", "vts")
        .agg(F.min("ts").alias("pts"))
    )
    lat = p.select(
        F.date_trunc("day", "vts").alias("cohort_day"),
        F.timestamp_diff("MICROSECOND", F.col("vts"), F.col("pts")).alias("lat_us"),
    )
    return (
        lat.groupBy("cohort_day")
        .agg(
            F.count("*").cast("bigint").alias("n_conversions"),
            F.percentile("lat_us", 0.5).alias("p50_latency_us"),
            F.percentile("lat_us", 0.9).alias("p90_latency_us"),
        )
        .orderBy("cohort_day")
    )


# ---------------------------------------------------------------------------
# e26 — robust anomaly counts via median absolute deviation: per user,
# the median/MAD of `value` and how many events sit outside
# 3·1.4826·MAD of the median (the Hampel identifier). The robust
# complement to e20's rolling z-scores — MAD has a 50% breakdown
# point, so a burst of outliers can't drag its own threshold the way a
# stddev does. Two user-keyed percentile aggregates, two user-keyed
# joins back, one conditional count (exact interpolating percentiles,
# the q46 pairing); the threshold is one fixed IEEE product shared
# with the oracle. Nothing global: every shuffle keys on user_id.
# ---------------------------------------------------------------------------
@register(
    "e26_mad_anomalies",
    oracle="""
    WITH v AS (
      SELECT user_id, value FROM events WHERE value IS NOT NULL
    ),
    med AS (
      SELECT user_id, quantile_cont(value, 0.5) AS med,
        CAST(COUNT(*) AS BIGINT) AS n
      FROM v GROUP BY user_id
    ),
    dev AS (
      SELECT v.user_id, m.n, m.med, abs(v.value - m.med) AS dev
      FROM v JOIN med m ON v.user_id = m.user_id
    ),
    madt AS (
      SELECT user_id, quantile_cont(dev, 0.5) AS mad FROM dev GROUP BY user_id
    )
    SELECT d.user_id, d.n, d.med, m.mad,
      CAST(COUNT(*) FILTER (WHERE d.dev > 3 * 1.4826 * m.mad) AS BIGINT)
        AS n_anomalies
    FROM dev d JOIN madt m ON d.user_id = m.user_id
    GROUP BY d.user_id, d.n, d.med, m.mad
    ORDER BY d.user_id
    """,
)
def e26_mad_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    v = e.filter(F.col("value").isNotNull()).select("user_id", "value")
    med = v.groupBy("user_id").agg(
        F.percentile("value", 0.5).alias("med"),
        F.count("*").cast("bigint").alias("n"),
    )
    dev = v.join(med, "user_id").select(
        "user_id", "n", "med", F.abs(F.col("value") - F.col("med")).alias("dev")
    )
    mad = dev.groupBy("user_id").agg(F.percentile("dev", 0.5).alias("mad"))
    thresh = F.lit(3.0) * F.lit(1.4826) * F.col("mad")
    return (
        dev.join(mad, "user_id")
        .groupBy("user_id", "n", "med", "mad")
        .agg(
            F.count(F.when(F.col("dev") > thresh, 1))
            .cast("bigint")
            .alias("n_anomalies")
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# e27 — sequence-pattern detection (the MATCH_RECOGNIZE / CEP shape):
# every (signup → FIRST purchase within 1 hour) pair with NO error
# event between them, per user. Spark side is ONE user_id partitioning
# carrying two windows — a running error counter and a next-purchase
# carry-back (first_value over the following frame, struct-packed with
# its own error counter) — so pattern matching costs a single shuffle,
# no self-join, state one struct per row. The oracle finds the same
# matches by explicit joins; boundaries compare on the (ts, event_id)
# total order in BOTH engines so equal timestamps can't diverge.
# ---------------------------------------------------------------------------
@register(
    "e27_sequence_patterns",
    oracle="""
    WITH s AS (
      SELECT user_id, ts AS s_ts, event_id AS s_eid FROM events
      WHERE event_type = 'signup'
    ),
    p AS (
      SELECT user_id, ts AS p_ts, event_id AS p_eid FROM events
      WHERE event_type = 'purchase'
    ),
    first_p AS (
      SELECT user_id, s_ts, s_eid, p_ts, p_eid FROM (
        SELECT s.user_id, s.s_ts, s.s_eid, p.p_ts, p.p_eid,
          ROW_NUMBER() OVER (PARTITION BY s.user_id, s.s_eid
                             ORDER BY p.p_ts, p.p_eid) AS rn
        FROM s JOIN p ON s.user_id = p.user_id
          AND (p.p_ts > s.s_ts OR (p.p_ts = s.s_ts AND p.p_eid > s.s_eid))
      ) WHERE rn = 1
    ),
    within AS (
      SELECT * FROM first_p WHERE p_ts <= s_ts + INTERVAL 1 HOUR
    ),
    clean AS (
      SELECT w.user_id, w.s_ts, w.s_eid, w.p_ts,
        CAST(epoch_us(w.p_ts) - epoch_us(w.s_ts) AS BIGINT) AS gap_us
      FROM within w
      WHERE NOT EXISTS (
        SELECT 1 FROM events e
        WHERE e.user_id = w.user_id AND e.event_type = 'error'
          AND (e.ts > w.s_ts OR (e.ts = w.s_ts AND e.event_id > w.s_eid))
          AND (e.ts < w.p_ts OR (e.ts = w.p_ts AND e.event_id < w.p_eid))
      )
    )
    SELECT user_id, s_ts AS signup_ts, p_ts AS purchase_ts, gap_us
    FROM clean ORDER BY user_id, signup_ts, s_eid
    """,
)
def e27_sequence_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    w_ord = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_next = w_ord.rowsBetween(1, Window.unboundedFollowing)
    err_run = F.sum(
        F.when(F.col("event_type") == "error", 1).otherwise(0)
    ).over(w_ord)
    annotated = e.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        err_run.alias("__err_run"),
    )
    nxt = F.first(
        F.when(
            F.col("event_type") == "purchase",
            F.struct(
                F.col("ts").alias("p_ts"),
                F.col("event_id").alias("p_eid"),
                F.col("__err_run").alias("p_err"),
            ),
        ),
        ignorenulls=True,
    ).over(w_next)
    matched = (
        annotated.withColumn("__next_p", nxt)
        .filter(F.col("event_type") == "signup")
        .filter(F.col("__next_p").isNotNull())
        .filter(
            F.col("__next_p.p_ts")
            <= F.col("ts") + F.expr("INTERVAL 1 HOUR")
        )
        # errors strictly between the two events in the (ts, event_id)
        # order: the purchase's running counter already excludes events
        # after it and the purchase itself is not an error
        .filter(F.col("__next_p.p_err") == F.col("__err_run"))
    )
    return matched.select(
        "user_id",
        F.col("ts").alias("signup_ts"),
        F.col("__next_p.p_ts").alias("purchase_ts"),
        F.timestamp_diff(
            "MICROSECOND", F.col("ts"), F.col("__next_p.p_ts")
        ).alias("gap_us"),
    ).orderBy("user_id", "signup_ts", "event_id")


# ---------------------------------------------------------------------------
# e28 — LINEAR multi-touch attribution: every click in the hour before
# a purchase shares the credit equally (e10 is the last-touch
# counterpart). Pair generation rides the bucketized
# bounded_range_join (never a post-filtered sort-merge); credit is
# EXACT integer micro-cents — value_cents·10⁶·ch_clicks div n_clicks —
# so per-channel totals are fold-order-free BIGINT sums (a float
# credit = value/n summed across purchases would be unhashable
# cross-engine). Purchases with no window clicks credit 'organic' in
# full. Floor division may strand ≤ n−1 micro-cents per purchase —
# the documented rounding residue.
# ---------------------------------------------------------------------------
@register(
    "e28_linear_attribution",
    oracle="""
    WITH clicks AS (
      SELECT user_id, ts AS click_ts,
        'ch' || CAST(CAST(json_extract_string(props, '$.k') AS INT) % 3 AS VARCHAR)
          AS channel
      FROM events WHERE event_type = 'click'
    ),
    purch AS (
      SELECT user_id, ts AS p_ts, event_id AS p_eid,
        CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      FROM events WHERE event_type = 'purchase'
    ),
    pairs AS (
      SELECT p.p_eid, p.cents, c.channel
      FROM purch p JOIN clicks c ON c.user_id = p.user_id
        AND c.click_ts BETWEEN p.p_ts - INTERVAL 1 HOUR AND p.p_ts
    ),
    perch AS (
      SELECT p_eid, cents, channel, CAST(COUNT(*) AS BIGINT) AS ch
      FROM pairs GROUP BY p_eid, cents, channel
    ),
    credit AS (
      SELECT p_eid, channel, ch,
        cents * 1000000 * ch // SUM(ch) OVER (PARTITION BY p_eid)
          AS credit_micros
      FROM perch
    ),
    organic AS (
      SELECT p.p_eid, 'organic' AS channel, CAST(0 AS BIGINT) AS ch,
        p.cents * 1000000 AS credit_micros
      FROM purch p
      WHERE NOT EXISTS (SELECT 1 FROM pairs w WHERE w.p_eid = p.p_eid)
    ),
    allc AS (
      SELECT * FROM credit UNION ALL SELECT * FROM organic
    )
    SELECT channel,
      CAST(COUNT(*) AS BIGINT) AS n_conversions,
      CAST(SUM(ch) AS BIGINT) AS n_touches,
      CAST(SUM(credit_micros) AS BIGINT) AS credit_micros
    FROM allc GROUP BY channel ORDER BY channel
    """,
)
def e28_linear_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from censo_escolar_spark.operators.rangejoin import bounded_range_join

    e = load_table(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("ts").alias("click_ts"),
        F.concat(
            F.lit("ch"),
            (F.get_json_object("props", "$.k").cast("int") % 3).cast("string"),
        ).alias("channel"),
    )
    purch = e.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts").alias("p_ts"),
        F.col("event_id").alias("p_eid"),
        (F.col("value").cast(DEC) * 100).cast("bigint").alias("cents"),
    )
    pairs = bounded_range_join(
        purch, clicks, on="user_id", left_ts="p_ts", right_ts="click_ts",
        lower=-3600.0, upper=0.0,
    ).select("p_eid", "cents", "channel")
    perch = pairs.groupBy("p_eid", "cents", "channel").agg(
        F.count("*").cast("bigint").alias("ch")
    )
    w_p = Window.partitionBy("p_eid")
    credit = perch.select(
        "p_eid",
        "channel",
        "ch",
        F.expr("cents * 1000000 * ch").cast("bigint").alias("__num"),
        F.sum("ch").over(w_p).alias("__n"),
    ).select(
        "p_eid",
        "channel",
        "ch",
        F.expr("__num div __n").cast("bigint").alias("credit_micros"),
    )
    organic = (
        purch.join(pairs.select("p_eid").distinct(), "p_eid", "left_anti")
        .select(
            "p_eid",
            F.lit("organic").alias("channel"),
            F.lit(0).cast("bigint").alias("ch"),
            (F.col("cents") * 1000000).cast("bigint").alias("credit_micros"),
        )
    )
    return (
        credit.unionByName(organic)
        .groupBy("channel")
        .agg(
            F.count("*").cast("bigint").alias("n_conversions"),
            F.sum("ch").cast("bigint").alias("n_touches"),
            F.sum("credit_micros").cast("bigint").alias("credit_micros"),
        )
        .orderBy("channel")
    )


# ---------------------------------------------------------------------------
# e29 — inter-arrival gap statistics: per event type, exact
# interpolating percentiles of the per-user gap between consecutive
# events (the arrival-process health metric behind rate alerting and
# session-gap tuning). One (user, type)-partitioned lag window over
# integer microseconds, one small groupBy per type — the percentile
# runs over gaps, partitioned by the 5-value type key.
# ---------------------------------------------------------------------------
@register(
    "e29_interarrival_gaps",
    oracle="""
    WITH g AS (
      SELECT event_type,
        CAST(epoch_us(ts) - epoch_us(LAG(ts) OVER (
          PARTITION BY user_id, event_type ORDER BY ts, event_id))
          AS BIGINT) AS gap_us
      FROM events
    )
    SELECT event_type,
      CAST(COUNT(gap_us) AS BIGINT) AS n_gaps,
      quantile_cont(gap_us, 0.5) AS p50_gap_us,
      quantile_cont(gap_us, 0.9) AS p90_gap_us,
      CAST(MAX(gap_us) AS BIGINT) AS max_gap_us
    FROM g GROUP BY event_type ORDER BY event_type
    """,
)
def e29_interarrival_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    g = e.select(
        "event_type",
        F.timestamp_diff(
            "MICROSECOND", F.lag("ts").over(w), F.col("ts")
        ).alias("gap_us"),
    )
    return (
        g.groupBy("event_type")
        .agg(
            F.count("gap_us").cast("bigint").alias("n_gaps"),
            F.percentile("gap_us", 0.5).alias("p50_gap_us"),
            F.percentile("gap_us", 0.9).alias("p90_gap_us"),
            F.max("gap_us").cast("bigint").alias("max_gap_us"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# e30 — rolling behavioral diversity: how many DISTINCT event types
# each user exercised in the trailing hour, per event. A distinct-
# count-over-frame is normally a stateful window nightmare (a set per
# frame); with a BOUNDED type domain it collapses to bit_or over a
# per-type bitmask + bit_count — O(1) state per row, exact, and the
# same trick scales to any enum-like domain (status codes, countries).
# One (user)-partitioned RANGE window over event-time seconds.
# ---------------------------------------------------------------------------
@register(
    "e30_rolling_type_diversity",
    oracle="""
    WITH m AS (
      SELECT event_id, user_id, ts,
        epoch_us(ts) // 1000000 AS sec,
        CASE event_type WHEN 'click' THEN 1 WHEN 'error' THEN 2
          WHEN 'purchase' THEN 4 WHEN 'signup' THEN 8 ELSE 16 END AS mask
      FROM events
    )
    SELECT event_id, user_id, ts,
      CAST(bit_count(CAST(bit_or(mask) OVER (
        PARTITION BY user_id ORDER BY sec
        RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW) AS BIGINT)) AS INTEGER)
        AS n_types_1h
    FROM m
    ORDER BY user_id, ts, event_id
    """,
)
def e30_rolling_type_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    mask = (
        F.when(F.col("event_type") == "click", 1)
        .when(F.col("event_type") == "error", 2)
        .when(F.col("event_type") == "purchase", 4)
        .when(F.col("event_type") == "signup", 8)
        .otherwise(16)
    )
    m = e.select(
        "event_id",
        "user_id",
        "ts",
        # FLOOR division (pmod keeps the remainder non-negative), matching
        # DuckDB's `//`; a bare `div` truncates toward zero and would shift
        # the bucket by one second for pre-1970 timestamps.
        F.expr(
            "(unix_micros(CAST(ts AS TIMESTAMP))"
            " - pmod(unix_micros(CAST(ts AS TIMESTAMP)), 1000000))"
            " div 1000000"
        ).alias("sec"),
        mask.alias("mask"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("sec")
        .rangeBetween(-3600, Window.currentRow)
    )
    return m.select(
        "event_id",
        "user_id",
        "ts",
        F.bit_count(F.expr("bit_or(mask)").over(w).cast("bigint"))
        .cast("int")
        .alias("n_types_1h"),
    ).orderBy("user_id", "ts", "event_id")


# ---------------------------------------------------------------------------
# e31 — growth accounting: per activity day, how many active users are
# NEW (first day ever), RETAINED (also active the previous day),
# RESURRECTED (active before, but not yesterday) — plus yesterday's
# CHURN (active yesterday, absent today). The canonical product-growth
# decomposition (new + retained + resurrected = DAU). One distinct
# user-day rollup, one user-partitioned lag window, one day groupBy —
# churn derives from the same lead per user-day, so the fact table is
# scanned once and nothing joins day-to-day.
# ---------------------------------------------------------------------------
@register(
    "e31_growth_accounting",
    oracle="""
    WITH ud AS (
      SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
      FROM events
    ),
    seq AS (
      SELECT user_id, day,
        LAG(day) OVER (PARTITION BY user_id ORDER BY day) AS prev_day,
        LEAD(day) OVER (PARTITION BY user_id ORDER BY day) AS next_day
      FROM ud
    ),
    flags AS (
      SELECT CAST(day AS TIMESTAMP) AS day,
        CAST(COUNT(*) AS BIGINT) AS dau,
        CAST(COUNT(*) FILTER (WHERE prev_day IS NULL) AS BIGINT) AS new_users,
        CAST(COUNT(*) FILTER (WHERE prev_day = day - 1) AS BIGINT) AS retained,
        CAST(COUNT(*) FILTER (WHERE prev_day IS NOT NULL
                              AND prev_day < day - 1) AS BIGINT) AS resurrected,
        CAST(COUNT(*) FILTER (WHERE next_day IS NULL OR next_day > day + 1)
             AS BIGINT) AS churned_after
      FROM seq GROUP BY day
    )
    SELECT * FROM flags ORDER BY day
    """,
)
def e31_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    ud = e.select(
        "user_id", F.date_trunc("day", "ts").cast("date").alias("day")
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    seq = ud.select(
        "user_id",
        "day",
        F.lag("day").over(w).alias("prev_day"),
        F.lead("day").over(w).alias("next_day"),
    )
    one_day = F.expr("INTERVAL 1 DAY")
    return (
        seq.groupBy(F.col("day").cast("timestamp").alias("day"))
        .agg(
            F.count("*").cast("bigint").alias("dau"),
            F.count(F.when(F.col("prev_day").isNull(), 1))
            .cast("bigint")
            .alias("new_users"),
            F.count(F.when(F.col("prev_day") == F.date_sub("day", 1), 1))
            .cast("bigint")
            .alias("retained"),
            F.count(
                F.when(
                    F.col("prev_day").isNotNull()
                    & (F.col("prev_day") < F.date_sub("day", 1)),
                    1,
                )
            )
            .cast("bigint")
            .alias("resurrected"),
            F.count(
                F.when(
                    F.col("next_day").isNull()
                    | (F.col("next_day") > F.date_add("day", 1)),
                    1,
                )
            )
            .cast("bigint")
            .alias("churned_after"),
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# e32 — debounced alerting: a user raises an alert only after >= 3
# CONSECUTIVE events above the value threshold (single spikes are
# noise; flapping must not page). Classic gaps-and-islands: the
# above-threshold runs come from the two-row_number island key over
# ONE user partitioning; each qualifying run emits one alert interval
# with its exact integer duration. No self-join, no state machine —
# per-row state is two counters.
# ---------------------------------------------------------------------------
@register(
    "e32_debounced_alerts",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id, value > 100 AS hot,
        ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id)
          - ROW_NUMBER() OVER (PARTITION BY user_id, value > 100
                               ORDER BY ts, event_id) AS island
      FROM events WHERE value IS NOT NULL
    )
    SELECT user_id,
      MIN(ts) AS alert_start,
      MAX(ts) AS alert_end,
      CAST(COUNT(*) AS BIGINT) AS n_events,
      CAST(epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS BIGINT) AS duration_us
    FROM flagged
    WHERE hot
    GROUP BY user_id, island
    HAVING COUNT(*) >= 3
    ORDER BY user_id, alert_start
    """,
)
def e32_debounced_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    base = e.select(
        "user_id", "ts", "event_id", (F.col("value") > 100).alias("hot")
    )
    w_all = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_flag = Window.partitionBy("user_id", "hot").orderBy("ts", "event_id")
    flagged = base.select(
        "user_id",
        "ts",
        "event_id",
        "hot",
        (F.row_number().over(w_all) - F.row_number().over(w_flag)).alias(
            "island"
        ),
    )
    return (
        flagged.filter(F.col("hot"))
        .groupBy("user_id", "island")
        .agg(
            F.min("ts").alias("alert_start"),
            F.max("ts").alias("alert_end"),
            F.count("*").cast("bigint").alias("n_events"),
            F.timestamp_diff("MICROSECOND", F.min("ts"), F.max("ts"))
            .cast("bigint")
            .alias("duration_us"),
        )
        .filter(F.col("n_events") >= 3)
        .drop("island")
        .orderBy("user_id", "alert_start")
    )


# ---------------------------------------------------------------------------
# e33 — streaming SCD2 maintenance parity: the events table arrives as
# three TIME-ORDERED micro-batches (Jan 1-10, 11-20, 21-31 — a stream's
# arrival order) through the streaming maintainer's foreachBatch body
# (streaming/scd2.py::apply_scd2_batch — per-batch local run build +
# stitch into the versioned snapshot, history never rescanned), and the
# FINAL snapshot is returned. The oracle is the FULL BATCH RECOMPUTE
# (e15's SQL verbatim): the whole parity claim is that incremental
# stitching over any time-ordered batch split reproduces the one-shot
# build bit-for-bit — runs fused across batch boundaries, counts
# carried, run ids re-based. Streaming upkeep under the hash gate.
# ---------------------------------------------------------------------------
@register(
    "e33_streaming_scd2_parity",
    oracle="""
    WITH marked AS (
      SELECT user_id, event_type, ts, event_id,
        CASE WHEN event_type IS DISTINCT FROM
          LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        THEN 1 ELSE 0 END AS chg
      FROM events
    ),
    runs AS (
      SELECT user_id, event_type, ts,
        SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS UNBOUNDED PRECEDING) AS run_id
      FROM marked
    ),
    collapsed AS (
      SELECT user_id, CAST(run_id AS BIGINT) AS run_id,
        event_type AS state, MIN(ts) AS valid_from,
        CAST(COUNT(*) AS BIGINT) AS n_events
      FROM runs GROUP BY user_id, run_id, event_type
    )
    SELECT user_id, run_id, state, valid_from,
      LEAD(valid_from) OVER (PARTITION BY user_id ORDER BY run_id)
        AS valid_to,
      CASE WHEN LEAD(valid_from) OVER (PARTITION BY user_id ORDER BY run_id)
        IS NULL THEN TRUE ELSE FALSE END AS is_current,
      n_events
    FROM collapsed
    ORDER BY user_id, run_id
    """,
)
def e33_streaming_scd2_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from censo_escolar_spark.plans.fixtures import (
        PARITY_SHUFFLE,
        scd2_store_base,
    )
    from censo_escolar_spark.streaming import (
        clone_state,
        detach_from_state,
        state_shuffle,
    )
    from censo_escolar_spark.streaming.scd2 import (
        apply_scd2_batch,
        read_scd2_state,
    )

    e = load_table(spark, sf_dir, "events")
    hi = F.lit("2024-01-21").cast("timestamp")
    # batches 1-2 come from the shared family base (the d19/s30 fixture
    # discipline); the third increment and the snapshot read run live
    # on a private clone
    state = clone_state(scd2_store_base(spark, sf_dir), prefix="e33_scd2_state_")
    try:
        with state_shuffle(spark, PARITY_SHUFFLE):
            apply_scd2_batch(e.filter(F.col("ts") >= hi), 3, state_dir=state)
            out = read_scd2_state(spark, state).orderBy("user_id", "run_id")
            return detach_from_state(out, state)
    finally:
        shutil.rmtree(state, ignore_errors=True)


# ---------------------------------------------------------------------------
# e35 — late-event (watermark) audit: per source partition (event_type
# here — each type models a stream partition carrying its own
# watermark front), how far events arrive behind the running
# event-time front, in ARRIVAL order (event_id — the generator's
# arrival sequence). The watermark-tuning diagnostic: the lateness
# histogram tells you what `withWatermark` delay actually drops.
# Lateness is an exact MICROSECOND integer against the running-max
# front (one type-partitioned window); every bucket is an integer
# count; late_frac is one final IEEE division.
# ---------------------------------------------------------------------------
@register(
    "e35_late_event_audit",
    oracle="""
    WITH fronted AS (
      SELECT event_type, ts, event_id,
        MAX(ts) OVER (PARTITION BY event_type ORDER BY event_id
                      ROWS UNBOUNDED PRECEDING) AS front
      FROM events
    ),
    lat AS (
      SELECT event_type,
        date_diff('microsecond', ts, front) AS late_us
      FROM fronted
    )
    SELECT event_type,
      CAST(COUNT(*) AS BIGINT) AS n_events,
      CAST(SUM(CASE WHEN late_us > 10000000 THEN 1 ELSE 0 END) AS BIGINT)
        AS n_late_10s,
      CAST(SUM(CASE WHEN late_us > 60000000 THEN 1 ELSE 0 END) AS BIGINT)
        AS n_late_60s,
      CAST(SUM(CASE WHEN late_us > 600000000 THEN 1 ELSE 0 END) AS BIGINT)
        AS n_late_600s,
      CAST(MAX(late_us) AS BIGINT) AS max_late_us,
      CAST(SUM(CASE WHEN late_us > 10000000 THEN 1 ELSE 0 END) AS DOUBLE)
        / COUNT(*) AS late_frac_10s
    FROM lat GROUP BY event_type ORDER BY event_type
    """,
)
def e35_late_event_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("event_type")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    front = F.max("ts").over(w)
    fronted = e.select(
        "event_type",
        F.timestamp_diff("MICROSECOND", F.col("ts"), front).alias("late_us"),
    )
    late10 = F.when(F.col("late_us") > 10_000_000, 1).otherwise(0)
    return (
        fronted.groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.sum(late10).cast("bigint").alias("n_late_10s"),
            F.sum(F.when(F.col("late_us") > 60_000_000, 1).otherwise(0))
            .cast("bigint")
            .alias("n_late_60s"),
            F.sum(F.when(F.col("late_us") > 600_000_000, 1).otherwise(0))
            .cast("bigint")
            .alias("n_late_600s"),
            F.max("late_us").cast("bigint").alias("max_late_us"),
            (F.sum(late10).cast("double") / F.count("*")).alias(
                "late_frac_10s"
            ),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# e36 — streaming corpus-stats maintenance parity: the documents table
# arrives as three micro-batches (doc_id % 3 — arbitrary arrival
# slicing; the stats are order-independent sums), each folded into the
# per-(lang, source) aggregate state through the streaming maintainer's
# foreachBatch body (streaming/stats.py::apply_stats_batch — batch
# pre-aggregation, then prior+partial addition over ONLY the touched
# key-hash buckets of the versioned store). The oracle is the full
# batch recompute: the parity claim is that additive maintenance over
# any batch split reproduces the one-shot aggregate exactly — trivially
# bit-exact because every maintained column is a BIGINT count (the
# quality_keep predicate is t06's SQL restatement). Streaming upkeep
# under the hash gate, third state shape (accumulate) after MERGE
# (q72) and SCD2 (e33).
# ---------------------------------------------------------------------------
@register(
    "e36_streaming_stats_parity",
    oracle="""
    WITH scored AS (
      SELECT lang, source,
        len(string_split(text, ' ')) AS n_tok,
        length(text) AS n_ch,
        (length(text) - (len(string_split(text, ' ')) - 1)) * 1.0
          / len(string_split(text, ' ')) AS avg_len,
        (length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))) * 1.0
          / length(text) AS dig_ratio
      FROM documents
    )
    SELECT lang, source,
      CAST(COUNT(*) AS BIGINT) AS n_docs,
      CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
      CAST(SUM(n_ch) AS BIGINT) AS n_chars,
      CAST(SUM(CASE WHEN n_tok >= 10 AND dig_ratio <= 0.3 AND avg_len >= 2.0
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
    FROM scored GROUP BY lang, source ORDER BY lang, source
    """,
)
def e36_streaming_stats_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Store construction: the three %3 increments through the stats
    # maintainer's batch body, built once as the process-shared fixture
    # (plans/fixtures.stats_store_base; e49 probes its version
    # horizons). This row reads the live snapshot.
    from censo_escolar_spark.plans.fixtures import stats_store_base
    from censo_escolar_spark.streaming import detach
    from censo_escolar_spark.streaming.stats import read_stats_state

    store = stats_store_base(spark, sf_dir)
    out = (
        read_stats_state(spark, store)
        .select("lang", "source", "n_docs", "n_tokens", "n_chars", "n_kept")
        .orderBy("lang", "source")
    )
    return detach(out)


# ---------------------------------------------------------------------------
# e49 — SNAPSHOT (time-travel) reads of the maintained stats store: the
# d25/t44/s29/q75/m16 audit on the LAST versioned-store shape (the
# bucketstate additive-aggregate store). The store is naturally
# versioned — each micro-batch writes its touched buckets under its own
# version — so `read_stats_state(below=k)` resolves the aggregate
# exactly as it stood after batch k-1: "what did the corpus stats say
# before today's crawl?". Horizons: below=2 (first increment only),
# below=3 (two increments), live. The oracle recomputes each truncated
# prefix from scratch; parity is bit-exact because every maintained
# column is a BIGINT count, so prefix-additivity has no float ordering.
# ---------------------------------------------------------------------------
@register(
    "e49_stats_snapshot_read",
    oracle="""
    WITH scored AS (
      SELECT doc_id, lang, source,
        len(string_split(text, ' ')) AS n_tok,
        length(text) AS n_ch,
        (length(text) - (len(string_split(text, ' ')) - 1)) * 1.0
          / len(string_split(text, ' ')) AS avg_len,
        (length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))) * 1.0
          / length(text) AS dig_ratio
      FROM documents
    ),
    snap(s) AS (VALUES (1), (2), (3))
    SELECT CAST(snap.s AS INTEGER) AS snapshot, lang, source,
      CAST(COUNT(*) AS BIGINT) AS n_docs,
      CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
      CAST(SUM(n_ch) AS BIGINT) AS n_chars,
      CAST(SUM(CASE WHEN n_tok >= 10 AND dig_ratio <= 0.3 AND avg_len >= 2.0
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
    FROM scored, snap
    WHERE doc_id % 3 < snap.s
    GROUP BY snap.s, lang, source
    ORDER BY snapshot, lang, source
    """,
)
def e49_stats_snapshot_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    from censo_escolar_spark.plans.fixtures import stats_store_base
    from censo_escolar_spark.streaming import detach
    from censo_escolar_spark.streaming.stats import read_stats_state

    store = stats_store_base(spark, sf_dir)

    def probe(snap: int, below) -> DataFrame:
        return read_stats_state(spark, store, below=below).select(
            F.lit(snap).cast("int").alias("snapshot"),
            "lang",
            "source",
            "n_docs",
            "n_tokens",
            "n_chars",
            "n_kept",
        )

    out = (
        probe(1, 2)
        .unionByName(probe(2, 3))
        .unionByName(probe(3, None))
        .orderBy("snapshot", "lang", "source")
    )
    return detach(out)


# ---------------------------------------------------------------------------
# e37 — streaming session-window parity: the REAL Structured Streaming
# sessionize pipeline (readStream file source sliced into 3 micro-
# batches via maxFilesPerTrigger=1 → WATERMARKED session_window
# aggregation → foreachBatch snapshot sink in complete mode) must
# reproduce the one-shot batch sessionization exactly — the oracle is
# e03's gaps-and-islands full recompute verbatim. The source files are
# TIME-RANGE slices written sequentially (ascending modification times →
# in-order arrival), so no row is ever late, exactly like a healthy
# production stream; complete mode keeps session state across batches
# (and, pinned empirically in round 8, does NOT filter late input — the
# drop semantics live in append/update mode and are oracle-gated by
# e38), so boundary-spanning sessions merge and the final snapshot is
# the converged session set. Every aggregate is a count or an exact
# per-event decimal sum, so the result is bit-identical to the batch
# recompute. This gates the streaming module's session path the way
# e36/q72/e33 gate the stats/MERGE/SCD2 maintainers.
# ---------------------------------------------------------------------------
@register(
    "e37_streaming_sessions_parity",
    oracle="""
    WITH marked AS (
      SELECT user_id, ts, value,
        CASE WHEN lag(ts) OVER w IS NULL
               OR ts - lag(ts) OVER w >= INTERVAL '30 minutes'
             THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
      SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, value
                                  ROWS UNBOUNDED PRECEDING) AS session_id
      FROM marked
    )
    SELECT user_id,
      MIN(ts) AS session_start,
      MAX(ts) + INTERVAL '30 minutes' AS session_end,
      COUNT(*) AS n_events,
      CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM sess
    GROUP BY user_id, session_id
    ORDER BY user_id, session_start
    """,
)
def e37_streaming_sessions_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    import posixpath
    import shutil
    import tempfile

    from censo_escolar_spark.streaming import (
        deploy_slices,
        detach_from_state,
        shared_slices,
        slice_dir,
        state_shuffle,
    )
    from censo_escolar_spark.streaming.windows import sessionize

    # three time-range slices, replayed IN EVENT-TIME ORDER so the file
    # source never drops a row as late (random slicing would make later
    # batches fall below the watermark — in any output mode). Unlike the
    # thirds caches, sessions keep the RAW (non-truncated) timestamps:
    # session boundaries are sub-second-sensitive.
    def build(root: str):
        # withWatermark requires TIMESTAMP (event time must be an
        # instant); parquet loads ts as TIMESTAMP_NTZ — cast to LTZ for
        # the stream and back to NTZ on output: both casts use the same
        # session timezone, so the round trip is the identity on
        # wall-clock values.
        e = load_table(spark, sf_dir, "events").withColumn(
            "ts", F.col("ts").cast("timestamp")
        )
        b = e.agg(F.min("ts").alias("lo"), F.max("ts").alias("hi")).first()
        if b["lo"] is None:
            return "EMPTY"
        span = (b["hi"] - b["lo"]) / 3
        cut1, cut2 = b["lo"] + span, b["lo"] + 2 * span
        cuts = ((None, cut1), (cut1, cut2), (cut2, None))
        for i, (lo, hi) in enumerate(cuts):
            s = e
            if lo is not None:
                s = s.filter(F.col("ts") >= F.lit(lo))
            if hi is not None:
                s = s.filter(F.col("ts") < F.lit(hi))
            s.coalesce(1).write.parquet(slice_dir(root, i))
        return "OK"

    cache, meta = shared_slices("sessions_raw3", sf_dir, build)
    if meta == "EMPTY":  # empty stream: no sessions, schema-stable
        return spark.createDataFrame(
            [],
            "user_id bigint, session_start timestamp_ntz,"
            " session_end timestamp_ntz, n_events bigint,"
            " total_value double",
        )
    root = tempfile.mkdtemp(prefix="e37_sessions_")
    src, ckpt, out = (posixpath.join(root, d) for d in ("src", "ckpt", "out"))
    try:
        deploy_slices(cache, src)
        stream = (
            spark.readStream.schema(spark.read.parquet(src).schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        sessions = sessionize(stream, gap="30 minutes", watermark="30 minutes")
        with state_shuffle(spark):
            q = (
                sessions.writeStream.foreachBatch(
                    lambda bdf, bid: bdf.write.mode("overwrite").parquet(out)
                )
                .outputMode("complete")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        res = (
            spark.read.parquet(out)
            .select(
                "user_id",
                F.col("session_start").cast("timestamp_ntz").alias("session_start"),
                F.col("session_end").cast("timestamp_ntz").alias("session_end"),
                "n_events",
                "total_value",
            )
            .orderBy("user_id", "session_start")
        )
        return detach_from_state(res, root)
    finally:
        shutil.rmtree(root, ignore_errors=True)


# ---------------------------------------------------------------------------
# e38 — streaming LATE-DATA DROP parity: the one watermark behavior a
# real stream exercises daily that in-order parity rows (e37, d19, m12,
# q72/q73, e33, e36) never fire. A deterministic subset of the oldest
# third of the events table (event_id % 7 == 0) is HELD BACK and
# re-injected with the third micro-batch; the engine must provably DROP
# (some of) them, and the oracle models the drop declaratively.
#
# Semantics pinned empirically against this Spark build (streaming
# windowed aggregation, file source, maxFilesPerTrigger=1, availableNow;
# UTC session — epoch-aligned windows):
#   wm_evict(N) = max event time over batches < N, minus delay (0 init);
#   wm_late(N)  = wm_evict(N-1) — the front LAGS one extra batch for
#     late-input filtering (SPARK-40925 split), so the third file's
#     late filter is max(FIRST file) - delay;
#   batch N DROPS input rows with window_end <= wm_late(N)
#     (<= boundary verified: an end == wm_late row is dropped — in both
#     append and update mode);
#   APPEND: end of batch N emits+evicts windows with window_end <=
#     wm_evict(N); a trailing no-data batch emits what the final front
#     passes. UPDATE: every changed window emits each batch, including
#     still-open tail windows; state for passed windows is cleaned on
#     the same front.
# With batches sliced at c1/c2 (span thirds) and delay = span/6, only
# held rows can be late: wm_late(3) = max(batch-1 ts) - delay lands
# INSIDE the held range [lo, c1), so the older held rows are dropped
# and the newer ones survive and merge — the boundary itself is
# exercised, not just "late => gone". (Emitted-at-end-of-batch-1 /
# state-cleaned-at-batch-1 and dropped-in-batch-2 use the SAME front,
# so a surviving held row can never chase a closed window in either
# mode.) All cut/delay arithmetic is integer seconds on second-
# truncated timestamps, identical expressions both sides, so the
# parity is exact. e38 gates APPEND mode (emission front modeled by the
# HAVING); e39 gates UPDATE mode (no emission cut — tail windows
# included). tests/test_streaming.py additionally asserts dropped rows
# stay absent across a mid-stream failure + checkpoint retry.
# ---------------------------------------------------------------------------

#: Shared e38/e39 oracle CTEs: second-truncated events, integer cuts,
#: the held flag, the (NULL-safe) lagged late front, and the kept rows.
#: COALESCE(front, 0): when the first slice carries no non-held rows
#: the engine's watermark is still the epoch-0 initial value and drops
#: nothing — the oracle must not let a NULL front filter every held row.
_LATE_DROP_CTES = """
    WITH e AS (
      SELECT event_id, event_type, date_trunc('second', ts) AS ts,
        CAST(value AS DECIMAL(18,2)) AS val
      FROM events
    ),
    p AS (
      SELECT
        epoch_ms(min(ts)) // 1000 AS lo,
        epoch_ms(max(ts)) // 1000 AS hi,
        epoch_ms(min(ts)) // 1000
          + (epoch_ms(max(ts)) // 1000 - epoch_ms(min(ts)) // 1000) // 3 AS c1,
        (epoch_ms(max(ts)) // 1000 - epoch_ms(min(ts)) // 1000) // 6 AS dly
      FROM e
    ),
    tagged AS (
      SELECT e.event_type, e.val,
        epoch_ms(e.ts) // 1000 AS tss,
        (e.event_id % 7 = 0 AND epoch_ms(e.ts) // 1000 < p.c1) AS held,
        p.c1, p.hi, p.dly
      FROM e, p
    ),
    fronts AS (
      SELECT
        COALESCE(
          max(CASE WHEN NOT held AND tss < c1 THEN tss END)
            - any_value(dly),
          0
        ) AS wm_late3,
        any_value(hi) - any_value(dly) AS fw
      FROM tagged
    ),
    kept AS (
      SELECT t.event_type, t.val, (t.tss // 3600) * 3600 AS ws
      FROM tagged t, fronts f
      WHERE NOT (t.held AND (t.tss // 3600) * 3600 + 3600 <= f.wm_late3)
    )
"""

_LATE_DROP_OUT_SCHEMA = (
    "window_start timestamp_ntz, event_type string,"
    " n_events bigint, total_value double"
)


def _late_drop_slices(spark: SparkSession, sf_dir: str):
    """Build-once (per process, per sf_dir) held-back arrival slices
    shared by e38/e39: three time-range thirds of ``events``, with every
    7th event of the oldest third HELD and re-injected with the newest
    (arriving after the watermark passed its window). Returns the
    ``shared_slices`` cache root and the watermark delay seconds (or
    ``"EMPTY"`` for an empty events table)."""
    from censo_escolar_spark.streaming import shared_slices, slice_dir

    def build(root: str):
        e = load_table(spark, sf_dir, "events").select(
            "event_id",
            "event_type",
            # second-truncated LTZ event time: integer-second
            # watermark/cut arithmetic, no ms-truncation hazard at the
            # drop boundaries (Spark tracks the event-time front in ms)
            F.date_trunc("second", F.col("ts").cast("timestamp")).alias("ts"),
            "value",
        )
        b = e.agg(F.min("ts").alias("lo"), F.max("ts").alias("hi")).first()
        if b["lo"] is None:
            return "EMPTY"
        lo_s = int(b["lo"].timestamp())
        hi_s = int(b["hi"].timestamp())
        span = hi_s - lo_s
        c1 = lo_s + span // 3
        c2 = lo_s + (2 * span) // 3
        t = F.unix_timestamp("ts")
        held = (F.col("event_id") % 7 == 0) & (t < c1)
        slices = (
            e.filter((t < c1) & ~held),  # batch 1: oldest third minus held
            e.filter((t >= c1) & (t < c2)),  # batch 2: middle third
            e.filter((t >= c2) | held),  # batch 3: newest third + LATE held
        )
        for i, s in enumerate(slices):
            s.coalesce(1).write.parquet(slice_dir(root, i))
        return span // 6

    return shared_slices("latedrop", sf_dir, build)


def _late_drop_stream(spark: SparkSession, sf_dir: str, src: str):
    """Shared e38/e39 arrival construction: deploy the cached slices to
    ``src`` with pinned strictly-increasing mtimes (in-order
    micro-batches, the held-back subset re-injected with the third) and
    return the watermarked 1-hour windowed aggregation over the
    file-source stream. None when the events table is empty."""
    from censo_escolar_spark.streaming import deploy_slices

    root, delay = _late_drop_slices(spark, sf_dir)
    if delay == "EMPTY":
        return None
    deploy_slices(root, src)
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    return (
        stream.withWatermark("ts", f"{delay} seconds")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast(DEC)).cast("double").alias(
                "total_value"
            ),
        )
    )


def _events_thirds_projection(spark: SparkSession, sf_dir: str):
    """Common projection for the two-source / restart parity rows:
    second-truncated LTZ event time plus every column any of them
    filters or aggregates on (the join rows split by event_id parity
    POST-readStream, so the slices carry both sides)."""
    return load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        F.date_trunc("second", F.col("ts").cast("timestamp")).alias("ts"),
        "value",
    )


def _thirds_slices(spark: SparkSession, sf_dir: str, key: str, held_pred):
    """Shared builder for the time-range-thirds arrival constructions:
    ``held_pred(event_id_col, t_col, c1)`` selects rows of the oldest
    third to HOLD and re-inject with the newest slice (None for fully
    in-order arrival). meta = (delay, upper) watermark/interval seconds
    derived from the event-time span, or "EMPTY"."""
    from censo_escolar_spark.streaming import shared_slices, slice_dir

    def build(root: str):
        e = _events_thirds_projection(spark, sf_dir)
        b = e.agg(F.min("ts").alias("lo"), F.max("ts").alias("hi")).first()
        if b["lo"] is None:
            return "EMPTY"
        lo_s, hi_s = int(b["lo"].timestamp()), int(b["hi"].timestamp())
        span = hi_s - lo_s
        c1, c2 = lo_s + span // 3, lo_s + (2 * span) // 3
        t = F.unix_timestamp("ts")
        held = F.lit(False) if held_pred is None else held_pred(
            F.col("event_id"), t, c1
        )
        slices = (
            e.filter((t < c1) & ~held),
            e.filter((t >= c1) & (t < c2)),
            e.filter((t >= c2) | held),
        )
        for i, s in enumerate(slices):
            s.coalesce(1).write.parquet(slice_dir(root, i))
        return (span // 6, span // 100)

    return shared_slices(key, sf_dir, build)


def _inorder_slices(spark: SparkSession, sf_dir: str):
    """Fully in-order thirds — shared by e40 (phased restart arrival)
    and e42 (outer-join emission, both sides in order)."""
    return _thirds_slices(spark, sf_dir, "inorder3", None)


def _join_held_slices(spark: SparkSession, sf_dir: str):
    """e41's arrival: every 7th LEFT-side (even event_id) row of the
    oldest third arrives late, with the newest slice; the right side
    stays in order."""
    return _thirds_slices(
        spark,
        sf_dir,
        "join_held3",
        lambda eid, t, c1: (eid % 2 == 0) & (eid % 7 == 0) & (t < c1),
    )


def _two_source_interval_join(
    spark: SparkSession, src: str, delay: int, up: int, how: str
) -> DataFrame:
    """The e41/e42 streaming plan: two watermarked streams — even
    event_ids as the left, odd as the right — read off the SAME pinned
    slice directory (each file source lists the same files in the same
    mtime order, so per-side batch contents match the former two-dir
    layout exactly), interval-joined on user_id within ±``up`` seconds."""
    schema = spark.read.parquet(src).schema
    base = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    l_stream = (
        base.filter(F.col("event_id") % 2 == 0)
        .select(
            F.col("ts").alias("l_ts"),
            F.col("user_id").alias("l_uid"),
            F.col("event_type").alias("l_type"),
            F.col("value").alias("l_val"),
        )
        .withWatermark("l_ts", f"{delay} seconds")
    )
    r_stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .filter(F.col("event_id") % 2 == 1)
        .select(
            F.col("ts").alias("r_ts"),
            F.col("user_id").alias("r_uid"),
            F.col("value").alias("r_val"),
        )
        .withWatermark("r_ts", f"{delay} seconds")
    )
    return l_stream.join(
        r_stream,
        (F.col("l_uid") == F.col("r_uid"))
        & (F.col("r_ts") >= F.col("l_ts") - F.expr(f"interval {up} seconds"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr(f"interval {up} seconds")),
        how,
    ).select("l_type", "l_val", "r_val")


@register(
    "e38_streaming_late_drop_parity",
    oracle=_LATE_DROP_CTES
    + """
    SELECT make_timestamp(ws * 1000000) AS window_start,
      event_type,
      CAST(COUNT(*) AS BIGINT) AS n_events,
      CAST(SUM(val) AS DOUBLE) AS total_value
    FROM kept, fronts f
    GROUP BY ws, event_type, f.fw
    HAVING ws + 3600 <= f.fw
    ORDER BY window_start, event_type
    """,
)
def e38_streaming_late_drop_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    import posixpath
    import shutil
    import tempfile

    from censo_escolar_spark.streaming import detach_from_state, state_shuffle

    root = tempfile.mkdtemp(prefix="e38_latedrop_")
    src, ckpt, out = (posixpath.join(root, d) for d in ("src", "ckpt", "out"))
    try:
        agg = _late_drop_stream(spark, sf_dir, src)
        if agg is None:  # empty stream: no windows, schema-stable
            return spark.createDataFrame([], _LATE_DROP_OUT_SCHEMA)
        with state_shuffle(spark):
            q = (
                agg.writeStream.format("parquet")
                .option("path", out)
                # emission gated on the eviction front
                .outputMode("append")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        res = (
            spark.read.schema(
                "w struct<start:timestamp,end:timestamp>,"
                " event_type string, n_events bigint, total_value double"
            )
            .parquet(out)
            .select(
                F.col("w.start").cast("timestamp_ntz").alias("window_start"),
                "event_type",
                "n_events",
                "total_value",
            )
            .orderBy("window_start", "event_type")
        )
        return detach_from_state(res, root)
    finally:
        shutil.rmtree(root, ignore_errors=True)


# ---------------------------------------------------------------------------
# e39 — the same held-back arrival construction in UPDATE mode (the
# other output mode a real maintained dashboard runs): identical lagged
# late front, but update mode emits every CHANGED window per batch —
# including still-open tail windows — into the exactly-once foreachBatch
# sink (per-batch-id dynamic partition overwrite). The final snapshot is
# the last emitted row per window; cumulative aggregates make that the
# full aggregation over kept rows, so the oracle is e38's without the
# emission HAVING.
# ---------------------------------------------------------------------------
@register(
    "e39_streaming_update_mode_parity",
    oracle=_LATE_DROP_CTES
    + """
    SELECT make_timestamp(ws * 1000000) AS window_start,
      event_type,
      CAST(COUNT(*) AS BIGINT) AS n_events,
      CAST(SUM(val) AS DOUBLE) AS total_value
    FROM kept
    GROUP BY ws, event_type
    ORDER BY window_start, event_type
    """,
)
def e39_streaming_update_mode_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    import posixpath
    import shutil
    import tempfile

    from censo_escolar_spark.streaming import detach_from_state, state_shuffle

    root = tempfile.mkdtemp(prefix="e39_update_")
    src, ckpt, out = (posixpath.join(root, d) for d in ("src", "ckpt", "out"))
    try:
        agg = _late_drop_stream(spark, sf_dir, src)
        if agg is None:
            return spark.createDataFrame([], _LATE_DROP_OUT_SCHEMA)

        def sink(bdf: DataFrame, bid: int) -> None:
            (
                bdf.withColumn("__batch_id", F.lit(bid))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("__batch_id")
                .parquet(out)
            )

        with state_shuffle(spark):
            q = (
                agg.writeStream.foreachBatch(sink)
                .outputMode("update")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        rows = spark.read.schema(
            "w struct<start:timestamp,end:timestamp>, event_type string,"
            " n_events bigint, total_value double, __batch_id int"
        ).parquet(out)
        res = (
            rows.groupBy(
                F.col("w.start").cast("timestamp_ntz").alias("window_start"),
                "event_type",
            )
            .agg(
                F.max_by(
                    F.struct("n_events", "total_value"), F.col("__batch_id")
                ).alias("s")
            )
            .select(
                "window_start",
                "event_type",
                F.col("s.n_events").alias("n_events"),
                F.col("s.total_value").alias("total_value"),
            )
            .orderBy("window_start", "event_type")
        )
        return detach_from_state(res, root)
    finally:
        shutil.rmtree(root, ignore_errors=True)


# ---------------------------------------------------------------------------
# e40 — restart-from-checkpoint parity: the recovery behavior every
# production stream exercises on deploys and crashes, and the one the
# in-order (e37, d19) and late-drop (e38/e39) rows never fire — a
# COLD RESTART.  Phase A runs the update-mode windowed aggregation over
# the first two time slices and terminates; phase B writes the third
# slice and starts a BRAND-NEW streaming query over the SAME
# checkpoint.  Recovery must restore both the OFFSET LOG (the new query
# processes only the new file — a re-read of files 1–2 would
# double-count every spanning window, because the restored state
# already holds their rows) and the STATE STORE (losing it would
# undercount spanning windows).  The final snapshot (last emitted row
# per window across both query incarnations, the e39 fold) must equal
# the one-shot recompute; arrival stays in-order so the watermark never
# drops a row and the parity isolates recovery itself.  Batch-id
# continuity and new-file-only input are additionally asserted in
# tests/test_streaming.py.
# ---------------------------------------------------------------------------
@register(
    "e40_streaming_restart_parity",
    oracle="""
    WITH e AS (
      SELECT event_type, date_trunc('second', ts) AS ts,
        CAST(value AS DECIMAL(18,2)) AS val
      FROM events
    )
    SELECT
      make_timestamp(((epoch_ms(ts) // 1000) // 3600) * 3600 * 1000000)
        AS window_start,
      event_type,
      CAST(COUNT(*) AS BIGINT) AS n_events,
      CAST(SUM(val) AS DOUBLE) AS total_value
    FROM e
    GROUP BY 1, 2
    ORDER BY window_start, event_type
    """,
)
def e40_streaming_restart_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    import posixpath
    import shutil
    import tempfile

    from censo_escolar_spark.streaming import (
        deploy_slices,
        detach_from_state,
        state_shuffle,
    )

    cache, meta = _inorder_slices(spark, sf_dir)
    if meta == "EMPTY":
        return spark.createDataFrame([], _LATE_DROP_OUT_SCHEMA)
    delay, _up = meta

    root = tempfile.mkdtemp(prefix="e40_restart_")
    src, ckpt, out = (posixpath.join(root, d) for d in ("src", "ckpt", "out"))
    try:

        def run_incarnation() -> None:
            """One streaming-query incarnation over whatever is newly
            available in ``src``, recovering offsets + state from the
            shared checkpoint."""
            stream = (
                spark.readStream.schema(spark.read.parquet(src).schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(src)
            )
            agg = (
                stream.withWatermark("ts", f"{delay} seconds")
                .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
                .agg(
                    F.count("*").alias("n_events"),
                    F.sum(F.col("value").cast(DEC)).cast("double").alias(
                        "total_value"
                    ),
                )
            )

            def sink(bdf: DataFrame, bid: int) -> None:
                (
                    bdf.withColumn("__batch_id", F.lit(bid))
                    .write.mode("overwrite")
                    .option("partitionOverwriteMode", "dynamic")
                    .partitionBy("__batch_id")
                    .parquet(out)
                )

            # state_shuffle wraps BOTH incarnations: the partition
            # count is frozen into the checkpoint at first start, and
            # recovery must see the same value.
            with state_shuffle(spark):
                q = (
                    agg.writeStream.foreachBatch(sink)
                    .outputMode("update")
                    .option("checkpointLocation", ckpt)
                    .trigger(availableNow=True)
                    .start()
                )
                q.awaitTermination()

        # phase A: first two in-order slices, first query incarnation
        deploy_slices(cache, src, which=(0, 1))
        run_incarnation()
        # phase B: third slice arrives AFTER the first incarnation died;
        # a brand-new query recovers offsets + window state and resumes
        deploy_slices(cache, src, which=(2,))
        run_incarnation()

        rows = spark.read.schema(
            "w struct<start:timestamp,end:timestamp>, event_type string,"
            " n_events bigint, total_value double, __batch_id int"
        ).parquet(out)
        res = (
            rows.groupBy(
                F.col("w.start").cast("timestamp_ntz").alias("window_start"),
                "event_type",
            )
            .agg(
                F.max_by(
                    F.struct("n_events", "total_value"), F.col("__batch_id")
                ).alias("s")
            )
            .select(
                "window_start",
                "event_type",
                F.col("s.n_events").alias("n_events"),
                F.col("s.total_value").alias("total_value"),
            )
            .orderBy("window_start", "event_type")
        )
        return detach_from_state(res, root)
    finally:
        shutil.rmtree(root, ignore_errors=True)


# ---------------------------------------------------------------------------
# e41 — stream-stream JOIN late-drop parity: the remaining stateful-
# operator family with no oracle row.  Left = even event_ids, right =
# odd; inner join on user_id within ±span/100 of event time, both
# sides watermarked (delay = span/6, the e38 sizing).  A deterministic
# subset of the oldest-third LEFT rows (event_id % 7 == 0) is held back
# and re-injected with the third file; the right side stays in-order.
#
# Semantics pinned empirically against this Spark build (two file
# sources, maxFilesPerTrigger=1, availableNow):
#   - the late-input filter uses e38's LAGGED front: batch N drops
#     input rows with ts <= wm_evict(N-1) = min over sources of
#     (max event time over batches < N-1) - delay (<= boundary
#     verified: a row AT the front is dropped; one second above joins);
#   - state eviction CANNOT drop a partner a kept row needs: the
#     cleanup cut at the end of batch N-1 is that same front minus the
#     join upper bound, and a kept left row's interval only reaches
#     ts - upper > front - upper — verified by joining a kept late row
#     against a right row two eviction fronts old.
# So the inner-join parity is exactly "interval join over rows that
# survive the late filter", which the oracle models declaratively with
# the lagged front (NULL-safe like e38).  Output is the per-event-type
# pair aggregate (exact decimal sums, one final double cast).
# tests/test_streaming.py::test_join_late_filter_front_and_state pins
# the boundary triplet and the old-partner join in isolation.
# ---------------------------------------------------------------------------
@register(
    "e41_streaming_join_late_drop",
    oracle="""
    WITH e AS (
      SELECT event_id, user_id, event_type,
        epoch_ms(date_trunc('second', ts)) // 1000 AS tss,
        CAST(value AS DECIMAL(18,2)) AS val
      FROM events
    ),
    p AS (
      SELECT lo, hi, lo + (hi - lo) // 3 AS c1, lo + (2*(hi - lo)) // 3 AS c2,
        (hi - lo) // 6 AS dly, (hi - lo) // 100 AS up
      FROM (SELECT min(tss) AS lo, max(tss) AS hi FROM e)
    ),
    lft AS (
      SELECT e.*, (e.event_id % 7 = 0 AND e.tss < p.c1) AS held, p.c1, p.dly, p.up
      FROM e, p WHERE e.event_id % 2 = 0
    ),
    rgt AS (SELECT e.* FROM e WHERE e.event_id % 2 = 1),
    front AS (
      -- NULL-safe per SIDE, not just both-NULL: DuckDB's LEAST ignores
      -- a single NULL argument, but Spark's global watermark is the MIN
      -- over sources and an empty first file leaves that source's
      -- watermark at epoch 0 — so EITHER side lacking first-file rows
      -- means the engine drops nothing
      SELECT CASE WHEN lmax IS NULL OR rmax IS NULL THEN 0
                  ELSE LEAST(lmax, rmax) - (SELECT dly FROM p) END AS wm_late3
      FROM (
        SELECT
          (SELECT max(CASE WHEN NOT held AND tss < c1 THEN tss END) FROM lft) AS lmax,
          (SELECT max(CASE WHEN r.tss < p.c1 THEN r.tss END) FROM rgt r, p) AS rmax
      )
    ),
    kept_l AS (
      SELECT l.* FROM lft l, front f
      WHERE NOT (l.held AND l.tss <= f.wm_late3)
    )
    SELECT l.event_type,
      CAST(COUNT(*) AS BIGINT) AS n_pairs,
      CAST(SUM(l.val) AS DOUBLE) AS sum_left,
      CAST(SUM(r.val) AS DOUBLE) AS sum_right
    FROM kept_l l
    JOIN rgt r ON l.user_id = r.user_id
      AND r.tss >= l.tss - l.up AND r.tss <= l.tss + l.up
    GROUP BY l.event_type
    ORDER BY l.event_type
    """,
)
def e41_streaming_join_late_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    import posixpath
    import shutil
    import tempfile

    from censo_escolar_spark.streaming import (
        deploy_slices,
        detach_from_state,
        state_shuffle,
    )

    cache, meta = _join_held_slices(spark, sf_dir)
    if meta == "EMPTY":
        return spark.createDataFrame(
            [],
            "event_type string, n_pairs bigint, sum_left double,"
            " sum_right double",
        )
    delay, up = meta

    root = tempfile.mkdtemp(prefix="e41_join_")
    src, ckpt, out = (posixpath.join(root, d) for d in ("src", "ckpt", "out"))
    try:
        deploy_slices(cache, src)
        joined = _two_source_interval_join(spark, src, delay, up, "inner")
        with state_shuffle(spark):
            q = (
                joined.writeStream.format("parquet")
                .option("path", out)
                .outputMode("append")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        res = (
            spark.read.schema("l_type string, l_val double, r_val double")
            .parquet(out)
            .groupBy(F.col("l_type").alias("event_type"))
            .agg(
                F.count("*").cast("bigint").alias("n_pairs"),
                F.sum(F.col("l_val").cast(DEC)).cast("double").alias("sum_left"),
                F.sum(F.col("r_val").cast(DEC)).cast("double").alias("sum_right"),
            )
            .orderBy("event_type")
        )
        return detach_from_state(res, root)
    finally:
        shutil.rmtree(root, ignore_errors=True)


# ---------------------------------------------------------------------------
# e42 — stream-stream LEFT OUTER interval-join parity: the enrichment
# shape (every left event, right columns NULL when no partner) whose
# streaming-only subtlety is WHEN an unmatched row may emit — only
# once the watermark proves no partner can still arrive.  Same
# two-source layout as e41 but fully in-order (no held rows: e41 gates
# the late filter; this row gates OUTER EMISSION).  Pinned empirically
# (file sources, maxFilesPerTrigger=1, availableNow): by end-of-stream
# the emitted null rows are exactly the unmatched left rows with
# l_ts + upper < fw, where fw = min over sources of (max event time)
# minus delay — STRICT < (an interval ending exactly ON the front does
# NOT emit; verified at ±1 s), and rows above the front stay in state,
# unemitted.  Matched pairs emit regardless (inner semantics).  The
# oracle models the final emitted set declaratively: all interval-join
# pairs plus NOT-EXISTS unmatched rows under the strict front cut.
# ---------------------------------------------------------------------------
@register(
    "e42_streaming_outer_join_parity",
    oracle="""
    WITH e AS (
      SELECT event_id, user_id, event_type,
        epoch_ms(date_trunc('second', ts)) // 1000 AS tss,
        CAST(value AS DECIMAL(18,2)) AS val
      FROM events
    ),
    p AS (
      SELECT (hi - lo) // 6 AS dly, (hi - lo) // 100 AS up
      FROM (SELECT min(tss) AS lo, max(tss) AS hi FROM e)
    ),
    lft AS (
      SELECT e.*, p.dly, p.up FROM e, p WHERE e.event_id % 2 = 0
    ),
    rgt AS (SELECT e.* FROM e WHERE e.event_id % 2 = 1),
    fw AS (
      SELECT LEAST((SELECT max(tss) FROM lft), (SELECT max(tss) FROM rgt))
        - (SELECT dly FROM p) AS fw
    ),
    pairs AS (
      SELECT l.event_type, l.val AS lval, r.val AS rval
      FROM lft l JOIN rgt r ON l.user_id = r.user_id
        AND r.tss >= l.tss - l.up AND r.tss <= l.tss + l.up
    ),
    unmatched AS (
      SELECT l.event_type, l.val AS lval,
        CAST(NULL AS DECIMAL(18,2)) AS rval
      FROM lft l, fw
      WHERE l.tss + l.up < fw.fw
        AND NOT EXISTS (
          SELECT 1 FROM rgt r
          WHERE r.user_id = l.user_id
            AND r.tss >= l.tss - l.up AND r.tss <= l.tss + l.up
        )
    ),
    allrows AS (
      SELECT * FROM pairs UNION ALL SELECT * FROM unmatched
    )
    SELECT event_type,
      CAST(COUNT(*) AS BIGINT) AS n_rows,
      CAST(COUNT(rval) AS BIGINT) AS n_matched,
      CAST(SUM(lval) AS DOUBLE) AS sum_left,
      CAST(COALESCE(SUM(rval), CAST(0 AS DECIMAL(18,2))) AS DOUBLE)
        AS sum_right
    FROM allrows
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def e42_streaming_outer_join_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    import posixpath
    import shutil
    import tempfile

    from censo_escolar_spark.streaming import (
        deploy_slices,
        detach_from_state,
        state_shuffle,
    )

    cache, meta = _inorder_slices(spark, sf_dir)
    if meta == "EMPTY":
        return spark.createDataFrame(
            [],
            "event_type string, n_rows bigint, n_matched bigint,"
            " sum_left double, sum_right double",
        )
    delay, up = meta

    root = tempfile.mkdtemp(prefix="e42_outer_")
    src, ckpt, out = (posixpath.join(root, d) for d in ("src", "ckpt", "out"))
    try:
        deploy_slices(cache, src)
        joined = _two_source_interval_join(spark, src, delay, up, "leftOuter")
        with state_shuffle(spark):
            q = (
                joined.writeStream.format("parquet")
                .option("path", out)
                .outputMode("append")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        res = (
            spark.read.schema("l_type string, l_val double, r_val double")
            .parquet(out)
            .groupBy(F.col("l_type").alias("event_type"))
            .agg(
                F.count("*").cast("bigint").alias("n_rows"),
                F.count("r_val").cast("bigint").alias("n_matched"),
                F.sum(F.col("l_val").cast(DEC)).cast("double").alias("sum_left"),
                F.coalesce(
                    F.sum(F.col("r_val").cast(DEC)),
                    F.lit("0").cast(DEC),
                )
                .cast("double")
                .alias("sum_right"),
            )
            .orderBy("event_type")
        )
        return detach_from_state(res, root)
    finally:
        shutil.rmtree(root, ignore_errors=True)


# ---------------------------------------------------------------------------
# e48 — stream-stream FULL-OUTER interval-join parity: the last
# stream-stream join kind (e41 inner, e42 leftOuter). Same fully
# in-order two-source layout as e42; full outer adds the RIGHT side's
# null-row emission, whose front mirrors the pinned left rule under
# the condition read from the right timeline: a right row can match
# left rows with l_ts ∈ [r_ts − upper, r_ts + lower], so its null row
# emits iff r_ts + lower < fw — STRICT, verified at ±1 s in
# tests/test_streaming.py::test_stream_stream_interval_join_full_outer
# (the symmetric ±up bound makes both fronts r_ts/l_ts + up < fw).
# Both-null rows cannot exist. Right-only rows carry no left
# event_type; they group under the '~right_only' sentinel so the
# compare never sorts NULL group keys.
# ---------------------------------------------------------------------------
@register(
    "e48_streaming_full_outer_join",
    oracle="""
    WITH e AS (
      SELECT event_id, user_id, event_type,
        epoch_ms(date_trunc('second', ts)) // 1000 AS tss,
        CAST(value AS DECIMAL(18,2)) AS val
      FROM events
    ),
    p AS (
      SELECT (hi - lo) // 6 AS dly, (hi - lo) // 100 AS up
      FROM (SELECT min(tss) AS lo, max(tss) AS hi FROM e)
    ),
    lft AS (
      SELECT e.*, p.dly, p.up FROM e, p WHERE e.event_id % 2 = 0
    ),
    rgt AS (SELECT e.*, p.up FROM e, p WHERE e.event_id % 2 = 1),
    fw AS (
      SELECT LEAST((SELECT max(tss) FROM lft), (SELECT max(tss) FROM rgt))
        - (SELECT dly FROM p) AS fw
    ),
    pairs AS (
      SELECT l.event_type, l.val AS lval, r.val AS rval
      FROM lft l JOIN rgt r ON l.user_id = r.user_id
        AND r.tss >= l.tss - l.up AND r.tss <= l.tss + l.up
    ),
    l_unmatched AS (
      SELECT l.event_type, l.val AS lval,
        CAST(NULL AS DECIMAL(18,2)) AS rval
      FROM lft l, fw
      WHERE l.tss + l.up < fw.fw
        AND NOT EXISTS (
          SELECT 1 FROM rgt r
          WHERE r.user_id = l.user_id
            AND r.tss >= l.tss - l.up AND r.tss <= l.tss + l.up
        )
    ),
    r_unmatched AS (
      SELECT CAST(NULL AS VARCHAR) AS event_type,
        CAST(NULL AS DECIMAL(18,2)) AS lval, r.val AS rval
      FROM rgt r, fw
      WHERE r.tss + r.up < fw.fw
        AND NOT EXISTS (
          SELECT 1 FROM lft l
          WHERE l.user_id = r.user_id
            AND r.tss >= l.tss - l.up AND r.tss <= l.tss + l.up
        )
    ),
    allrows AS (
      SELECT * FROM pairs
      UNION ALL SELECT * FROM l_unmatched
      UNION ALL SELECT * FROM r_unmatched
    )
    SELECT COALESCE(event_type, '~right_only') AS event_type,
      CAST(COUNT(*) AS BIGINT) AS n_rows,
      CAST(COUNT(lval) AS BIGINT) AS n_left,
      CAST(COUNT(rval) AS BIGINT) AS n_right,
      CAST(COALESCE(SUM(lval), CAST(0 AS DECIMAL(18,2))) AS DOUBLE)
        AS sum_left,
      CAST(COALESCE(SUM(rval), CAST(0 AS DECIMAL(18,2))) AS DOUBLE)
        AS sum_right
    FROM allrows
    GROUP BY 1
    ORDER BY event_type
    """,
)
def e48_streaming_full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    import posixpath
    import shutil
    import tempfile

    from censo_escolar_spark.streaming import (
        deploy_slices,
        detach_from_state,
        state_shuffle,
    )

    cache, meta = _inorder_slices(spark, sf_dir)
    if meta == "EMPTY":
        return spark.createDataFrame(
            [],
            "event_type string, n_rows bigint, n_left bigint,"
            " n_right bigint, sum_left double, sum_right double",
        )
    delay, up = meta

    root = tempfile.mkdtemp(prefix="e48_full_outer_")
    src, ckpt, out = (posixpath.join(root, d) for d in ("src", "ckpt", "out"))
    try:
        deploy_slices(cache, src)
        joined = _two_source_interval_join(spark, src, delay, up, "fullOuter")
        with state_shuffle(spark):
            q = (
                joined.writeStream.format("parquet")
                .option("path", out)
                .outputMode("append")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        res = (
            spark.read.schema("l_type string, l_val double, r_val double")
            .parquet(out)
            .groupBy(
                F.coalesce(F.col("l_type"), F.lit("~right_only")).alias(
                    "event_type"
                )
            )
            .agg(
                F.count("*").cast("bigint").alias("n_rows"),
                F.count("l_val").cast("bigint").alias("n_left"),
                F.count("r_val").cast("bigint").alias("n_right"),
                F.coalesce(
                    F.sum(F.col("l_val").cast(DEC)), F.lit("0").cast(DEC)
                )
                .cast("double")
                .alias("sum_left"),
                F.coalesce(
                    F.sum(F.col("r_val").cast(DEC)), F.lit("0").cast(DEC)
                )
                .cast("double")
                .alias("sum_right"),
            )
            .orderBy("event_type")
        )
        return detach_from_state(res, root)
    finally:
        shutil.rmtree(root, ignore_errors=True)


# ---------------------------------------------------------------------------
# e43 — SESSION-WINDOW late-data drop parity: the last streaming shape
# with no late-data oracle row. e38 proved the watermark drops rows for
# tumbling aggregations; sessions add the uniquely session-window
# consequence — dropping a late row can SPLIT a session (the row would
# have bridged two event clusters within the gap), so the engine must
# emit TWO sessions where a batch recompute over all rows gives one.
#
# Arrival: e38's held-back-slice machinery over e37's sessionize, with
# one strengthening — held rows are chosen PROVABLY late:
#   held = (event_id % 7 == 0) AND (ts + gap < m1 - delay)
# where m1 = max event time of the oldest third. The late-input front
# for batch 3 is wm_late(3) = wm_evict(2) = max(batch-1 ts) - delay =
# m1 - delay (the SPARK-40925 lagged front, same as e38), and a late
# session row is dropped when its singleton window end (ts + gap) falls
# below it — so every held row is dropped regardless of the boundary's
# <=-vs-< flavor, and the oracle needs no per-row drop modeling: kept =
# everything except held. (The strict < also keeps any kept row from
# landing within the gap of an already-evicted session, so final
# sessions are a pure function of the kept SET — gaps-and-islands.)
#
# Emission (append mode): sessions emit when the final front passes
# their end — session_end <= hi - delay, the e38 <=-boundary, verified
# bitwise at both SFs; later sessions stay in state, unemitted.
# Non-vacuity at sf0.01: 244/10000 rows held and dropped; at sf0.1:
# 2358 dropped, 3 of them bridge rows whose drop splits a session
# (the split itself is pinned deterministically on a crafted fixture in
# tests/test_streaming.py).
# ---------------------------------------------------------------------------
_SESSION_GAP_S = 1800  # 30 minutes, the e03/e37 session definition


def _session_held_slices(spark: SparkSession, sf_dir: str):
    """e43's arrival: in-event-time-order thirds with every 7th
    PROVABLY-LATE row of the oldest third held back and re-injected
    with the newest slice. meta = watermark delay seconds or "EMPTY"."""
    from censo_escolar_spark.streaming import shared_slices, slice_dir

    def build(root: str):
        e = _events_thirds_projection(spark, sf_dir)
        b = e.agg(F.min("ts").alias("lo"), F.max("ts").alias("hi")).first()
        if b["lo"] is None:
            return "EMPTY"
        lo_s, hi_s = int(b["lo"].timestamp()), int(b["hi"].timestamp())
        span = hi_s - lo_s
        c1, c2 = lo_s + span // 3, lo_s + (2 * span) // 3
        delay = span // 6
        t = F.unix_timestamp("ts")
        m1row = e.filter(t < c1).agg(F.max("ts").alias("m")).first()
        m1 = int(m1row["m"].timestamp()) if m1row["m"] is not None else lo_s
        held = (F.col("event_id") % 7 == 0) & (
            t + _SESSION_GAP_S < m1 - delay
        )
        slices = (
            e.filter((t < c1) & ~held),
            e.filter((t >= c1) & (t < c2)),
            e.filter((t >= c2) | held),  # held rows re-injected LATE
        )
        for i, s in enumerate(slices):
            s.coalesce(1).write.parquet(slice_dir(root, i))
        return delay

    return shared_slices("sess_held3", sf_dir, build)


@register(
    "e43_streaming_session_late_drop",
    oracle="""
    WITH e AS MATERIALIZED (
      SELECT event_id, user_id,
        epoch_ms(date_trunc('second', ts)) // 1000 AS tss,
        CAST(value AS DECIMAL(18,2)) AS val
      FROM events
    ),
    p AS MATERIALIZED (
      SELECT lo, hi, lo + (hi - lo) // 3 AS c1, (hi - lo) // 6 AS dly
      FROM (SELECT min(tss) AS lo, max(tss) AS hi FROM e)
    ),
    m1 AS (SELECT max(tss) AS m1 FROM e, p WHERE tss < p.c1),
    kept AS MATERIALIZED (
      SELECT e.* FROM e, p, m1
      WHERE NOT (e.event_id % 7 = 0
                 AND e.tss + 1800 < COALESCE(m1.m1, p.lo) - p.dly)
    ),
    marked AS (
      SELECT user_id, tss, val, event_id,
        -- STRICT >: Spark's session merge is INCLUSIVE on touch — an
        -- event at exactly prev + gap EXTENDS the session (pinned
        -- empirically at sf0.1, user 511's 1800s-adjacent pair merges).
        -- e03/e37 never see this boundary: their raw microsecond
        -- timestamps make exact-gap adjacency measure-zero; e43's
        -- second-truncated event times hit it.
        CASE WHEN lag(tss) OVER w IS NULL OR tss - lag(tss) OVER w > 1800
             THEN 1 ELSE 0 END AS is_new
      FROM kept
      WINDOW w AS (PARTITION BY user_id ORDER BY tss, event_id)
    ),
    sess AS (
      SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY tss, event_id
                                  ROWS UNBOUNDED PRECEDING) AS sid
      FROM marked
    ),
    agg AS (
      SELECT user_id, MIN(tss) AS ss, MAX(tss) + 1800 AS se,
        COUNT(*) AS n, SUM(val) AS tv
      FROM sess GROUP BY user_id, sid
    )
    SELECT user_id,
      make_timestamp(ss * 1000000) AS session_start,
      make_timestamp(se * 1000000) AS session_end,
      CAST(n AS BIGINT) AS n_events,
      CAST(tv AS DOUBLE) AS total_value
    FROM agg, p
    WHERE se <= p.hi - p.dly
    ORDER BY user_id, session_start
    """,
)
def e43_streaming_session_late_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    import posixpath
    import shutil
    import tempfile

    from censo_escolar_spark.streaming import (
        deploy_slices,
        detach_from_state,
        state_shuffle,
    )
    from censo_escolar_spark.streaming.windows import sessionize

    cache, delay = _session_held_slices(spark, sf_dir)
    if delay == "EMPTY":
        return spark.createDataFrame(
            [],
            "user_id bigint, session_start timestamp_ntz,"
            " session_end timestamp_ntz, n_events bigint,"
            " total_value double",
        )

    root = tempfile.mkdtemp(prefix="e43_sess_late_")
    src, ckpt, out = (posixpath.join(root, d) for d in ("src", "ckpt", "out"))
    try:
        deploy_slices(cache, src)
        stream = (
            spark.readStream.schema(spark.read.parquet(src).schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        sessions = sessionize(
            stream, gap="30 minutes", watermark=f"{delay} seconds"
        )
        with state_shuffle(spark):
            q = (
                sessions.writeStream.format("parquet")
                .option("path", out)
                .outputMode("append")  # emit only watermark-closed sessions
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        res = (
            spark.read.schema(
                "user_id bigint, session_start timestamp,"
                " session_end timestamp, n_events bigint, total_value double"
            )
            .parquet(out)
            .select(
                "user_id",
                F.col("session_start").cast("timestamp_ntz").alias("session_start"),
                F.col("session_end").cast("timestamp_ntz").alias("session_end"),
                "n_events",
                "total_value",
            )
            .orderBy("user_id", "session_start")
        )
        return detach_from_state(res, root)
    finally:
        shutil.rmtree(root, ignore_errors=True)


# ---------------------------------------------------------------------------
# e44 — SLIDING-window late-data drop parity: the window shape where
# lateness is PARTIAL. A sliding (2h window, 1h slide) event belongs to
# two windows; Spark's late filter applies per generated (row, window)
# pair (StateStoreRestore filters on the window struct's end AFTER
# expansion), so a held row re-injected late can be dropped for its
# EXPIRED older window while still counting toward its newer one —
# semantics neither e38 (tumbling: whole-row drop) nor e43 (sessions)
# exercises. Same arrival construction and pinned lagged front as e38
# (the shared "latedrop" slice cache — zero extra slicing jobs); the
# oracle expands each row into its two hour-aligned windows and applies
# the drop per pair (window_end <= wm_late3), with e38's <=-boundary
# and emission cut (window_end <= final front). Bitwise at both SFs;
# partial drops provably fire (held rows inside the one-hour band
# (wm_late3 - 7200, wm_late3 - 3600] lose exactly one window).
# ---------------------------------------------------------------------------
@register(
    "e44_streaming_sliding_late_drop",
    oracle=_LATE_DROP_CTES
    + """,
    pairs AS (
      SELECT t.event_type, t.val, t.held,
        ((t.tss // 3600) - u.k) * 3600 AS ws
      FROM tagged t CROSS JOIN (SELECT unnest([0, 1]) AS k) u
    ),
    kept44 AS (
      SELECT p2.event_type, p2.val, p2.ws
      FROM pairs p2, fronts f
      WHERE NOT (p2.held AND p2.ws + 7200 <= f.wm_late3)
    )
    SELECT make_timestamp(ws * 1000000) AS window_start,
      event_type,
      CAST(COUNT(*) AS BIGINT) AS n_events,
      CAST(SUM(val) AS DOUBLE) AS total_value
    FROM kept44, fronts f
    GROUP BY ws, event_type, f.fw
    HAVING ws + 7200 <= f.fw
    ORDER BY window_start, event_type
    """,
)
def e44_streaming_sliding_late_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    import posixpath
    import shutil
    import tempfile

    from censo_escolar_spark.streaming import (
        deploy_slices,
        detach_from_state,
        state_shuffle,
    )

    root_tmp = tempfile.mkdtemp(prefix="e44_sliding_")
    src, ckpt, out = (
        posixpath.join(root_tmp, d) for d in ("src", "ckpt", "out")
    )
    try:
        cache, delay = _late_drop_slices(spark, sf_dir)
        if delay == "EMPTY":
            return spark.createDataFrame([], _LATE_DROP_OUT_SCHEMA)
        deploy_slices(cache, src)
        stream = (
            spark.readStream.schema(spark.read.parquet(src).schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        agg = (
            stream.withWatermark("ts", f"{delay} seconds")
            .groupBy(F.window("ts", "2 hours", "1 hour").alias("w"), "event_type")
            .agg(
                F.count("*").alias("n_events"),
                F.sum(F.col("value").cast(DEC)).cast("double").alias(
                    "total_value"
                ),
            )
        )
        with state_shuffle(spark):
            q = (
                agg.writeStream.format("parquet")
                .option("path", out)
                .outputMode("append")  # emission gated on the eviction front
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        res = (
            spark.read.schema(
                "w struct<start:timestamp,end:timestamp>,"
                " event_type string, n_events bigint, total_value double"
            )
            .parquet(out)
            .select(
                F.col("w.start").cast("timestamp_ntz").alias("window_start"),
                "event_type",
                "n_events",
                "total_value",
            )
            .orderBy("window_start", "event_type")
        )
        return detach_from_state(res, root_tmp)
    finally:
        shutil.rmtree(root_tmp, ignore_errors=True)


# ---------------------------------------------------------------------------
# e45 — CUSTOM STATEFUL OPERATOR parity (applyInPandasWithState): the
# one streaming API with no built-in equivalent — per-user activity
# segments closed by inactivity TIMEOUT (streaming/windows.py::
# user_activity_segments). The arrival is the e38 held-back shape over
# a SPARSE per-user event lane (every 13th event — ~5 events/user, so
# real inactivity exists): time-range thirds, with every 7th sparse
# event of the MIDDLE third held and re-injected with the newest slice
# (late by construction; the engine does NOT filter late rows before a
# stateful-processing operator, so the operator's own ts>=watermark
# drop is what the oracle models). Segment semantics are
# batch-boundary semantics, pinned empirically on this build:
#   wm(N) = max event time over batches < N, minus delay (0 initial);
#   a segment CLOSES when a front strictly passes last+gap — at the
#   next data batch for the key (data path), at a no-data batch in
#   between (timeout), or at the trailing no-data batch availableNow
#   runs after the last file (final front hi-delay); equality does NOT
#   fire (strict >, verified);
#   rows merging into the open segment do so regardless of event-time
#   order (out-of-order late-survivors fold in — DIFFERENT from
#   session_window, which is why the built-ins can't express this).
# The oracle folds each user's kept rows batch-by-batch (b∈{1,2,3}
# from the time cuts, held→3), closing segments on the same strict
# fronts; the final segment emits only if the final front passed it.
# All arithmetic is integer seconds / exact cents — bitwise parity.
# timeout-vs-watermark boundary (strict fire, equality holds) is
# additionally pinned by tests/test_streaming.py with crafted rows.
# ---------------------------------------------------------------------------
_E45_ORACLE = """
WITH e AS (
  SELECT event_id, user_id, epoch_ms(date_trunc('second', ts)) // 1000 AS tss,
    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM events WHERE event_id % 13 = 0
),
p AS (
  SELECT min(tss) AS lo, max(tss) AS hi,
    min(tss) + (max(tss)-min(tss))//3 AS c1,
    min(tss) + 2*(max(tss)-min(tss))//3 AS c2,
    (max(tss)-min(tss))//6 AS dly,
    (max(tss)-min(tss))//24 AS gap
  FROM e
),
tagged AS (
  SELECT e.user_id, e.tss, e.cents,
    CASE WHEN e.event_id % 7 = 0 AND e.tss >= p.c1 AND e.tss < p.c2 THEN 3
         WHEN e.tss < p.c1 THEN 1 WHEN e.tss < p.c2 THEN 2 ELSE 3 END AS b
  FROM e, p
),
fronts AS (
  SELECT
    COALESCE(max(CASE WHEN b = 1 THEN tss END) - any_value(p.dly), 0) AS wm2,
    COALESCE(max(CASE WHEN b <= 2 THEN tss END) - any_value(p.dly), 0) AS wm3,
    max(tss) - any_value(p.dly) AS wmf,
    any_value(p.gap) AS gap
  FROM tagged, p
),
kept AS (
  -- the operator drops rows below the CURRENT watermark; only held
  -- (b=3, pre-c2) rows can be late, against the batch-3 front
  SELECT t.* FROM tagged t, fronts f, p
  WHERE NOT (t.b = 3 AND t.tss < p.c2 AND t.tss < f.wm3)
),
g AS (
  SELECT user_id, b, CAST(COUNT(*) AS BIGINT) AS n, min(tss) AS f, max(tss) AS l,
    CAST(SUM(cents) AS BIGINT) AS c
  FROM kept GROUP BY user_id, b
),
u AS (
  SELECT user_id,
    max(CASE WHEN b=1 THEN n END) AS n1, max(CASE WHEN b=1 THEN f END) AS f1,
    max(CASE WHEN b=1 THEN l END) AS l1, max(CASE WHEN b=1 THEN c END) AS c1,
    max(CASE WHEN b=2 THEN n END) AS n2, max(CASE WHEN b=2 THEN f END) AS f2,
    max(CASE WHEN b=2 THEN l END) AS l2, max(CASE WHEN b=2 THEN c END) AS c2,
    max(CASE WHEN b=3 THEN n END) AS n3, max(CASE WHEN b=3 THEN f END) AS f3,
    max(CASE WHEN b=3 THEN l END) AS l3, max(CASE WHEN b=3 THEN c END) AS c3
  FROM g GROUP BY user_id
),
segs AS (
  SELECT u.*, f.wm2, f.wm3, f.wmf, f.gap,
    (n1 IS NOT NULL AND n2 IS NOT NULL AND f.wm2 > l1 + f.gap) AS bd2
  FROM u, fronts f
),
seg2 AS (
  SELECT *,
    CASE WHEN n2 IS NOT NULL THEN
      CASE WHEN bd2 OR n1 IS NULL THEN n2 ELSE n1 + n2 END
    ELSE n1 END AS a_n,
    CASE WHEN n2 IS NOT NULL THEN
      CASE WHEN bd2 OR n1 IS NULL THEN f2 ELSE LEAST(f1, f2) END
    ELSE f1 END AS a_f,
    CASE WHEN n2 IS NOT NULL THEN
      CASE WHEN bd2 OR n1 IS NULL THEN l2 ELSE GREATEST(l1, l2) END
    ELSE l1 END AS a_l,
    CASE WHEN n2 IS NOT NULL THEN
      CASE WHEN bd2 OR n1 IS NULL THEN c2 ELSE c1 + c2 END
    ELSE c1 END AS a_c
  FROM segs
),
seg3 AS (
  SELECT *,
    (a_n IS NOT NULL AND n3 IS NOT NULL AND wm3 > a_l + gap) AS bd3,
    CASE WHEN n3 IS NOT NULL THEN
      CASE WHEN (a_n IS NOT NULL AND wm3 > a_l + gap) OR a_n IS NULL
           THEN n3 ELSE a_n + n3 END
    ELSE a_n END AS z_n,
    CASE WHEN n3 IS NOT NULL THEN
      CASE WHEN (a_n IS NOT NULL AND wm3 > a_l + gap) OR a_n IS NULL
           THEN f3 ELSE LEAST(a_f, f3) END
    ELSE a_f END AS z_f,
    CASE WHEN n3 IS NOT NULL THEN
      CASE WHEN (a_n IS NOT NULL AND wm3 > a_l + gap) OR a_n IS NULL
           THEN l3 ELSE GREATEST(a_l, l3) END
    ELSE a_l END AS z_l,
    CASE WHEN n3 IS NOT NULL THEN
      CASE WHEN (a_n IS NOT NULL AND wm3 > a_l + gap) OR a_n IS NULL
           THEN c3 ELSE a_c + c3 END
    ELSE a_c END AS z_c
  FROM seg2
)
SELECT user_id, first_s, last_s, n_events,
  CAST(cents AS DOUBLE) / 100.0 AS total_value
FROM (
  SELECT user_id, f1 AS first_s, l1 AS last_s, n1 AS n_events, c1 AS cents
  FROM seg3 WHERE bd2
  UNION ALL
  SELECT user_id, a_f, a_l, a_n, a_c FROM seg3 WHERE bd3
  UNION ALL
  SELECT user_id, z_f, z_l, z_n, z_c FROM seg3
  WHERE z_n IS NOT NULL AND wmf > z_l + gap
)
ORDER BY user_id, first_s
"""

_E45_OUT_SCHEMA = (
    "user_id bigint, first_s bigint, last_s bigint,"
    " n_events bigint, total_value double"
)


def e45_state_partitions(slots: int) -> int:
    """e45's state-store partitions for ``slots`` task slots: half the
    slots, within [4, 16] (16 at local[32], 4 at local[4])."""
    return max(4, min(16, slots // 2))


def _stateful_held_slices(spark: SparkSession, sf_dir: str):
    """e45's arrival: the sparse per-user lane (event_id % 13 == 0) in
    time-range thirds, every 7th sparse event of the MIDDLE third held
    and re-injected with the newest slice. Carries the exact-cents and
    integer-seconds projections the stateful operator folds. meta =
    (delay, gap) seconds, or "EMPTY"."""
    from censo_escolar_spark.streaming import shared_slices, slice_dir

    def build(root: str):
        e = load_table(spark, sf_dir, "events").filter(
            F.col("event_id") % 13 == 0
        ).select(
            "event_id",
            "user_id",
            F.date_trunc("second", F.col("ts").cast("timestamp")).alias("ts"),
            "value",
        )
        b = e.agg(F.min("ts").alias("lo"), F.max("ts").alias("hi")).first()
        if b["lo"] is None:
            return "EMPTY"
        lo_s, hi_s = int(b["lo"].timestamp()), int(b["hi"].timestamp())
        span = hi_s - lo_s
        c1, c2 = lo_s + span // 3, lo_s + (2 * span) // 3
        t = F.unix_timestamp("ts")
        held = (F.col("event_id") % 7 == 0) & (t >= c1) & (t < c2)
        proj = e.select(
            "user_id",
            "ts",
            t.alias("ts_s"),
            (F.col("value").cast("decimal(18,2)") * 100)
            .cast("bigint")
            .alias("cents"),
            held.alias("__held"),
            t.alias("__t"),
        )
        slices = (
            proj.filter(F.col("__t") < c1),
            proj.filter(
                (F.col("__t") >= c1) & (F.col("__t") < c2) & ~F.col("__held")
            ),
            proj.filter((F.col("__t") >= c2) | F.col("__held")),
        )
        for i, s in enumerate(slices):
            s.drop("__held", "__t").coalesce(1).write.parquet(
                slice_dir(root, i)
            )
        return (span // 6, span // 24)

    return shared_slices("stateful_mid13", sf_dir, build)


@register("e45_stateful_timeout_segments", oracle=_E45_ORACLE)
def e45_stateful_timeout_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    import posixpath
    import shutil
    import tempfile

    from censo_escolar_spark.streaming import (
        deploy_slices,
        detach_from_state,
        state_shuffle,
    )
    from censo_escolar_spark.streaming.windows import user_activity_segments

    root_tmp = tempfile.mkdtemp(prefix="e45_stateful_")
    src, ckpt, out = (
        posixpath.join(root_tmp, d) for d in ("src", "ckpt", "out")
    )
    try:
        cache, meta = _stateful_held_slices(spark, sf_dir)
        if meta == "EMPTY":
            return spark.createDataFrame([], _E45_OUT_SCHEMA)
        delay, gap = meta
        deploy_slices(cache, src)
        stream = (
            spark.readStream.schema(spark.read.parquet(src).schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .withWatermark("ts", f"{delay} seconds")
        )
        segs = user_activity_segments(stream, gap_s=gap)
        # State partitions follow the task slots: this row's per-batch
        # cost is the PYTHON update call per (key, batch), so partitions
        # buy parallel Python workers only up to the slot count, and
        # past it each one is pure per-batch overhead. On local[32]
        # (cold sweep, min-of-3 per fresh JVM: 11.6/8.9/7.6/9.7/11.2 s
        # at 4/8/16/24/32) the knee is 16 = half the slots; on local[4]
        # over sf0.1 the pinned 16 took 17.6 s against 9.0 s at 4.
        # Results are partition-count invariant and the checkpoint is
        # per-run. A sweep patches ``e45_state_partitions`` from outside.
        n_state = e45_state_partitions(spark.sparkContext.defaultParallelism)
        with state_shuffle(spark, n_state):
            q = (
                segs.writeStream.format("parquet")
                .option("path", out)
                .outputMode("append")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        res = (
            spark.read.schema(
                "user_id bigint, n_events bigint, first_s bigint,"
                " last_s bigint, cents bigint"
            )
            .parquet(out)
            .select(
                "user_id",
                "first_s",
                "last_s",
                "n_events",
                (F.col("cents").cast("double") / F.lit(100.0)).alias(
                    "total_value"
                ),
            )
            .orderBy("user_id", "first_s")
        )
        return detach_from_state(res, root_tmp)
    finally:
        shutil.rmtree(root_tmp, ignore_errors=True)


# ---------------------------------------------------------------------------
# e46 — STREAM-STATIC join parity: the remaining Structured Streaming
# join kind (e41/e42 covered stream-stream). Every micro-batch of the
# event stream is enriched against a STATIC broadcast dimension
# (customer market segment — the stateless lookup a production
# enrichment stage runs; no join state, no watermark interaction on
# the static side), then flows into a watermarked tumbling aggregation
# per (window, segment). Arrival is fully in-order (the shared e40/e42
# slice cache), so no row is late and the append-mode emission cut is
# the final front — the oracle is the plain join + window aggregation
# under e38's HAVING. The watermark column passes through the join
# untouched (the documented stream-static contract), which is exactly
# what this row evidences.
# ---------------------------------------------------------------------------
_E46_OUT_SCHEMA = (
    "window_start timestamp_ntz, c_mktsegment string,"
    " n_events bigint, total_value double"
)


@register(
    "e46_stream_static_join",
    oracle="""
    WITH e AS (
      SELECT user_id, date_trunc('second', ts) AS ts,
        CAST(value AS DECIMAL(18,2)) AS val
      FROM events
    ),
    p AS (
      SELECT epoch_ms(max(ts)) // 1000
        - (epoch_ms(max(ts)) // 1000 - epoch_ms(min(ts)) // 1000) // 6 AS fw
      FROM e
    ),
    j AS (
      SELECT c.c_mktsegment AS seg,
        (epoch_ms(e.ts) // 1000 // 3600) * 3600 AS ws, e.val
      FROM e JOIN customer c ON e.user_id = c.c_custkey
    )
    SELECT make_timestamp(ws * 1000000) AS window_start,
      seg AS c_mktsegment,
      CAST(COUNT(*) AS BIGINT) AS n_events,
      CAST(SUM(val) AS DOUBLE) AS total_value
    FROM j, p
    GROUP BY ws, seg, p.fw
    HAVING ws + 3600 <= p.fw
    ORDER BY window_start, c_mktsegment
    """,
)
def e46_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    import posixpath
    import shutil
    import tempfile

    from censo_escolar_spark.streaming import (
        deploy_slices,
        detach_from_state,
        state_shuffle,
    )

    root = tempfile.mkdtemp(prefix="e46_enrich_")
    src, ckpt, out = (posixpath.join(root, d) for d in ("src", "ckpt", "out"))
    try:
        cache, meta = _inorder_slices(spark, sf_dir)
        if meta == "EMPTY":
            return spark.createDataFrame([], _E46_OUT_SCHEMA)
        delay, _up = meta
        deploy_slices(cache, src)
        dim = load_table(spark, sf_dir, "customer").select(
            "c_custkey", "c_mktsegment"
        )
        stream = (
            spark.readStream.schema(spark.read.parquet(src).schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .withWatermark("ts", f"{delay} seconds")
        )
        agg = (
            stream.join(
                F.broadcast(dim),
                stream["user_id"] == dim["c_custkey"],
                "inner",
            )
            .groupBy(F.window("ts", "1 hour").alias("w"), "c_mktsegment")
            .agg(
                F.count("*").alias("n_events"),
                F.sum(F.col("value").cast(DEC)).cast("double").alias(
                    "total_value"
                ),
            )
        )
        with state_shuffle(spark):
            q = (
                agg.writeStream.format("parquet")
                .option("path", out)
                .outputMode("append")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        res = (
            spark.read.schema(
                "w struct<start:timestamp,end:timestamp>,"
                " c_mktsegment string, n_events bigint, total_value double"
            )
            .parquet(out)
            .select(
                F.col("w.start").cast("timestamp_ntz").alias("window_start"),
                "c_mktsegment",
                "n_events",
                "total_value",
            )
            .orderBy("window_start", "c_mktsegment")
        )
        return detach_from_state(res, root)
    finally:
        shutil.rmtree(root, ignore_errors=True)


# ---------------------------------------------------------------------------
# e47 — streaming DEDUP-WITHIN-WATERMARK parity: the last streaming
# operator without an oracle row (dropDuplicatesWithinWatermark —
# streaming/windows.py::dedup_within_watermark). The arrival
# construction injects deliberate DUPLICATE keys (re-sent copies of
# oldest-third events with shifted event times — the at-least-once
# upstream a dedup stage exists to absorb) so the engine's bounded
# dedup state is exercised on all four of its behaviors: suppression
# within the horizon, state EVICTION (a duplicate arriving after its
# key's state expired RE-EMITS — the documented contract: dedup only
# within the watermark delay), late-input filtering, and pass-through
# emission.
#
# Semantics pinned empirically against this Spark build
# (tests/test_streaming.py::test_ddww_eviction_and_late_boundaries):
#   wm_evict(N) = max event time over batches < N, minus delay (0-init);
#   wm_late(N)  = wm_evict(N-1) (the SPARK-40925 lagged late front,
#     same as e38); batch N DROPS input rows with ts <= wm_late(N)
#     (equality drops);
#   state presence governs suppression: cleanup at the END of batch N
#     uses the DURING-batch front wm_evict(N), so an entry with expiry
#     (= first-arrival ts + delay) <= wm_evict(N) still suppresses
#     batch-N duplicates and is gone only from batch N+1 on; eviction
#     fires at EQUALITY (expiry == front evicts); a suppressed
#     duplicate does NOT refresh its key's expiry.
#
# Construction (delay = span/12, cuts c1/c2 at span thirds):
#   batch 1: oldest third. batch 2: middle third + dup-A (copies of
#   %5==2 oldest rows, ts+delay/3) — all suppressed (every original's
#   expiry > the 0-init front): the steady-state dedup case. batch 3:
#   newest third + dup-B (%5==0, ts+span/2: on time; re-emits iff the
#   original's expiry cleared the end-of-batch-2 front — the eviction
#   boundary lands INSIDE the oldest third, so both outcomes populate)
#   + dup-C (%5==1, ts+delay/2: late-dropped or still-suppressed —
#   provably never emits, both drop reasons populate). Integer-seconds
#   arithmetic on second-truncated timestamps both sides -> exact.
#   Non-vacuity at sf0.01 is asserted in
#   tests/test_oracle_parity.py::test_e47_construction_nonvacuous.
# ---------------------------------------------------------------------------
_E47_OUT_SCHEMA = (
    "event_id bigint, ts timestamp_ntz, event_type string, value double"
)


def _ddww_slices(spark: SparkSession, sf_dir: str):
    """e47's arrival: time-range thirds of ``events`` with duplicate-key
    copies injected per the construction above. meta = watermark delay
    seconds (span/12), or "EMPTY"."""
    from censo_escolar_spark.streaming import shared_slices, slice_dir

    def build(root: str):
        e = load_table(spark, sf_dir, "events").select(
            "event_id",
            "event_type",
            F.date_trunc("second", F.col("ts").cast("timestamp")).alias("ts"),
            "value",
        )
        b = e.agg(F.min("ts").alias("lo"), F.max("ts").alias("hi")).first()
        if b["lo"] is None:
            return "EMPTY"
        lo_s, hi_s = int(b["lo"].timestamp()), int(b["hi"].timestamp())
        span = hi_s - lo_s
        c1, c2 = lo_s + span // 3, lo_s + (2 * span) // 3
        dly, half = span // 12, span // 2
        t = F.unix_timestamp("ts")
        old = e.filter(t < c1)

        def shifted(cls: int, shift: int) -> DataFrame:
            return old.filter(F.col("event_id") % 5 == cls).select(
                "event_id",
                "event_type",
                F.timestamp_seconds(t + F.lit(shift)).alias("ts"),
                "value",
            )

        slices = (
            old,
            e.filter((t >= c1) & (t < c2)).unionByName(shifted(2, dly // 3)),
            e.filter(t >= c2)
            .unionByName(shifted(0, half))
            .unionByName(shifted(1, dly // 2)),
        )
        for i, s in enumerate(slices):
            s.coalesce(1).write.parquet(slice_dir(root, i))
        return dly

    return shared_slices("ddww_dups3", sf_dir, build)


@register(
    "e47_streaming_dedup_within_watermark",
    oracle="""
    WITH e AS (
      SELECT event_id, event_type,
        epoch_ms(date_trunc('second', ts)) // 1000 AS tss,
        CAST(value AS DOUBLE) AS val
      FROM events
    ),
    p AS (
      SELECT min(tss) + (max(tss) - min(tss)) // 3 AS c1,
        (max(tss) - min(tss)) // 12 AS dly,
        (max(tss) - min(tss)) // 2 AS half
      FROM e
    ),
    f AS (
      -- the front during batch 2 == the end-of-batch-2 eviction front
      -- == wm_late(3); a 0 front (empty batch 1) is unobservable: no
      -- batch-1 rows -> no duplicates derive from them
      SELECT COALESCE(max(CASE WHEN e.tss < p.c1 THEN e.tss END), 0)
          - any_value(p.dly) AS wm2,
        any_value(p.c1) AS c1, any_value(p.dly) AS dly,
        any_value(p.half) AS half
      FROM e, p
    ),
    orig AS (
      SELECT e.*, f.wm2, f.dly, f.half FROM e, f WHERE e.tss < f.c1
    ),
    dupb AS (
      -- on time (strictly above wm_late(3)) AND original evicted
      -- (expiry <= front, equality evicts) -> re-emits
      SELECT event_id, tss + half AS tss, event_type, val FROM orig
      WHERE event_id % 5 = 0 AND tss + half > wm2 AND tss + dly <= wm2
    ),
    dupc AS (
      -- same model; provably empty (a dly/2 shift cannot clear wm_late
      -- once the original's expiry did not) — kept for model honesty
      SELECT event_id, tss + dly // 2 AS tss, event_type, val FROM orig
      WHERE event_id % 5 = 1 AND tss + dly // 2 > wm2 AND tss + dly <= wm2
    )
    SELECT event_id, make_timestamp(tss * 1000000) AS ts,
      event_type, val AS value
    FROM (
      SELECT event_id, tss, event_type, val FROM e
      UNION ALL SELECT * FROM dupb
      UNION ALL SELECT * FROM dupc
    )
    ORDER BY event_id, ts
    """,
)
def e47_streaming_dedup_within_watermark(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import posixpath
    import shutil
    import tempfile

    from censo_escolar_spark.streaming import (
        deploy_slices,
        detach_from_state,
        state_shuffle,
    )
    from censo_escolar_spark.streaming.windows import dedup_within_watermark

    root = tempfile.mkdtemp(prefix="e47_ddww_")
    src, ckpt, out = (posixpath.join(root, d) for d in ("src", "ckpt", "out"))
    try:
        cache, dly = _ddww_slices(spark, sf_dir)
        if dly == "EMPTY":
            return spark.createDataFrame([], _E47_OUT_SCHEMA)
        deploy_slices(cache, src)
        stream = (
            spark.readStream.schema(spark.read.parquet(src).schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        deduped = dedup_within_watermark(
            stream, keys=["event_id"], watermark=f"{dly} seconds"
        )
        with state_shuffle(spark):
            q = (
                deduped.writeStream.format("parquet")
                .option("path", out)
                .outputMode("append")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        res = (
            spark.read.schema(
                "event_id bigint, event_type string, ts timestamp,"
                " value double"
            )
            .parquet(out)
            .select(
                "event_id",
                F.col("ts").cast("timestamp_ntz").alias("ts"),
                "event_type",
                F.col("value").cast("double").alias("value"),
            )
            .orderBy("event_id", "ts")
        )
        return detach_from_state(res, root)
    finally:
        shutil.rmtree(root, ignore_errors=True)
