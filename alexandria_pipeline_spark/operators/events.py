"""Event-time analytics over the events table, batch mode.

The reference's checkpoint/resume loop (run.py:121-153) is a
hand-rolled micro-batch pattern; SURVEY §2.9 maps it to real
event-time operators: tumbling/sliding/session windows, stateful
dedup, and as-of joins. The batch versions here are DuckDB-oracle
checkable; streaming/stream_events.py reruns the same logic through
readStream with watermarks.

Timestamps are emitted as epoch seconds (bigint), never raw
timestamps, so the cross-engine hash can't trip on tz/precision
rendering.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from alexandria_pipeline_spark.catalog import load_table
from alexandria_pipeline_spark.functions.banded import running_sums
from alexandria_pipeline_spark.functions.exact import int_div, trunc_div
from alexandria_pipeline_spark.registry import (
    persist_if_source_large,
    query,
    scoped_persist,
)


@query(
    "events_tumbling_window",
    oracle="""
    SELECT
      (epoch_us(ts) // 1000000 // 600) * 600 AS window_start_s,
      event_type,
      count(*)             AS n_events,
      round(sum(value), 2) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def events_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10-minute tumbling window via F.window — the windowed hash
    aggregate is a single shuffle on (window, type); partial aggs run
    map-side. Oracle expresses the same bucketing as epoch floor-div."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "10 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start_s"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


@query(
    "events_sliding_window",
    oracle="""
    SELECT
      ((epoch_us(ts) // 1000000 // 300) - off) * 300 AS window_start_s,
      count(*)             AS n_events,
      CAST(sum(CAST(round(value * 100) AS BIGINT)) * 100 // count(*) AS BIGINT) / 10000.0 AS avg_value
    FROM events
    CROSS JOIN (SELECT unnest(range(0, 2)) AS off)
    GROUP BY 1
    """,
)
def events_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10-minute windows sliding every 5 minutes: each event lands in
    exactly 2 windows (window/slide = 2 replicas — the oracle makes
    that replication explicit with an unnested offset)."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            trunc_div(
            F.sum(F.round(F.col("value") * 100, 0).cast("long")) * 100,
            F.count(F.lit(1)),
            10_000.0,
        ).alias("avg_value"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start_s"),
            "n_events",
            "avg_value",
        )
    )


@query(
    "events_session_window",
    oracle="""
    WITH flagged AS (
      SELECT
        user_id,
        ts,
        event_id,
        value,
        CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800 * 1000000
             OR lag(ts) OVER w IS NULL
             THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sessions AS (
      SELECT
        user_id, ts, value,
        sum(new_session) OVER (
          PARTITION BY user_id ORDER BY ts, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
        ) AS session_id
      FROM flagged
    )
    SELECT
      user_id,
      CAST(session_id AS BIGINT)     AS session_id,
      epoch_us(min(ts)) // 1000000   AS session_start_s,
      epoch_us(max(ts)) // 1000000   AS session_end_s,
      count(*)                       AS n_events,
      round(sum(value), 2)           AS sum_value
    FROM sessions
    GROUP BY user_id, session_id
    """,
)
def events_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (30-min inactivity gap) via gaps-and-islands:
    lag to flag session starts, running sum to number sessions, then a
    grouped agg. One shuffle on user_id serves the window AND the
    final group-by (same partitioning, no second exchange). The
    streaming twin uses F.session_window + watermark."""
    e = load_table(spark, sf_dir, "events")
    # event_id tiebreaks BOTH windows: with a ROWS frame, rows tied on
    # ts could be ordered differently by the two engines and land in
    # different sessions if the running sum ordered by ts alone.
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    us = F.unix_micros(F.col("ts"))
    flagged = e.withColumn(
        "new_session",
        F.when(
            F.lag("ts").over(w).isNull()
            | (us - F.lag(us).over(w) > 1800 * 1_000_000),
            1,
        ).otherwise(0),
    )
    sessions = flagged.withColumn("session_id", F.sum("new_session").over(w_run))
    return (
        sessions.groupBy("user_id", F.col("session_id").cast("long").alias("session_id"))
        .agg(
            (F.unix_micros(F.min("ts")) / 1_000_000).cast("long").alias("session_start_s"),
            (F.unix_micros(F.max("ts")) / 1_000_000).cast("long").alias("session_end_s"),
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )


@query(
    "events_dedup_keep_first",
    oracle="""
    SELECT user_id, event_type, event_id, round(value, 2) AS value
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY user_id, event_type ORDER BY ts, event_id
      ) AS rn
      FROM events
    )
    WHERE rn = 1
    """,
)
def events_dedup_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed keep-first dedup (deterministic flavor of
    dropDuplicates): earliest event per (user, type). The streaming
    twin is dropDuplicatesWithinWatermark."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_type", "event_id", F.round("value", 2).alias("value"))
    )


@query(
    "events_asof_join",
    oracle="""
    SELECT
      p.event_id                  AS purchase_id,
      p.user_id                   AS user_id,
      round(p.value, 2)           AS purchase_value,
      c.event_id                  AS click_id,
      epoch_us(p.ts) // 1000000 - epoch_us(c.ts) // 1000000 AS lag_s
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND c.ts <= p.ts
    """,
)
def events_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase matched to the latest click at or
    before it for the same user.

    Spark has no ASOF JOIN, so this uses the scalable union+window
    form: union both sides tagged, sort within user by (ts, side),
    carry the last click forward with last(ignorenulls), keep
    purchases. ONE shuffle on user_id, no range-join explosion —
    at 100 TB this beats the naive join+filter+row_number (which
    materializes every click×purchase pair per user).

    Tie rule: clicks sort before purchases at equal ts (side asc), so
    a click at exactly p.ts matches, mirroring `c.ts <= p.ts`.
    """
    e = load_table(spark, sf_dir, "events")
    # r12: one scan with conditional side/id columns — the former
    # two-branch filter + unionByName scanned events twice for row
    # sets a single IN-filter partitions exactly.
    is_click = F.col("event_type") == "click"
    unioned = e.filter(F.col("event_type").isin("click", "purchase")).select(
        "user_id",
        "ts",
        F.when(is_click, F.lit(0)).otherwise(F.lit(1)).alias("side"),
        F.when(is_click, F.col("event_id")).cast("long").alias("click_id"),
        F.when(~is_click, F.col("event_id")).cast("long").alias("purchase_id"),
        F.when(~is_click, F.col("value")).cast("double").alias("purchase_value"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "side", "purchase_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    matched = unioned.withColumn(
        "last_click_id", F.last("click_id", ignorenulls=True).over(w)
    ).withColumn("last_click_ts", F.last(F.when(F.col("side") == 0, F.col("ts")), ignorenulls=True).over(w))
    return (
        matched.filter(F.col("side") == 1)
        .select(
            "purchase_id",
            "user_id",
            F.round("purchase_value", 2).alias("purchase_value"),
            F.col("last_click_id").alias("click_id"),
            (
                (F.unix_micros("ts") / 1_000_000).cast("long")
                - (F.unix_micros("last_click_ts") / 1_000_000).cast("long")
            ).alias("lag_s"),
        )
    )


@query(
    "events_funnel_conversion",
    oracle="""
    WITH stages AS (
      SELECT
        user_id,
        min(ts) FILTER (WHERE event_type = 'view')     AS first_view,
        min(ts) FILTER (WHERE event_type = 'click')    AS first_click,
        min(ts) FILTER (WHERE event_type = 'purchase') AS first_purchase
      FROM events
      GROUP BY user_id
    )
    SELECT
      count(*) FILTER (WHERE first_view IS NOT NULL) AS viewed,
      count(*) FILTER (WHERE first_view IS NOT NULL AND first_click > first_view)
        AS clicked_after_view,
      count(*) FILTER (WHERE first_view IS NOT NULL AND first_click > first_view
                         AND first_purchase > first_click)
        AS purchased_after_click,
      count(*) AS total_users
    FROM stages
    """,
)
def events_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel analysis (view → click → purchase, strictly ordered per
    user): one grouped agg computes each user's first event per stage,
    then ordering predicates count stage survivors. Single shuffle on
    user_id regardless of corpus size — the standard product-analytics
    query that naive implementations write as a triple self-join."""
    e = load_table(spark, sf_dir, "events")
    stages = e.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("first_view"),
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("first_click"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "first_purchase"
        ),
    )
    viewed = F.col("first_view").isNotNull()
    clicked = viewed & (F.col("first_click") > F.col("first_view"))
    purchased = clicked & (F.col("first_purchase") > F.col("first_click"))
    return stages.agg(
        F.count(F.when(viewed, 1)).alias("viewed"),
        F.count(F.when(clicked, 1)).alias("clicked_after_view"),
        F.count(F.when(purchased, 1)).alias("purchased_after_click"),
        F.count(F.lit(1)).alias("total_users"),
    )


@query(
    "events_weekly_retention",
    oracle="""
    WITH user_weeks AS (
      SELECT DISTINCT
        user_id,
        epoch_us(ts) // 1000000 // 604800 AS week
      FROM events
    )
    SELECT
      a.week                        AS week,
      count(*)                      AS active_users,
      count(b.user_id)              AS retained_next_week
    FROM user_weeks a
    LEFT JOIN user_weeks b
      ON b.user_id = a.user_id AND b.week = a.week + 1
    GROUP BY a.week
    """,
)
def events_weekly_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users active in epoch-week w who return in
    w+1 — the standard product-analytics cohort query via a
    self-join of the distinct (user, week) activity set. The activity
    set is tiny relative to the event log (|users|x|weeks|), so the
    self-join runs on the reduced table; at 100 TB the event->activity
    reduction is the map-side partial-agg stage."""
    e = load_table(spark, sf_dir, "events")
    week = F.expr("unix_micros(ts) div 1000000 div 604800")
    uw = e.select("user_id", week.alias("week")).distinct()
    a = uw.select(F.col("user_id").alias("u"), F.col("week").alias("week"))
    b = uw.select(F.col("user_id").alias("u2"), (F.col("week") - 1).alias("wprev"))
    return (
        a.join(b, (a.u == b.u2) & (a.week == b.wprev), "left")
        .groupBy("week")
        .agg(
            F.count(F.lit(1)).alias("active_users"),
            F.count("u2").alias("retained_next_week"),
        )
    )


@query(
    "events_top_spenders_per_window",
    oracle="""
    WITH per_user AS (
      SELECT
        (epoch_us(ts) // 1000000 // 3600) * 3600 AS window_start_s,
        user_id,
        round(sum(value), 2) AS spend
      FROM events
      WHERE event_type = 'purchase'
      GROUP BY 1, 2
    )
    SELECT window_start_s, user_id, spend, CAST(rk AS INT) AS rk
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY window_start_s ORDER BY spend DESC, user_id
      ) AS rk
      FROM per_user
    )
    WHERE rk <= 3
    """,
)
def events_top_spenders_per_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed top-N: top-3 purchasers per hour — the composite that
    stacks a time-window aggregate under a ranking window. Both levels
    partition by the window key, so the rank reuses the aggregate's
    partitioning (AQE keeps them in one exchange chain)."""
    e = load_table(spark, sf_dir, "events")
    per_user = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy(F.window("ts", "1 hour").alias("w"), "user_id")
        .agg(F.round(F.sum("value"), 2).alias("spend"))
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start_s"),
            "user_id",
            "spend",
        )
    )
    w = Window.partitionBy("window_start_s").orderBy(F.desc("spend"), F.asc("user_id"))
    return (
        per_user.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("window_start_s", "user_id", "spend", F.col("rk").cast("int").alias("rk"))
    )


@query(
    "events_gap_analysis",
    oracle="""
    WITH gaps AS (
      SELECT user_id,
             epoch_us(ts) // 1000000
               - lag(epoch_us(ts) // 1000000)
                 OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_s
      FROM events
    )
    SELECT user_id,
           CAST(count(gap_s) AS BIGINT) AS n_gaps,
           max(gap_s)                   AS max_gap_s,
           min(gap_s)                   AS min_gap_s,
           CAST(CAST(sum(gap_s) AS BIGINT) // count(gap_s) AS BIGINT)
             AS mean_gap_s
    FROM gaps
    WHERE gap_s IS NOT NULL
    GROUP BY user_id
    """,
)
def events_gap_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-event gap profile per user (lag diff in integer epoch
    seconds → min/max/truncated-mean): the activity-cadence signal
    behind session-timeout tuning and bot detection. One shuffle on
    user_id shared by the lag window and the aggregation; the mean is
    truncating integer division, never a float quotient."""
    e = load_table(spark, sf_dir, "events")
    sec = F.expr("unix_micros(ts) div 1000000")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = e.select(
        "user_id", (sec - F.lag(sec).over(w)).alias("gap_s")
    ).filter(F.col("gap_s").isNotNull())
    return gaps.groupBy("user_id").agg(
        F.count("gap_s").alias("n_gaps"),
        F.max("gap_s").alias("max_gap_s"),
        F.min("gap_s").alias("min_gap_s"),
        int_div(F.sum("gap_s"), F.count("gap_s")).alias("mean_gap_s"),
    )


@query(
    "events_resample_hourly_ffill",
    oracle="""
    WITH hv0 AS (
      SELECT user_id,
             CAST(epoch_us(ts) // 3600000000 * 3600 AS BIGINT) AS hour_s,
             CAST(round(value * 100) AS BIGINT) AS v_c,
             row_number() OVER (
               PARTITION BY user_id, epoch_us(ts) // 3600000000
               ORDER BY ts DESC, event_id DESC
             ) AS rn
      FROM events
    ),
    hv AS (SELECT user_id, hour_s, v_c FROM hv0 WHERE rn = 1),
    bounds AS (
      SELECT user_id, min(hour_s) AS mn, max(hour_s) AS mx
      FROM hv GROUP BY user_id
    ),
    grid AS (
      SELECT user_id, CAST(h AS BIGINT) AS hour_s
      FROM bounds
      CROSS JOIN LATERAL (SELECT unnest(range(mn, mx + 3600, 3600)) AS h)
    ),
    j AS (
      SELECT g.user_id, g.hour_s, hv.v_c
      FROM grid g LEFT JOIN hv ON hv.user_id = g.user_id AND hv.hour_s = g.hour_s
    )
    SELECT user_id, hour_s,
           last_value(v_c IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY hour_s
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS value_cents,
           CAST(v_c IS NULL AS INT) AS is_filled
    FROM j
    """,
)
def events_resample_hourly_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resampling with forward fill — the hypertable
    operation SQL engines lack natively: per user, snap events to an
    hourly grid (last observation in each hour wins, ts+event_id
    tiebreak), densify the grid between the user's first and last
    active hour (sequence + explode — generated engine-side, never
    collected), and carry the last observed value across empty hours
    (last-ignoring-nulls over an ordered per-user window).

    Scale shape: one shuffle on user_id serves the last-per-hour
    window, the grid join, and the fill window (same partitioning);
    the grid explode is bounded by active-span hours per user, not by
    corpus time range. Values stay in exact integer cents."""
    e = load_table(spark, sf_dir, "events")
    hour_s = (F.expr("unix_micros(ts) div 3600000000") * 3600).cast("long")
    w_last = Window.partitionBy("user_id", "hour_s").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    hv = (
        e.select(
            "user_id",
            hour_s.alias("hour_s"),
            F.round(F.col("value") * 100).cast("long").alias("v_c"),
            "ts",
            "event_id",
        )
        .withColumn("rn", F.row_number().over(w_last))
        .filter(F.col("rn") == 1)
        .select("user_id", "hour_s", "v_c")
    )
    bounds = hv.groupBy("user_id").agg(
        F.min("hour_s").alias("mn"), F.max("hour_s").alias("mx")
    )
    grid = bounds.select(
        "user_id",
        F.explode(F.sequence("mn", "mx", F.lit(3600))).alias("hour_s"),
    )
    j = grid.join(hv, ["user_id", "hour_s"], "left")
    w_fill = (
        Window.partitionBy("user_id")
        .orderBy("hour_s")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return j.select(
        "user_id",
        "hour_s",
        F.last("v_c", ignorenulls=True).over(w_fill).alias("value_cents"),
        F.col("v_c").isNull().cast("int").alias("is_filled"),
    )


@query(
    "events_active_streaks",
    oracle="""
    WITH days AS (
      SELECT DISTINCT user_id,
             date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS dayn
      FROM events
    ),
    isl AS (
      SELECT user_id, dayn,
             dayn - row_number() OVER (PARTITION BY user_id ORDER BY dayn)
               AS island
      FROM days
    ),
    st AS (
      SELECT user_id, island, CAST(count(*) AS BIGINT) AS len
      FROM isl GROUP BY user_id, island
    )
    SELECT user_id,
           max(len)                     AS longest_streak,
           CAST(count(*) AS BIGINT)     AS n_streaks,
           CAST(sum(len) AS BIGINT)     AS n_active_days
    FROM st GROUP BY user_id
    """,
)
def events_active_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest run of consecutive active days per user — the
    gaps-and-islands idiom: distinct (user, day), then day_number -
    row_number() is constant within a consecutive run, so grouping on
    that difference splits runs exactly. Every window and aggregate is
    partitioned by user_id: ONE shuffle on user_id feeds the distinct,
    the row_number window, and both groupBys (Catalyst reuses the
    partitioning — no global sort anywhere, no skew beyond a user's
    own day count, which is bounded by the calendar)."""
    e = load_table(spark, sf_dir, "events")
    dayn = F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date"))
    days = e.select("user_id", dayn.alias("dayn")).distinct()
    w = Window.partitionBy("user_id").orderBy("dayn")
    isl = days.select(
        "user_id", (F.col("dayn") - F.row_number().over(w)).alias("island")
    )
    st = isl.groupBy("user_id", "island").agg(F.count(F.lit(1)).alias("len"))
    return st.groupBy("user_id").agg(
        F.max("len").alias("longest_streak"),
        F.count(F.lit(1)).alias("n_streaks"),
        F.sum("len").alias("n_active_days"),
    )


@query(
    "events_cumulative_distinct_users",
    oracle="""
    WITH fs AS (
      SELECT user_id,
             min(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)))
               AS first_day
      FROM events GROUP BY user_id
    ),
    pd AS (
      SELECT first_day, CAST(count(*) AS BIGINT) AS new_users
      FROM fs GROUP BY first_day
    )
    SELECT first_day AS dayn, new_users,
           CAST(sum(new_users) OVER (ORDER BY first_day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS cum_users
    FROM pd
    """,
)
def events_cumulative_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative distinct users per day WITHOUT a running
    count-distinct: each user collapses to their first-seen day (one
    user_id-keyed agg over the fact table — the only shuffle that
    scales with data), daily new-user counts follow, and the running
    sum is a window over ONE ROW PER CALENDAR DAY. That final window
    is unpartitioned but its input cardinality is bounded by the time
    span (365 rows/year), not the corpus — the single-partition sort
    the plan gate forbids elsewhere is safe here by construction and
    documented as such in tests/test_plans.py."""
    e = load_table(spark, sf_dir, "events")
    dayn = F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date"))
    fs = e.groupBy("user_id").agg(F.min(dayn).alias("first_day"))
    pd_ = fs.groupBy("first_day").agg(F.count(F.lit(1)).alias("new_users"))
    w = (
        Window.orderBy("first_day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return pd_.select(
        F.col("first_day").alias("dayn"),
        "new_users",
        F.sum("new_users").over(w).alias("cum_users"),
    )


@query(
    "events_funnel_sequential",
    oracle="""
    WITH m1 AS (
      SELECT user_id,
             min(CASE WHEN event_type = 'view' THEN ts END)
               OVER (PARTITION BY user_id) AS t_view
      FROM events
    ),
    m2 AS (
      SELECT user_id, t_view,
             min(CASE WHEN event_type = 'click' AND ts > t_view THEN ts END)
               OVER (PARTITION BY user_id) AS t_click
      FROM (SELECT DISTINCT user_id, t_view FROM m1) u
      JOIN events USING (user_id)
    ),
    m3 AS (
      SELECT user_id, t_view, t_click,
             min(CASE WHEN event_type = 'purchase' AND ts > t_click THEN ts END)
               OVER (PARTITION BY user_id) AS t_purchase
      FROM (SELECT DISTINCT user_id, t_view, t_click FROM m2) u
      JOIN events USING (user_id)
    ),
    stages AS (
      SELECT DISTINCT user_id, t_view, t_click, t_purchase FROM m3
    )
    SELECT
      user_id,
      CASE WHEN t_purchase IS NOT NULL THEN 3
           WHEN t_click    IS NOT NULL THEN 2
           WHEN t_view     IS NOT NULL THEN 1
           ELSE 0 END AS stage,
      CAST(CASE WHEN t_purchase IS NOT NULL
                THEN epoch_us(t_purchase) // 1000000
                     - epoch_us(t_view) // 1000000 END AS BIGINT)
        AS view_to_purchase_s
    FROM stages
    """,
)
def events_funnel_sequential(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STRICTLY SEQUENTIAL funnel (view → click → purchase): for each
    user,
    the first view, the first click strictly AFTER that view, and the
    first purchase strictly after that click — the attribution-correct
    funnel, not three independent mins.

    Plan shape: three whole-partition window passes over the SAME
    user_id partitioning (Spark reuses one hash partitioning for all
    three — a single shuffle of (user_id, ts, type) triples), then one
    distinct per user. No self-joins of the fact table, no collect;
    state per user is three timestamps. The oracle mirrors each pass
    with join-back CTEs because DuckDB window chains can't reference a
    prior window's alias in the same SELECT."""
    e = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    w = Window.partitionBy("user_id")
    with_v = e.withColumn(
        "t_view",
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w),
    )
    with_c = with_v.withColumn(
        "t_click",
        F.min(
            F.when(
                (F.col("event_type") == "click") & (F.col("ts") > F.col("t_view")),
                F.col("ts"),
            )
        ).over(w),
    )
    with_p = with_c.withColumn(
        "t_purchase",
        F.min(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.col("ts") > F.col("t_click")),
                F.col("ts"),
            )
        ).over(w),
    )
    stages = with_p.select("user_id", "t_view", "t_click", "t_purchase").distinct()
    stage = (
        F.when(F.col("t_purchase").isNotNull(), 3)
        .when(F.col("t_click").isNotNull(), 2)
        .when(F.col("t_view").isNotNull(), 1)
        .otherwise(0)
    )
    secs = F.when(
        F.col("t_purchase").isNotNull(),
        F.expr("unix_micros(t_purchase) div 1000000")
        - F.expr("unix_micros(t_view) div 1000000"),
    )
    return stages.select(
        "user_id",
        stage.alias("stage"),
        secs.alias("view_to_purchase_s"),
    )


@query(
    "events_time_rollup",
    oracle="""
    SELECT
      CASE WHEN grouping(d) = 0 AND grouping(h) = 0 THEN 'hour'
           WHEN grouping(d) = 0 THEN 'day'
           ELSE 'week' END AS grain,
      CAST(epoch_us(coalesce(h, d, wk)) // 1000000 AS BIGINT)
        AS bucket_start_s,
      CAST(count(*) AS BIGINT) AS n_events,
      round(sum(value), 2)     AS sum_value
    FROM (
      SELECT value,
             date_trunc('hour', ts) AS h,
             date_trunc('day', ts)  AS d,
             date_trunc('week', ts) AS wk
      FROM events
    )
    GROUP BY GROUPING SETS ((wk, d, h), (wk, d), (wk))
    """,
)
def events_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style multi-granularity rollup: hour, day, and week
    aggregates of the event stream in ONE pass via ROLLUP over nested
    truncations (week ⊃ day ⊃ hour, so rollup's suffix-drop IS the
    grain hierarchy — no union of three scans, no re-shuffle per
    grain). This is the continuous-aggregate maintenance shape: at
    100 TB each partial-agg row is (bucket, count, sum), mergeable
    across incremental loads. Buckets are emitted as epoch seconds
    (registry rule: no raw timestamps in output)."""
    e = load_table(spark, sf_dir, "events")
    truncs = e.select(
        "value",
        F.date_trunc("hour", "ts").alias("h"),
        F.date_trunc("day", "ts").alias("d"),
        F.date_trunc("week", "ts").alias("wk"),
    )
    rolled = (
        truncs.rollup("wk", "d", "h")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
            F.grouping("d").alias("gd"),
            F.grouping("h").alias("gh"),
            F.grouping("wk").alias("gw"),
        )
        .filter(F.col("gw") == 0)  # drop the grand-total row
    )
    grain = (
        F.when((F.col("gd") == 0) & (F.col("gh") == 0), "hour")
        .when(F.col("gd") == 0, "day")
        .otherwise("week")
    )
    bucket = F.expr(
        "unix_micros(coalesce(h, d, wk)) div 1000000"
    )
    return rolled.select(
        grain.alias("grain"),
        bucket.alias("bucket_start_s"),
        "n_events",
        "sum_value",
    )


@query(
    "events_cdc_latest_state",
    oracle="""
    SELECT user_id, event_type,
           event_id                 AS last_event_id,
           round(value, 2)          AS last_value,
           epoch_us(ts) // 1000000  AS last_ts_s
    FROM events
    QUALIFY row_number() OVER (
      PARTITION BY user_id, event_type ORDER BY ts DESC, event_id DESC
    ) = 1
    """,
)
def events_cdc_latest_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC compaction / last-writer-wins: collapse a change feed to
    the latest record per key — the MERGE-INTO pattern every lakehouse
    ingest job runs. Deliberately NOT a row_number window (that
    sort-shuffles every change row): max(struct(ts, event_id, value))
    is an ordinary aggregate, so map-side partial aggregation collapses
    each key to one row per input partition BEFORE the exchange — at
    100 TB of changes with a bounded key universe, the shuffle carries
    keys, not history. Struct max is lexicographic, so (ts, event_id)
    gives the same deterministic tie-break the oracle's ORDER BY
    ts DESC, event_id DESC does."""
    e = load_table(spark, sf_dir, "events")
    latest = e.groupBy("user_id", "event_type").agg(
        F.max(F.struct("ts", "event_id", "value")).alias("m")
    )
    return latest.select(
        "user_id",
        "event_type",
        F.col("m.event_id").alias("last_event_id"),
        F.round("m.value", 2).alias("last_value"),
        F.expr("unix_micros(m.ts) div 1000000").alias("last_ts_s"),
    )


@query(
    "events_path_analysis",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             lead(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS next_type
      FROM events
    )
    SELECT event_type, next_type, CAST(count(*) AS BIGINT) AS n
    FROM seq WHERE next_type IS NOT NULL
    GROUP BY event_type, next_type
    """,
)
def events_path_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov transition counts over per-user event paths (the
    what-happens-after-X product-analytics staple, and the input to
    any next-event prediction baseline): lead() within user ordered by
    (ts, event_id), then count (from, to) pairs. One shuffle on
    user_id for the window; the transition aggregate runs on
    event-type² cells — bounded by the type vocabulary, with map-side
    combine doing almost all of the work."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    )
    return (
        seq.filter(F.col("next_type").isNotNull())
        .groupBy("event_type", "next_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "events_time_weighted_avg",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_id,
             CAST(round(value * 100) AS BIGINT) AS cents,
             epoch_us(ts) AS us,
             lead(epoch_us(ts)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS next_us
      FROM events
    ),
    dur AS (
      SELECT user_id, cents, (next_us - us) // 1000000 AS dur_s
      FROM seq WHERE next_us IS NOT NULL
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT)     AS n_intervals,
           CAST(sum(dur_s) AS BIGINT)   AS active_seconds,
           CAST(sum(cents * dur_s) // sum(dur_s) AS BIGINT) AS twap_cents
    FROM dur
    GROUP BY user_id
    HAVING sum(dur_s) > 0
    """,
)
def events_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average (TWAP-style) of the event value per user:
    each reading holds until the next one, so its weight is the
    interval length — the standard irregular-time-series mean for
    sensor/price feeds, where the plain AVG over-weights bursts.
    Exact integer math end-to-end (cents x whole seconds, integer
    division) so the hash is cross-engine-stable with no float
    rounding. One user_id shuffle shared by the lead() window and the
    per-user aggregate; output is one row per active user."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "user_id",
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
        F.expr("unix_micros(ts)").alias("us"),
        F.lead(F.expr("unix_micros(ts)")).over(w).alias("next_us"),
    )
    dur = seq.filter(F.col("next_us").isNotNull()).select(
        "user_id",
        "cents",
        F.expr("(next_us - us) div 1000000").alias("dur_s"),
    )
    return (
        dur.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_intervals"),
            F.sum("dur_s").alias("active_seconds"),
            F.expr("sum(cents * dur_s) div sum(dur_s)").alias("twap_cents"),
        )
        .filter(F.col("active_seconds") > 0)
    )


@query(
    "events_attribution_last_touch",
    oracle="""
    WITH tagged AS (
      SELECT user_id, event_type, ts, event_id,
             CAST(round(value * 100) AS BIGINT) AS cents,
             last_value(
               CASE WHEN event_type <> 'purchase' THEN event_type END
               IGNORE NULLS
             ) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ) AS touch
      FROM events
    )
    SELECT touch AS channel,
           CAST(count(*) AS BIGINT)   AS n_purchases,
           CAST(sum(cents) AS BIGINT) AS attributed_cents
    FROM tagged
    WHERE event_type = 'purchase' AND touch IS NOT NULL
    GROUP BY touch
    """,
)
def events_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch revenue attribution: every purchase credits the most
    recent preceding non-purchase event type for that user — the
    marketing-analytics workhorse. last(..., ignorenulls) over an
    UNBOUNDED PRECEDING..1 PRECEDING frame does the per-user carry in
    the same single user_id shuffle the other event windows use; the
    attribution rollup is one event-type-sized aggregate with map-side
    combine. Revenue is integer cents so the hash is float-free."""
    e = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    tagged = e.select(
        "event_type",
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
        F.last(
            F.when(F.col("event_type") != "purchase", F.col("event_type")),
            ignorenulls=True,
        )
        .over(w)
        .alias("touch"),
    )
    return (
        tagged.filter(
            (F.col("event_type") == "purchase") & F.col("touch").isNotNull()
        )
        .groupBy(F.col("touch").alias("channel"))
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.sum("cents").alias("attributed_cents"),
        )
    )


@query(
    "orders_open_backlog_daily",
    oracle="""
    WITH spans AS (
      SELECT o.o_orderkey, CAST(o.o_orderdate AS DATE) AS opened,
             max(CAST(l.l_shipdate AS DATE)) AS closed
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      GROUP BY o.o_orderkey, CAST(o.o_orderdate AS DATE)
    ),
    deltas AS (
      SELECT opened AS day, 1 AS delta FROM spans
      UNION ALL
      SELECT closed + 1 AS day, -1 AS delta FROM spans
    ),
    daily AS (
      SELECT day,
             CAST(sum(CASE WHEN delta = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_opened,
             CAST(sum(CASE WHEN delta = -1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_closed,
             sum(delta) AS net
      FROM deltas GROUP BY day
    )
    SELECT CAST(day AS VARCHAR) AS day, n_opened, n_closed,
           CAST(sum(net) OVER (ORDER BY day
                               ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS open_at_eod
    FROM daily
    """,
)
def orders_open_backlog_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time concurrency (interval stabbing): how many orders
    were OPEN on each calendar day, where an order spans o_orderdate
    through its last lineitem shipdate. The classic sweep-line
    rewrite: explode each span to a +1/-1 boundary delta, aggregate
    per day, then one running sum over DAYS — the unpartitioned window
    runs over one row per calendar day (bounded by the time span, the
    events_cumulative_distinct_users precedent at events.py:605),
    never over orders. The span build is one o_orderkey join+agg
    shuffle; everything after is day-cardinality."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    # aggregate lineitem to one row per order BEFORE the join: the
    # map-side combine collapses ~4 items/order pre-shuffle and the
    # join then moves order-count rows, not lineitem-count rows
    closes = li.groupBy("l_orderkey").agg(
        F.max(F.col("l_shipdate").cast("date")).alias("closed")
    )
    spans = o.join(closes, o.o_orderkey == closes.l_orderkey).select(
        F.col("o_orderdate").cast("date").alias("opened"), "closed"
    )
    # r12: both sweep deltas explode IN-ROW from each span (identical
    # multiset to the former two-branch unionByName, which replanned
    # the orders |><| lineitem-agg join once per branch — the plan's
    # only fact-sized work, run twice).
    deltas = spans.select(
        F.explode(
            F.array(
                F.struct(F.col("opened").alias("day"), F.lit(1).alias("delta")),
                F.struct(
                    F.date_add("closed", 1).alias("day"),
                    F.lit(-1).alias("delta"),
                ),
            )
        ).alias("dd")
    ).select(F.col("dd.day").alias("day"), F.col("dd.delta").alias("delta"))
    daily = deltas.groupBy("day").agg(
        F.sum(F.when(F.col("delta") == 1, 1).otherwise(0)).alias("n_opened"),
        F.sum(F.when(F.col("delta") == -1, 1).otherwise(0)).alias("n_closed"),
        F.sum("delta").alias("net"),
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return daily.select(
        F.col("day").cast("string").alias("day"),
        "n_opened",
        "n_closed",
        F.sum("net").over(w).alias("open_at_eod"),
    )


@query(
    "events_rolling_7d_distinct",
    oracle="""
    WITH user_days AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
    ),
    contrib AS (
      SELECT user_id, d + CAST(i AS INTEGER) AS win_end
      FROM user_days, range(0, 7) t(i)
    ),
    bounds AS (SELECT min(CAST(ts AS DATE)) AS lo,
                      max(CAST(ts AS DATE)) AS hi FROM events)
    SELECT CAST(win_end AS VARCHAR) AS day,
           CAST(count(DISTINCT user_id) AS BIGINT) AS active_7d
    FROM contrib, bounds
    WHERE win_end >= lo AND win_end <= hi
    GROUP BY win_end
    """,
)
def events_rolling_7d_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day distinct active users per day — the DAU/WAU-style
    engagement metric. Sliding DISTINCT windows don't decompose into
    ordinary window frames, so the scalable rewrite is
    contribute-and-count: reduce to distinct (user, day) pairs first
    (the big map-side-combined shuffle — bounded by users x days, not
    events), explode each pair into the 7 window-end days it serves
    (a fixed x7 row generation, never data-dependent), and count
    distinct per day. Two shuffles total; the bounds filter trims
    partial windows past the data edge identically in both engines."""
    e = load_table(spark, sf_dir, "events")
    user_days = e.select(
        "user_id", F.col("ts").cast("date").alias("d")
    ).distinct()
    contrib = user_days.select(
        "user_id",
        F.explode(
            F.sequence(F.col("d"), F.date_add(F.col("d"), 6))
        ).alias("win_end"),
    )
    bounds = e.agg(
        F.min(F.col("ts").cast("date")).alias("lo"),
        F.max(F.col("ts").cast("date")).alias("hi"),
    )
    return (
        contrib.crossJoin(F.broadcast(bounds))
        .filter((F.col("win_end") >= F.col("lo")) & (F.col("win_end") <= F.col("hi")))
        .groupBy(F.col("win_end").cast("string").alias("day"))
        .agg(F.countDistinct("user_id").alias("active_7d"))
    )


@query(
    "events_user_mode_type",
    oracle="""
    WITH cnt AS (
      SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY user_id, event_type
    )
    SELECT user_id, event_type AS modal_type, n AS n_events
    FROM cnt
    QUALIFY row_number() OVER (
      PARTITION BY user_id ORDER BY n DESC, event_type
    ) = 1
    """,
)
def events_user_mode_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user modal event type (the per-group mode/argmax): count
    per (user, type), then keep the max by (count, type-name
    tiebreak) — expressed as min(struct(-n, type)) so BOTH
    reductions are ordinary aggregates with map-side combine and the
    user_id shuffle carries at most |type-universe| rows per user,
    never raw events (a row_number window would sort-shuffle the
    whole count table instead). Negating the count inside the struct
    makes lexicographic MIN mean (count DESC, type ASC) — identical
    to the oracle's ORDER BY n DESC, event_type — with no dependence
    on knowing the type domain."""
    e = load_table(spark, sf_dir, "events")
    cnt = e.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    best = cnt.groupBy("user_id").agg(
        F.min(F.struct((-F.col("n")).alias("neg_n"), "event_type", "n")).alias("m")
    )
    return best.select(
        "user_id",
        F.col("m.event_type").alias("modal_type"),
        F.col("m.n").alias("n_events"),
    )


@query(
    "events_user_diversity_simpson",
    oracle="""
    WITH cnt AS (
      SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY user_id, event_type
    ),
    per_user AS (
      SELECT user_id,
             CAST(sum(n) AS BIGINT)          AS n_events,
             CAST(count(*) AS BIGINT)        AS n_types,
             CAST(sum(n * n) AS BIGINT)      AS sum_sq
      FROM cnt GROUP BY user_id
    )
    SELECT user_id, n_events, n_types,
           CAST(1000000 - sum_sq * 1000000 // (n_events * n_events) AS BIGINT)
             AS simpson_ppm
    FROM per_user
    """,
)
def events_user_diversity_simpson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral diversity per user as the Simpson index 1 - Σp² —
    the log-free diversity metric (unlike Shannon entropy it needs no
    transcendentals, so it stays exact integer ppm and hash-stable
    cross-engine). Two stacked aggregates, both map-side combining:
    events -> (user, type) counts -> per-user moment sums; the shuffle
    carries at most |type-universe| rows per user. 0 ppm = one
    behavior only; -> 1e6 = uniformly spread."""
    e = load_table(spark, sf_dir, "events")
    cnt = e.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    per_user = cnt.groupBy("user_id").agg(
        F.sum("n").alias("n_events"),
        F.count(F.lit(1)).alias("n_types"),
        F.sum(F.col("n") * F.col("n")).alias("sum_sq"),
    )
    return per_user.select(
        "user_id",
        "n_events",
        "n_types",
        F.expr(
            "1000000 - sum_sq * 1000000 div (n_events * n_events)"
        ).alias("simpson_ppm"),
    )


@query(
    "events_ab_test_lift",
    oracle="""
    WITH assigned AS (
      SELECT user_id,
             CASE WHEN user_id % 2 = 0 THEN 'control' ELSE 'treatment' END
               AS arm,
             CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT)
               AS purchases,
             CAST(sum(CASE WHEN event_type = 'purchase'
                           THEN CAST(round(value * 100) AS BIGINT)
                           ELSE 0 END) AS BIGINT) AS cents
      FROM events GROUP BY user_id
    )
    SELECT arm,
           CAST(count(*) AS BIGINT)                    AS n_users,
           CAST(sum(CASE WHEN purchases > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS converters,
           CAST(sum(CASE WHEN purchases > 0 THEN 1 ELSE 0 END) * 1000000
                // count(*) AS BIGINT)                 AS conversion_ppm,
           CAST(sum(cents) AS BIGINT)                  AS revenue_cents,
           CAST(sum(cents) // count(*) AS BIGINT)      AS arpu_cents
    FROM assigned GROUP BY arm
    """,
)
def events_ab_test_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment read-out: deterministic hash assignment of users
    to arms (in production: a salted hash of user_id x experiment_id —
    here parity, so the oracle is reproducible), then per-arm
    conversion and ARPU in exact integer ppm/cents. Two stacked
    map-side-combining aggregates (events -> per-user, per-user ->
    per-arm); the shuffle carries one row per user, the output two
    rows. The significance test belongs downstream — the engine's job
    is exact counts, which is why everything here hashes identically
    cross-engine."""
    e = load_table(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        F.count(F.when(F.col("event_type") == "purchase", 1)).alias(
            "purchases"
        ),
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                F.expr("CAST(round(value * 100) AS BIGINT)"),
            ).otherwise(0)
        ).alias("cents"),
    )
    assigned = per_user.withColumn(
        "arm",
        F.when(F.col("user_id") % 2 == 0, "control").otherwise("treatment"),
    )
    return assigned.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum(F.when(F.col("purchases") > 0, 1).otherwise(0)).alias(
            "converters"
        ),
        F.expr(
            "sum(CASE WHEN purchases > 0 THEN 1 ELSE 0 END) * 1000000 "
            "div count(1)"
        ).alias("conversion_ppm"),
        F.sum("cents").alias("revenue_cents"),
        F.expr("sum(cents) div count(1)").alias("arpu_cents"),
    )


@query(
    "events_funnel_time_to_convert",
    oracle="""
    WITH firsts AS (
      SELECT user_id,
             min(CASE WHEN event_type = 'click' THEN epoch_us(ts) END)
               AS first_click_us,
             min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END)
               AS first_purchase_us
      FROM events GROUP BY user_id
    ),
    delays AS (
      SELECT (first_purchase_us - first_click_us) // 1000000 // 3600
               AS delay_hours
      FROM firsts
      WHERE first_click_us IS NOT NULL
        AND first_purchase_us > first_click_us
    )
    SELECT CAST(delay_hours AS BIGINT) AS delay_hours,
           CAST(count(*) AS BIGINT)    AS n_users
    FROM delays GROUP BY delay_hours
    """,
)
def events_funnel_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion-delay histogram: hours from a user's FIRST click to
    their FIRST subsequent purchase, bucketed by hour — the
    time-to-convert distribution growth teams read next to the funnel
    counts (events_funnel_conversion gives how many; this gives how
    fast). First-touch extraction is conditional min() — an ordinary
    aggregate with map-side combine, NO window, one user_id shuffle —
    and the histogram output is bounded by the time span in hours.
    Integer microsecond math end-to-end."""
    e = load_table(spark, sf_dir, "events")
    firsts = e.groupBy("user_id").agg(
        F.min(
            F.when(
                F.col("event_type") == "click", F.expr("unix_micros(ts)")
            )
        ).alias("first_click_us"),
        F.min(
            F.when(
                F.col("event_type") == "purchase", F.expr("unix_micros(ts)")
            )
        ).alias("first_purchase_us"),
    )
    delays = firsts.filter(
        F.col("first_click_us").isNotNull()
        & (F.col("first_purchase_us") > F.col("first_click_us"))
    ).select(
        F.expr(
            "(first_purchase_us - first_click_us) div 1000000 div 3600"
        ).alias("delay_hours")
    )
    return delays.groupBy("delay_hours").agg(
        F.count(F.lit(1)).alias("n_users")
    )


@query(
    "events_user_feature_matrix",
    oracle="""
    WITH bounds AS (SELECT max(epoch_us(ts)) AS now_us FROM events),
    per_user AS (
      SELECT user_id,
             CAST(count(*) AS BIGINT) AS frequency,
             CAST(sum(CASE WHEN event_type = 'purchase'
                           THEN CAST(round(value * 100) AS BIGINT)
                           ELSE 0 END) AS BIGINT) AS monetary_cents,
             CAST(count(DISTINCT event_type) AS BIGINT) AS n_types,
             CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS active_days,
             max(epoch_us(ts)) AS last_us,
             min(epoch_us(ts)) AS first_us
      FROM events GROUP BY user_id
    )
    SELECT user_id, frequency, monetary_cents, n_types, active_days,
           CAST((now_us - last_us) // 1000000 // 86400 AS BIGINT)
             AS recency_days,
           CAST((last_us - first_us) // 1000000 // 86400 AS BIGINT)
             AS tenure_days,
           CAST(monetary_cents // frequency AS BIGINT)
             AS cents_per_event
    FROM per_user, bounds
    """,
)
def events_user_feature_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The last mile of an ML data pipeline: materialize the per-user
    FEATURE MATRIX (recency / frequency / monetary / diversity /
    tenure) that a churn or LTV model trains on — every column an
    ordinary aggregate so the whole matrix is ONE map-side-combined
    user_id shuffle plus a broadcast 1-row corpus clock ("now" = max
    event time, so the feature set is reproducible — never wall-clock).
    Integer days/cents keep the export hash-exact; in production this
    frame feeds the featurizer seam (functions/featurizer.py) or is
    written via the range-partitioned sink for training-shard locality."""
    e = load_table(spark, sf_dir, "events")
    bounds = e.agg(F.max(F.expr("unix_micros(ts)")).alias("now_us"))
    per_user = e.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("frequency"),
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                F.expr("CAST(round(value * 100) AS BIGINT)"),
            ).otherwise(0)
        ).alias("monetary_cents"),
        F.countDistinct("event_type").alias("n_types"),
        F.countDistinct(F.col("ts").cast("date")).alias("active_days"),
        F.max(F.expr("unix_micros(ts)")).alias("last_us"),
        F.min(F.expr("unix_micros(ts)")).alias("first_us"),
    )
    return per_user.crossJoin(F.broadcast(bounds)).select(
        "user_id",
        "frequency",
        "monetary_cents",
        "n_types",
        "active_days",
        F.expr("(now_us - last_us) div 1000000 div 86400").alias(
            "recency_days"
        ),
        F.expr("(last_us - first_us) div 1000000 div 86400").alias(
            "tenure_days"
        ),
        F.expr("monetary_cents div frequency").alias("cents_per_event"),
    )


ASOF_NEAREST_TOL_S = 1800  # only pair within +/- 30 minutes


@query(
    "events_asof_nearest",
    oracle=f"""
    WITH clicks AS (
      SELECT user_id, event_id AS click_id, epoch_us(ts) AS c_us
      FROM events WHERE event_type = 'click'
    ),
    purchases AS (
      SELECT user_id, event_id AS purchase_id, epoch_us(ts) AS p_us
      FROM events WHERE event_type = 'purchase'
    ),
    pairs AS (
      SELECT p.user_id, p.purchase_id, c.click_id,
             abs(p.p_us - c.c_us) // 1000000 AS gap_s
      FROM purchases p JOIN clicks c
        ON p.user_id = c.user_id
       AND abs(p.p_us - c.c_us) <= {ASOF_NEAREST_TOL_S} * 1000000
    )
    SELECT user_id, purchase_id, click_id, CAST(gap_s AS BIGINT) AS gap_s
    FROM pairs
    QUALIFY row_number() OVER (
      PARTITION BY purchase_id ORDER BY gap_s, click_id
    ) = 1
    """,
)
def events_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAREST as-of join (both directions, bounded tolerance): each
    purchase pairs with its closest click within ±30 minutes —
    backward-only ASOF (events_asof_join) misses the click that lands
    seconds AFTER an impulse purchase. Implemented as a banded
    interval equi-join (the join_interval_bucketed technique would
    apply at scale; at this tolerance the per-user time-bound join is
    already candidate-bounded) followed by a struct-min argmin per
    purchase — an aggregate, not a window, so map-side combine keeps
    the shuffle at one row per (purchase, partition). The tolerance
    bound is what makes this scale: candidates per purchase are
    clicks within a fixed time slab, independent of history length."""
    e = load_table(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("event_id").alias("click_id"),
        F.expr("unix_micros(ts)").alias("c_us"),
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.expr("unix_micros(ts)").alias("p_us"),
    )
    pairs = purchases.join(
        clicks,
        (F.col("p_user") == F.col("user_id"))
        & (
            F.abs(F.col("p_us") - F.col("c_us"))
            <= ASOF_NEAREST_TOL_S * 1_000_000
        ),
    ).select(
        "user_id",
        "purchase_id",
        "click_id",
        F.expr("abs(p_us - c_us) div 1000000").alias("gap_s"),
    )
    best = pairs.groupBy("purchase_id").agg(
        F.min(F.struct("gap_s", "click_id", "user_id")).alias("m")
    )
    return best.select(
        F.col("m.user_id").alias("user_id"),
        "purchase_id",
        F.col("m.click_id").alias("click_id"),
        F.col("m.gap_s").alias("gap_s"),
    )


@query(
    "orders_basket_histogram",
    oracle="""
    WITH sizes AS (
      SELECT l_orderkey, CAST(count(*) AS BIGINT) AS basket_size
      FROM lineitem GROUP BY l_orderkey
    )
    SELECT basket_size, CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(basket_size) AS BIGINT) AS n_items
    FROM sizes GROUP BY basket_size
    """,
)
def orders_basket_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Basket-size distribution (items per order) — the first question
    about any transactional fact table, and the sizing input for
    market_basket_lift's pair expansion. Two stacked map-side-combined
    aggregates; output bounded by the max basket size (7 in TPC-H at
    any SF)."""
    li = load_table(spark, sf_dir, "lineitem")
    sizes = li.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("basket_size")
    )
    return sizes.groupBy("basket_size").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("basket_size").alias("n_items"),
    )


@query(
    "events_hourly_heatmap",
    oracle="""
    SELECT CAST(dayofweek(ts) AS INT) AS dow,
           CAST(hour(ts) AS INT)      AS hod,
           CAST(count(*) AS BIGINT)   AS n_events,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
             AS cents
    FROM events GROUP BY 1, 2
    """,
)
def events_hourly_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day x day-of-week activity heatmap — the ops-dashboard
    staple for capacity planning and anomaly eyeballing. One map-side-
    combined aggregate to at most 168 cells regardless of corpus size;
    exact integer cents. (DuckDB dayofweek is 0-6 Sunday-first; Spark's
    dayofweek() is 1-7 — the oracle and plan use the same 0-6 form via
    dayofweek(ts) in DuckDB and dayofweek(ts)-1 in Spark.)"""
    e = load_table(spark, sf_dir, "events")
    return e.groupBy(
        (F.dayofweek("ts") - 1).cast("int").alias("dow"),
        F.hour("ts").cast("int").alias("hod"),
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.expr("CAST(round(value * 100) AS BIGINT)")).alias("cents"),
    )


@query(
    "events_next_event_model",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             lead(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS next_type
      FROM events
    ),
    trans AS (
      SELECT event_type, next_type, CAST(count(*) AS BIGINT) AS n
      FROM seq WHERE next_type IS NOT NULL
      GROUP BY event_type, next_type
    ),
    tot AS (
      SELECT event_type, CAST(sum(n) AS BIGINT) AS n_from
      FROM trans GROUP BY event_type
    )
    SELECT t.event_type, t.next_type AS predicted_next, t.n AS n_observed,
           CAST(t.n * 1000000 // o.n_from AS BIGINT) AS prob_ppm
    FROM trans t JOIN tot o ON t.event_type = o.event_type
    QUALIFY row_number() OVER (
      PARTITION BY t.event_type ORDER BY t.n DESC, t.next_type
    ) = 1
    """,
)
def events_next_event_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A first-order Markov next-event PREDICTOR materialized as a
    table: for each event type, the most likely successor and its
    probability — the baseline model product teams deploy before any
    sequence NN, and the lookup table that serves it is exactly this
    query's output (broadcast-sized: one row per event type). Builds
    on the same single user_id window as events_path_analysis, then
    two type²-bounded aggregates; the argmax is min(struct(-n, type))
    — an aggregate, no second window. Integer ppm probabilities."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    )
    trans = (
        seq.filter(F.col("next_type").isNotNull())
        .groupBy("event_type", "next_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # argmax and the per-type total come from ONE aggregate over the
    # transition counts — two separate aggs would re-evaluate the whole
    # window+count subtree per branch (measured: 6 exchanges -> 4)
    best = trans.groupBy("event_type").agg(
        F.min(
            F.struct((-F.col("n")).alias("neg_n"), "next_type", "n")
        ).alias("m"),
        F.sum("n").alias("n_from"),
    )
    return best.select(
        "event_type",
        F.col("m.next_type").alias("predicted_next"),
        F.col("m.n").alias("n_observed"),
        F.expr("m.n * 1000000 div n_from").alias("prob_ppm"),
    )


BOT_BURST_PER_MIN = 5  # >= this many events in one minute looks scripted


@query(
    "events_bot_burst_flags",
    oracle=f"""
    WITH per_min AS (
      SELECT user_id,
             epoch_us(ts) // 1000000 // 60 AS minute,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    )
    SELECT user_id,
           CAST(max(n) AS BIGINT)    AS peak_per_min,
           CAST(count(*) AS BIGINT)  AS active_minutes,
           CAST(sum(n) AS BIGINT)    AS n_events,
           CASE WHEN max(n) >= {BOT_BURST_PER_MIN} THEN 1 ELSE 0 END
             AS bot_flag
    FROM per_min GROUP BY user_id
    """,
)
def events_bot_burst_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burst-based bot/scripted-traffic detection: flag users whose
    peak per-minute event rate looks inhuman — the traffic-hygiene
    filter run BEFORE engagement analytics (and before events feed a
    training corpus: scripted sessions poison behavioral models the
    same way boilerplate poisons text). Two stacked map-side-combining
    aggregates — (user, minute) then user — with integer minute
    bucketing; no windows, one shuffle per level, output one row per
    user."""
    e = load_table(spark, sf_dir, "events")
    per_min = e.groupBy(
        "user_id",
        F.expr("unix_micros(ts) div 1000000 div 60").alias("minute"),
    ).agg(F.count(F.lit(1)).alias("n"))
    return per_min.groupBy("user_id").agg(
        F.max("n").alias("peak_per_min"),
        F.count(F.lit(1)).alias("active_minutes"),
        F.sum("n").alias("n_events"),
        F.when(F.max("n") >= BOT_BURST_PER_MIN, 1)
        .otherwise(0)
        .alias("bot_flag"),
    )


@query(
    "events_markov2_transitions",
    oracle="""
    WITH seq AS (
      SELECT
        lag(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS p2,
        lag(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS p1,
        event_type AS next_type
      FROM events
    ),
    trans AS (
      SELECT p2, p1, next_type, CAST(count(*) AS BIGINT) AS n
      FROM seq WHERE p2 IS NOT NULL
      GROUP BY p2, p1, next_type
    )
    SELECT p2, p1, next_type, n,
           CAST(n * 1000000 // sum(n) OVER (PARTITION BY p2, p1) AS BIGINT) AS ctx_ppm
    FROM trans
    ORDER BY p2, p1, next_type
    """,
)
def events_markov2_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-order Markov transition matrix over per-user event
    sequences: for every (t−2, t−1) context, the distribution of the
    next event type in exact ppm — the step up from
    events_next_event_model's first-order lookup that captures "view →
    cart → ?" vs "cart → view → ?" asymmetries. Both lags ride the
    SAME user_id window (one shuffle, the events_path_analysis
    precedent); the context-share window then runs over the transition
    table, whose cardinality is |types|³ — a few hundred rows at any
    SF — so the second exchange is constant-sized. Integer ppm via
    truncating div."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        F.lag("event_type", 2).over(w).alias("p2"),
        F.lag("event_type", 1).over(w).alias("p1"),
        F.col("event_type").alias("next_type"),
    )
    trans = (
        seq.filter(F.col("p2").isNotNull())
        .groupBy("p2", "p1", "next_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w_ctx = Window.partitionBy("p2", "p1")
    return (
        trans.select(
            "p2",
            "p1",
            "next_type",
            F.col("n").cast("long").alias("n"),
            # decimal(38,0): n·1e6 passes int64 around 1e13 transitions
            F.expr(
                "CAST(CAST(n AS decimal(38,0)) * 1000000"
                " div sum(n) OVER (PARTITION BY p2, p1) AS BIGINT)"
            ).alias("ctx_ppm"),
        )
        .orderBy("p2", "p1", "next_type")
    )


@query(
    "events_interarrival_log2_histogram",
    oracle="""
    WITH gaps AS (
      SELECT event_type,
             epoch_us(ts) // 1000000
               - lag(epoch_us(ts) // 1000000)
                 OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_s
      FROM events
    ),
    bucketed AS (
      SELECT event_type,
             CASE WHEN gap_s = 0 THEN 0
                  ELSE CAST(length(bin(gap_s)) AS BIGINT) END AS bucket,
             gap_s
      FROM gaps WHERE gap_s IS NOT NULL
    )
    SELECT event_type, bucket,
           CAST(count(*) AS BIGINT) AS n,
           CAST(min(gap_s) AS BIGINT) AS min_gap_s,
           CAST(max(gap_s) AS BIGINT) AS max_gap_s
    FROM bucketed
    GROUP BY event_type, bucket
    ORDER BY event_type, bucket
    """,
)
def events_interarrival_log2_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log2-bucketed inter-arrival histogram per event type — the
    heavy-tailed-gap distribution behind session-timeout and watermark
    tuning (gap histograms are ALWAYS log-scaled; linear bins put 99%
    of mass in bin 0). The bucket is the BINARY DIGIT COUNT of the
    gap seconds — pure integer arithmetic (Spark conv(·,10,2) length,
    DuckDB bin() length), the same no-float-log2 discipline as the
    LSH plane formula, so both engines bucket identically with zero
    edge-case risk at powers of two. One user_id shuffle for the lag
    window, then a (type × ~40 buckets)-bounded aggregate."""
    e = load_table(spark, sf_dir, "events")
    sec = F.expr("unix_micros(ts) div 1000000")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = e.select(
        "event_type", (sec - F.lag(sec).over(w)).alias("gap_s")
    ).filter(F.col("gap_s").isNotNull())
    bucket = (
        F.when(F.col("gap_s") == 0, F.lit(0))
        .otherwise(F.length(F.conv(F.col("gap_s").cast("string"), 10, 2)))
        .cast("long")
    )
    return (
        gaps.select("event_type", bucket.alias("bucket"), "gap_s")
        .groupBy("event_type", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("gap_s").cast("long").alias("min_gap_s"),
            F.max("gap_s").cast("long").alias("max_gap_s"),
        )
        .select(
            "event_type",
            "bucket",
            F.col("n").cast("long").alias("n"),
            "min_gap_s",
            "max_gap_s",
        )
        .orderBy("event_type", "bucket")
    )


@query(
    "events_type_affinity",
    oracle="""
    WITH ud AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day, event_type
      FROM events
    ),
    n_ud AS (
      SELECT CAST(count(*) AS BIGINT) AS total FROM (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
      )
    ),
    singles AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM ud
      GROUP BY event_type
    ),
    co AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             CAST(count(*) AS BIGINT) AS n_ab
      FROM ud a JOIN ud b
        ON a.user_id = b.user_id AND a.day = b.day
       AND a.event_type < b.event_type
      GROUP BY 1, 2
    )
    SELECT type_a, type_b, n_ab,
           sa.n AS n_a, sb.n AS n_b,
           CAST(CAST(n_ab AS HUGEINT) * total * 1000000 // (CAST(sa.n AS HUGEINT) * sb.n) AS BIGINT) AS lift_ppm
    FROM co
    JOIN singles sa ON sa.event_type = co.type_a
    JOIN singles sb ON sb.event_type = co.type_b
    CROSS JOIN n_ud
    ORDER BY type_a, type_b
    """,
)
def events_type_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-type affinity (market-basket lift with user-days as the
    baskets): for every type pair, P(a,b)/(P(a)·P(b)) in exact ppm —
    which behaviors travel together within a user's day, the feature
    behind cross-sell triggers and funnel hypotheses. Shape: one
    DISTINCT shuffle to (user, day, type) rows — the only fact-sized
    exchange — then the pair join runs WITHIN (user, day) groups whose
    width is bounded by |types|, so the self-join output is ≤
    |types|²/2 rows per user-day, never quadratic in events. Single
    counts and the user-day total are type-cardinality/1-row
    broadcasts. Integer lift via truncating div."""
    e = load_table(spark, sf_dir, "events")
    # r12 negative result (kept out): persisting ud (it feeds n_ud,
    # singles, and both pair-join sides — four replans of the events
    # scan + DISTINCT) measured +0.3 s at sf0.1 in both A/B sessions:
    # the four replans run in parallel branches on idle cores for less
    # than the cache barrier costs here. At 100 TB the persist (or a
    # written-once user-day relation) is the right form.
    ud = e.select(
        "user_id", F.col("ts").cast("date").alias("day"), "event_type"
    ).distinct()
    n_ud = ud.select("user_id", "day").distinct().agg(
        F.count(F.lit(1)).alias("total")
    )
    singles = ud.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    a = ud.select("user_id", "day", F.col("event_type").alias("type_a"))
    b = ud.select("user_id", "day", F.col("event_type").alias("type_b"))
    co = (
        a.join(b, ["user_id", "day"])
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
    )
    sa = F.broadcast(
        singles.select(F.col("event_type").alias("type_a"), F.col("n").alias("n_a"))
    )
    sb = F.broadcast(
        singles.select(F.col("event_type").alias("type_b"), F.col("n").alias("n_b"))
    )
    return (
        co.join(sa, "type_a")
        .join(sb, "type_b")
        .crossJoin(F.broadcast(n_ud))
        .select(
            "type_a",
            "type_b",
            F.col("n_ab").cast("long").alias("n_ab"),
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            # decimal(38,0)/HUGEINT: n_ab*total*1e6 is ~1e26 at
            # 100-TB user-day counts — BIGINT throws under ANSI
            F.expr(
                "CAST(CAST(n_ab AS decimal(38,0)) * total * 1000000"
                " div (CAST(n_a AS decimal(38,0)) * n_b) AS BIGINT)"
            ).alias("lift_ppm"),
        )
        .orderBy("type_a", "type_b")
    )


PEAK_SESSION_GAP_S = 1800


@query(
    "events_peak_concurrency_daily",
    oracle=f"""
    WITH flagged AS (
      SELECT user_id, ts, event_id, epoch_us(ts) // 1000000 AS sec,
             CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w
                       > {PEAK_SESSION_GAP_S} * 1000000
                  OR lag(ts) OVER w IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT user_id, sec,
             sum(new_session) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS session_id
      FROM flagged
    ),
    spans AS (
      SELECT user_id, session_id,
             min(sec) AS s, max(sec) AS e
      FROM sess GROUP BY user_id, session_id
    ),
    deltas AS (
      SELECT s AS t, 1 AS d FROM spans
      UNION ALL
      SELECT e + 1 AS t, -1 AS d FROM spans
    ),
    sec_net AS (
      SELECT t, CAST(sum(d) AS BIGINT) AS net,
             CAST(sum(CASE WHEN d = 1 THEN 1 ELSE 0 END) AS BIGINT) AS starts,
             CAST(sum(CASE WHEN d = -1 THEN 1 ELSE 0 END) AS BIGINT) AS ends
      FROM deltas GROUP BY t
    ),
    run AS (
      SELECT t, starts, ends,
             CAST(sum(net) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS running
      FROM sec_net
    )
    SELECT
      strftime(DATE '1970-01-01' + INTERVAL (t // 86400) DAY, '%Y-%m-%d') AS day,
      CAST(sum(starts) AS BIGINT) AS n_starts,
      CAST(sum(ends) AS BIGINT)   AS n_ends,
      CAST(max(running) AS BIGINT) AS peak_concurrent
    FROM run
    GROUP BY t // 86400
    ORDER BY day
    """,
)
def events_peak_concurrency_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT daily peak of concurrently-active user sessions — the
    capacity-planning number (licenses, websocket slots, GPU seats)
    that hourly-distinct approximations systematically undercount.
    Sessions are the 30-min-gap islands (the events_session_window
    rule); concurrency at second t counts sessions with start ≤ t ≤
    end, via the sweep-line +1/−1 delta encoding with all deltas in
    the SAME second pre-aggregated to one net (so no within-second
    ordering ambiguity exists in either engine).

    The interesting part is doing an inherently SEQUENTIAL scan-max
    without any data-sized window: deltas collapse to per-SECOND nets
    (cardinality ≤ elapsed seconds — bounded by TIME, not data), and
    the running net is functions/banded.running_sums with the DAY as
    the band (calendar-bounded band rows, ≤ 86400 second-rows per
    within-band partition). Peak per day = max running net over its
    seconds. The session build itself is the standard one-user-window
    shape."""
    e = load_table(spark, sf_dir, "events")
    sec = F.expr("unix_micros(ts) div 1000000")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = e.select(
        "user_id",
        "ts",
        "event_id",
        sec.alias("sec"),
        F.when(
            F.lag("ts").over(w).isNull()
            | (
                F.expr("unix_micros(ts)")
                - F.expr("unix_micros(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))")
                > PEAK_SESSION_GAP_S * 1_000_000
            ),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("new_session"),
    )
    # session-numbering cumsum ordered by (ts, event_id) — the repo's
    # documented tie-break rule; ordering by the collapsed `sec` alone
    # is nondeterministic for same-second events (ADVICE r5, medium).
    w_sess = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    sess = flagged.select(
        "user_id", "sec", F.sum("new_session").over(w_sess).alias("session_id")
    )
    spans = sess.groupBy("user_id", "session_id").agg(
        F.min("sec").alias("s"), F.max("sec").alias("e")
    )
    # The +1/-1 deltas explode IN-ROW from each span (one branch, not a
    # two-branch union that replans the session build per branch), and
    # the per-second net frame — bounded by elapsed SECONDS, not data —
    # is scoped-persisted so running_sums' day totals and its
    # within-day window share one session build.
    deltas = spans.select(
        F.explode(
            F.array(
                F.struct(F.col("s").alias("t"), F.lit(1).alias("d")),
                F.struct((F.col("e") + 1).alias("t"), F.lit(-1).alias("d")),
            )
        ).alias("td")
    ).select(F.col("td.t").alias("t"), F.col("td.d").alias("d"))
    sec_net = deltas.groupBy("t").agg(
        F.sum("d").alias("net"),
        F.sum((F.col("d") == 1).cast("long")).alias("starts"),
        F.sum((F.col("d") == -1).cast("long")).alias("ends"),
    )
    day = F.expr("t div 86400")
    per_sec = scoped_persist(
        sec_net.select(day.alias("day_i"), "t", "net", "starts", "ends")
    )
    run = running_sums(per_sec, "day_i", ["t"], {"run": F.col("net")})
    return (
        run.groupBy("day_i")
        .agg(
            F.sum("starts").alias("n_starts"),
            F.sum("ends").alias("n_ends"),
            F.max("run").alias("peak"),
        )
        .select(
            F.date_format(
                F.date_add(F.lit("1970-01-01").cast("date"), F.col("day_i").cast("int")),
                "yyyy-MM-dd",
            ).alias("day"),
            F.col("n_starts").cast("long").alias("n_starts"),
            F.col("n_ends").cast("long").alias("n_ends"),
            F.col("peak").cast("long").alias("peak_concurrent"),
        )
        .orderBy("day")
    )


# MATCH_RECOGNIZE-style sequence patterns over per-user event-initial
# strings (v=view, c=click, p=purchase, s=signup, e=error).
SEQ_PATTERNS = {
    "browse_to_buy": "v[vc]*p",
    "error_then_churnless_buy": "e[vce]*p",
    "signup_first_session": "^s",
    "error_storm": "eee",
}


@query(
    "events_sequence_pattern_match",
    oracle=f"""
    WITH seq AS (
      SELECT user_id,
             string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id) AS s
      FROM events GROUP BY user_id
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n_users FROM seq)
    {" UNION ALL ".join(
        f'''SELECT '{name}' AS pattern,
               CAST(count(*) FILTER (WHERE regexp_matches(s, '{rx}')) AS BIGINT)
                 AS n_matched,
               CAST(count(*) FILTER (WHERE regexp_matches(s, '{rx}')) * 1000000
                    // min(n_users) AS BIGINT) AS match_ppm
        FROM seq, tot'''
        for name, rx in sorted(SEQ_PATTERNS.items())
    )}
    ORDER BY pattern
    """,
)
def events_sequence_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL MATCH_RECOGNIZE emulated at scale: each user's event history
    compresses to an ordered INITIAL string (one char per event), and
    behavioral patterns become plain regexes over it — 'view/click run
    ending in purchase', 'error then eventual purchase', 'signed up
    first', 'three errors back-to-back'. This is the row-pattern
    engine Spark lacks natively, built from two primitives it runs
    well: an order-preserving string aggregation (sort_array over
    (ts, event_id, initial) structs — ONE user shuffle, the same
    exchange every sessionization query uses) and codegen regexp_like
    over the compressed string (bounded by events-per-user, thousands
    of times smaller than the raw rows). Patterns are plan-time
    constants expanded into per-pattern conditional counts — a
    |patterns|-row read-out, no second pass over the fact data."""
    e = load_table(spark, sf_dir, "events")
    seq = (
        e.groupBy("user_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                "ts", "event_id", F.substring("event_type", 1, 1).alias("c")
                            )
                        )
                    ),
                    lambda x: x["c"],
                ),
                "",
            ).alias("s")
        )
    )
    tot = seq.agg(F.count(F.lit(1)).alias("n_users"))
    counted = seq.crossJoin(F.broadcast(tot)).agg(
        F.min("n_users").alias("n_users"),
        *[
            F.sum(F.regexp_like("s", F.lit(rx)).cast("long")).alias(f"m_{name}")
            for name, rx in sorted(SEQ_PATTERNS.items())
        ],
    )
    stack_args = ", ".join(
        f"'{name}', m_{name}" for name in sorted(SEQ_PATTERNS)
    )
    return (
        counted.select(
            "n_users",
            F.expr(
                f"stack({len(SEQ_PATTERNS)}, {stack_args}) AS (pattern, n_matched)"
            ),
        )
        .select(
            "pattern",
            F.col("n_matched").cast("long").alias("n_matched"),
            F.expr("CAST(n_matched * 1000000 div n_users AS BIGINT)").alias(
                "match_ppm"
            ),
        )
        .orderBy("pattern")
    )


@query(
    "events_session_duration_percentiles",
    oracle=f"""
    WITH flagged AS (
      SELECT user_id, ts, event_id, epoch_us(ts) // 1000000 AS sec,
             CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w
                       > {PEAK_SESSION_GAP_S} * 1000000
                  OR lag(ts) OVER w IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT user_id, sec,
             sum(new_session) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS session_id
      FROM flagged
    ),
    spans AS (
      SELECT user_id, session_id,
             CAST(max(sec) - min(sec) AS BIGINT) AS dur_s,
             CAST(count(*) AS BIGINT) AS n_events
      FROM sess GROUP BY user_id, session_id
    )
    SELECT
      CAST(count(*) AS BIGINT)                    AS n_sessions,
      round(quantile_cont(dur_s, 0.50), 4)        AS p50_s,
      round(quantile_cont(dur_s, 0.90), 4)        AS p90_s,
      round(quantile_cont(dur_s, 0.99), 4)        AS p99_s,
      CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END)
           * 1000000 // count(*) AS BIGINT)       AS bounce_ppm,
      CAST(sum(dur_s) * 1000 // count(*) AS BIGINT) AS mean_milli_s
    FROM spans
    """,
)
def events_session_duration_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-duration SLO read-out: p50/p90/p99 and exact milli-mean
    of 30-min-gap session lengths plus the bounce rate (single-event
    sessions) — the engagement dashboard every product team keeps,
    and the empirical input to the session-gap constant itself. Same
    one-user-window session build as events_peak_concurrency_daily;
    durations collapse to one row per session, and the exact
    percentile (bitwise-equal to quantile_cont, the agg_percentiles
    precedent) runs over the session frame. At 100 TB sessions are
    ~1% of events — the percentile's sort is over the collapsed
    frame, and approx_percentile slots in unchanged if even that is
    too much."""
    e = load_table(spark, sf_dir, "events")
    sec = F.expr("unix_micros(ts) div 1000000")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = e.select(
        "user_id",
        "ts",
        "event_id",
        sec.alias("sec"),
        F.when(
            F.lag("ts").over(w).isNull()
            | (
                F.expr("unix_micros(ts)")
                - F.expr(
                    "unix_micros(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))"
                )
                > PEAK_SESSION_GAP_S * 1_000_000
            ),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("new_session"),
    )
    # (ts, event_id) ordering — same tie-break fix as
    # events_peak_concurrency_daily (ADVICE r5, medium).
    w_sess = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    spans = (
        flagged.select(
            "user_id", "sec", F.sum("new_session").over(w_sess).alias("session_id")
        )
        .groupBy("user_id", "session_id")
        .agg(
            (F.max("sec") - F.min("sec")).cast("long").alias("dur_s"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )
    return spans.agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.round(F.expr("percentile(dur_s, 0.50)"), 4).alias("p50_s"),
        F.round(F.expr("percentile(dur_s, 0.90)"), 4).alias("p90_s"),
        F.round(F.expr("percentile(dur_s, 0.99)"), 4).alias("p99_s"),
        F.expr(
            "CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END)"
            " * 1000000 div count(1) AS BIGINT)"
        ).alias("bounce_ppm"),
        F.expr("CAST(sum(dur_s) * 1000 div count(1) AS BIGINT)").alias(
            "mean_milli_s"
        ),
    ).select(
        F.col("n_sessions").cast("long").alias("n_sessions"),
        "p50_s",
        "p90_s",
        "p99_s",
        "bounce_ppm",
        "mean_milli_s",
    )


@query(
    "events_arrival_disorder_audit",
    oracle="""
    WITH seq AS (
      SELECT event_type,
             epoch_us(ts) AS t_us,
             lag(epoch_us(ts)) OVER (
               PARTITION BY user_id ORDER BY event_id
             ) AS prev_us
      FROM events
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_arrivals,
           CAST(sum(CASE WHEN t_us < prev_us THEN 1 ELSE 0 END) AS BIGINT)
             AS n_inversions,
           CAST(sum(CASE WHEN t_us < prev_us THEN 1 ELSE 0 END) * 1000000
                // count(*) AS BIGINT) AS inversion_ppm,
           CAST(coalesce(max(CASE WHEN t_us < prev_us
                THEN (prev_us - t_us) // 1000000 END), 0) AS BIGINT)
             AS max_backstep_s
    FROM seq
    WHERE prev_us IS NOT NULL
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def events_arrival_disorder_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-orderness audit: in ARRIVAL order (event_id — the
    ingest sequence), how often does event time step backwards per
    user, and by how much at worst — THE measurement that turns
    watermark choice from folklore into arithmetic (withWatermark's
    delay should dominate max_backstep_s; inversion_ppm says how much
    data a tight watermark would drop). Per event type because
    different sources have different delivery jitter. One user_id
    window over arrival order (the standard sessionization exchange),
    then a type-cardinality aggregate; all integer microseconds."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("event_id")
    seq = e.select(
        "event_type",
        F.expr("unix_micros(ts)").alias("t_us"),
        F.lag(F.expr("unix_micros(ts)")).over(w).alias("prev_us"),
    ).filter(F.col("prev_us").isNotNull())
    inv = F.col("t_us") < F.col("prev_us")
    return (
        seq.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_arrivals"),
            F.sum(inv.cast("long")).alias("n_inversions"),
            F.expr(
                "CAST(sum(CASE WHEN t_us < prev_us THEN 1 ELSE 0 END)"
                " * 1000000 div count(1) AS BIGINT)"
            ).alias("inversion_ppm"),
            F.coalesce(
                F.max(
                    F.when(inv, F.expr("(prev_us - t_us) div 1000000"))
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("max_backstep_s"),
        )
        .select(
            "event_type",
            F.col("n_arrivals").cast("long").alias("n_arrivals"),
            F.col("n_inversions").cast("long").alias("n_inversions"),
            "inversion_ppm",
            "max_backstep_s",
        )
        .orderBy("event_type")
    )


@query(
    "events_resample_hourly_interpolate",
    oracle="""
    WITH hv0 AS (
      SELECT user_id,
             CAST(epoch_us(ts) // 3600000000 * 3600 AS BIGINT) AS hour_s,
             CAST(round(value * 100) AS BIGINT) AS v_c,
             row_number() OVER (
               PARTITION BY user_id, epoch_us(ts) // 3600000000
               ORDER BY ts DESC, event_id DESC
             ) AS rn
      FROM events
    ),
    hv AS (SELECT user_id, hour_s, v_c FROM hv0 WHERE rn = 1),
    bounds AS (
      SELECT user_id, min(hour_s) AS mn, max(hour_s) AS mx
      FROM hv GROUP BY user_id
    ),
    grid AS (
      SELECT user_id, CAST(h AS BIGINT) AS hour_s
      FROM bounds
      CROSS JOIN LATERAL (SELECT unnest(range(mn, mx + 3600, 3600)) AS h)
    ),
    j AS (
      SELECT g.user_id, g.hour_s, hv.v_c
      FROM grid g LEFT JOIN hv ON hv.user_id = g.user_id AND hv.hour_s = g.hour_s
    ),
    carried AS (
      SELECT user_id, hour_s, v_c,
        last_value(v_c IGNORE NULLS) OVER (
          PARTITION BY user_id ORDER BY hour_s
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
        last_value(CASE WHEN v_c IS NOT NULL THEN hour_s END IGNORE NULLS) OVER (
          PARTITION BY user_id ORDER BY hour_s
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pt,
        first_value(v_c IGNORE NULLS) OVER (
          PARTITION BY user_id ORDER BY hour_s
          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
        first_value(CASE WHEN v_c IS NOT NULL THEN hour_s END IGNORE NULLS) OVER (
          PARTITION BY user_id ORDER BY hour_s
          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nt
      FROM j
    )
    SELECT user_id, hour_s,
           CAST(CASE
             WHEN v_c IS NOT NULL THEN v_c
             WHEN nv IS NULL THEN pv
             WHEN pv IS NULL THEN nv
             ELSE pv + (nv - pv) * (hour_s - pt) // (nt - pt)
           END AS BIGINT) AS value_cents,
           CAST(CASE WHEN v_c IS NULL THEN 1 ELSE 0 END AS BIGINT) AS is_gap
    FROM carried
    ORDER BY user_id, hour_s
    """,
)
def events_resample_hourly_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly resample with LINEAR interpolation across gaps — the
    numeric-sensor sibling of events_resample_hourly_ffill (step
    carry-forward lies about trends; the lerp v1 + (v2−v1)(t−t1)/
    (t2−t1) is the standard gap fill for metering/pricing series).
    Exact integers end-to-end: cents in, one truncating div per gap
    point (Spark `div` and DuckDB `//` both truncate toward zero —
    measured in functions/exact.py — so negative slopes agree too).
    Shape (r5 verdict #2 rewrite): the per-user grid is bounded by the
    OBSERVED min/max hour, so every gap row sits strictly between two
    observed neighbours — one lead() window over the observed rows
    (tiny vs the grid) yields each gap's endpoints, and the gap hours
    are generated by a per-gap sequence explode with the lerp endpoints
    already attached as row constants. The dense-grid materialize +
    left join + two unbounded-frame windows of the old plan are gone;
    the only exchange left before the output sort is the per-user
    window over observed hours. Output rows are identical (the oracle
    keeps the dense-grid formulation; its boundary-carry branches are
    dead code under the observed-min/max grid)."""
    e = load_table(spark, sf_dir, "events")
    hour_s = (F.expr("unix_micros(ts) div 3600000000") * 3600).alias("hour_s")
    w_last = Window.partitionBy(
        "user_id", F.expr("unix_micros(ts) div 3600000000")
    ).orderBy(F.desc("ts"), F.desc("event_id"))
    hv = (
        e.select(
            "user_id",
            hour_s,
            F.round(F.col("value") * 100).cast("long").alias("v_c"),
            F.row_number().over(w_last).alias("rn"),
            "ts",
            "event_id",
        )
        .filter(F.col("rn") == 1)
        .select("user_id", "hour_s", "v_c")
    )
    w_u = Window.partitionBy("user_id").orderBy("hour_s")
    seq = hv.select(
        "user_id",
        "hour_s",
        "v_c",
        F.lead("hour_s").over(w_u).alias("nt"),
        F.lead("v_c").over(w_u).alias("nv"),
    )
    observed = seq.select(
        "user_id",
        "hour_s",
        F.col("v_c").cast("long").alias("value_cents"),
        F.lit(0).cast("long").alias("is_gap"),
    )
    gaps = (
        seq.filter(F.col("nt").isNotNull() & (F.col("nt") - F.col("hour_s") > 3600))
        .select(
            "user_id",
            "hour_s",
            "v_c",
            "nt",
            "nv",
            F.explode(
                F.sequence(F.col("hour_s") + 3600, F.col("nt") - 3600, F.lit(3600))
            ).alias("h"),
        )
        .select(
            "user_id",
            F.expr("CAST(v_c + (nv - v_c) * (h - hour_s) div (nt - hour_s) AS BIGINT)")
            .alias("value_cents"),
            F.col("h").alias("hour_s"),
            F.lit(1).cast("long").alias("is_gap"),
        )
        .select("user_id", "hour_s", "value_cents", "is_gap")
    )
    return observed.unionByName(gaps).orderBy("user_id", "hour_s")


@query(
    "events_growth_accounting",
    oracle="""
    WITH ud AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ),
    seq AS (
      SELECT user_id, day,
             lag(day) OVER (PARTITION BY user_id ORDER BY day) AS prev_day,
             lead(day) OVER (PARTITION BY user_id ORDER BY day) AS next_day
      FROM ud
    ),
    classified AS (
      SELECT day,
             CASE WHEN prev_day IS NULL THEN 'new'
                  WHEN day - prev_day = 1 THEN 'retained'
                  ELSE 'resurrected' END AS status,
             CASE WHEN next_day IS NULL OR next_day - day > 1 THEN 1 ELSE 0 END
               AS churns_after
      FROM seq
    )
    SELECT strftime(day, '%Y-%m-%d') AS day,
           CAST(sum(CASE WHEN status = 'new' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_new,
           CAST(sum(CASE WHEN status = 'retained' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_retained,
           CAST(sum(CASE WHEN status = 'resurrected' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_resurrected,
           CAST(sum(churns_after) AS BIGINT) AS n_churning_after
    FROM classified
    GROUP BY day
    ORDER BY day
    """,
)
def events_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Growth accounting — the GAAP of user growth: every active
    user-day classified as NEW (first ever), RETAINED (also active
    yesterday) or RESURRECTED (returning after a gap), plus how many
    of the day's actives churn immediately after (no activity
    tomorrow) — the four flows whose balance explains any DAU curve
    (dau_t = new + retained + resurrected; a flat DAU can hide a
    leaky bucket, which is exactly what this table exposes). Shape:
    one DISTINCT to (user, day), one user window carrying lag/lead of
    ACTIVE DAYS (rows per user bounded by days active, not events),
    one calendar-bounded day aggregate. All integer day arithmetic."""
    e = load_table(spark, sf_dir, "events")
    ud = e.select("user_id", F.col("ts").cast("date").alias("day")).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    seq = ud.select(
        "day",
        F.lag("day").over(w).alias("prev_day"),
        F.lead("day").over(w).alias("next_day"),
    )
    status = (
        F.when(F.col("prev_day").isNull(), F.lit("new"))
        .when(F.datediff("day", "prev_day") == 1, F.lit("retained"))
        .otherwise(F.lit("resurrected"))
    )
    churns = (
        F.col("next_day").isNull() | (F.datediff("next_day", "day") > 1)
    ).cast("long")
    return (
        seq.select("day", status.alias("status"), churns.alias("churns_after"))
        .groupBy("day")
        .agg(
            F.sum((F.col("status") == "new").cast("long")).alias("n_new"),
            F.sum((F.col("status") == "retained").cast("long")).alias("n_retained"),
            F.sum((F.col("status") == "resurrected").cast("long")).alias(
                "n_resurrected"
            ),
            F.sum("churns_after").alias("n_churning_after"),
        )
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.col("n_new").cast("long").alias("n_new"),
            F.col("n_retained").cast("long").alias("n_retained"),
            F.col("n_resurrected").cast("long").alias("n_resurrected"),
            F.col("n_churning_after").cast("long").alias("n_churning_after"),
        )
        .orderBy("day")
    )


# Intended 90/10 split for the SRM check (user_id % 10 == 0 -> treatment)
SRM_WEIGHTS = {"control": 9, "treatment": 1}
SRM_CHI2_FLAG_MILLI = 3841  # chi-square df=1, p=0.05 critical value x1000


@query(
    "events_ab_srm_check",
    oracle=f"""
    WITH users AS (
      SELECT DISTINCT user_id,
             CASE WHEN user_id % 10 = 0 THEN 'treatment' ELSE 'control' END
               AS arm
      FROM events
    ),
    arms AS (
      SELECT arm, CAST(count(*) AS BIGINT) AS n FROM users GROUP BY arm
    ),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM arms),
    terms AS (
      SELECT arm, n,
             CASE arm WHEN 'control' THEN 9 ELSE 1 END AS w,
             CAST(CAST(10 * n - (CASE arm WHEN 'control' THEN 9 ELSE 1 END) * total
                       AS HUGEINT)
                  * (10 * n - (CASE arm WHEN 'control' THEN 9 ELSE 1 END) * total)
                  * 1000
                  // (10 * (CASE arm WHEN 'control' THEN 9 ELSE 1 END) * total)
                  AS BIGINT) AS chi2_milli
      FROM arms, tot
    )
    SELECT arm, n AS n_users,
           CAST(w * (SELECT total FROM tot) // 10 AS BIGINT) AS expected_users,
           chi2_milli,
           CAST(CASE WHEN (SELECT sum(chi2_milli) FROM terms)
                          > {SRM_CHI2_FLAG_MILLI} THEN 1 ELSE 0 END AS BIGINT)
             AS srm_flag
    FROM terms
    ORDER BY arm
    """,
)
def events_ab_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch check — the prerequisite NO experiment
    read-out is valid without: does the realized arm split match the
    intended 90/10 within chi-square noise? A failed SRM means the
    assignment or logging is broken and every downstream lift number
    is garbage (the industry's most common silent A/B bug). The
    statistic uses the division-free cell form (10·O − w·N)²·1000 /
    (10·w·N) — pure integers, per-term truncation identical in both
    engines (the orders_priority_mix_shift discipline) — and the flag
    compares the milli-statistic to the df=1 p=0.05 critical value.
    One DISTINCT user exchange, then 2-row arithmetic."""
    e = load_table(spark, sf_dir, "events")
    users = e.select(
        "user_id",
        F.when(F.col("user_id") % 10 == 0, F.lit("treatment"))
        .otherwise(F.lit("control"))
        .alias("arm"),
    ).distinct()
    arms = users.groupBy("arm").agg(F.count(F.lit(1)).alias("n"))
    tot = arms.agg(F.sum("n").alias("total"))
    w = (
        F.when(F.col("arm") == "control", F.lit(9)).otherwise(F.lit(1))
    ).alias("w")
    terms = (
        arms.crossJoin(F.broadcast(tot))
        .select(
            "arm",
            "n",
            w,
            "total",
        )
        .withColumn(
            "chi2_milli",
            # decimal(38,0)/HUGEINT: the squared deviation passes int64
            # around 1e9 users
            F.expr(
                "CAST(CAST(10 * n - w * total AS decimal(38,0))"
                " * (10 * n - w * total) * 1000"
                " div (10 * w * total) AS BIGINT)"
            ),
        )
    )
    chi2_total = terms.agg(F.sum("chi2_milli").alias("chi2_sum"))
    return (
        terms.crossJoin(F.broadcast(chi2_total))
        .select(
            "arm",
            F.col("n").cast("long").alias("n_users"),
            F.expr("CAST(w * total div 10 AS BIGINT)").alias("expected_users"),
            F.col("chi2_milli").cast("long").alias("chi2_milli"),
            (F.col("chi2_sum") > SRM_CHI2_FLAG_MILLI)
            .cast("long")
            .alias("srm_flag"),
        )
        .orderBy("arm")
    )


# Watermark tuning: candidate delays (seconds) for the lateness curve.
# The testdata ships event TIME but no ingest/arrival sequence (the
# file is perfectly time-ordered), so delivery jitter is synthesized
# from a deterministic formula both engines replicate — the same
# staged-fixture discipline as the BMP/WAV formula payloads: arrival =
# event time + (LCG(event_id) mod WM_MAX_DELAY_S) seconds.
WATERMARK_CANDIDATES_S = (0, 60, 300, 900, 3600)
WM_MAX_DELAY_S = 600
WM_LCG_A = 1_103_515_245
WM_LCG_B = 12_345
WM_LCG_M = 2_147_483_647
WM_BAND_US = 3_600_000_000  # 1h arrival bands for the two-phase max


@query(
    "events_watermark_lateness_curve",
    oracle=f"""
    WITH arr AS (
      SELECT event_id, epoch_us(ts) AS t_us,
             epoch_us(ts)
               + ((event_id * {WM_LCG_A} + {WM_LCG_B}) % {WM_LCG_M}
                  % {WM_MAX_DELAY_S}) * 1000000 AS arr_us
      FROM events
    ),
    seq AS (
      SELECT t_us,
             max(t_us) OVER (
               ORDER BY arr_us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ) AS hwm_us
      FROM arr
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM events),
    curve AS (
      SELECT CAST(w.w_s AS BIGINT) AS w_s,
             CAST(sum(CASE WHEN s.hwm_us IS NOT NULL
                            AND s.t_us < s.hwm_us - CAST(w.w_s AS BIGINT) * 1000000
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_late
      FROM seq s
      CROSS JOIN (SELECT unnest({list(WATERMARK_CANDIDATES_S)}) AS w_s) w
      GROUP BY 1
    )
    SELECT w_s, n_late,
           CAST(n_late * 1000000 // n AS BIGINT) AS late_ppm
    FROM curve, tot
    ORDER BY w_s
    """,
)
def events_watermark_lateness_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The watermark TUNING table the disorder audit motivates: for
    each candidate delay W, exactly how many events would Structured
    Streaming drop — an event is late at W iff its event time is older
    than (high-water mark at its arrival) - W, where the high-water
    mark is the max event time over all STRICTLY EARLIER arrivals,
    Spark's own watermark semantics. Arrival order is event time plus
    a deterministic per-event delivery delay (LCG mod {WM_MAX_DELAY_S}s
    — the testdata is perfectly time-ordered, so jitter is staged by
    formula, exactly like the multimodal payloads). Pick the knee of
    this curve instead of guessing: W past the max delay must show 0,
    and it does — the 900s/3600s rows are the proof.

    The global running max is the single-partition-window hazard, so
    it runs TWO-PHASE BANDED with TIME-bounded bands (the
    events_peak_concurrency_daily discipline, not id-ranges): 1-hour
    arrival bands get a band max; the exclusive band-prefix max runs
    over band rows only (bounded by the corpus time span at any data
    volume); the intra-band running max is a window PARTITIONED by
    band. Nothing ever sorts the full stream in one task. The
    candidate fan-out is a 5-element literal explode (map-only), then
    one 5-group aggregate."""
    e = load_table(spark, sf_dir, "events").select(
        "event_id", F.expr("unix_micros(ts)").alias("t_us")
    )
    arr = e.withColumn(
        "arr_us",
        F.col("t_us")
        + (
            (F.col("event_id") * WM_LCG_A + WM_LCG_B)
            % WM_LCG_M
            % WM_MAX_DELAY_S
        )
        * 1_000_000,
    ).withColumn("band", F.expr(f"arr_us div {WM_BAND_US}"))
    # r12: the band aggregate also carries each band's row count, so
    # the total-events denominator reads the tiny band table instead
    # of re-scanning the fact table (3 events scans -> 2).
    band_max = scoped_persist(
        arr.groupBy("band").agg(
            F.max("t_us").alias("bmax"), F.count(F.lit(1)).alias("bn")
        )
    )
    w_b = Window.orderBy("band").rowsBetween(Window.unboundedPreceding, -1)
    prev = band_max.select(
        "band", F.max("bmax").over(w_b).alias("prev_max")
    )
    w_i = (
        Window.partitionBy("band")
        .orderBy("arr_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    seq = (
        arr.join(F.broadcast(prev), "band")
        .withColumn("run_max", F.max("t_us").over(w_i))
        .withColumn("hwm_us", F.greatest("prev_max", "run_max"))
    )
    tot = band_max.agg(F.coalesce(F.sum("bn"), F.lit(0).cast("long")).alias("n"))
    # long literals: w_s * 1e6 passes int32 at W=3600 (ANSI overflow)
    cand = F.array(*[F.lit(w).cast("long") for w in WATERMARK_CANDIDATES_S])
    curve = (
        seq.select("t_us", "hwm_us", F.explode(cand).alias("w_s"))
        .groupBy("w_s")
        .agg(
            F.sum(
                (
                    F.col("hwm_us").isNotNull()
                    & (F.col("t_us") < F.col("hwm_us") - F.col("w_s") * 1_000_000)
                ).cast("long")
            ).alias("n_late")
        )
    )
    return (
        curve.crossJoin(F.broadcast(tot))
        .select(
            F.col("w_s").cast("long").alias("w_s"),
            F.col("n_late").cast("long").alias("n_late"),
            int_div(F.col("n_late") * 1_000_000, F.col("n")).alias("late_ppm"),
        )
        .orderBy("w_s")
    )


@query(
    "orders_cohort_ltv_curve",
    oracle="""
    WITH fo AS (
      SELECT o_custkey,
             CAST(min(year(o_orderdate) * 12 + month(o_orderdate))
               AS BIGINT) AS cm
      FROM orders GROUP BY o_custkey
    ),
    rev AS (
      SELECT f.cm,
             CAST(year(o.o_orderdate) * 12 + month(o.o_orderdate)
               AS BIGINT) - f.cm AS age,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
               AS BIGINT) AS r
      FROM orders o JOIN fo f ON o.o_custkey = f.o_custkey
      GROUP BY 1, 2
    ),
    cs AS (SELECT cm, CAST(count(*) AS BIGINT) AS n FROM fo GROUP BY cm)
    SELECT rev.cm AS cohort_month, rev.age AS age_months,
           cs.n AS n_customers,
           CAST(sum(rev.r) OVER (PARTITION BY rev.cm ORDER BY rev.age)
             AS BIGINT) AS cum_rev_cents
    FROM rev JOIN cs ON cs.cm = rev.cm
    ORDER BY cohort_month, age_months
    """,
)
def orders_cohort_ltv_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curves — the growth-analytics table every
    subscription/commerce team tracks: customers cohorted by FIRST
    purchase month, revenue accumulated by month-age, so column age=k
    across rows reads 'how much has each cohort spent by month k' and
    a flattening curve flags retention decay the weekly-retention
    table (events_weekly_retention) shows only for activity, not
    money. Exact cents end to end.

    Plan shape: first-order month per customer is one map-side-
    combined min aggregate; revenue lands on (cohort, age) — at most
    span-months² cells — via a customer-keyed equi-join; the cumsum
    window is PARTITIONED by cohort over calendar-BOUNDED rows (never
    a data-sized partition). The fact table is touched twice
    (min-aggregate + join), each time collapsing immediately."""
    o = load_table(spark, sf_dir, "orders")
    m = (F.year("o_orderdate") * 12 + F.month("o_orderdate")).cast("long")
    fo = o.groupBy("o_custkey").agg(F.min(m).alias("cm"))
    rev = (
        o.join(fo, "o_custkey")
        .groupBy("cm", (m - F.col("cm")).alias("age"))
        .agg(
            F.expr(
                "CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)"
            ).alias("r")
        )
    )
    cs = fo.groupBy("cm").agg(F.count(F.lit(1)).cast("long").alias("n"))
    w = (
        Window.partitionBy("cm")
        .orderBy("age")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        rev.join(F.broadcast(cs), "cm")
        .select(
            F.col("cm").alias("cohort_month"),
            F.col("age").alias("age_months"),
            F.col("n").alias("n_customers"),
            F.sum("r").over(w).cast("long").alias("cum_rev_cents"),
        )
        .orderBy("cohort_month", "age_months")
    )


@query(
    "events_dau_stickiness",
    oracle="""
    WITH user_days AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
    ),
    contrib AS (
      SELECT user_id, CAST(i AS INTEGER) AS off,
             d + CAST(i AS INTEGER) AS win_end
      FROM user_days, range(0, 30) t(i)
    ),
    bounds AS (SELECT min(CAST(ts AS DATE)) AS lo,
                      max(CAST(ts AS DATE)) AS hi FROM events)
    SELECT CAST(win_end AS VARCHAR) AS day,
           CAST(count(DISTINCT CASE WHEN off < 1 THEN user_id END)
             AS BIGINT) AS dau,
           CAST(count(DISTINCT CASE WHEN off < 7 THEN user_id END)
             AS BIGINT) AS wau,
           CAST(count(DISTINCT user_id) AS BIGINT) AS mau,
           CAST(count(DISTINCT CASE WHEN off < 1 THEN user_id END) * 1000000
                // count(DISTINCT user_id) AS BIGINT) AS stickiness_ppm
    FROM contrib, bounds
    WHERE win_end >= lo AND win_end <= hi
    GROUP BY win_end
    ORDER BY win_end
    """,
)
def events_dau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / WAU / MAU + stickiness (DAU/MAU) per day — THE product
    engagement dashboard. Sliding DISTINCT windows don't decompose
    into window frames, so all three horizons ride ONE
    contribute-and-count pass (the events_rolling_7d_distinct
    rewrite, generalized): distinct (user, day) pairs explode into
    the 30 window-end days they serve tagged with the offset, and
    each horizon is a conditional count-distinct over the SAME
    shuffled frame (off<1 → DAU, off<7 → WAU, all → MAU) — one
    user_days aggregate + one win_end aggregate total, never three
    passes. Stickiness is exact truncating ppm; the bounds filter
    trims partial windows identically in both engines."""
    e = load_table(spark, sf_dir, "events")
    # r12: user_days is the fact collapse point; persist it and derive
    # the calendar bounds from it (min/max over the distinct (user,
    # day) pairs IS min/max over events' dates) — one events scan +
    # one distinct exchange instead of two scans and two replans.
    user_days = scoped_persist(
        e.select("user_id", F.col("ts").cast("date").alias("d")).distinct()
    )
    contrib = user_days.select(
        "user_id",
        F.posexplode(
            F.sequence(F.col("d"), F.date_add(F.col("d"), 29))
        ).alias("off", "win_end"),
    )
    bounds = user_days.agg(
        F.min(F.col("d")).alias("lo"),
        F.max(F.col("d")).alias("hi"),
    )
    return (
        contrib.crossJoin(F.broadcast(bounds))
        .filter(
            (F.col("win_end") >= F.col("lo")) & (F.col("win_end") <= F.col("hi"))
        )
        .groupBy(F.col("win_end").cast("string").alias("day"))
        .agg(
            F.expr(
                "CAST(count(DISTINCT CASE WHEN off < 1 THEN user_id END)"
                " AS BIGINT)"
            ).alias("dau"),
            F.expr(
                "CAST(count(DISTINCT CASE WHEN off < 7 THEN user_id END)"
                " AS BIGINT)"
            ).alias("wau"),
            F.expr("CAST(count(DISTINCT user_id) AS BIGINT)").alias("mau"),
            F.expr(
                "CAST(count(DISTINCT CASE WHEN off < 1 THEN user_id END)"
                " * 1000000 div count(DISTINCT user_id) AS BIGINT)"
            ).alias("stickiness_ppm"),
        )
        .orderBy("day")
    )


# SLO: 99% of events non-error (budget 1% = 10000 ppm); page on the
# SRE-workbook multiwindow policy (1h burn > 14.4x AND 6h burn > 6x).
SLO_BUDGET_PPM = 10_000
BURN_1H_E3 = 14_400
BURN_6H_E3 = 6_000


@query(
    "events_slo_burn_rate",
    oracle=f"""
    WITH hourly AS (
      SELECT (epoch_us(ts) // 1000000 // 3600) * 3600 AS h,
             CAST(count(*) FILTER (WHERE event_type = 'error') AS BIGINT)
               AS errs,
             CAST(count(*) AS BIGINT) AS total
      FROM events GROUP BY 1
    ),
    win AS (
      SELECT a.h, a.errs AS errors_1h, a.total AS total_1h,
             CAST(sum(b.errs) AS BIGINT) AS errs_6h,
             CAST(sum(b.total) AS BIGINT) AS total_6h
      FROM hourly a JOIN hourly b
        ON b.h > a.h - 6 * 3600 AND b.h <= a.h
      GROUP BY a.h, a.errs, a.total
    )
    SELECT CAST(h AS BIGINT) AS hour_s, errors_1h, total_1h,
           CAST(errors_1h * 1000000 // total_1h * 1000
                // {SLO_BUDGET_PPM} AS BIGINT) AS burn_1h_e3,
           CAST(errs_6h * 1000000 // total_6h * 1000
                // {SLO_BUDGET_PPM} AS BIGINT) AS burn_6h_e3,
           CAST((errors_1h * 1000000 // total_1h * 1000
                 // {SLO_BUDGET_PPM} > {BURN_1H_E3})
            AND (errs_6h * 1000000 // total_6h * 1000
                 // {SLO_BUDGET_PPM} > {BURN_6H_E3}) AS INT) AS page_flag
    FROM win ORDER BY hour_s
    """,
)
def events_slo_burn_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiwindow SLO BURN-RATE alerting (Google SRE workbook ch.5):
    against a 99% non-error SLO, the burn rate is error_share /
    error_budget per window; a page fires only when BOTH the fast 1h
    window (> 14.4x — budget gone in ~2 days) and the slow 6h window
    (> 6x) burn hot, which suppresses both short blips and stale
    alerts. All integer: shares in exact truncating ppm, burn in e3.

    Plan: the event stream collapses to one row per HOUR in a single
    map-side-combined aggregate (the only data-sized shuffle); the 6h
    trailing window is a calendar-BOUNDED self-join (<= 6 partners
    per hour over SF-invariant hourly rows — the orders_ewma_daily
    discipline, never a data-sized window); everything after is
    map-only arithmetic."""
    e = load_table(spark, sf_dir, "events")
    hourly = e.groupBy(
        F.expr("(unix_micros(ts) div 1000000 div 3600) * 3600").alias("h")
    ).agg(
        F.sum((F.col("event_type") == "error").cast("long")).alias("errs"),
        F.count(F.lit(1)).cast("long").alias("total"),
    )
    a = hourly.select(
        F.col("h").alias("ah"),
        F.col("errs").alias("errors_1h"),
        F.col("total").alias("total_1h"),
    )
    b = hourly.select(
        F.col("h").alias("bh"),
        F.col("errs").alias("be"),
        F.col("total").alias("bt"),
    )
    win = (
        a.join(
            F.broadcast(b),
            (F.col("bh") > F.col("ah") - 6 * 3600) & (F.col("bh") <= F.col("ah")),
        )
        .groupBy("ah", "errors_1h", "total_1h")
        .agg(
            F.sum("be").cast("long").alias("errs_6h"),
            F.sum("bt").cast("long").alias("total_6h"),
        )
    )
    burn1 = F.expr(
        f"errors_1h * 1000000 div total_1h * 1000 div {SLO_BUDGET_PPM}"
    )
    burn6 = F.expr(
        f"errs_6h * 1000000 div total_6h * 1000 div {SLO_BUDGET_PPM}"
    )
    return win.select(
        F.col("ah").cast("long").alias("hour_s"),
        "errors_1h",
        "total_1h",
        burn1.cast("long").alias("burn_1h_e3"),
        burn6.cast("long").alias("burn_6h_e3"),
        ((burn1 > BURN_1H_E3) & (burn6 > BURN_6H_E3)).cast("int").alias("page_flag"),
    ).orderBy("hour_s")


MARKOV_POWER_STEPS = 3


@query(
    "events_markov_stationary",
    oracle=f"""
    WITH seq AS (
      SELECT user_id, event_type,
             lead(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS next_type
      FROM events
    ),
    trans AS (
      SELECT event_type AS cur, next_type AS nxt,
             CAST(count(*) AS BIGINT) AS n
      FROM seq WHERE next_type IS NOT NULL
      GROUP BY 1, 2
    ),
    p AS (
      SELECT cur, nxt,
             CAST(n * 1000000 // sum(n) OVER (PARTITION BY cur)
               AS BIGINT) AS p_ppm
      FROM trans
    ),
    types AS (SELECT DISTINCT cur AS t FROM trans),
    ntypes AS (SELECT CAST(count(*) AS BIGINT) AS k FROM types),
    pi0 AS (
      SELECT t, CAST(1000000 // k AS BIGINT) AS pi FROM types, ntypes
    ),
    pi1 AS (
      SELECT p.nxt AS t, CAST(sum(pi0.pi * p.p_ppm // 1000000) AS BIGINT)
        AS pi
      FROM pi0 JOIN p ON p.cur = pi0.t GROUP BY p.nxt
    ),
    pi2 AS (
      SELECT p.nxt AS t, CAST(sum(pi1.pi * p.p_ppm // 1000000) AS BIGINT)
        AS pi
      FROM pi1 JOIN p ON p.cur = pi1.t GROUP BY p.nxt
    ),
    pi3 AS (
      SELECT p.nxt AS t, CAST(sum(pi2.pi * p.p_ppm // 1000000) AS BIGINT)
        AS pi
      FROM pi2 JOIN p ON p.cur = pi2.t GROUP BY p.nxt
    )
    SELECT pi0.t AS event_type, pi0.pi AS pi0_ppm, pi3.pi AS pi3_ppm
    FROM pi0 JOIN pi3 ON pi3.t = pi0.t
    ORDER BY event_type
    """,
)
def events_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate STATIONARY distribution of the event-type Markov
    chain by MARKOV_POWER_STEPS (=3) unrolled power-iteration steps
    from uniform, in exact
    truncating ppm (each term pi_i * p_ij // 1e6 truncates BEFORE the
    sum, identically in both engines — so the iteration is
    hash-checkable with no float anywhere). The stationary mix is
    the long-run traffic composition the transition table implies;
    comparing it to the OBSERVED type mix flags a chain whose
    short-term dynamics and steady state disagree (e.g. an error
    state that absorbs).

    Scale shape: the data-sized work is ONE per-user lead window (the
    standard sessionization exchange) collapsing to a types² transition
    matrix; each power step is a join-aggregate over <= types² rows —
    bounded by the type inventory, not the corpus — so unrolling K
    steps costs K tiny stages. The same unrolled-stage pattern at
    larger K is exactly how pagerank_ranks runs its iterations."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        F.col("event_type").alias("cur"),
        F.lead("event_type").over(w).alias("nxt"),
    ).filter(F.col("nxt").isNotNull())
    # r12: trans (<= types^2 rows) is the collapse point of the ONE
    # data-sized pass (events scan + per-user lead window); the
    # unrolled power steps + pi0 + the final join replanned that pass
    # ~7x (14 parquet scans in the before-plan). r13: the r12
    # unconditional persist REGRESSED at bench scale (driver r12: 1.36
    # -> 3.0 s in both runs; r13 same-host cold ABBA: 1.48 -> 1.76) —
    # the cache barrier beats the parallel window-pass replays on a
    # 100 k-row events table, the same rule that reverted the bm25
    # persists. The persist is now gated on source size: inline below
    # (the measured-better form), cached above, where ~7 corpus-scale
    # window passes dwarf one materialization barrier.
    trans = persist_if_source_large(
        seq.groupBy("cur", "nxt").agg(
            F.count(F.lit(1)).cast("long").alias("n")
        ),
        sf_dir,
        table="events",
    )
    p = trans.select(
        "cur",
        "nxt",
        F.expr("CAST(n * 1000000 div sum(n) OVER (PARTITION BY cur) AS BIGINT)")
        .alias("p_ppm"),
    )
    types = trans.select(F.col("cur").alias("t")).distinct()
    k = types.agg(F.count(F.lit(1)).alias("k"))
    pi = types.crossJoin(F.broadcast(k)).select(
        "t", F.expr("CAST(1000000 div k AS BIGINT)").alias("pi")
    )
    pi0 = pi
    for _ in range(MARKOV_POWER_STEPS):
        pi = (
            pi.join(p, pi.t == p.cur)
            .groupBy(F.col("nxt").alias("t2"))
            .agg(
                F.sum(F.expr("pi * p_ppm div 1000000")).cast("long").alias("pi")
            )
            .select(F.col("t2").alias("t"), "pi")
        )
    return (
        pi0.select(F.col("t").alias("event_type"), F.col("pi").alias("pi0_ppm"))
        .join(
            pi.select(F.col("t").alias("event_type"), F.col("pi").alias("pi3_ppm")),
            "event_type",
        )
        .orderBy("event_type")
    )


@query(
    "events_transition_entropy",
    oracle="""
    WITH seq AS (
      SELECT event_type AS from_type,
             lead(event_type, 1) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS next_type
      FROM events
    ),
    trans AS (
      SELECT from_type, next_type, CAST(count(*) AS BIGINT) AS c
      FROM seq WHERE next_type IS NOT NULL
      GROUP BY from_type, next_type
    ),
    terms AS (
      SELECT from_type, c,
             CAST(sum(c) OVER (PARTITION BY from_type) AS BIGINT) AS n,
             CAST(round(-(CAST(c AS DOUBLE) / sum(c) OVER (PARTITION BY from_type))
                        * log2(CAST(c AS DOUBLE) / sum(c) OVER (PARTITION BY from_type))
                        * 1000000) AS BIGINT) AS term_micro
      FROM trans
    )
    SELECT from_type,
           CAST(max(n) AS BIGINT)   AS n_transitions,
           CAST(count(*) AS BIGINT) AS k_next,
           CAST(sum(term_micro) AS BIGINT) AS entropy_micro_bits,
           CAST(round(log2(CAST(count(*) AS DOUBLE)) * 1000000) AS BIGINT)
             AS max_entropy_micro_bits
    FROM terms
    GROUP BY from_type
    ORDER BY from_type
    """,
)
def events_transition_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy (bits) of each event type's NEXT-event
    distribution — the information-theoretic readout on top of the
    first-order transition matrix: entropy near zero means the type
    deterministically funnels into one successor (a rigid flow), near
    log2(k) means the successor is unpredictable (k_next and the
    ceiling are reported alongside). Successor pairs ride one user_id
    window ordered by (ts, event_id) — the events_markov2_transitions
    shuffle and tie-break discipline. Determinism contract: each
    -(p)·log2(p) term is rounded to integer MICRO per (from, to) CELL
    before summing (cells are identical exact integers c/n in both
    engines, and the transition table is |types|² rows at any SF), so
    the entropy aggregate is an exact integer sum of at most k
    per-cell roundings — no float accumulation order anywhere."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type", 1).over(w).alias("next_type"),
    )
    trans = (
        seq.filter(F.col("next_type").isNotNull())
        .groupBy("from_type", "next_type")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    w_from = Window.partitionBy("from_type")
    p = F.col("c").cast("double") / F.sum("c").over(w_from).cast("double")
    terms = trans.select(
        "from_type",
        "c",
        F.sum("c").over(w_from).cast("long").alias("n"),
        F.round(-p * F.log2(p) * 1_000_000).cast("long").alias("term_micro"),
    )
    return (
        terms.groupBy("from_type")
        .agg(
            F.max("n").cast("long").alias("n_transitions"),
            F.count(F.lit(1)).cast("long").alias("k_next"),
            F.sum("term_micro").cast("long").alias("entropy_micro_bits"),
        )
        .withColumn(
            "max_entropy_micro_bits",
            F.round(F.log2(F.col("k_next").cast("double")) * 1_000_000).cast(
                "long"
            ),
        )
        .orderBy("from_type")
    )


@query(
    "events_anomaly_run_lengths",
    oracle="""
    WITH per_hour AS (
      SELECT event_type,
             CAST(floor(epoch(ts) / 3600) AS BIGINT) AS h,
             CAST(count(*) AS BIGINT) AS x
      FROM events GROUP BY 1, 2
    ),
    m AS (
      SELECT event_type,
             CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(x) AS HUGEINT) AS s,
             CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS q
      FROM per_hour GROUP BY event_type
    ),
    flagged AS (
      SELECT p.event_type, p.h
      FROM per_hour p JOIN m USING (event_type)
      WHERE (n * p.x - s) * (n * p.x - s) > 4 * n * (n * q - s * s)
    ),
    runs AS (
      SELECT event_type,
             h - row_number() OVER (PARTITION BY event_type ORDER BY h)
               AS grp
      FROM flagged
    ),
    lens AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS run_len
      FROM runs GROUP BY event_type, grp
    )
    SELECT event_type, run_len,
           CAST(count(*) AS BIGINT) AS n_runs
    FROM lens
    GROUP BY event_type, run_len
    ORDER BY event_type, run_len
    """,
)
def events_anomaly_run_lengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run-length histogram of CONSECUTIVE anomalous hours per event
    stream — the blip-vs-outage discriminator the standalone z-score
    screen can't express: one 6-hour run is an incident, six scattered
    hours are noise, and alerting policy (page vs ticket) keys off
    exactly this table. Flags reuse the integer z-test discipline
    (|x - mu| > 2 sigma as (n*x - s)^2 > 4*n*(n*q - s^2) — no sqrt, no
    float, squares in decimal(38,0)/HUGEINT), runs are gaps-and-
    islands on the hour number (h - row_number, the
    events_active_streaks idiom) with the window PARTITIONED by type
    over the flagged-hour frame — bounded by the calendar span, never
    data-sized. Shape: one (type, hour) groupBy with map-side combine,
    a bounded moment aggregate broadcast back, two span-bounded
    aggregates to the histogram."""
    e = load_table(spark, sf_dir, "events")
    per_hour = e.groupBy(
        "event_type",
        F.floor(F.unix_timestamp("ts") / 3600).cast("long").alias("h"),
    ).agg(F.count(F.lit(1)).cast("long").alias("x"))
    dec = "decimal(38,0)"
    m = per_hour.groupBy("event_type").agg(
        F.count(F.lit(1)).cast(dec).alias("n"),
        F.sum("x").cast(dec).alias("s"),
        F.sum(F.col("x").cast(dec) * F.col("x")).cast(dec).alias("q"),
    )
    flagged = (
        per_hour.join(F.broadcast(m), "event_type")
        .filter(
            F.expr("(n * x - s) * (n * x - s) > 4 * n * (n * q - s * s)")
        )
        .select("event_type", "h")
    )
    w = Window.partitionBy("event_type").orderBy("h")
    runs = flagged.withColumn("grp", F.col("h") - F.row_number().over(w))
    lens = runs.groupBy("event_type", "grp").agg(
        F.count(F.lit(1)).cast("long").alias("run_len")
    )
    return (
        lens.groupBy("event_type", "run_len")
        .agg(F.count(F.lit(1)).cast("long").alias("n_runs"))
        .orderBy("event_type", "run_len")
    )


@query(
    "events_attribution_position_compare",
    oracle="""
    WITH tagged AS (
      SELECT event_type,
             CAST(round(value * 100) AS BIGINT) AS cents,
             last_value(
               CASE WHEN event_type <> 'purchase' THEN event_type END
               IGNORE NULLS
             ) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ) AS last_touch,
             first_value(
               CASE WHEN event_type <> 'purchase' THEN event_type END
               IGNORE NULLS
             ) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ) AS first_touch
      FROM events
    ),
    purch AS (
      SELECT * FROM tagged
      WHERE event_type = 'purchase' AND last_touch IS NOT NULL
    ),
    lt AS (
      SELECT last_touch AS channel,
             CAST(count(*) AS BIGINT) AS n_last,
             CAST(sum(cents) AS BIGINT) AS cents_last
      FROM purch GROUP BY 1
    ),
    ft AS (
      SELECT first_touch AS channel,
             CAST(count(*) AS BIGINT) AS n_first,
             CAST(sum(cents) AS BIGINT) AS cents_first
      FROM purch GROUP BY 1
    )
    SELECT coalesce(lt.channel, ft.channel) AS channel,
           coalesce(n_last, 0) AS n_last,
           coalesce(cents_last, 0) AS cents_last,
           coalesce(n_first, 0) AS n_first,
           coalesce(cents_first, 0) AS cents_first,
           CASE WHEN coalesce(cents_first, 0) > 0
                THEN CAST(coalesce(cents_last, 0) * 1000000
                          // cents_first AS BIGINT)
                ELSE CAST(-1 AS BIGINT) END AS last_over_first_ppm
    FROM lt FULL OUTER JOIN ft ON lt.channel = ft.channel
    ORDER BY channel
    """,
)
def events_attribution_position_compare(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """First-touch vs last-touch revenue attribution side by side, per
    channel — the bias table a marketing team reads before trusting
    either model: a channel whose last_over_first_ppm is far above 1e6
    closes deals others opened (credited only by last-touch); far
    below, it opens journeys others close. Both touch carries ride the
    SAME single user_id window pass (two ignore-nulls expressions over
    one frame — no second shuffle), purchases filter once, and the two
    channel rollups full-outer-join on the bounded channel key. The
    same-purchase population is used for both models, so the two cents
    columns sum identically — the reconciliation the test locks.
    Revenue in integer cents; the bias ratio is one truncating ppm
    division (-1 sentinel when a channel never appears first)."""
    e = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    non_purchase = F.when(
        F.col("event_type") != "purchase", F.col("event_type")
    )
    tagged = e.select(
        "event_type",
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
        F.last(non_purchase, ignorenulls=True).over(w).alias("last_touch"),
        F.first(non_purchase, ignorenulls=True).over(w).alias("first_touch"),
    )
    purch = tagged.filter(
        (F.col("event_type") == "purchase") & F.col("last_touch").isNotNull()
    )
    lt = purch.groupBy(F.col("last_touch").alias("channel")).agg(
        F.count(F.lit(1)).cast("long").alias("n_last"),
        F.sum("cents").cast("long").alias("cents_last"),
    )
    ft = purch.groupBy(F.col("first_touch").alias("ch_f")).agg(
        F.count(F.lit(1)).cast("long").alias("n_first"),
        F.sum("cents").cast("long").alias("cents_first"),
    )
    return (
        lt.join(ft, lt["channel"] == ft["ch_f"], "full_outer")
        .select(
            F.coalesce(F.col("channel"), F.col("ch_f")).alias("channel"),
            F.coalesce(F.col("n_last"), F.lit(0)).cast("long").alias("n_last"),
            F.coalesce(F.col("cents_last"), F.lit(0))
            .cast("long")
            .alias("cents_last"),
            F.coalesce(F.col("n_first"), F.lit(0))
            .cast("long")
            .alias("n_first"),
            F.coalesce(F.col("cents_first"), F.lit(0))
            .cast("long")
            .alias("cents_first"),
            F.expr(
                "CASE WHEN coalesce(cents_first, 0) > 0 "
                "THEN CAST(coalesce(cents_last, 0) * 1000000 "
                "div cents_first AS BIGINT) ELSE CAST(-1 AS BIGINT) END"
            ).alias("last_over_first_ppm"),
        )
        .orderBy("channel")
    )


@query(
    "events_retention_half_life",
    oracle="""
    WITH uw AS (
      SELECT DISTINCT user_id,
             epoch_us(ts) // 1000000 // 604800 AS week
      FROM events
    ),
    cohorts AS (
      SELECT user_id, min(week) AS cohort FROM uw GROUP BY user_id
    ),
    sizes AS (
      SELECT cohort, CAST(count(*) AS BIGINT) AS n0
      FROM cohorts GROUP BY cohort
    ),
    ages AS (
      SELECT c.cohort, u.week - c.cohort AS k,
             CAST(count(*) AS BIGINT) AS nk
      FROM uw u JOIN cohorts c ON c.user_id = u.user_id
      GROUP BY 1, 2
    ),
    pts AS (
      SELECT a.cohort, CAST(a.k AS BIGINT) AS x,
             CAST(round(ln(CAST(a.nk AS DOUBLE) / s.n0) * 1000000)
                  AS BIGINT) AS y
      FROM ages a JOIN sizes s ON s.cohort = a.cohort
      WHERE a.k >= 1
    ),
    m AS (
      SELECT cohort,
             CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(x) AS HUGEINT) AS sx,
             CAST(sum(y) AS HUGEINT) AS sy,
             CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
             CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx
      FROM pts GROUP BY cohort
    ),
    fit AS (
      SELECT cohort, CAST(n AS BIGINT) AS n_points,
             CAST((n * sxy - sx * sy) // (n * sxx - sx * sx) AS BIGINT)
               AS slope_micro
      FROM m WHERE n * sxx - sx * sx > 0
    )
    SELECT f.cohort AS cohort_week, s.n0 AS cohort_size, f.n_points,
           f.slope_micro,
           CASE WHEN f.slope_micro < 0
                THEN CAST(693147000 // (-f.slope_micro) AS BIGINT)
                ELSE CAST(-1 AS BIGINT) END AS half_life_milli_weeks
    FROM fit f JOIN sizes s ON s.cohort = f.cohort
    ORDER BY cohort_week
    """,
)
def events_retention_half_life(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponential-decay fit of cohort retention: for each first-week
    cohort, OLS of ln(share still active at age k) on k — the slope IS
    the decay rate, and half-life = ln2 / |slope| turns the whole
    retention triangle into one comparable number per cohort (the KPI
    behind 'is retention improving release over release';
    events_weekly_retention shows the raw curve, this fits it). The
    determinism contract is the elasticity/pareto-alpha one: each
    ln(nk/n0) is rounded to integer MICRO on exact integer inputs,
    moments sum in decimal(38,0)/HUGEINT, slope and half-life are one
    truncating division each (ln2 as the integer 693147 micro-nats).
    Shape: the event log reduces to the distinct (user, week) activity
    set once (map-side partial agg at 100 TB), cohorts are a user-key
    aggregate, and everything after runs on |cohorts| x |ages| cells —
    calendar-bounded."""
    e = load_table(spark, sf_dir, "events")
    week = F.expr("unix_micros(ts) div 1000000 div 604800")
    uw = e.select("user_id", week.alias("week")).distinct()
    cohorts = uw.groupBy("user_id").agg(F.min("week").alias("cohort"))
    sizes = cohorts.groupBy("cohort").agg(
        F.count(F.lit(1)).cast("long").alias("n0")
    )
    ages = (
        uw.join(cohorts, "user_id")
        .groupBy("cohort", (F.col("week") - F.col("cohort")).alias("k"))
        .agg(F.count(F.lit(1)).cast("long").alias("nk"))
    )
    pts = (
        ages.filter(F.col("k") >= 1)
        .join(F.broadcast(sizes), "cohort")
        .select(
            "cohort",
            F.col("k").cast("long").alias("x"),
            F.round(
                F.log(F.col("nk").cast("double") / F.col("n0")) * 1_000_000
            )
            .cast("long")
            .alias("y"),
        )
    )
    dec = "decimal(38,0)"
    m = pts.groupBy("cohort").agg(
        F.count(F.lit(1)).cast(dec).alias("n"),
        F.sum("x").cast(dec).alias("sx"),
        F.sum("y").cast(dec).alias("sy"),
        F.sum(F.col("x").cast(dec) * F.col("y")).cast(dec).alias("sxy"),
        F.sum(F.col("x").cast(dec) * F.col("x")).cast(dec).alias("sxx"),
    )
    fit = m.filter(F.expr("n * sxx - sx * sx > 0")).select(
        "cohort",
        F.col("n").cast("long").alias("n_points"),
        F.expr(
            "CAST((n * sxy - sx * sy) div (n * sxx - sx * sx) AS BIGINT)"
        ).alias("slope_micro"),
    )
    return (
        fit.join(F.broadcast(sizes), "cohort")
        .select(
            F.col("cohort").cast("long").alias("cohort_week"),
            F.col("n0").alias("cohort_size"),
            "n_points",
            "slope_micro",
            F.expr(
                "CASE WHEN slope_micro < 0 "
                "THEN CAST(693147000 div (-slope_micro) AS BIGINT) "
                "ELSE CAST(-1 AS BIGINT) END"
            ).alias("half_life_milli_weeks"),
        )
        .orderBy("cohort_week")
    )
