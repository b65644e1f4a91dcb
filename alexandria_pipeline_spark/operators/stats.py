"""Exact-arithmetic corpus statistics: OLS trend, Gini concentration,
and join-cardinality estimation.

All three are single-digit-shuffle plans whose outputs are integers
(cents / ppm / counts), so the DuckDB oracle hash-matches bit for bit:

  - OLS slope is the closed form (n·Σxy − Σx·Σy) / (n·Σxx − Σx²) with
    the day index REBASED to the first day so the moment sums stay
    small; the final division runs in decimal(38,0) / HUGEINT.
  - Gini needs a GLOBAL ascending rank — functions/banded.running_sums
    over value-range bands, never a single-partition window.
  - Join-cardinality estimation is the planner's |join| = Σ_k n_a(k)·
    n_b(k) histogram product, plus the max single-key contribution as
    a skew diagnostic — the numbers you need BEFORE launching a 100-TB
    join to know whether to salt it (reference analog: choosing batch
    and shard sizes up front, run.py:21-27).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from alexandria_pipeline_spark.catalog import load_table
from alexandria_pipeline_spark.functions.banded import running_sums
from alexandria_pipeline_spark.functions.exact import int_div
from alexandria_pipeline_spark.registry import query

GINI_BAND_CHARS = 256  # n_chars band width for running_sums

_DEC = "decimal(38,0)"


@query(
    "orders_linreg_trend",
    oracle="""
    WITH per_day AS (
      SELECT CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS d,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev
      FROM orders GROUP BY 1
    ),
    rb AS (
      SELECT d - (SELECT min(d) FROM per_day) AS x, rev AS y FROM per_day
    ),
    m AS (
      SELECT CAST(count(*) AS HUGEINT)       AS n,
             CAST(sum(x) AS HUGEINT)         AS sx,
             CAST(sum(y) AS HUGEINT)         AS sy,
             CAST(sum(x * y) AS HUGEINT)     AS sxy,
             CAST(sum(x * x) AS HUGEINT)     AS sxx
      FROM rb
    )
    SELECT
      CAST(n AS BIGINT)                                     AS n_days,
      CAST(sy AS BIGINT)                                    AS total_rev_cents,
      CAST((1000 * (n * sxy - sx * sy)) // (n * sxx - sx * sx)
           AS BIGINT)                                       AS slope_millicents_per_day
    FROM m
    """,
)
def orders_linreg_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form OLS trend of daily revenue vs day index, exact to
    the millicent/day. Plan: one groupBy(day) shuffle collapses orders
    to ≤ time-span rows, the min-day rebase rides a 1-row broadcast
    cross join, and the moment sums are a single tiny aggregate — the
    classic 'regression as two aggregations' shape that costs one fact
    exchange no matter the SF. Moments are computed in decimal(38,0)
    (HUGEINT in the oracle) because n·Σxy overflows int64 somewhere
    past sf10."""
    o = load_table(spark, sf_dir, "orders")
    per_day = o.groupBy(
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("d")
    ).agg(F.expr("CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)").alias("rev"))
    mn = per_day.agg(F.min("d").alias("d0"))
    rb = per_day.crossJoin(F.broadcast(mn)).select(
        (F.col("d") - F.col("d0")).alias("x"), F.col("rev").alias("y")
    )
    # products are cast to decimal BEFORE the sum: Σ x·y reaches
    # ~1.5e20 on high-magnitude days (the extreme-values suite), so a
    # BIGINT-accumulated sum overflows even though each product fits;
    # DuckDB's sum already accumulates in HUGEINT
    m = rb.agg(
        F.count(F.lit(1)).cast(_DEC).alias("n"),
        F.sum("x").cast(_DEC).alias("sx"),
        F.sum(F.col("y").cast(_DEC)).cast(_DEC).alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast(_DEC)).cast(_DEC).alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast(_DEC)).cast(_DEC).alias("sxx"),
    )
    return m.select(
        F.col("n").cast("long").alias("n_days"),
        F.col("sy").cast("long").alias("total_rev_cents"),
        F.expr("CAST((1000 * (n * sxy - sx * sy)) div (n * sxx - sx * sx) AS BIGINT)").alias(
            "slope_millicents_per_day"
        ),
    )


@query(
    "doc_length_gini",
    oracle="""
    WITH d AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS x FROM documents),
    r AS (
      SELECT x, CAST(row_number() OVER (ORDER BY x, doc_id) AS BIGINT) AS i
      FROM d
    ),
    t AS (
      SELECT CAST(count(*) AS HUGEINT)          AS n,
             CAST(sum(x) AS HUGEINT)            AS s,
             CAST(sum(CAST(i AS HUGEINT) * x) AS HUGEINT) AS w
      FROM r
    )
    SELECT
      CAST(n AS BIGINT)                                         AS n_docs,
      CAST(s AS BIGINT)                                         AS total_chars,
      CAST(((2 * w - (n + 1) * s) * 1000000) // (n * s) AS BIGINT) AS gini_ppm
    FROM t
    """,
)
def doc_length_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini concentration of document lengths (how unequal is the
    corpus?) via G = (2·Σi·x_i − (n+1)·Σx) / (n·Σx) over the ascending
    global rank i. The rank is functions/banded.running_sums over
    n_chars div 256 bands (value-range-bounded, ≤ a few hundred rows),
    doc_id breaking ties; Σi·x runs in decimal(38,0) because the
    rank-weighted sum is O(n²·x̄)."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.col("n_chars").cast("long").alias("x")
    )
    banded = d.withColumn("band", F.expr(f"x div {GINI_BAND_CHARS}"))
    ranked = running_sums(banded, "band", ["x", "doc_id"], {"i": F.lit(1)})
    t = ranked.agg(
        F.count(F.lit(1)).cast(_DEC).alias("n"),
        F.sum("x").cast(_DEC).alias("s"),
        F.sum(F.col("i").cast(_DEC) * F.col("x")).cast(_DEC).alias("w"),
    )
    return t.select(
        F.col("n").cast("long").alias("n_docs"),
        F.col("s").cast("long").alias("total_chars"),
        F.expr("CAST(((2 * w - (n + 1) * s) * 1000000) div (n * s) AS BIGINT)").alias(
            "gini_ppm"
        ),
    )


@query(
    "diagnose_join_cardinality",
    oracle="""
    WITH lk AS (
      SELECT l_orderkey AS k, CAST(count(*) AS BIGINT) AS nl
      FROM lineitem GROUP BY 1
    ),
    ok AS (
      SELECT o_orderkey AS k, CAST(count(*) AS BIGINT) AS nr
      FROM orders GROUP BY 1
    ),
    j1 AS (
      SELECT CAST(sum(nl * nr) AS BIGINT) AS est_rows,
             CAST(max(nl * nr) AS BIGINT) AS max_key_rows,
             CAST(count(*) AS BIGINT)     AS n_keys
      FROM lk JOIN ok USING (k)
    ),
    ek AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS ne
      FROM events GROUP BY 1
    ),
    j2 AS (
      SELECT CAST(sum(ne * ne) AS BIGINT) AS est_rows,
             CAST(max(ne * ne) AS BIGINT) AS max_key_rows,
             CAST(count(*) AS BIGINT)     AS n_keys
      FROM ek
    )
    SELECT 'lineitem_x_orders' AS join_name, est_rows, max_key_rows, n_keys,
           CAST(max_key_rows * 1000000 // est_rows AS BIGINT) AS skew_ppm
    FROM j1
    UNION ALL
    SELECT 'events_self_user' AS join_name, est_rows, max_key_rows, n_keys,
           CAST(max_key_rows * 1000000 // est_rows AS BIGINT) AS skew_ppm
    FROM j2
    ORDER BY join_name
    """,
)
def diagnose_join_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Planner-style join output estimation from per-key histograms:
    |A ⋈ B| = Σ_k n_A(k)·n_B(k), with the max single-key product and
    its ppm share as the salt-or-not skew diagnostic. This is the
    number a 100-TB operator wants BEFORE running the join (it prices
    the shuffle without performing it): each side collapses to one
    count row per key (map-side combined), the count-table join is
    co-partitioned on the key it just aggregated on (no extra
    exchange), and only tiny scalar aggregates leave the stage.
    Covers an FK join (lineitem × orders) and the quadratic hazard
    case (events self-join on user_id)."""
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    e = load_table(spark, sf_dir, "events")
    lk = l.groupBy(F.col("l_orderkey").alias("k")).agg(F.count(F.lit(1)).alias("nl"))
    ok = o.groupBy(F.col("o_orderkey").alias("k")).agg(F.count(F.lit(1)).alias("nr"))
    j1 = (
        lk.join(ok, "k")
        .select((F.col("nl") * F.col("nr")).alias("p"))
        .agg(
            F.sum("p").alias("est_rows"),
            F.max("p").alias("max_key_rows"),
            F.count(F.lit(1)).alias("n_keys"),
        )
        .select(F.lit("lineitem_x_orders").alias("join_name"), "est_rows", "max_key_rows", "n_keys")
    )
    j2 = (
        e.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("ne"))
        .select((F.col("ne") * F.col("ne")).alias("p"))
        .agg(
            F.sum("p").alias("est_rows"),
            F.max("p").alias("max_key_rows"),
            F.count(F.lit(1)).alias("n_keys"),
        )
        .select(F.lit("events_self_user").alias("join_name"), "est_rows", "max_key_rows", "n_keys")
    )
    out = j1.unionAll(j2)
    return out.select(
        "join_name",
        F.col("est_rows").cast("long").alias("est_rows"),
        F.col("max_key_rows").cast("long").alias("max_key_rows"),
        F.col("n_keys").cast("long").alias("n_keys"),
        F.expr("CAST(max_key_rows * 1000000 div est_rows AS BIGINT)").alias("skew_ppm"),
    ).orderBy("join_name")


@query(
    "orders_cusum_changepoint",
    oracle="""
    WITH per_day AS (
      SELECT CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS d,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev
      FROM orders GROUP BY 1
    ),
    tot AS (
      SELECT CAST(count(*) AS HUGEINT) AS n, CAST(sum(rev) AS HUGEINT) AS s
      FROM per_day
    ),
    cum AS (
      SELECT d,
             CAST(sum(rev) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING) AS HUGEINT) AS c,
             CAST(row_number() OVER (ORDER BY d) AS HUGEINT) AS i
      FROM per_day
    )
    SELECT
      strftime(DATE '1970-01-01' + INTERVAL (d) DAY, '%Y-%m-%d') AS cp_date,
      CAST(i AS BIGINT)                          AS cp_index,
      CAST(n AS BIGINT)                          AS n_days,
      CAST(abs(n * c - i * s) // n AS BIGINT)    AS max_cusum_cents
    FROM cum, tot
    ORDER BY abs(n * c - i * s) DESC, d ASC
    LIMIT 1
    """,
)
def orders_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint detection on the daily-revenue series: the
    day i maximizing |n·C_i − i·S| (the mean-deviation cumulative sum
    scaled by n so the ARGMAX needs no division — exact integers,
    decimal(38,0)/HUGEINT against overflow at high SF; the reported
    statistic divides the n back out with exact truncating division so
    the BIGINT read-out is bounded by total revenue cents at any SF). The peak of
    the CUSUM curve is the classic single-changepoint estimate (Page
    '54): where the series' running total departs furthest from the
    constant-mean line. Shape: one fact shuffle collapses orders to
    per-day rows; every window after that runs over the per-day frame,
    whose cardinality is the CALENDAR SPAN, not the data size (the
    events_cumulative_distinct_users precedent) — ~2.5k rows at any
    SF; the argmax is a 1-row TakeOrdered with the date as
    tiebreaker."""
    o = load_table(spark, sf_dir, "orders")
    per_day = o.groupBy(
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("d")
    ).agg(F.expr("CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)").alias("rev"))
    tot = per_day.agg(
        F.count(F.lit(1)).cast(_DEC).alias("n"), F.sum("rev").cast(_DEC).alias("s")
    )
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    cum = per_day.select(
        "d",
        F.sum("rev").over(w).cast(_DEC).alias("c"),
        F.row_number().over(Window.orderBy("d")).cast(_DEC).alias("i"),
    )
    scored = cum.crossJoin(F.broadcast(tot)).select(
        "d",
        "i",
        "n",
        F.abs(F.col("n") * F.col("c") - F.col("i") * F.col("s")).alias("cs"),
    )
    # Report the statistic pre-scaled back down (cs div n — exact
    # truncating decimal division, identical to the oracle's HUGEINT
    # //): the raw |n·C − i·S| is bounded by n_days·total_rev (~7.7e16
    # at sf1) and would blow past int64 around sf150 under ANSI; the
    # divided form is bounded by total revenue cents at ANY SF. The
    # argmax itself still orders by the undivided decimal.
    return (
        scored.orderBy(F.desc("cs"), F.asc("d"))
        .limit(1)
        .select(
            F.date_format(
                F.date_add(F.lit("1970-01-01").cast("date"), F.col("d").cast("int")),
                "yyyy-MM-dd",
            ).alias("cp_date"),
            F.col("i").cast("long").alias("cp_index"),
            F.col("n").cast("long").alias("n_days"),
            F.expr("CAST(cs div n AS BIGINT)").alias("max_cusum_cents"),
        )
    )


ROLLING_MEDIAN_DAYS = 7


@query(
    "orders_rolling_median_7d",
    oracle=f"""
    WITH per_day AS (
      SELECT CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS d,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev
      FROM orders GROUP BY 1
    )
    SELECT
      strftime(DATE '1970-01-01' + INTERVAL (d) DAY, '%Y-%m-%d') AS day,
      rev AS rev_cents,
      CAST(floor(quantile_cont(rev, 0.5) OVER (
        ORDER BY d ROWS BETWEEN {ROLLING_MEDIAN_DAYS - 1} PRECEDING AND CURRENT ROW
      )) AS BIGINT) AS med7_cents
    FROM per_day
    ORDER BY d
    """,
)
def orders_rolling_median_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day median of daily revenue — the robust denoiser a
    revenue dashboard runs instead of a moving average (one flash-sale
    day cannot drag the trend line). The median is an exact
    percentile over a ROWS frame, floored to the cent grid in both
    engines (quantile_cont ≡ F.percentile interpolation). Shape: one
    fact shuffle collapses orders to per-day rows; the frame window
    then runs over the per-day frame whose cardinality is the
    CALENDAR SPAN, not the data size (the orders_cusum_changepoint /
    events_cumulative_distinct_users precedent) — constant rows per
    added terabyte."""
    o = load_table(spark, sf_dir, "orders")
    per_day = o.groupBy(
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("d")
    ).agg(F.expr("CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)").alias("rev"))
    w = Window.orderBy("d").rowsBetween(-(ROLLING_MEDIAN_DAYS - 1), 0)
    return (
        per_day.select(
            "d",
            F.col("rev").alias("rev_cents"),
            F.floor(F.percentile("rev", F.lit(0.5)).over(w))
            .cast("long")
            .alias("med7_cents"),
        )
        .orderBy("d")
        .select(
            F.date_format(
                F.date_add(F.lit("1970-01-01").cast("date"), F.col("d").cast("int")),
                "yyyy-MM-dd",
            ).alias("day"),
            "rev_cents",
            "med7_cents",
        )
    )


@query(
    "events_autocorr_ar1",
    oracle="""
    WITH per_day AS (
      SELECT CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS d,
             CAST(count(*) AS BIGINT) AS x
      FROM events GROUP BY 1
    ),
    pairs AS (
      SELECT a.x AS x, b.x AS y
      FROM per_day a JOIN per_day b ON b.d = a.d + 1
    ),
    m AS (
      SELECT CAST(count(*) AS HUGEINT)   AS n,
             CAST(sum(x) AS HUGEINT)     AS sx,
             CAST(sum(y) AS HUGEINT)     AS sy,
             CAST(sum(x * y) AS HUGEINT) AS sxy,
             CAST(sum(x * x) AS HUGEINT) AS sxx
      FROM pairs
    )
    SELECT
      CAST(n AS BIGINT) AS n_pairs,
      CAST((1000000 * (n * sxy - sx * sy)) // (n * sxx - sx * sx)
           AS BIGINT)   AS phi_ppm
    FROM m
    """,
)
def events_autocorr_ar1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 autocorrelation of daily event volume as the AR(1)
    regression coefficient φ = (n·Σxy − Σx·Σy)/(n·Σxx − Σx²) over
    consecutive-calendar-day (x_t, x_{t+1}) pairs — the persistence
    measure behind capacity planning ('does a busy day predict a busy
    tomorrow?'). The OLS form needs no sqrt, so the whole statistic is
    one truncating integer division in ppm (decimal(38,0)/HUGEINT
    moments against overflow). Shape: one fact shuffle to per-day
    counts; the lag join and moment aggregate run on the
    calendar-span-bounded day frame (the orders_cusum_changepoint
    precedent). Day gaps contribute no pair — deterministic in both
    engines."""
    e = load_table(spark, sf_dir, "events")
    per_day = e.groupBy(
        F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("d")
    ).agg(F.count(F.lit(1)).alias("x"))
    a = per_day.select("d", F.col("x").alias("x"))
    b = per_day.select((F.col("d") - 1).alias("d"), F.col("x").alias("y"))
    pairs = a.join(b, "d").select("x", "y")
    m = pairs.agg(
        F.count(F.lit(1)).cast(_DEC).alias("n"),
        F.sum("x").cast(_DEC).alias("sx"),
        F.sum("y").cast(_DEC).alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast(_DEC).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast(_DEC).alias("sxx"),
    )
    return m.select(
        F.col("n").cast("long").alias("n_pairs"),
        F.expr(
            "CAST((1000000 * (n * sxy - sx * sy)) div (n * sxx - sx * sx) AS BIGINT)"
        ).alias("phi_ppm"),
    )


@query(
    "events_burstiness_fano",
    oracle="""
    WITH per_min AS (
      SELECT event_type,
             CAST(floor(epoch(ts) / 60) AS BIGINT) AS minute,
             CAST(count(*) AS BIGINT) AS x
      FROM events GROUP BY 1, 2
    ),
    m AS (
      SELECT event_type,
             CAST(count(*) AS HUGEINT)   AS n,
             CAST(sum(x) AS HUGEINT)     AS s,
             CAST(sum(x * x) AS HUGEINT) AS ss
      FROM per_min GROUP BY event_type
    )
    SELECT event_type,
           CAST(n AS BIGINT) AS n_minutes,
           CAST(s AS BIGINT) AS n_events,
           CAST((n * ss - s * s) * 1000000 // (n * s) AS BIGINT) AS fano_ppm
    FROM m
    ORDER BY event_type
    """,
)
def events_burstiness_fano(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burstiness of each event stream as the Fano factor (index of
    dispersion) over per-minute counts: F = Var/Mean, = 1 for a
    Poisson process, >1 for bursty (bot/flash-crowd) traffic, <1 for
    rate-limited regularity — the dispersion twin of the per-minute
    burst flags in events_bot_burst_flags. Computed division-light:
    (n·Σx² − (Σx)²) / (n·Σx) in one truncating ppm division with
    decimal(38,0)/HUGEINT intermediates (n·Σx² overflows int64 at
    scale). Shape: one groupBy (event_type, minute) with map-side
    combine — time-span-bounded output — then a bounded-key moment
    aggregate. Only gaps with zero events are excluded (identically in
    both engines), making this the OBSERVED-minute dispersion."""
    e = load_table(spark, sf_dir, "events")
    per_min = e.groupBy(
        "event_type",
        F.floor(F.unix_timestamp("ts") / 60).cast("long").alias("minute"),
    ).agg(F.count(F.lit(1)).alias("x"))
    m = per_min.groupBy("event_type").agg(
        F.count(F.lit(1)).cast(_DEC).alias("n"),
        F.sum("x").cast(_DEC).alias("s"),
        F.sum(F.col("x") * F.col("x")).cast(_DEC).alias("ss"),
    )
    return (
        m.select(
            "event_type",
            F.col("n").cast("long").alias("n_minutes"),
            F.col("s").cast("long").alias("n_events"),
            F.expr(
                "CAST((n * ss - s * s) * 1000000 div (n * s) AS BIGINT)"
            ).alias("fano_ppm"),
        )
        .orderBy("event_type")
    )


@query(
    "orders_priority_mix_shift",
    oracle="""
    WITH cells AS (
      SELECT CAST(year(o_orderdate) AS BIGINT) AS yr, o_orderpriority AS pri,
             CAST(count(*) AS BIGINT) AS o
      FROM orders GROUP BY 1, 2
    ),
    rows_ AS (SELECT yr, CAST(sum(o) AS BIGINT) AS r FROM cells GROUP BY yr),
    cols_ AS (SELECT pri, CAST(sum(o) AS BIGINT) AS c FROM cells GROUP BY pri),
    tot AS (SELECT CAST(sum(o) AS BIGINT) AS n,
                   CAST(count(DISTINCT yr) AS BIGINT) AS n_yr,
                   CAST(count(DISTINCT pri) AS BIGINT) AS n_pri
            FROM cells),
    scored AS (
      SELECT (CAST(o AS HUGEINT) * n - CAST(r AS HUGEINT) * c)
             * (CAST(o AS HUGEINT) * n - CAST(r AS HUGEINT) * c) AS num,
             CAST(r AS HUGEINT) * c * n AS den
      FROM cells JOIN rows_ USING (yr) JOIN cols_ USING (pri), tot
    )
    SELECT
      CAST(min(tot.n) AS BIGINT)                              AS n_orders,
      CAST(min((tot.n_yr - 1) * (tot.n_pri - 1)) AS BIGINT)   AS dof,
      CAST(sum(num * 1000000 // den) AS BIGINT)               AS chi2_ppm
    FROM scored, tot
    """,
)
def orders_priority_mix_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorical drift test: has the order-priority MIX shifted
    across years? Pearson's chi-square over the (year, priority)
    contingency table with the division-free cell form
    (O·N − R·C)² / (R·C·N), summed in truncating ppm per cell so both
    engines round identically (squares run in decimal(38,0)/HUGEINT —
    O·N is ~1e10 at sf0.1 and its square clears int64). The dof rides
    along for the reader's significance lookup. Shape: ONE fact
    shuffle builds the contingency cells (years × priorities — tens
    of rows at any SF); margins, totals and the score are all
    bounded-cardinality aggregates and broadcast joins after that.
    The monitoring twin of corpus_lang_drift, which tracks the same
    question for document languages in parts-per-10k."""
    o = load_table(spark, sf_dir, "orders")
    cells = o.groupBy(
        F.year("o_orderdate").cast("long").alias("yr"),
        F.col("o_orderpriority").alias("pri"),
    ).agg(F.count(F.lit(1)).alias("o"))
    rows_ = cells.groupBy("yr").agg(F.sum("o").alias("r"))
    cols_ = cells.groupBy("pri").agg(F.sum("o").alias("c"))
    tot = cells.agg(
        F.sum("o").alias("n"),
        F.countDistinct("yr").alias("n_yr"),
        F.countDistinct("pri").alias("n_pri"),
    )
    scored = (
        cells.join(F.broadcast(rows_), "yr")
        .join(F.broadcast(cols_), "pri")
        .crossJoin(F.broadcast(tot))
        .select(
            F.expr(
                "(CAST(o AS decimal(38,0)) * n - CAST(r AS decimal(38,0)) * c)"
                " * (CAST(o AS decimal(38,0)) * n - CAST(r AS decimal(38,0)) * c)"
            ).alias("num"),
            F.expr("CAST(r AS decimal(38,0)) * c * n").alias("den"),
            "n",
            "n_yr",
            "n_pri",
        )
    )
    return scored.agg(
        F.min("n").cast("long").alias("n_orders"),
        F.expr("CAST(min((n_yr - 1) * (n_pri - 1)) AS BIGINT)").alias("dof"),
        F.expr("CAST(sum(num * 1000000 div den) AS BIGINT)").alias("chi2_ppm"),
    )


@query(
    "orders_runs_test",
    oracle="""
    WITH per_day AS (
      SELECT CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS d,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev
      FROM orders GROUP BY 1
    ),
    med AS (
      SELECT CAST(floor(quantile_cont(rev, 0.5)) AS BIGINT) AS m FROM per_day
    ),
    signed AS (
      SELECT d, CASE WHEN rev > m THEN 1 ELSE 0 END AS s
      FROM per_day, med WHERE rev <> m
    ),
    flips AS (
      SELECT s, CASE WHEN lag(s) OVER (ORDER BY d) IS NOT NULL
                      AND lag(s) OVER (ORDER BY d) <> s
                 THEN 1 ELSE 0 END AS flip
      FROM signed
    )
    SELECT
      CAST(sum(s) AS BIGINT)                                  AS n_above,
      CAST(sum(1 - s) AS BIGINT)                              AS n_below,
      CAST(1 + sum(flip) AS BIGINT)                           AS n_runs,
      CAST(1000 + 2000 * sum(s) * sum(1 - s)
           // (sum(s) + sum(1 - s)) AS BIGINT)                AS expected_runs_milli
    FROM flips
    """,
)
def orders_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald–Wolfowitz runs test on the daily-revenue series: is the
    above/below-median sign sequence random, trending (too few runs),
    or oscillating (too many)? Observed runs vs the closed-form
    expectation 1 + 2·n₁·n₂/(n₁+n₂), the latter in exact truncating
    milli-units — the nonparametric sibling of the chi-square mix
    test, with days equal to the median excluded per the standard
    recipe (floored exact percentile keeps that exclusion decision
    identical in both engines). Shape: one fact shuffle to per-day
    rows, a 1-row median broadcast, and the lag/flip window over the
    calendar-span-bounded day frame; the read-out is one scalar
    aggregate."""
    o = load_table(spark, sf_dir, "orders")
    per_day = o.groupBy(
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("d")
    ).agg(F.expr("CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)").alias("rev"))
    med = per_day.agg(
        F.floor(F.percentile("rev", F.lit(0.5))).cast("long").alias("m")
    )
    signed = (
        per_day.crossJoin(F.broadcast(med))
        .filter(F.col("rev") != F.col("m"))
        .select("d", (F.col("rev") > F.col("m")).cast("long").alias("s"))
    )
    w = Window.orderBy("d")
    flips = signed.select(
        "s",
        F.when(
            F.lag("s").over(w).isNotNull() & (F.lag("s").over(w) != F.col("s")),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("flip"),
    )
    return flips.agg(
        F.sum("s").cast("long").alias("n_above"),
        F.sum(F.lit(1) - F.col("s")).cast("long").alias("n_below"),
        (F.lit(1) + F.sum("flip")).cast("long").alias("n_runs"),
        F.expr(
            "CAST(1000 + 2000 * sum(s) * sum(1 - s) div (sum(s) + sum(1 - s)) AS BIGINT)"
        ).alias("expected_runs_milli"),
    )


ABC_BAND_CENTS = 5_000_000  # $50k revenue bands for running_sums
ABC_A_PCT = 80
ABC_B_PCT = 95


@query(
    "orders_abc_classification",
    oracle=f"""
    WITH per_part AS (
      SELECT l_partkey,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS rev
      FROM lineitem GROUP BY 1
    ),
    tot AS (SELECT CAST(sum(rev) AS BIGINT) AS total_rev FROM per_part),
    cum AS (
      SELECT rev,
             sum(rev) OVER (ORDER BY rev DESC, l_partkey
                            ROWS UNBOUNDED PRECEDING) - rev AS cum_before
      FROM per_part
    ),
    classed AS (
      SELECT rev,
             CASE WHEN cum_before * 100 < total_rev * {ABC_A_PCT} THEN 'A'
                  WHEN cum_before * 100 < total_rev * {ABC_B_PCT} THEN 'B'
                  ELSE 'C' END AS abc
      FROM cum, tot
    )
    SELECT abc,
           CAST(count(*) AS BIGINT) AS n_parts,
           CAST(sum(rev) AS BIGINT) AS revenue_cents,
           CAST(sum(rev) * 1000000 // min(tot.total_rev) AS BIGINT) AS share_ppm
    FROM classed, tot
    GROUP BY abc
    ORDER BY abc
    """,
)
def orders_abc_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC inventory classification of parts by revenue: class A
    covers the first 80% of cumulative revenue (descending), B the
    next 15%, C the tail — the purchasing-priority cut every supply
    chain runs. The GLOBAL descending cumulative sum is
    functions/banded.running_sums over negated $50k revenue bands,
    l_partkey breaking revenue ties; the class decision is pure
    integer cents, no float."""
    li = load_table(spark, sf_dir, "lineitem")
    per_part = li.groupBy("l_partkey").agg(
        F.expr("CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)").alias(
            "rev"
        )
    )
    banded = per_part.withColumn("band", F.expr(f"-(rev div {ABC_BAND_CENTS})"))
    tot = per_part.agg(F.sum("rev").alias("total_rev"))
    cum = (
        running_sums(
            banded, "band", [F.desc("rev"), "l_partkey"], {"cum": F.col("rev")}
        )
        .select("rev", (F.col("cum") - F.col("rev")).alias("cum_before"))
        .crossJoin(F.broadcast(tot))
    )
    # All cross-class arithmetic widens to decimal(38,0) BEFORE the
    # multiply: total_rev is ~2.3e13 cents at sf1, so sum(rev)*1e6 in
    # BIGINT throws ARITHMETIC_OVERFLOW under ANSI mode once any class
    # passes ~9.2e12 cents — the DuckDB oracle already runs the same
    # expressions in HUGEINT.
    classed = cum.select(
        "rev",
        "total_rev",
        F.when(
            F.col("cum_before").cast(_DEC) * 100
            < F.col("total_rev").cast(_DEC) * ABC_A_PCT,
            F.lit("A"),
        )
        .when(
            F.col("cum_before").cast(_DEC) * 100
            < F.col("total_rev").cast(_DEC) * ABC_B_PCT,
            F.lit("B"),
        )
        .otherwise(F.lit("C"))
        .alias("abc"),
    )
    return (
        classed.groupBy("abc")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.sum("rev").alias("revenue_cents"),
            F.expr(
                "CAST(CAST(sum(rev) AS decimal(38,0)) * 1000000"
                " div min(total_rev) AS BIGINT)"
            ).alias("share_ppm"),
        )
        .select(
            "abc",
            F.col("n_parts").cast("long").alias("n_parts"),
            F.col("revenue_cents").cast("long").alias("revenue_cents"),
            "share_ppm",
        )
        .orderBy("abc")
    )


@query(
    "events_dau_mau_stickiness",
    oracle="""
    WITH daily AS (
      SELECT strftime(CAST(ts AS DATE), '%Y-%m') AS month,
             CAST(ts AS DATE) AS day,
             CAST(count(DISTINCT user_id) AS BIGINT) AS dau
      FROM events GROUP BY 1, 2
    ),
    monthly AS (
      SELECT strftime(CAST(ts AS DATE), '%Y-%m') AS month,
             CAST(count(DISTINCT user_id) AS BIGINT) AS mau
      FROM events GROUP BY 1
    )
    SELECT
      d.month,
      CAST(count(*) AS BIGINT)                          AS n_days,
      CAST(sum(d.dau) // count(*) AS BIGINT)            AS avg_dau,
      CAST(min(m.mau) AS BIGINT)                        AS mau,
      CAST(sum(d.dau) * 1000000 // (count(*) * min(m.mau))
           AS BIGINT)                                   AS stickiness_ppm
    FROM daily d JOIN monthly m USING (month)
    GROUP BY d.month
    ORDER BY d.month
    """,
)
def events_dau_mau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/MAU stickiness per month — the product-analytics engagement
    ratio (what fraction of the monthly audience shows up on an
    average day). Both actives are EXACT distinct counts: the daily
    one groups by (month, day) and the monthly one by month, each a
    single exact count-distinct aggregate (Spark expands these to a
    two-phase partial/final plan on its own); the ratio
    avg(DAU)/MAU = ΣDAU / (n_days·MAU) is one truncating ppm
    division. Calendar-bounded output (one row per month). At 100 TB
    the same read-out swaps count_distinct for the KMV/HLL sketches
    already in the registry (agg_distinct_kmv) without changing
    shape."""
    e = load_table(spark, sf_dir, "events")
    month = F.date_format(F.col("ts").cast("date"), "yyyy-MM").alias("month")
    daily = e.groupBy(month, F.col("ts").cast("date").alias("day")).agg(
        F.count_distinct("user_id").alias("dau")
    )
    monthly = e.groupBy(month).agg(F.count_distinct("user_id").alias("mau"))
    return (
        daily.join(monthly, "month")
        .groupBy("month")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.expr("sum(dau) div count(*)").alias("avg_dau"),
            F.min("mau").alias("mau"),
            F.expr(
                "CAST(sum(dau) * 1000000 div (count(*) * min(mau)) AS BIGINT)"
            ).alias("stickiness_ppm"),
        )
        .select(
            "month",
            F.col("n_days").cast("long").alias("n_days"),
            F.col("avg_dau").cast("long").alias("avg_dau"),
            F.col("mau").cast("long").alias("mau"),
            "stickiness_ppm",
        )
        .orderBy("month")
    )


# Benford expected first-digit shares, ppm-scaled: round(log10(1+1/d)
# * 1e6) precomputed as INTEGER CONSTANTS at import so neither engine
# ever evaluates a float log — both sides interpolate the same table.
_BENFORD_PPM = {
    1: 301030, 2: 176091, 3: 124939, 4: 96910,
    5: 79181, 6: 66947, 7: 57992, 8: 51153, 9: 45757,
}
_BENFORD_CASE = "CASE d " + " ".join(
    f"WHEN '{d}' THEN {ppm}" for d, ppm in _BENFORD_PPM.items()
) + " END"


@query(
    "orders_benford_first_digit",
    oracle=f"""
    WITH digits AS (
      SELECT substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR), 1, 1) AS d
      FROM orders
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM digits)
    SELECT
      d,
      CAST(count(*) AS BIGINT)                              AS n,
      CAST(count(*) * 1000000 // min(n_total) AS BIGINT)    AS obs_ppm,
      CAST({_BENFORD_CASE} AS BIGINT)                       AS exp_ppm,
      CAST(abs(count(*) * 1000000 // min(n_total)
               - ({_BENFORD_CASE})) AS BIGINT)              AS dev_ppm
    FROM digits, tot
    GROUP BY d
    ORDER BY d
    """,
)
def orders_benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit on order totals — the classic
    fraud / synthetic-data screen (genuine financial amounts follow
    P(d) = log10(1+1/d); fabricated ones usually don't). The expected
    shares are import-time INTEGER constants interpolated into both
    engines, so no float log is ever evaluated at query time and the
    comparison is ppm-exact. Shape: map-side digit extraction (string
    head of the integer cents — no float math on the value either), a
    1-row total broadcast, and a 9-row aggregate. One fact shuffle on
    a 9-value key; trivially scale-proof."""
    o = load_table(spark, sf_dir, "orders")
    digits = o.select(
        F.substring(
            F.expr("CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS STRING)"), 1, 1
        ).alias("d")
    )
    tot = digits.agg(F.count(F.lit(1)).alias("n_total"))
    return (
        digits.crossJoin(F.broadcast(tot))
        .groupBy("d")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("CAST(count(1) * 1000000 div min(n_total) AS BIGINT)").alias(
                "obs_ppm"
            ),
            F.expr(f"CAST({_BENFORD_CASE} AS BIGINT)").alias("exp_ppm"),
            F.expr(
                f"CAST(abs(count(1) * 1000000 div min(n_total) - ({_BENFORD_CASE}))"
                " AS BIGINT)"
            ).alias("dev_ppm"),
        )
        .select("d", F.col("n").cast("long").alias("n"), "obs_ppm", "exp_ppm", "dev_ppm")
        .orderBy("d")
    )


@query(
    "orders_fulfillment_latency_percentiles",
    oracle="""
    WITH lat AS (
      SELECT o.o_orderpriority,
             CAST(CAST(l.l_shipdate AS DATE) - CAST(o.o_orderdate AS DATE) AS BIGINT) AS lat
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    )
    SELECT
      o_orderpriority,
      CAST(count(*) AS BIGINT)                       AS n,
      round(quantile_cont(lat, 0.50), 4)             AS p50_days,
      round(quantile_cont(lat, 0.90), 4)             AS p90_days,
      round(quantile_cont(lat, 0.99), 4)             AS p99_days,
      CAST(sum(lat) * 1000 // count(*) AS BIGINT)    AS mean_milli_days
    FROM lat
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def orders_fulfillment_latency_percentiles(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Order-to-ship latency SLO read-out per order priority: p50/p90/
    p99 of the fulfillment days plus an exact truncating milli-day
    mean — the ops dashboard every fulfillment (or data-delivery)
    pipeline runs. Integer day-diffs feed `percentile` (bitwise-equal
    to DuckDB quantile_cont, the agg_percentiles precedent); the mean
    avoids float entirely (sum·1000 div n). One fact-fact equi-join on
    the order key (AQE-sized) then one shuffle on a 5-value key; exact
    percentile is per-group sort-based — at 100 TB swap in
    approx_percentile's mergeable t-digest unless the SLO contract
    demands exactness."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    lat = li.join(o, li.l_orderkey == o.o_orderkey).select(
        "o_orderpriority",
        F.datediff("l_shipdate", "o_orderdate").cast("long").alias("lat"),
    )
    return (
        lat.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.expr("percentile(lat, 0.50)"), 4).alias("p50_days"),
            F.round(F.expr("percentile(lat, 0.90)"), 4).alias("p90_days"),
            F.round(F.expr("percentile(lat, 0.99)"), 4).alias("p99_days"),
            F.expr("CAST(sum(lat) * 1000 div count(1) AS BIGINT)").alias(
                "mean_milli_days"
            ),
        )
        .select(
            "o_orderpriority",
            F.col("n").cast("long").alias("n"),
            "p50_days",
            "p90_days",
            "p99_days",
            "mean_milli_days",
        )
        .orderBy("o_orderpriority")
    )


POWER_USER_PCTS = (1, 5, 10, 25, 50)


@query(
    "events_power_user_curve",
    oracle=f"""
    WITH per_user AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY user_id
    ),
    tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n_users,
             CAST(sum(c) AS BIGINT) AS n_events
      FROM per_user
    ),
    by_count AS (
      SELECT c, CAST(count(*) AS BIGINT) AS n_u
      FROM per_user GROUP BY c
    ),
    cum AS (
      SELECT c, n_u,
             CAST(coalesce(sum(n_u) OVER (ORDER BY c DESC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS users_before,
             CAST(coalesce(sum(n_u * c) OVER (ORDER BY c DESC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS events_before
      FROM by_count
    ),
    pcts AS (SELECT unnest(ARRAY{list(POWER_USER_PCTS)}) AS p)
    SELECT
      CAST(p AS BIGINT)                                   AS top_pct,
      CAST(k AS BIGINT)                                   AS k_users,
      CAST(events_covered AS BIGINT)                      AS events_covered,
      CAST(events_covered * 1000000 // n_events AS BIGINT) AS share_ppm
    FROM (
      SELECT p, n_events,
             (p * n_users + 99) // 100 AS k,
             (SELECT min(events_before + (((p * n_users + 99) // 100) - users_before) * c)
              FROM cum
              WHERE users_before < ((p * n_users + 99) // 100)
                AND users_before + n_u >= ((p * n_users + 99) // 100)
             ) AS events_covered
      FROM pcts, tot
    )
    ORDER BY top_pct
    """,
)
def events_power_user_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Activity-concentration (Lorenz) read-out: what share of all
    events comes from the top 1/5/10/25/50% most-active users — the
    bot-screen and capacity-planning curve every event platform keeps.
    Users are ranked by count desc; a percentile cut that lands inside
    a tie group is resolved EXACTLY because every user in the group has
    the same count: covered = events_before + (k - users_before)·c.
    Shape: one fact shuffle to per-user counts, a groupBy over COUNT
    VALUES (cardinality = max events/user, not user count), cumulative
    windows over that bounded frame, and a 5-row percentile probe —
    the orders_pareto_8020 banded-cumsum discipline with the band
    equal to the count value itself. No data-sized window at any SF."""
    e = load_table(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(F.count(F.lit(1)).alias("c"))
    tot = per_user.agg(
        F.count(F.lit(1)).alias("n_users"), F.sum("c").alias("n_events")
    )
    by_count = per_user.groupBy("c").agg(F.count(F.lit(1)).alias("n_u"))
    w = Window.orderBy(F.desc("c")).rowsBetween(Window.unboundedPreceding, -1)
    cum = by_count.select(
        "c",
        "n_u",
        F.coalesce(F.sum("n_u").over(w), F.lit(0)).alias("users_before"),
        F.coalesce(F.sum(F.col("n_u") * F.col("c")).over(w), F.lit(0)).alias(
            "events_before"
        ),
    )
    pcts = F.explode(
        F.array(*[F.lit(p) for p in POWER_USER_PCTS])
    ).alias("p")
    probes = (
        tot.select(pcts, "n_users", "n_events")
        .withColumn("k", F.expr("CAST((p * n_users + 99) div 100 AS BIGINT)"))
    )
    # the probe join runs over (5 pcts) x (count-value cardinality)
    # rows — both bounded — and the min() collapses the tie group
    joined = probes.join(
        F.broadcast(cum),
        (F.col("users_before") < F.col("k"))
        & (F.col("users_before") + F.col("n_u") >= F.col("k")),
    )
    return (
        joined.groupBy("p", "k", "n_events")
        .agg(
            F.min(
                F.col("events_before")
                + (F.col("k") - F.col("users_before")) * F.col("c")
            ).alias("events_covered")
        )
        .select(
            F.col("p").cast("long").alias("top_pct"),
            F.col("k").cast("long").alias("k_users"),
            F.col("events_covered").cast("long").alias("events_covered"),
            # decimal(38,0): covered·1e6 passes int64 around 1e13 events
            F.expr(
                "CAST(CAST(events_covered AS decimal(38,0)) * 1000000"
                " div n_events AS BIGINT)"
            ).alias("share_ppm"),
        )
        .orderBy("top_pct")
    )


@query(
    "orders_theilsen_trend",
    oracle="""
    WITH per_day AS (
      SELECT CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS d,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev
      FROM orders GROUP BY 1
    ),
    slopes AS (
      SELECT CAST(1000 * (b.rev - a.rev) // (b.d - a.d) AS BIGINT) AS s
      FROM per_day a JOIN per_day b ON b.d > a.d
    )
    SELECT
      CAST((SELECT count(*) FROM per_day) AS BIGINT) AS n_days,
      CAST(count(*) AS BIGINT)                       AS n_pairs,
      CAST(floor(quantile_cont(s, 0.5)) AS BIGINT)   AS theilsen_millicents_per_day
    FROM slopes
    """,
)
def orders_theilsen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust trend of daily revenue: the MEDIAN of all
    pairwise day-to-day slopes — the estimator that shrugs off the
    outlier days that drag the OLS line (orders_linreg_trend is its
    fragile twin; disagreement between the two IS the outlier alarm).

    The pairs look quadratic but are bounded by the CALENDAR, not the
    data: per_day has at most elapsed-days rows at any SF (2,406 for
    the TPC-H order calendar), so there are at most ~2.9M slopes, ~23
    MB of int64, forever. The plan is therefore the
    orders_holt_linear_trend shape: the only data-sized work is the
    per_day aggregate; a global aggregate packs its (d, rev) columns
    into ONE row, and one mapInPandas task computes every slope and
    the exact median in numpy. A global aggregate always yields its
    row, so the kernel runs (and answers) for 0, 1 and 2 days too.
    One task beats a distributed median at this size: a broadcast
    pair join feeding a banded two-pass median runs 12 jobs and ships
    2.5 MB of shuffle at sf0.01; this plan runs 3 jobs and ~50 KB.

    Exactness (the oracle hash-matches): each db > da slope is
    1000·(rb − ra) div (db − da) in int64, truncated toward zero as
    Spark `div` and DuckDB `//` do (numpy `//` floors, so the kernel
    divides magnitudes and restores the sign). The median is exact via
    np.partition; for an even count it is the floor-shifted mean of
    the two middles, which equals the oracle's floor(quantile_cont).

    Overflow contract: the slope numerators stay in int64 exactly when
    1000·(max(rev) − min(rev)) does, so the aggregate evaluates that
    product under ANSI and raises ARITHMETIC_OVERFLOW wherever some
    pair's 1000·(rb − ra) is beyond int64 — where a pairwise Spark plan
    raises — and the kernel never sees a wrapped value."""
    import numpy as np
    import pandas as pd

    o = load_table(spark, sf_dir, "orders")
    per_day = o.groupBy(
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date")
        )
        .cast("long")
        .alias("d")
    ).agg(
        F.expr(
            "CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)"
        ).alias("rev")
    )
    days = per_day.agg(
        F.collect_list(F.struct("d", "rev")).alias("days"),
        # bounds every |slope numerator|; ANSI raises here on overflow
        F.expr("1000 * (max(rev) - min(rev))").alias("num_bound"),
    ).select(F.col("days.d").alias("d"), F.col("days.rev").alias("rev"), "num_bound")

    def theilsen(batches):
        for pdf in batches:
            for d, rev in zip(pdf["d"], pdf["rev"]):
                order = np.argsort(d)
                d, rev = d[order], rev[order]
                n = len(d)
                s = np.empty(n * (n - 1) // 2, dtype=np.int64)
                at = 0
                for i in range(n - 1):
                    num = 1000 * (rev[i + 1 :] - rev[i])
                    q = np.abs(num) // (d[i + 1 :] - d[i])
                    s[at : at + len(q)] = np.where(num < 0, -q, q)
                    at += len(q)
                k = len(s) // 2
                if not len(s):
                    med = None
                elif len(s) % 2:
                    med = int(np.partition(s, k)[k])
                else:
                    lo, hi = np.partition(s, (k - 1, k))[k - 1 : k + 1]
                    med = (int(lo) + int(hi)) >> 1
                yield pd.DataFrame(
                    {
                        "n_days": [n],
                        "n_pairs": [len(s)],
                        "theilsen_millicents_per_day": pd.array([med], "Int64"),
                    }
                )

    return days.mapInPandas(
        theilsen,
        "n_days long, n_pairs long, theilsen_millicents_per_day long",
    )


@query(
    "events_dau_naive_forecast_backtest",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST(count(DISTINCT user_id) AS BIGINT) AS dau
      FROM events GROUP BY 1
    ),
    keyed AS (
      SELECT day, dau, dayofweek(day) AS dow,
             row_number() OVER (PARTITION BY dayofweek(day) ORDER BY day DESC)
               AS rn_desc
      FROM daily
    ),
    train AS (
      SELECT dow,
             CAST(sum(dau) // count(*) AS BIGINT) AS forecast,
             CAST(count(*) AS BIGINT) AS n_train_days
      FROM keyed WHERE rn_desc > 1 GROUP BY dow
    ),
    test AS (
      SELECT dow, day, dau AS actual FROM keyed WHERE rn_desc = 1
    )
    SELECT
      strftime(t.day, '%Y-%m-%d')                       AS day,
      CAST(t.actual AS BIGINT)                          AS actual_dau,
      CAST(tr.forecast AS BIGINT)                       AS forecast_dau,
      CAST(abs(t.actual - tr.forecast) AS BIGINT)       AS abs_err,
      CAST(abs(t.actual - tr.forecast) * 1000000
           // GREATEST(t.actual, 1) AS BIGINT)          AS ape_ppm,
      tr.n_train_days
    FROM test t JOIN train tr ON tr.dow = t.dow
    ORDER BY day
    """,
)
def events_dau_naive_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive DAU forecast BACKTEST: predict each weekday's
    LAST observed DAU from the truncating mean of all its earlier
    occurrences and report the absolute/percentage error — the
    baseline every forecasting system must beat before anyone trusts
    a fancier model, and the shape (train on rn > 1, test on rn = 1
    per seasonal key) is the standard leakage-free holdout for
    seasonal series. Everything is integers over calendar-bounded
    frames: daily exact distinct counts, per-dow means via truncating
    div, 7-row train table broadcast to a 7-row test probe. Engines
    agree on dow only as a JOIN key (never output), so the
    Spark/DuckDB dayofweek numbering offset is invisible — the
    events_seasonal_residual_anomalies convention."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count_distinct("user_id").alias("dau")
    )
    w = Window.partitionBy(F.dayofweek("day")).orderBy(F.desc("day"))
    keyed = daily.select(
        "day", "dau", F.dayofweek("day").alias("dow"),
        F.row_number().over(w).alias("rn_desc"),
    )
    train = (
        keyed.filter(F.col("rn_desc") > 1)
        .groupBy("dow")
        .agg(
            F.expr("CAST(sum(dau) div count(1) AS BIGINT)").alias("forecast"),
            F.count(F.lit(1)).alias("n_train_days"),
        )
    )
    test = keyed.filter(F.col("rn_desc") == 1).select(
        "dow", "day", F.col("dau").alias("actual")
    )
    return (
        test.join(F.broadcast(train), "dow")
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.col("actual").cast("long").alias("actual_dau"),
            F.col("forecast").cast("long").alias("forecast_dau"),
            F.abs(F.col("actual") - F.col("forecast")).cast("long").alias("abs_err"),
            F.expr(
                "CAST(abs(actual - forecast) * 1000000"
                " div GREATEST(actual, 1) AS BIGINT)"
            ).alias("ape_ppm"),
            F.col("n_train_days").cast("long").alias("n_train_days"),
        )
        .orderBy("day")
    )


@query(
    "orders_interpurchase_time",
    oracle="""
    WITH gaps AS (
      SELECT o_custkey,
             CAST(CAST(o_orderdate AS DATE)
               - lag(CAST(o_orderdate AS DATE)) OVER (
                   PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ) AS BIGINT) AS gap_days
      FROM orders
    ),
    g AS (SELECT gap_days FROM gaps WHERE gap_days IS NOT NULL)
    SELECT
      CAST(count(*) AS BIGINT)                     AS n_gaps,
      round(quantile_cont(gap_days, 0.50), 4)      AS p50_days,
      round(quantile_cont(gap_days, 0.90), 4)      AS p90_days,
      CAST(sum(gap_days) * 1000 // count(*) AS BIGINT) AS mean_milli_days,
      CAST(sum(CASE WHEN gap_days <= 30 THEN 1 ELSE 0 END) * 1000000
           // count(*) AS BIGINT)                  AS within_30d_ppm
    FROM g
    """,
)
def orders_interpurchase_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-purchase time distribution: days between a customer's
    consecutive orders (p50/p90, exact milli-mean, and the share of
    repeat purchases within 30 days) — the repurchase-cadence metric
    behind churn windows, reorder reminders, and CLV models, and the
    empirical basis for the cohort-retention bucketing. One customer
    window (the standard per-key lag exchange) collapsing to gap
    rows; the percentile runs over the collapsed gap frame."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = o.select(
        (
            F.datediff(
                F.col("o_orderdate").cast("date"),
                F.lag(F.col("o_orderdate").cast("date")).over(w),
            )
        )
        .cast("long")
        .alias("gap_days")
    ).filter(F.col("gap_days").isNotNull())
    return gaps.agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.round(F.expr("percentile(gap_days, 0.50)"), 4).alias("p50_days"),
        F.round(F.expr("percentile(gap_days, 0.90)"), 4).alias("p90_days"),
        F.expr("CAST(sum(gap_days) * 1000 div count(1) AS BIGINT)").alias(
            "mean_milli_days"
        ),
        F.expr(
            "CAST(sum(CASE WHEN gap_days <= 30 THEN 1 ELSE 0 END)"
            " * 1000000 div count(1) AS BIGINT)"
        ).alias("within_30d_ppm"),
    ).select(
        F.col("n_gaps").cast("long").alias("n_gaps"),
        "p50_days",
        "p90_days",
        "mean_milli_days",
        "within_30d_ppm",
    )


@query(
    "orders_customer_concentration_hhi",
    oracle="""
    WITH per_cust AS (
      SELECT o_custkey,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev
      FROM orders GROUP BY 1
    ),
    tot AS (SELECT CAST(sum(rev) AS HUGEINT) AS total FROM per_cust)
    SELECT
      CAST(count(*) AS BIGINT) AS n_customers,
      CAST(sum(CAST(rev AS HUGEINT) * rev * 1000000 // (total * total))
           AS BIGINT)          AS hhi_ppm,
      CAST(max(CAST(rev AS HUGEINT) * 1000000 // total) AS BIGINT)
                               AS top_share_ppm
    FROM per_cust, tot
    """,
)
def orders_customer_concentration_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl–Hirschman revenue concentration: Σ share² in ppm
    (10,000+ = 'concentrated' in antitrust terms; 1/HHI is the
    effective number of customers) plus the single largest share —
    the portfolio-risk twin of the Pareto/Gini family that needs NO
    global ordering at all: HHI is a plain sum of squared shares, so
    the whole statistic is one per-customer rollup and one 1-row
    aggregate with every term in truncating decimal/HUGEINT (rev² ·
    1e6 is far past int64 — same per-term truncation in both engines
    keeps the hash exact)."""
    o = load_table(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.expr("CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)").alias(
            "rev"
        )
    )
    tot = per_cust.agg(F.sum("rev").cast("decimal(38,0)").alias("total"))
    return (
        per_cust.crossJoin(F.broadcast(tot))
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(
                F.expr(
                    "CAST(CAST(rev AS decimal(38,0)) * rev * 1000000"
                    " div (total * total) AS BIGINT)"
                )
            ).alias("hhi_ppm"),
            # decimal: rev*1e6 passes int64 at ~9e12-cent customers
            F.max(
                F.expr(
                    "CAST(CAST(rev AS decimal(38,0)) * 1000000 div total"
                    " AS BIGINT)"
                )
            ).alias("top_share_ppm"),
        )
        .select(
            F.col("n_customers").cast("long").alias("n_customers"),
            F.col("hhi_ppm").cast("long").alias("hhi_ppm"),
            F.col("top_share_ppm").cast("long").alias("top_share_ppm"),
        )
    )


@query(
    "lineitem_discount_effect",
    oracle="""
    SELECT
      CAST(round(l_discount * 100) AS BIGINT)        AS discount_pct,
      CAST(count(*) AS BIGINT)                       AS n_items,
      CAST(sum(CAST(l_quantity AS BIGINT)) * 1000 // count(*) AS BIGINT)
                                                     AS avg_qty_milli,
      CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
                                                     AS revenue_cents,
      CAST(sum(CAST(round(l_extendedprice * l_discount * 100) AS BIGINT))
           AS BIGINT)                                AS discount_given_cents
    FROM lineitem
    GROUP BY 1
    ORDER BY discount_pct
    """,
)
def lineitem_discount_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discount-effect table: per discount level, items sold, exact
    milli-average quantity, gross revenue, and the discount dollars
    given away — the raw elasticity read-out pricing teams fit curves
    to (if avg_qty doesn't climb with discount_pct, the discount is
    pure margin leak; TPC-H Q6 asks the forecast version of the same
    question). One fact shuffle on an ~11-value key, every measure an
    exact integer-cents aggregate with per-row rounding identical in
    both engines."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy(
            F.round(F.col("l_discount") * 100).cast("long").alias("discount_pct")
        )
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.expr(
                "CAST(sum(CAST(l_quantity AS BIGINT)) * 1000 div count(1) AS BIGINT)"
            ).alias("avg_qty_milli"),
            F.expr(
                "CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)"
            ).alias("revenue_cents"),
            F.expr(
                "CAST(sum(CAST(round(l_extendedprice * l_discount * 100) AS BIGINT))"
                " AS BIGINT)"
            ).alias("discount_given_cents"),
        )
        .select(
            "discount_pct",
            F.col("n_items").cast("long").alias("n_items"),
            "avg_qty_milli",
            "revenue_cents",
            "discount_given_cents",
        )
        .orderBy("discount_pct")
    )


@query(
    "orders_revenue_bridge",
    oracle="""
    WITH per_cm AS (
      SELECT o_custkey,
             CAST(strftime(CAST(o_orderdate AS DATE), '%Y') AS BIGINT) * 12
               + CAST(strftime(CAST(o_orderdate AS DATE), '%m') AS BIGINT) - 1
               AS mi,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS rev
      FROM orders GROUP BY 1, 2
    ),
    seq AS (
      SELECT o_custkey, mi, rev,
             lag(mi)  OVER w AS prev_mi,
             lag(rev) OVER w AS prev_rev,
             lead(mi) OVER w AS next_mi
      FROM per_cm
      WINDOW w AS (PARTITION BY o_custkey ORDER BY mi)
    ),
    flows AS (
      SELECT mi,
             CASE WHEN prev_mi IS NULL OR prev_mi < mi - 1 THEN rev ELSE 0 END
               AS new_or_resurrected,
             CASE WHEN prev_mi = mi - 1 AND rev > prev_rev
                  THEN rev - prev_rev ELSE 0 END AS expansion,
             CASE WHEN prev_mi = mi - 1 AND rev < prev_rev
                  THEN prev_rev - rev ELSE 0 END AS contraction,
             CASE WHEN next_mi IS NULL OR next_mi > mi + 1 THEN rev ELSE 0 END
               AS churning_out
      FROM seq
    )
    SELECT
      CAST(mi // 12 AS VARCHAR) || '-' ||
        CASE WHEN (mi % 12) + 1 < 10 THEN '0' ELSE '' END ||
        CAST((mi % 12) + 1 AS VARCHAR)                    AS month,
      CAST(sum(new_or_resurrected) AS BIGINT)             AS inflow_cents,
      CAST(sum(expansion) AS BIGINT)                      AS expansion_cents,
      CAST(sum(contraction) AS BIGINT)                    AS contraction_cents,
      CAST(sum(churning_out) AS BIGINT)                   AS churning_out_cents
    FROM flows
    GROUP BY mi
    ORDER BY month
    """,
)
def orders_revenue_bridge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue bridge (the SaaS growth-accounting of MONEY): each
    month's revenue movement decomposed into inflow (customers with
    no spend the previous calendar month — new or resurrected),
    expansion and contraction (same customer, adjacent months), and
    the revenue that churns out after the month — the waterfall every
    finance review reads, and the money twin of
    events_growth_accounting's user flows. Month index mi = y·12+m−1
    keeps ALL month arithmetic pure integers (adjacent = mi−1; no
    date-diff edge cases). One (customer, month) rollup shuffle, one
    customer window over ACTIVE MONTHS (rows bounded by months
    active), calendar-bounded read-out; exact cents throughout."""
    o = load_table(spark, sf_dir, "orders")
    mi = (
        F.year(F.col("o_orderdate").cast("date")) * 12
        + F.month(F.col("o_orderdate").cast("date"))
        - 1
    ).cast("long")
    per_cm = o.groupBy("o_custkey", mi.alias("mi")).agg(
        F.expr(
            "CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)"
        ).alias("rev")
    )
    w = Window.partitionBy("o_custkey").orderBy("mi")
    seq = per_cm.select(
        "mi",
        "rev",
        F.lag("mi").over(w).alias("prev_mi"),
        F.lag("rev").over(w).alias("prev_rev"),
        F.lead("mi").over(w).alias("next_mi"),
    )
    adjacent = F.col("prev_mi") == F.col("mi") - 1
    flows = seq.select(
        "mi",
        F.when(F.col("prev_mi").isNull() | ~adjacent, F.col("rev"))
        .otherwise(F.lit(0))
        .alias("inflow"),
        F.when(adjacent & (F.col("rev") > F.col("prev_rev")), F.col("rev") - F.col("prev_rev"))
        .otherwise(F.lit(0))
        .alias("expansion"),
        F.when(adjacent & (F.col("rev") < F.col("prev_rev")), F.col("prev_rev") - F.col("rev"))
        .otherwise(F.lit(0))
        .alias("contraction"),
        F.when(
            F.col("next_mi").isNull() | (F.col("next_mi") > F.col("mi") + 1),
            F.col("rev"),
        )
        .otherwise(F.lit(0))
        .alias("churning_out"),
    )
    month_str = F.concat(
        (F.col("mi") / 12).cast("long").cast("string"),
        F.lit("-"),
        F.lpad(((F.col("mi") % 12) + 1).cast("string"), 2, "0"),
    )
    return (
        flows.groupBy("mi")
        .agg(
            F.sum("inflow").alias("inflow_cents"),
            F.sum("expansion").alias("expansion_cents"),
            F.sum("contraction").alias("contraction_cents"),
            F.sum("churning_out").alias("churning_out_cents"),
        )
        .select(
            month_str.alias("month"),
            F.col("inflow_cents").cast("long").alias("inflow_cents"),
            F.col("expansion_cents").cast("long").alias("expansion_cents"),
            F.col("contraction_cents").cast("long").alias("contraction_cents"),
            F.col("churning_out_cents").cast("long").alias("churning_out_cents"),
        )
        .orderBy("month")
    )


EWMA_WINDOW = 15  # trailing days in the smoothing window
EWMA_SPIKE_MULT = 2  # flag days with revenue > MULT x trailing EWMA


@query(
    "orders_ewma_daily",
    oracle=f"""
    WITH per_day AS (
      SELECT CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS d,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev
      FROM orders GROUP BY 1
    ),
    sm AS (
      SELECT a.d, a.rev,
             CAST(sum(b.rev * (CAST(1 AS BIGINT) << ({EWMA_WINDOW} - (a.d - b.d))))
                  // sum(CAST(1 AS BIGINT) << ({EWMA_WINDOW} - (a.d - b.d)))
                  AS BIGINT) AS ewma
      FROM per_day a JOIN per_day b
        ON b.d >= a.d - {EWMA_WINDOW} AND b.d <= a.d - 1
      GROUP BY a.d, a.rev
    )
    SELECT d AS day, rev AS rev_cents, ewma AS ewma_cents,
           CAST(rev > {EWMA_SPIKE_MULT} * ewma AS INT) AS spike_flag
    FROM sm ORDER BY d
    """,
)
def orders_ewma_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average of daily revenue with a
    spike flag — the simple-and-robust smoother a monitoring pipeline
    runs before alerting. Weights are EXACT powers of two (2^(W-lag),
    lag 1..15, i.e. half-life one day) so the whole statistic is
    integer rational: ewma = Σ rev·2^(W-lag) // Σ 2^(W-lag), with the
    partial-window head using the same formula over the days that
    exist. Plan shape: the fact table collapses to ≤ span-days rows in
    ONE groupBy, then the trailing window is a calendar-BOUNDED
    broadcast self-join (≤ 15 partners per day, day count is
    SF-invariant) and a tiny re-aggregate — identical cost at sf0.01
    and sf100. Overflow: daily cents ≤ ~1e11 at sf10 × 2^14 × 15 days
    ≈ 2e16 ≪ 2^63."""
    o = load_table(spark, sf_dir, "orders")
    per_day = o.groupBy(
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date")
        )
        .cast("long")
        .alias("d")
    ).agg(
        F.expr(
            "CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)"
        ).alias("rev")
    )
    a = per_day.select(F.col("d").alias("ad"), F.col("rev").alias("arev"))
    b = per_day.select(F.col("d").alias("bd"), F.col("rev").alias("brev"))
    w_pow = F.expr(
        f"shiftleft(CAST(1 AS BIGINT), CAST({EWMA_WINDOW} - (ad - bd) AS INT))"
    )
    sm = (
        a.join(
            F.broadcast(b),
            (F.col("bd") >= F.col("ad") - EWMA_WINDOW)
            & (F.col("bd") <= F.col("ad") - 1),
        )
        .withColumn("w_pow", w_pow)
        .groupBy("ad", "arev")
        # the whole weighted term lives in decimal(38,0): cast brev
        # BEFORE the multiply (an int64 product brev×2^14 wraps
        # silently past daily cents ~5.6e14 in non-ANSI sessions while
        # DuckDB's HUGEINT path errors — silent divergence), and the
        # 15-day SUM can pass 2^63 at extreme magnitudes regardless
        .agg(
            F.expr(
                "CAST(sum(CAST(brev AS decimal(38,0)) * w_pow) "
                "div sum(CAST(w_pow AS decimal(38,0))) AS BIGINT)"
            ).alias("ewma")
        )
    )
    return sm.select(
        F.col("ad").alias("day"),
        F.col("arev").alias("rev_cents"),
        F.col("ewma").alias("ewma_cents"),
        (F.col("arev") > EWMA_SPIKE_MULT * F.col("ewma")).cast("int").alias("spike_flag"),
    ).orderBy("day")


@query(
    "orders_holt_linear_trend",
    oracle="""
    WITH RECURSIVE per_day AS (
      SELECT o_orderpriority AS prio,
             CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS d,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS rev
      FROM orders GROUP BY 1, 2
    ),
    ranked AS (
      SELECT prio, d, rev,
             row_number() OVER (PARTITION BY prio ORDER BY d) AS rn
      FROM per_day
    ),
    rec AS (
      SELECT prio, d, rev, rn, rev AS l, CAST(0 AS BIGINT) AS b,
             CAST(NULL AS BIGINT) AS forecast_prior
      FROM ranked WHERE rn = 1
      UNION ALL
      SELECT r.prio, r.d, r.rev, r.rn,
             (p.l + p.b + r.rev) // 2 AS l,
             (((p.l + p.b + r.rev) // 2 - p.l) + p.b) // 2 AS b,
             p.l + p.b
      FROM ranked r JOIN rec p ON p.prio = r.prio AND r.rn = p.rn + 1
    )
    SELECT prio, d AS day, rev AS rev_cents,
           coalesce(forecast_prior, -1) AS forecast_cents,
           CAST(CASE WHEN forecast_prior IS NULL THEN 0
                     ELSE CAST(rev > 2 * forecast_prior AS INT) END AS INT)
             AS spike_flag
    FROM rec ORDER BY prio, d
    """,
)
def orders_holt_linear_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double-exponential smoothing (level + trend) over daily
    revenue per order priority — the BATCH twin of
    stream_holt_trend_flags, completing the batch/stream pair the
    coverage table tracks: same integer recurrence (alpha = beta =
    1/2, truncating division toward zero — DuckDB's // truncates
    while Python floors, and the trend term goes negative on
    declining series), same prior-forecast spike flag.

    Plan shape: the fact table collapses to <= span-days rows per
    priority in ONE map-side-combined groupBy; the recurrence itself
    is order-DEFINED, so it runs in applyInPandas over the collapsed
    frame — sequential in t WITHIN a group (inherent to the
    recurrence, bounded by calendar days not data volume) and
    parallel ACROSS groups. That is the correct 100-TB decomposition:
    the only data-sized work is the first aggregate; the Python stage
    touches SF-invariant row counts. The oracle replays the identical
    recurrence as an ordered recursive CTE."""
    import pandas as pd

    o = load_table(spark, sf_dir, "orders")
    per_day = o.groupBy(
        F.col("o_orderpriority").alias("prio"),
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date")
        )
        .cast("long")
        .alias("day"),
    ).agg(
        F.expr(
            "CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)"
        ).alias("rev_cents")
    )

    def tdiv2(x: int) -> int:
        return x // 2 if x >= 0 else -((-x) // 2)

    def holt(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("day").reset_index(drop=True)
        # None sentinel, NOT -1: the Holt level itself goes negative
        # on declining series, and a negative-value sentinel would
        # silently restart the recurrence mid-series.
        lvl, trend = None, 0
        fc, fl = [], []
        for rev in pdf["rev_cents"]:
            rev = int(rev)
            if lvl is None:
                fc.append(-1)
                fl.append(0)
                lvl, trend = rev, 0
            else:
                f = lvl + trend
                fc.append(f)
                fl.append(int(rev > 2 * f))
                new_l = tdiv2(f + rev)
                trend = tdiv2((new_l - lvl) + trend)
                lvl = new_l
        pdf["forecast_cents"] = pd.Series(fc, dtype="int64")
        pdf["spike_flag"] = pd.Series(fl, dtype="int32")
        return pdf

    return (
        per_day.groupBy("prio")
        .applyInPandas(
            holt,
            "prio string, day long, rev_cents long, "
            "forecast_cents long, spike_flag int",
        )
        .orderBy("prio", "day")
    )


@query(
    "lineitem_price_elasticity_by_brand",
    oracle="""
    WITH pts AS (
      SELECT p.p_brand AS brand,
             CAST(round(ln(l.l_extendedprice / l.l_quantity) * 1000000)
                  AS BIGINT) AS x,
             CAST(round(ln(CAST(l.l_quantity AS DOUBLE)) * 1000000)
                  AS BIGINT) AS y
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      WHERE l.l_quantity > 0 AND l.l_extendedprice > 0
    ),
    s AS (
      SELECT brand,
             CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(x) AS HUGEINT)  AS sx,
             CAST(sum(y) AS HUGEINT)  AS sy,
             CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT)  AS sxy,
             CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT)  AS sxx
      FROM pts GROUP BY brand
    )
    SELECT brand,
           CAST(n AS BIGINT) AS n_items,
           CAST(sx // n AS BIGINT) AS mean_ln_price_micro,
           CAST((n * sxy - sx * sy) * 1000000 // (n * sxx - sx * sx)
                AS BIGINT) AS elasticity_micro
    FROM s
    WHERE n * sxx - sx * sx > 0
    ORDER BY brand
    """,
)
def lineitem_price_elasticity_by_brand(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-brand price elasticity of demand: the OLS slope of
    ln(quantity) on ln(unit price) — the log-log regression whose
    coefficient IS the elasticity (a -1.2 means a 1% price increase
    drops quantity ~1.2%). Grouped regression, one slope per brand —
    the per-group generalization of orders_linreg_trend's single
    global fit. Determinism contract: both log terms are rounded to
    integer MICRO per row before any aggregation (the
    curation_dsir_importance precedent), so every moment (sx, sy, sxy,
    sxx) is an exact integer sum — widened to decimal(38,0)/HUGEINT
    because micro-scaled cross-products overflow int64 — and the slope
    is one exact truncating div. Shape: broadcast the part dim into
    the fact scan, one partial-aggregated shuffle on the ~|brands|
    key, a 25-row closed-form read-out. No windows, no float sums."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    pts = (
        li.filter((F.col("l_quantity") > 0) & (F.col("l_extendedprice") > 0))
        .join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .select(
            F.col("p_brand").alias("brand"),
            F.round(
                F.log(F.col("l_extendedprice") / F.col("l_quantity")) * 1_000_000
            )
            .cast("long")
            .alias("x"),
            F.round(F.log(F.col("l_quantity").cast("double")) * 1_000_000)
            .cast("long")
            .alias("y"),
        )
    )
    s = pts.groupBy("brand").agg(
        F.count(F.lit(1)).cast(_DEC).alias("n"),
        F.sum("x").cast(_DEC).alias("sx"),
        F.sum("y").cast(_DEC).alias("sy"),
        F.sum(F.col("x").cast(_DEC) * F.col("y")).alias("sxy"),
        F.sum(F.col("x").cast(_DEC) * F.col("x")).alias("sxx"),
    )
    return (
        s.filter(F.expr("n * sxx - sx * sx > 0"))
        .select(
            "brand",
            F.col("n").cast("long").alias("n_items"),
            F.expr("CAST(sx div n AS BIGINT)").alias("mean_ln_price_micro"),
            F.expr(
                "CAST((n * sxy - sx * sy) * 1000000 div (n * sxx - sx * sx) "
                "AS BIGINT)"
            ).alias("elasticity_micro"),
        )
        .orderBy("brand")
    )


@query(
    "events_changepoint_binseg",
    oracle="""
    WITH per_day AS (
      SELECT date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d,
             CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1
    ),
    tot AS (
      SELECT CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(c) AS HUGEINT) AS s,
             CAST(sum(CAST(c AS HUGEINT) * c) AS HUGEINT) AS sq
      FROM per_day
    ),
    pre AS (
      SELECT d,
             CAST(row_number() OVER (ORDER BY d) AS HUGEINT) AS k,
             CAST(sum(c) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING)
                  AS HUGEINT) AS a
      FROM per_day
    ),
    scored AS (
      SELECT d, k, a, n, s, sq,
             (a * a * (n - k) + (s - a) * (s - a) * k) * 1000000
               // (k * (n - k)) AS gain_key
      FROM pre, tot
      WHERE k < n AND n * sq - s * s > 0
    )
    SELECT
      strftime(DATE '1970-01-01' + INTERVAL (d) DAY, '%Y-%m-%d') AS split_date,
      CAST(k AS BIGINT)                     AS split_index,
      CAST(n AS BIGINT)                     AS n_days,
      CAST(a * 1000 // k AS BIGINT)         AS mean_before_milli,
      CAST((s - a) * 1000 // (n - k) AS BIGINT) AS mean_after_milli,
      CAST((n * (a * a * (n - k) + (s - a) * (s - a) * k)
            - s * s * k * (n - k)) * 1000000
           // (k * (n - k) * (n * sq - s * s)) AS BIGINT) AS var_explained_ppm
    FROM scored
    ORDER BY gain_key DESC, d ASC
    LIMIT 1
    """,
)
def events_changepoint_binseg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single changepoint on the daily event-count series by binary
    segmentation: the split k minimizing SSE_left + SSE_right, i.e.
    maximizing the between-segment gain A_k²/k + B_k²/(n−k) — the
    first step of the classic binseg recursion (Scott & Knott '74) and
    the variance-based complement of orders_cusum_changepoint's
    mean-shift statistic. All arithmetic exact: the argmax key is the
    gain cross-multiplied onto the common denominator k(n−k) as ONE
    truncating integer div (decimal(38,0)/HUGEINT; no float ordering
    anywhere, date tiebreak), and the reported effect sizes are exact
    milli-means plus the fraction of total variance the split explains
    in truncating ppm. Shape: one fact shuffle to per-day counts, then
    every window/join runs on the CALENDAR-SPAN frame (~2.5k rows at
    any SF — the orders_cusum_changepoint discipline) with the 1-row
    totals broadcast; the answer is a 1-row TakeOrdered."""
    e = load_table(spark, sf_dir, "events")
    per_day = e.groupBy(
        F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("d")
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    tot = per_day.agg(
        F.count(F.lit(1)).cast(_DEC).alias("n"),
        F.sum("c").cast(_DEC).alias("s"),
        F.sum(F.col("c").cast(_DEC) * F.col("c")).alias("sq"),
    )
    w_cum = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    pre = per_day.select(
        "d",
        F.row_number().over(Window.orderBy("d")).cast(_DEC).alias("k"),
        F.sum("c").over(w_cum).cast(_DEC).alias("a"),
    )
    scored = (
        pre.crossJoin(F.broadcast(tot))
        .filter(F.expr("k < n AND n * sq - s * s > 0"))
        .withColumn(
            "gain_key",
            F.expr(
                "(a * a * (n - k) + (s - a) * (s - a) * k) * 1000000 "
                "div (k * (n - k))"
            ),
        )
    )
    return (
        scored.orderBy(F.desc("gain_key"), F.asc("d"))
        .limit(1)
        .select(
            F.date_format(
                F.expr("date_add(DATE '1970-01-01', CAST(d AS INT))"),
                "yyyy-MM-dd",
            ).alias("split_date"),
            F.col("k").cast("long").alias("split_index"),
            F.col("n").cast("long").alias("n_days"),
            F.expr("CAST(a * 1000 div k AS BIGINT)").alias("mean_before_milli"),
            F.expr("CAST((s - a) * 1000 div (n - k) AS BIGINT)").alias(
                "mean_after_milli"
            ),
            F.expr(
                "CAST((n * (a * a * (n - k) + (s - a) * (s - a) * k) "
                "- s * s * k * (n - k)) * 1000000 "
                "div (k * (n - k) * (n * sq - s * s)) AS BIGINT)"
            ).alias("var_explained_ppm"),
        )
    )


KM_CENSOR_GAP_HOURS = 12  # users silent this close to the horizon are censored


@query(
    "events_user_survival_km",
    oracle=f"""
    WITH u AS (
      SELECT user_id,
             min(CAST(floor(epoch(ts) / 3600) AS BIGINT)) AS fd,
             max(CAST(floor(epoch(ts) / 3600) AS BIGINT)) AS ld
      FROM events GROUP BY user_id
    ),
    h AS (SELECT max(ld) AS horizon FROM u),
    lives AS (
      SELECT ld - fd AS t,
             CAST(ld < horizon - {KM_CENSOR_GAP_HOURS} AS BIGINT) AS ev
      FROM u, h
    ),
    durs AS (
      SELECT t, CAST(count(*) AS BIGINT) AS m, CAST(sum(ev) AS BIGINT) AS d
      FROM lives GROUP BY t
    ),
    risk AS (
      SELECT t, m, d,
             CAST(sum(m) OVER () - sum(m) OVER (ORDER BY t
                    ROWS UNBOUNDED PRECEDING) + m AS BIGINT) AS n_risk
      FROM durs
    ),
    ev_times AS (
      SELECT t, n_risk, d,
             CAST(round(ln(CAST(n_risk - d AS DOUBLE) / n_risk) * 1000000)
                  AS BIGINT) AS l_micro
      FROM risk WHERE d > 0 AND n_risk > d
    )
    SELECT t AS t_hours, n_risk, d AS n_churned,
           CAST(round(exp(CAST(sum(l_micro) OVER (ORDER BY t
                  ROWS UNBOUNDED PRECEDING) AS DOUBLE) / 1000000) * 1000000)
                AS BIGINT) AS survival_ppm
    FROM ev_times
    ORDER BY t
    """,
)
def events_user_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curve of user lifetime (hours from first
    to last event), right-censored: users whose last event falls
    within KM_CENSOR_GAP_HOURS of the data horizon are censored (still
    alive for all we know), everyone else contributes a churn event —
    the estimator that makes retention curves honest when the
    observation window cuts cohorts short (naive survival counts all
    short-tenured new users as churned). S(t) = prod over event times
    u<=t of (n_u - d_u)/n_u, with n_u the at-risk count. Determinism
    contract: every per-time hazard log is rounded to integer MICRO
    before the cumulative sum (the dsir/pareto precedent), so the
    window accumulates exact integers and the single exp at read-out
    consumes identical inputs in both engines. Shape: ONE data-sized
    shuffle (the user_id min/max aggregate, map-side combinable);
    everything after runs on the duration frame, whose cardinality is
    the CALENDAR SPAN in hours (~720 rows at any SF), where
    single-partition windows are safe by design."""
    e = load_table(spark, sf_dir, "events")
    hourn = F.floor(F.unix_timestamp("ts") / 3600).cast("long")
    u = e.groupBy("user_id").agg(
        F.min(hourn).alias("fd"), F.max(hourn).alias("ld")
    )
    h = u.agg(F.max("ld").alias("horizon"))
    lives = u.crossJoin(F.broadcast(h)).select(
        (F.col("ld") - F.col("fd")).alias("t"),
        (F.col("ld") < F.col("horizon") - KM_CENSOR_GAP_HOURS)
        .cast("long")
        .alias("ev"),
    )
    durs = lives.groupBy("t").agg(
        F.count(F.lit(1)).cast("long").alias("m"),
        F.sum("ev").cast("long").alias("d"),
    )
    w_all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    w_cum = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    risk = durs.select(
        "t",
        "m",
        "d",
        (F.sum("m").over(w_all) - F.sum("m").over(w_cum) + F.col("m"))
        .cast("long")
        .alias("n_risk"),
    )
    ev_times = risk.filter((F.col("d") > 0) & (F.col("n_risk") > F.col("d"))).select(
        "t",
        "n_risk",
        "d",
        F.round(
            F.log(
                (F.col("n_risk") - F.col("d")).cast("double")
                / F.col("n_risk").cast("double")
            )
            * 1_000_000
        )
        .cast("long")
        .alias("l_micro"),
    )
    return ev_times.select(
        F.col("t").alias("t_hours"),
        "n_risk",
        F.col("d").alias("n_churned"),
        F.round(
            F.exp(
                F.sum("l_micro").over(Window.orderBy("t").rowsBetween(
                    Window.unboundedPreceding, 0
                )).cast("double")
                / 1_000_000
            )
            * 1_000_000
        )
        .cast("long")
        .alias("survival_ppm"),
    ).orderBy("t_hours")


@query(
    "events_seasonality_strength",
    oracle="""
    WITH per_hour AS (
      SELECT event_type,
             CAST(floor(epoch(ts) / 3600) AS BIGINT) AS h,
             CAST(count(*) AS BIGINT) AS x
      FROM events GROUP BY 1, 2
    ),
    slotted AS (
      SELECT event_type, ((h // 24) % 7) * 24 + (h % 24) AS slot, h, x
      FROM per_hour
    ),
    per_slot AS (
      SELECT event_type, slot,
             CAST(count(*) AS HUGEINT) AS ns,
             CAST(sum(x) AS HUGEINT) AS ss,
             CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS qs
      FROM slotted GROUP BY 1, 2
    ),
    terms AS (
      SELECT event_type, ns, ss, qs,
             CAST(ss * ss * 1000000 // ns AS HUGEINT) AS term_micro
      FROM per_slot
    ),
    agg AS (
      SELECT event_type,
             CAST(sum(ns) AS HUGEINT) AS n,
             CAST(sum(ss) AS HUGEINT) AS s,
             CAST(sum(qs) AS HUGEINT) AS q,
             CAST(sum(term_micro) AS HUGEINT) AS t
      FROM terms GROUP BY event_type
    )
    SELECT event_type,
           CAST(n AS BIGINT) AS n_hours,
           CAST(s AS BIGINT) AS n_events,
           CAST((n * t - s * s * 1000000) * 1000000
                // (n * q * 1000000 - s * s * 1000000) AS BIGINT)
             AS seasonal_strength_ppm
    FROM agg
    WHERE n * q > s * s
    ORDER BY event_type
    """,
)
def events_seasonality_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly-seasonality strength per event stream as eta-squared —
    the share of hourly-volume variance explained by the (day-of-week,
    hour-of-day) slot means: R^2 of the slot-mean model, the number
    that decides seasonal-naive vs plain-naive in the forecast
    backtest (events_dau_naive_forecast_backtest) and whether the
    seasonal-residual anomaly screen is even applicable. Identity:
    SS_between/SS_total = (n*Sum_s S_s^2/n_s - S^2)/(n*Q - S^2) with
    Q = Sum x^2. The one rational term Sum_s S_s^2/n_s becomes exact
    cross-engine by the per-cell contract: each slot's S_s^2*1e6 div
    n_s is ONE truncating division on exact integers (slots are <=168
    cells per type), summed exactly; everything else is integer
    moments in decimal(38,0)/HUGEINT. Slot identity is pure integer
    arithmetic on the epoch hour (((h div 24) mod 7)*24 + h mod 24) so
    no engine calendar/locale convention can disagree. Shape: one
    (type, hour) groupBy with map-side combine (time-span-bounded),
    one 168-key slot aggregate, a bounded-key read-out. Observed hours
    only, like events_burstiness_fano."""
    e = load_table(spark, sf_dir, "events")
    per_hour = e.groupBy(
        "event_type",
        F.floor(F.unix_timestamp("ts") / 3600).cast("long").alias("h"),
    ).agg(F.count(F.lit(1)).cast("long").alias("x"))
    per_slot = per_hour.groupBy(
        "event_type",
        F.expr("((h div 24) % 7) * 24 + (h % 24)").alias("slot"),
    ).agg(
        F.count(F.lit(1)).cast(_DEC).alias("ns"),
        F.sum("x").cast(_DEC).alias("ss"),
        F.sum(F.col("x").cast(_DEC) * F.col("x")).cast(_DEC).alias("qs"),
    )
    terms = per_slot.withColumn(
        "term_micro", F.expr("CAST(ss * ss * 1000000 div ns AS decimal(38,0))")
    )
    agg = terms.groupBy("event_type").agg(
        F.sum("ns").cast(_DEC).alias("n"),
        F.sum("ss").cast(_DEC).alias("s"),
        F.sum("qs").cast(_DEC).alias("q"),
        F.sum("term_micro").cast(_DEC).alias("t"),
    )
    return (
        agg.filter(F.expr("n * q > s * s"))
        .select(
            "event_type",
            F.col("n").cast("long").alias("n_hours"),
            F.col("s").cast("long").alias("n_events"),
            F.expr(
                "CAST((n * t - s * s * 1000000) * 1000000 "
                "div (n * q * 1000000 - s * s * 1000000) AS BIGINT)"
            ).alias("seasonal_strength_ppm"),
        )
        .orderBy("event_type")
    )


@query(
    "orders_mann_kendall_trend",
    oracle="""
    WITH per_month AS (
      SELECT CAST(date_part('year', o_orderdate) * 12
                  + date_part('month', o_orderdate) AS BIGINT) AS ym,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev
      FROM orders GROUP BY 1
    ),
    pairs AS (
      SELECT CASE WHEN b.rev > a.rev THEN 1
                  WHEN b.rev < a.rev THEN -1 ELSE 0 END AS sgn
      FROM per_month a JOIN per_month b ON a.ym < b.ym
    ),
    agg AS (
      SELECT CAST(sum(sgn) AS BIGINT) AS s_stat,
             (SELECT CAST(count(*) AS BIGINT) FROM per_month) AS n_months
      FROM pairs
    )
    SELECT n_months,
           s_stat,
           CAST(n_months * (n_months - 1) * (2 * n_months + 5) AS BIGINT)
             AS var18,
           CAST(trunc((s_stat - CASE WHEN s_stat > 0 THEN 1
                               WHEN s_stat < 0 THEN -1 ELSE 0 END) * 1000000
                / sqrt(n_months * (n_months - 1) * (2 * n_months + 5) / 18.0))
             AS BIGINT) AS z_micro
    FROM agg
    """,
)
def orders_mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Kendall trend test on the monthly-revenue series: the
    nonparametric S statistic sum(sign(r_j - r_i)) over all month
    pairs i<j, its no-ties variance n(n-1)(2n+5)/18 (emitted as the
    exact integer var18 = 18*var), and the continuity-corrected
    z-score in micro-units — the standard 'is this KPI trending'
    test that needs no distributional assumption, complementing the
    parametric OLS slope and the Theil–Sen median slope. Cross-engine
    determinism: S and var18 are exact int64; z divides the exact
    integer (S -/+ 1)*1e6 by sqrt(var18/18.0), where every float op
    is the SAME IEEE-754 computation on identical inputs in both
    engines (the audio-loudness argument), and the final conversion
    is an explicit trunc() in the oracle because DuckDB's float->int
    CAST rounds-to-nearest while Spark's truncates (caught by the
    sf0.001 suite one micro-ulp apart). Shape: one fact shuffle to the
    calendar-bounded month frame (~80 rows at any SF), then the
    pairwise non-equi join runs on that bounded aggregate — the
    accepted <=K-row pattern (Theil–Sen, ABC) — and a one-row
    read-out."""
    o = load_table(spark, sf_dir, "orders")
    per_month = o.groupBy(
        (F.year("o_orderdate") * 12 + F.month("o_orderdate"))
        .cast("long")
        .alias("ym")
    ).agg(
        F.expr(
            "CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)"
        ).alias("rev")
    )
    a = per_month.select(F.col("ym").alias("ym_a"), F.col("rev").alias("rev_a"))
    b = per_month.select(F.col("ym").alias("ym_b"), F.col("rev").alias("rev_b"))
    sgn = (
        F.when(F.col("rev_b") > F.col("rev_a"), 1)
        .when(F.col("rev_b") < F.col("rev_a"), -1)
        .otherwise(0)
    )
    pairs = a.join(F.broadcast(b), F.col("ym_a") < F.col("ym_b")).select(
        sgn.cast("long").alias("sgn")
    )
    n_months = per_month.agg(F.count(F.lit(1)).cast("long").alias("n_months"))
    agg = pairs.agg(F.sum("sgn").cast("long").alias("s_stat")).crossJoin(
        F.broadcast(n_months)
    )
    corr = (
        F.when(F.col("s_stat") > 0, 1)
        .when(F.col("s_stat") < 0, -1)
        .otherwise(0)
        .cast("long")
    )
    var18 = (
        F.col("n_months")
        * (F.col("n_months") - 1)
        * (2 * F.col("n_months") + 5)
    ).cast("long")
    return agg.select(
        "n_months",
        "s_stat",
        var18.alias("var18"),
        (
            ((F.col("s_stat") - corr) * 1_000_000)
            / F.sqrt(var18.cast("double") / 18.0)
        )
        .cast("long")
        .alias("z_micro"),
    )
