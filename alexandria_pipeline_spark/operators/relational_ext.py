"""Extended relational coverage: TPC-H-style multi-join analytics,
pivot, correlated/scalar subqueries, cube/grouping-set variants, and a
SQL-API surface (spark.sql over registered temp views) proving the
engine is usable from plain SQL, not just the DataFrame DSL.

These go beyond the reference (which has no relational layer at all —
SURVEY §2.4-2.7 'absent in ref' rows); they exist because the north
star requires full relational coverage over the driver's star schema.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from alexandria_pipeline_spark.catalog import load_table
from alexandria_pipeline_spark.functions.banded import running_sums
from alexandria_pipeline_spark.functions.exact import int_div, trunc_div
from alexandria_pipeline_spark.registry import query, scoped_persist


@query(
    "q3_shipping_priority",
    oracle="""
    SELECT
      l_orderkey,
      CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) // 100 AS BIGINT) / 100.0 AS revenue,
      CAST(year(o_orderdate) AS INT) AS o_year,
      o_orderpriority
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '2000-03-15 00:00:00'
      AND l_shipdate  > TIMESTAMP '2000-03-15 00:00:00'
    GROUP BY l_orderkey, year(o_orderdate), o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective dimension filter → two-hop join →
    agg → top-k. Both filters are pushed into the scans; customer is
    broadcast (post-filter it's a fraction of an already-small table);
    the topk is TakeOrderedAndProject, so only 10 rows leave the last
    stage."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    cutoff = F.expr("timestamp'2000-03-15 00:00:00'")
    return (
        l.filter(F.col("l_shipdate") > cutoff)
        .join(o.filter(F.col("o_orderdate") < cutoff), l.l_orderkey == o.o_orderkey)
        .join(
            F.broadcast(c.filter(F.col("c_mktsegment") == "BUILDING")),
            o.o_custkey == c.c_custkey,
        )
        .groupBy(
            "l_orderkey",
            F.year("o_orderdate").cast("int").alias("o_year"),
            "o_orderpriority",
        )
        .agg(
            trunc_div(
                F.sum(
                    F.round(
                        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000, 0
                    ).cast("long")
                ),
                F.lit(100),
                100.0,
            ).alias("revenue")
        )
        .select("l_orderkey", "revenue", "o_year", "o_orderpriority")
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


@query(
    "q5_region_volume",
    oracle="""
    SELECT
      n_name,
      CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) // 100 AS BIGINT) / 100.0 AS revenue
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
    GROUP BY n_name
    """,
)
def q5_region_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-table join with a co-location predicate
    (customer and supplier in the same nation). lineitem⋈orders is the
    only fact-fact shuffle; every other hop broadcasts. Region filter
    prunes nations before they ever touch the fact side."""
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(
            F.broadcast(s),
            (l.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r.filter(F.col("r_name") == "ASIA")), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            trunc_div(
                F.sum(
                    F.round(
                        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000, 0
                    ).cast("long")
                ),
                F.lit(100),
                100.0,
            ).alias("revenue")
        )
    )


@query(
    "q6_forecast_revenue",
    oracle="""
    SELECT
      CAST(sum(CAST(round(l_extendedprice * l_discount * 10000) AS BIGINT)) // 100 AS BIGINT) / 100.0 AS revenue,
      count(*) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1999-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure scan-filter-agg, zero shuffle (single
    global agg). Every predicate reaches the Parquet reader as
    PushedFilters; with date-partitioned data the year range becomes
    partition pruning."""
    l = load_table(spark, sf_dir, "lineitem")
    return (
        l.filter(
            (F.col("l_shipdate") >= F.expr("timestamp'1998-01-01 00:00:00'"))
            & (F.col("l_shipdate") < F.expr("timestamp'1999-01-01 00:00:00'"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            trunc_div(
                F.sum(
                    F.round(F.col("l_extendedprice") * F.col("l_discount") * 10000, 0).cast(
                        "long"
                    )
                ),
                F.lit(100),
                100.0,
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@query(
    "pivot_event_types",
    oracle="""
    SELECT
      user_id,
      count(*) FILTER (WHERE event_type = 'click')    AS click,
      count(*) FILTER (WHERE event_type = 'view')     AS view,
      count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
      count(*) FILTER (WHERE event_type = 'signup')   AS signup,
      count(*) FILTER (WHERE event_type = 'error')    AS error
    FROM events
    GROUP BY user_id
    """,
)
def pivot_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (long→wide). Values are pinned explicitly — at scale an
    unpinned pivot needs a first pass to collect the value set, which
    is a hidden extra job; pinning makes it one partial+final agg."""
    e = load_table(spark, sf_dir, "events")
    types = ["click", "view", "purchase", "signup", "error"]
    return (
        e.groupBy("user_id")
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
        .na.fill(0, types)
    )


@query(
    "subquery_above_nation_avg",
    oracle="""
    SELECT c.c_custkey, c.c_nationkey, round(c.c_acctbal, 2) AS c_acctbal
    FROM customer c
    WHERE c.c_acctbal > (
      SELECT sum(CAST(round(c2.c_acctbal * 100) AS BIGINT)) / 100.0 / count(*)
      FROM customer c2 WHERE c2.c_nationkey = c.c_nationkey
    )
    """,
)
def subquery_above_nation_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery (customers above their nation's mean
    balance), decorrelated into a window aggregate — one shuffle on
    the correlation key instead of a per-row subquery. Same rewrite
    Catalyst/any optimizer performs; spelled explicitly here because
    the window form is the plan you WANT at scale."""
    c = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey")
    nation_avg = (
        F.sum(F.round(F.col("c_acctbal") * 100, 0).cast("long")).over(w)
        / 100.0
        / F.count(F.lit(1)).over(w)
    )
    return (
        c.withColumn("nation_avg", nation_avg)
        .filter(F.col("c_acctbal") > F.col("nation_avg"))
        .select("c_custkey", "c_nationkey", F.round("c_acctbal", 2).alias("c_acctbal"))
    )


@query(
    "agg_cube",
    oracle="""
    SELECT
      c_mktsegment,
      c_nationkey,
      count(*)                 AS n,
      round(sum(c_acctbal), 2) AS total_bal
    FROM customer
    GROUP BY CUBE (c_mktsegment, c_nationkey)
    """,
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets (2^k groupings in one pass — Spark expands
    then partially aggregates, so the fact table is still read once)."""
    c = load_table(spark, sf_dir, "customer")
    return c.cube("c_mktsegment", "c_nationkey").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("c_acctbal"), 2).alias("total_bal"),
    )


@query(
    "sql_api_revenue_by_year",
    oracle="""
    SELECT
      CAST(year(o_orderdate) AS INT) AS o_year,
      o_orderstatus,
      count(*) AS n_orders,
      round(sum(o_totalprice), 2) AS revenue
    FROM orders
    GROUP BY 1, 2
    """,
)
def sql_api_revenue_by_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The spark.sql() surface: tables registered as temp views, query
    written in plain ANSI SQL — proving a reference user can keep
    writing SQL and get the identical Catalyst plan the DSL produces."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_v")
    return spark.sql(
        """
        SELECT
          CAST(year(o_orderdate) AS INT) AS o_year,
          o_orderstatus,
          count(*) AS n_orders,
          round(sum(o_totalprice), 2) AS revenue
        FROM orders_v
        GROUP BY 1, 2
        """
    )


@query(
    "window_distribution_funcs",
    oracle="""
    SELECT
      s_suppkey,
      s_nationkey,
      round(percent_rank() OVER (ORDER BY s_acctbal, s_suppkey), 6) AS bal_pct_rank,
      round(cume_dist()    OVER (ORDER BY s_acctbal, s_suppkey), 6) AS bal_cume_dist,
      first_value(s_suppkey) OVER (
        PARTITION BY s_nationkey ORDER BY s_acctbal DESC, s_suppkey
        ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
      ) AS richest_in_nation
    FROM supplier
    """,
)
def window_distribution_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank / cume_dist / first_value over supplier — WITHOUT
    the single-partition global window the naive form plans (supplier
    grows with SF, unlike region/nation). The global rank comes from
    functions/banded.running_sums over B=64 equal-width s_acctbal
    buckets (data-derived bounds, monotone in s_acctbal, so bucket
    order is the global order); its only unpartitioned window runs on
    the ≤64 bucket rows. The ORDER BY (s_acctbal, s_suppkey) is a
    total order, so rank == row_number and the distribution functions
    are closed forms: percent_rank = (rank-1)/(N-1), cume_dist =
    rank/N."""
    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey", "s_acctbal"
    )
    B = 64
    stats = s.agg(
        F.min("s_acctbal").alias("lo"),
        F.max("s_acctbal").alias("hi"),
        F.count(F.lit(1)).alias("n_total"),
    )
    bucket = F.least(
        F.lit(B - 1),
        F.floor(
            (F.col("s_acctbal") - F.col("lo"))
            / ((F.col("hi") - F.col("lo")) / B + F.lit(1e-9))
        ),
    ).alias("bucket")
    bucketed = s.join(F.broadcast(stats)).select(
        "s_suppkey", "s_nationkey", "s_acctbal", "n_total", bucket
    )
    ranked = running_sums(
        bucketed, "bucket", ["s_acctbal", "s_suppkey"], {"rank": F.lit(1)}
    )
    w_nat = (
        Window.partitionBy("s_nationkey")
        .orderBy(F.desc("s_acctbal"), F.asc("s_suppkey"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    one = F.lit(1).cast("long")
    return ranked.select(
        "s_suppkey",
        "s_nationkey",
        F.round(
            F.when(F.col("n_total") > 1,
                   (F.col("rank") - one) / (F.col("n_total") - one))
            .otherwise(F.lit(0.0)),
            6,
        ).alias("bal_pct_rank"),
        F.round(F.col("rank") / F.col("n_total"), 6).alias("bal_cume_dist"),
        F.first("s_suppkey").over(w_nat).alias("richest_in_nation"),
    )


@query(
    "scalar_conditional_funcs",
    oracle="""
    SELECT
      o_orderkey,
      CASE WHEN o_totalprice >= 300000 THEN 'high'
           WHEN o_totalprice >= 100000 THEN 'mid'
           ELSE 'low' END                                   AS price_band,
      coalesce(nullif(o_orderstatus, 'O'), 'OPEN')          AS status_label,
      CAST(greatest(o_totalprice, 50000.0) AS DOUBLE)       AS floored_price,
      CAST(abs(o_totalprice - 250000.0) AS DOUBLE)          AS dist_from_250k,
      concat(o_orderpriority, ':', lpad(CAST(o_orderkey AS VARCHAR), 8, '0')) AS order_tag
    FROM orders
    """,
)
def scalar_conditional_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE/coalesce/nullif/greatest/abs/lpad/concat — conditional and
    string scalar coverage, all codegen built-ins."""
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.when(F.col("o_totalprice") >= 300000, "high")
        .when(F.col("o_totalprice") >= 100000, "mid")
        .otherwise("low")
        .alias("price_band"),
        F.coalesce(F.nullif("o_orderstatus", F.lit("O")), F.lit("OPEN")).alias(
            "status_label"
        ),
        F.greatest("o_totalprice", F.lit(50000.0)).cast("double").alias("floored_price"),
        F.abs(F.col("o_totalprice") - 250000.0).cast("double").alias("dist_from_250k"),
        F.concat(
            "o_orderpriority",
            F.lit(":"),
            F.lpad(F.col("o_orderkey").cast("string"), 8, "0"),
        ).alias("order_tag"),
    )


@query(
    "scalar_date_arith",
    oracle="""
    SELECT
      event_id,
      strftime(date_trunc('day', ts), '%Y-%m-%d')        AS event_day,
      CAST(dayofweek(ts) AS INT)                         AS dow,
      CAST(hour(ts) AS INT)                              AS hh,
      datediff('day', TIMESTAMP '2024-01-01 00:00:00', date_trunc('day', ts)) AS days_since_epoch_start
    FROM events
    """,
)
def scalar_date_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    """date_trunc / dayofweek / hour / datediff. Note: Spark dayofweek
    is 1=Sunday..7=Saturday and DuckDB dayofweek is 0=Sunday..6 —
    normalized by +1 on the DuckDB convention side... (handled here by
    shifting Spark's to DuckDB's 0-based convention)."""
    e = load_table(spark, sf_dir, "events")
    return e.select(
        "event_id",
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("event_day"),
        (F.dayofweek("ts") - 1).cast("int").alias("dow"),
        F.hour("ts").cast("int").alias("hh"),
        F.datediff(
            F.date_trunc("day", "ts"), F.lit("2024-01-01").cast("timestamp")
        ).cast("long").alias("days_since_epoch_start"),
    )


@query(
    "agg_percentiles",
    oracle="""
    SELECT
      o_orderstatus,
      round(quantile_cont(o_totalprice, 0.25), 4) AS p25,
      round(quantile_cont(o_totalprice, 0.50), 4) AS median,
      round(quantile_cont(o_totalprice, 0.75), 4) AS p75,
      count(*) AS n
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles (linear interpolation — Spark `percentile`
    and DuckDB `quantile_cont` agree bitwise, verified empirically).
    Exact percentile is a sort-based aggregate: fine per-group, but at
    100 TB prefer approx_percentile (t-digest sketch, mergeable,
    constant memory) unless exactness is contractual."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.round(F.expr("percentile(o_totalprice, 0.25)"), 4).alias("p25"),
        F.round(F.expr("percentile(o_totalprice, 0.50)"), 4).alias("median"),
        F.round(F.expr("percentile(o_totalprice, 0.75)"), 4).alias("p75"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "q4_order_priority",
    oracle="""
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1999-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1999-10-01 00:00:00'
      AND EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate
      )
    GROUP BY o_orderpriority
    """,
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS decorrelated to a left-semi join with a
    non-equi residual (l_shipdate > o_orderdate rides on the equi key
    as a join-side filter, so it's still a hash semi-join, not a
    nested loop)."""
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    filtered = o.filter(
        (F.col("o_orderdate") >= F.expr("timestamp'1999-01-01 00:00:00'"))
        & (F.col("o_orderdate") < F.expr("timestamp'1999-10-01 00:00:00'"))
    )
    return (
        filtered.join(
            l,
            (filtered.o_orderkey == l.l_orderkey)
            & (l.l_shipdate > filtered.o_orderdate),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@query(
    "q12_shipmode_priority",
    oracle="""
    SELECT
      l_linestatus,
      count(*) FILTER (WHERE o_orderpriority = '1-URGENT' OR o_orderpriority = '2-HIGH')
        AS high_line_count,
      count(*) FILTER (WHERE o_orderpriority <> '1-URGENT' AND o_orderpriority <> '2-HIGH')
        AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1999-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '2000-01-01 00:00:00'
    GROUP BY l_linestatus
    """,
)
def q12_shipmode_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: conditional aggregation (CASE inside count)
    after a fact-fact join — one shuffle, map-side partials carry two
    counters per group."""
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        l.filter(
            (F.col("l_shipdate") >= F.expr("timestamp'1999-01-01 00:00:00'"))
            & (F.col("l_shipdate") < F.expr("timestamp'2000-01-01 00:00:00'"))
        )
        .join(o, l.l_orderkey == o.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.count(F.when(high, 1)).alias("high_line_count"),
            F.count(F.when(~high, 1)).alias("low_line_count"),
        )
    )


@query("agg_approx_percentiles")  # rows-only: t-digest sketch is engine-specific
def agg_approx_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile — the sketch-based quantile for 100 TB scale
    (mergeable, constant memory per group, single pass). Values are
    sketch-dependent so the driver records rows-only — INTENTIONALLY
    registered without an oracle as the native-sketch twin of
    `agg_percentile_binned` (this module), which expresses the same
    mergeable-quantile idea in engine-neutral fixed bins and IS
    hash-checked; the exact twin agg_percentiles covers exact
    semantics. ε-bounds tests in tests/ bound this query's estimates.

    The sketch array is unpacked to scalar p50/p95/p99 columns: query
    outputs must be canonicalizable (sortable/hashable) by any harness,
    so no array-typed columns ever leave a registered query."""
    l = load_table(spark, sf_dir, "lineitem")
    return (
        l.groupBy("l_returnflag")
        .agg(
            F.percentile_approx(
                "l_extendedprice", [0.5, 0.95, 0.99], 10_000
            ).alias("pq"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            "l_returnflag",
            F.element_at("pq", 1).alias("p50"),
            F.element_at("pq", 2).alias("p95"),
            F.element_at("pq", 3).alias("p99"),
            "n",
        )
    )


@query(
    "q10_returned_items",
    oracle="""
    SELECT
      c_custkey,
      c_name,
      CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) // 100 AS BIGINT) / 100.0 AS revenue,
      n_name
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
      AND o_orderdate >= TIMESTAMP '1999-10-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '2000-01-01 00:00:00'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: who returned the most revenue last quarter —
    selective fact filters, three joins (two broadcast), top-20."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    n = load_table(spark, sf_dir, "nation")
    return (
        l.filter(F.col("l_returnflag") == "R")
        .join(
            o.filter(
                (F.col("o_orderdate") >= F.expr("timestamp'1999-10-01 00:00:00'"))
                & (F.col("o_orderdate") < F.expr("timestamp'2000-01-01 00:00:00'"))
            ),
            l.l_orderkey == o.o_orderkey,
        )
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            trunc_div(
                F.sum(
                    F.round(
                        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000, 0
                    ).cast("long")
                ),
                F.lit(100),
                100.0,
            ).alias("revenue")
        )
        .select("c_custkey", "c_name", "revenue", "n_name")
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


@query(
    "q18_large_volume_customers",
    oracle="""
    WITH big_orders AS (
      SELECT l_orderkey
      FROM lineitem
      GROUP BY l_orderkey
      HAVING sum(l_quantity) > 150
    )
    SELECT
      c_custkey,
      o_orderkey,
      round(o_totalprice, 2) AS o_totalprice,
      round(sum(l_quantity), 2) AS total_qty
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE o_orderkey IN (SELECT l_orderkey FROM big_orders)
    GROUP BY c_custkey, o_orderkey, o_totalprice
    """,
)
def q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: HAVING-filtered aggregate feeding an IN
    subquery — planned as agg -> semi-join -> re-join -> agg. The
    semi-join side is the (small) filtered key set; at scale it
    broadcasts and the fact table is scanned once per aggregation."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    l = load_table(spark, sf_dir, "lineitem")
    big = (
        l.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("q"))
        .filter(F.col("q") > 150)
        .select("l_orderkey")
    )
    return (
        o.join(F.broadcast(big), o.o_orderkey == big.l_orderkey, "left_semi")
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(l, o.o_orderkey == l.l_orderkey)
        .groupBy("c_custkey", "o_orderkey", "o_totalprice")
        .agg(F.round(F.sum("l_quantity"), 2).alias("total_qty"))
        .select(
            "c_custkey",
            "o_orderkey",
            F.round("o_totalprice", 2).alias("o_totalprice"),
            "total_qty",
        )
    )


@query(
    "scalar_string_advanced",
    oracle="""
    SELECT
      doc_id,
      regexp_replace(substring(text, 1, 40), ' ', '_', 'g') AS snake_prefix,
      trim(substring(text, 1, 20))                        AS trimmed_prefix,
      split_part(text, ' ', 3)                            AS third_token,
      CAST(strpos(text, 'data') AS INT)                   AS first_data_pos,
      reverse(substring(text, 1, 10))                     AS rev_prefix,
      repeat(lang, 2)                                     AS lang2
    FROM documents
    """,
)
def scalar_string_advanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second string-function battery: regexp_replace, trim,
    split_part, instr/strpos, reverse, repeat — all codegen."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.regexp_replace(F.substring("text", 1, 40), " ", "_").alias("snake_prefix"),
        F.trim(F.substring("text", 1, 20)).alias("trimmed_prefix"),
        F.split_part(F.col("text"), F.lit(" "), F.lit(3)).alias("third_token"),
        F.instr(F.col("text"), "data").cast("int").alias("first_data_pos"),
        F.reverse(F.substring("text", 1, 10)).alias("rev_prefix"),
        F.repeat(F.col("lang"), 2).alias("lang2"),
    )


@query(
    "events_asof_forward",
    oracle="""
    SELECT
      c.event_id        AS click_id,
      c.user_id         AS user_id,
      p.event_id        AS next_purchase_id,
      CASE WHEN p.event_id IS NULL THEN NULL
           ELSE epoch_us(p.ts) // 1000000 - epoch_us(c.ts) // 1000000 END AS wait_s
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON c.user_id = p.user_id AND p.ts >= c.ts
    """,
)
def events_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join: each click matched to the user's NEXT
    purchase at-or-after it (time-to-convert). Same union+window shape
    as the backward join but scanning from the future side: last
    purchase id over the reversed-time window. Purchases sort before
    clicks at equal ts (side ordering) so `p.ts >= c.ts` includes
    equality, mirroring DuckDB's ASOF >= semantics."""
    e = load_table(spark, sf_dir, "events")
    # r12: one scan with conditional side/id columns — the former
    # two-branch filter + unionByName scanned events twice for row
    # sets a single IN-filter partitions exactly.
    unioned = e.filter(F.col("event_type").isin("purchase", "click")).select(
        "user_id",
        "ts",
        F.when(F.col("event_type") == "purchase", F.lit(0))
        .otherwise(F.lit(1))
        .alias("side"),
        F.when(F.col("event_type") == "purchase", F.col("event_id"))
        .cast("long")
        .alias("purchase_id"),
        F.when(F.col("event_type") == "click", F.col("event_id"))
        .cast("long")
        .alias("click_id"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.desc("ts"), F.asc("side"), F.asc("click_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    matched = (
        unioned.withColumn(
            "next_purchase_id", F.last("purchase_id", ignorenulls=True).over(w)
        )
        .withColumn(
            "next_purchase_ts",
            F.last(F.when(F.col("side") == 0, F.col("ts")), ignorenulls=True).over(w),
        )
        .filter(F.col("side") == 1)
    )
    return matched.select(
        "click_id",
        "user_id",
        F.col("next_purchase_id"),
        F.when(
            F.col("next_purchase_id").isNull(), F.lit(None).cast("long")
        ).otherwise(
            F.expr("unix_micros(next_purchase_ts) div 1000000")
            - F.expr("unix_micros(ts) div 1000000")
        ).alias("wait_s"),
    )


@query(
    "window_ntile_quartiles",
    oracle="""
    SELECT c_custkey, c_mktsegment,
           CAST(ntile(4) OVER w AS INT)          AS quartile,
           first_value(c_custkey) OVER w          AS seg_poorest,
           nth_value(c_custkey, 2) OVER w         AS seg_second
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
    """,
)
def window_ntile_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile / first_value / nth_value over a per-segment balance
    ordering (unique tiebreak on c_custkey so bucket edges are
    deterministic). Both engines use the default cumulative frame for
    the value functions; ntile distributes remainder rows to the
    leading buckets identically."""
    c = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    return c.select(
        "c_custkey",
        "c_mktsegment",
        F.ntile(4).over(w).alias("quartile"),
        F.first("c_custkey").over(w).alias("seg_poorest"),
        F.nth_value("c_custkey", 2).over(w).alias("seg_second"),
    )


@query(
    "agg_grouping_sets",
    oracle="""
    SELECT coalesce(o_orderpriority, 'ALL') AS priority,
           coalesce(o_orderstatus, 'ALL')   AS status,
           CAST(grouping(o_orderpriority) AS INT) AS g_priority,
           CAST(grouping(o_orderstatus) AS INT)   AS g_status,
           CAST(count(*) AS BIGINT) AS n_orders
    FROM orders
    GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus),
                            (o_orderpriority, o_orderstatus), ())
    """,
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (beyond the rollup/cube variants) with
    grouping() flags disambiguating real NULL groups from subtotal
    rows. Runs through the SQL API over a temp view — one Expand +
    one aggregation, not four scans."""
    o = load_table(spark, sf_dir, "orders")
    o.createOrReplaceTempView("orders_gs")
    return spark.sql(
        """
        SELECT coalesce(o_orderpriority, 'ALL') AS priority,
               coalesce(o_orderstatus, 'ALL')   AS status,
               CAST(grouping(o_orderpriority) AS INT) AS g_priority,
               CAST(grouping(o_orderstatus) AS INT)   AS g_status,
               count(*) AS n_orders
        FROM orders_gs
        GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus),
                                (o_orderpriority, o_orderstatus), ())
        """
    )


@query(
    "scalar_array_funcs",
    oracle="""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS INT) AS n_toks,
           array_to_string(list_slice(list_sort(string_split(text, ' ')), 1, 5), ',')
             AS sorted_head,
           list_contains(string_split(text, ' '), 'data') AS has_data,
           CAST(coalesce(list_position(string_split(text, ' '), 'data'), 0) AS BIGINT)
             AS data_pos,
           CAST(len(list_distinct(string_split(text, ' '))) AS INT) AS n_uniq,
           array_to_string(list_slice(list_reverse(string_split(text, ' ')), 1, 3), ' ')
             AS tail3_rev
    FROM documents
    """,
)
def scalar_array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-function battery: sort, slice, contains, position,
    distinct, reverse, join — all JVM codegen, no UDFs. Spark's
    array_position returns 0 for missing where DuckDB's list_position
    returns NULL; the oracle coalesces to 0 to pin the shared
    convention."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    return d.select(
        "doc_id",
        F.size(toks).alias("n_toks"),
        F.array_join(F.slice(F.sort_array(toks), 1, 5), ",").alias("sorted_head"),
        F.array_contains(toks, "data").alias("has_data"),
        F.array_position(toks, "data").alias("data_pos"),
        F.size(F.array_distinct(toks)).alias("n_uniq"),
        F.array_join(F.slice(F.reverse(toks), 1, 3), " ").alias("tail3_rev"),
    )


@query(
    "customer_rfm_segments",
    oracle="""
    WITH maxd AS (
      SELECT max(epoch_us(o_orderdate) // 86400000000) AS max_day FROM orders
    ),
    rfm AS (
      SELECT o_custkey AS c_custkey,
             CAST((SELECT max_day FROM maxd)
                  - max(epoch_us(o_orderdate) // 86400000000) AS BIGINT) AS recency_days,
             CAST(count(*) AS BIGINT) AS frequency,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS monetary_cents
      FROM orders GROUP BY o_custkey
    ),
    cuts AS (
      SELECT
        CAST(floor(quantile_cont(recency_days,    0.25)) AS BIGINT) AS r1,
        CAST(floor(quantile_cont(recency_days,    0.50)) AS BIGINT) AS r2,
        CAST(floor(quantile_cont(recency_days,    0.75)) AS BIGINT) AS r3,
        CAST(floor(quantile_cont(frequency,       0.25)) AS BIGINT) AS f1,
        CAST(floor(quantile_cont(frequency,       0.50)) AS BIGINT) AS f2,
        CAST(floor(quantile_cont(frequency,       0.75)) AS BIGINT) AS f3,
        CAST(floor(quantile_cont(monetary_cents,  0.25)) AS BIGINT) AS m1,
        CAST(floor(quantile_cont(monetary_cents,  0.50)) AS BIGINT) AS m2,
        CAST(floor(quantile_cont(monetary_cents,  0.75)) AS BIGINT) AS m3
      FROM rfm
    )
    SELECT c_custkey, recency_days, frequency, monetary_cents,
           CAST(1 + CAST(recency_days   > r1 AS INT)
                  + CAST(recency_days   > r2 AS INT)
                  + CAST(recency_days   > r3 AS INT) AS INT) AS r_q,
           CAST(1 + CAST(frequency      < f3 AS INT)
                  + CAST(frequency      < f2 AS INT)
                  + CAST(frequency      < f1 AS INT) AS INT) AS f_q,
           CAST(1 + CAST(monetary_cents < m3 AS INT)
                  + CAST(monetary_cents < m2 AS INT)
                  + CAST(monetary_cents < m1 AS INT) AS INT) AS m_q
    FROM rfm CROSS JOIN cuts
    """,
)
def customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency / frequency / monetary) quartile segmentation —
    the classic customer-analytics rollup. One aggregation over
    orders; recency is integer days against the corpus max date (a
    1-row broadcast), money is exact cents.

    Quartiles are VALUE-based: exact percentile cutpoints (floored to
    the integer grid the metrics live on — bucketing by v > c equals
    v > floor(c) for integer v, and floor removes any cross-engine
    interpolation noise) computed in one aggregate and broadcast back.
    No window function anywhere, so no single-partition global sort —
    the round-1 ntile form was the classic 100×-scale killer. Ties now
    share a quartile by construction (no tie rule needed), and r_q=1 is
    most recent / f_q=1 most frequent / m_q=1 highest spend, matching
    the ntile orientation. For a corpus where even the per-customer
    rollup is huge, swap F.percentile for F.percentile_approx — same
    plan shape, sketch-mergeable cutpoints."""
    o = load_table(spark, sf_dir, "orders")
    day = F.expr("unix_micros(cast(o_orderdate as timestamp)) div 86400000000")
    rfm = o.groupBy(F.col("o_custkey").alias("c_custkey")).agg(
        F.max(day).alias("last_day"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
            "monetary_cents"
        ),
    )
    maxd = o.agg(F.max(day).alias("max_day"))
    rfm = rfm.join(F.broadcast(maxd)).withColumn(
        "recency_days", (F.col("max_day") - F.col("last_day")).cast("long")
    )
    def cut(colname: str, p: float, alias: str):
        return F.floor(F.percentile(F.col(colname), F.lit(p))).cast("long").alias(alias)

    cuts = rfm.agg(
        cut("recency_days", 0.25, "r1"),
        cut("recency_days", 0.50, "r2"),
        cut("recency_days", 0.75, "r3"),
        cut("frequency", 0.25, "f1"),
        cut("frequency", 0.50, "f2"),
        cut("frequency", 0.75, "f3"),
        cut("monetary_cents", 0.25, "m1"),
        cut("monetary_cents", 0.50, "m2"),
        cut("monetary_cents", 0.75, "m3"),
    )

    def bucket_asc(v: str, c1: str, c2: str, c3: str):
        return (
            F.lit(1)
            + (F.col(v) > F.col(c1)).cast("int")
            + (F.col(v) > F.col(c2)).cast("int")
            + (F.col(v) > F.col(c3)).cast("int")
        ).cast("int")

    def bucket_desc(v: str, c1: str, c2: str, c3: str):
        return (
            F.lit(1)
            + (F.col(v) < F.col(c3)).cast("int")
            + (F.col(v) < F.col(c2)).cast("int")
            + (F.col(v) < F.col(c1)).cast("int")
        ).cast("int")

    return rfm.join(F.broadcast(cuts)).select(
        "c_custkey",
        "recency_days",
        "frequency",
        "monetary_cents",
        bucket_asc("recency_days", "r1", "r2", "r3").alias("r_q"),
        bucket_desc("frequency", "f1", "f2", "f3").alias("f_q"),
        bucket_desc("monetary_cents", "m1", "m2", "m3").alias("m_q"),
    )


@query(
    "market_basket_lift",
    oracle="""
    WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    tot AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders FROM op),
    freq AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS n FROM op GROUP BY l_partkey),
    pairs AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
             CAST(count(*) AS BIGINT) AS n_ab
      FROM op a JOIN op b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      HAVING count(*) >= 3
    )
    SELECT part_a, part_b, n_ab,
           CAST(n_ab * n_orders * 1000000 // (fa.n * fb.n) AS BIGINT) AS lift_micro
    FROM pairs
    JOIN freq fa ON fa.l_partkey = part_a
    JOIN freq fb ON fb.l_partkey = part_b
    CROSS JOIN tot
    ORDER BY lift_micro DESC, part_a, part_b
    LIMIT 50
    """,
)
def market_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules over order baskets: top part pairs by lift
    = P(a,b) / (P(a)·P(b)) with a min-support floor. Lift is a ratio
    of counts, so it stays exact: n_ab·N·1e6 // (n_a·n_b) in int64
    micro-units (a float quotient here is the classic cross-engine
    rounding trap). The pair join is the same one shuffle as the
    co-purchase edge build in graph.py; per-part frequencies are a
    broadcastable aggregate."""
    l = load_table(spark, sf_dir, "lineitem")
    op = l.select("l_orderkey", "l_partkey").distinct()
    tot = op.select(F.count_distinct("l_orderkey").alias("n_orders"))
    freq = op.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("n"))
    a = op.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("part_a"))
    b = op.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("part_b"))
    pairs = (
        a.join(b, "k")
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .filter(F.col("n_ab") >= 3)
    )
    fa = F.broadcast(freq.select(F.col("l_partkey").alias("part_a"), F.col("n").alias("n_a")))
    fb = F.broadcast(freq.select(F.col("l_partkey").alias("part_b"), F.col("n").alias("n_b")))
    return (
        pairs.join(fa, "part_a")
        .join(fb, "part_b")
        .join(F.broadcast(tot))
        .select(
            "part_a",
            "part_b",
            "n_ab",
            int_div(
                F.col("n_ab") * F.col("n_orders") * 1_000_000,
                F.col("n_a") * F.col("n_b"),
            ).alias("lift_micro"),
        )
        .orderBy(F.desc("lift_micro"), "part_a", "part_b")
        .limit(50)
    )


_PROFILE_COLS = ["doc_id", "text", "lang", "source", "n_chars"]


@query(
    "profile_documents",
    oracle="\nUNION ALL\n".join(
        f"""SELECT '{c}' AS col,
               CAST(count(*) AS BIGINT)            AS n_rows,
               CAST(count({c}) AS BIGINT)          AS n_nonnull,
               CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct
        FROM documents"""
        for c in _PROFILE_COLS
    ),
)
def profile_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-profiling pass — the first thing a pipeline runs on a new
    corpus drop: per-column row/non-null/distinct counts. ONE scan
    computes every column's aggregates simultaneously (a wide .agg),
    then `stack` unpivots the single wide row into tidy per-column
    rows — versus the naive k-pass one-query-per-column loop the
    oracle spells out. count(distinct) over k columns in one agg uses
    Spark's expand; for 100 TB profiling swap in approx_count_distinct
    per column (identical single-pass shape, sketch-mergeable)."""
    d = load_table(spark, sf_dir, "documents")
    aggs = []
    for c in _PROFILE_COLS:
        aggs += [
            F.count(F.lit(1)).alias(f"{c}__n"),
            F.count(c).alias(f"{c}__nn"),
            F.count_distinct(c).alias(f"{c}__nd"),
        ]
    wide = d.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', {c}__n, {c}__nn, {c}__nd" for c in _PROFILE_COLS
    )
    return wide.select(
        F.expr(
            f"stack({len(_PROFILE_COLS)}, {stack_args})"
            " as (col, n_rows, n_nonnull, n_distinct)"
        )
    )


@query(
    "diagnose_key_skew",
    oracle="""
    WITH tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM lineitem),
    per_key AS (
      SELECT l_orderkey, CAST(count(*) AS BIGINT) AS cnt
      FROM lineitem GROUP BY l_orderkey
    )
    SELECT l_orderkey, cnt,
           CAST(cnt * 1000000 // tot.n AS BIGINT) AS share_micro
    FROM per_key CROSS JOIN tot
    ORDER BY cnt DESC, l_orderkey
    LIMIT 20
    """,
)
def diagnose_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-skew diagnosis: the top-20 heaviest join/agg keys with
    their exact-integer share of total rows (micro-units — a float
    share would be a cross-engine quotient trap). This is the query
    you run BEFORE picking salting factors or AQE skew thresholds;
    plan is one partial+final count per key, a 1-row broadcast for the
    total, and TakeOrdered for the top-20 — no global sort."""
    l = load_table(spark, sf_dir, "lineitem")
    tot = l.agg(F.count(F.lit(1)).alias("n"))
    per_key = l.groupBy("l_orderkey").agg(F.count(F.lit(1)).alias("cnt"))
    return (
        per_key.join(F.broadcast(tot))
        .select(
            "l_orderkey",
            "cnt",
            int_div(F.col("cnt") * 1_000_000, F.col("n")).alias("share_micro"),
        )
        .orderBy(F.desc("cnt"), "l_orderkey")
        .limit(20)
    )


HIST_LO, HIST_HI, HIST_N = 90_000, 10_500_000, 20


@query(
    "agg_price_histogram",
    oracle=f"""
    WITH v AS (
      SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
      FROM lineitem
    )
    SELECT
      CAST(CASE WHEN cents < {HIST_LO} THEN 0
                WHEN cents >= {HIST_HI} THEN {HIST_N + 1}
                ELSE 1 + (cents - {HIST_LO}) * {HIST_N} // ({HIST_HI} - {HIST_LO})
           END AS INT) AS bucket,
      CAST(count(*) AS BIGINT)  AS n,
      CAST(min(cents) AS BIGINT) AS min_cents,
      CAST(max(cents) AS BIGINT) AS max_cents
    FROM v
    GROUP BY 1
    """,
)
def agg_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram over exact integer cents, with the
    SQL-standard width_bucket semantics written out as integer
    arithmetic (under/overflow buckets 0 and N+1) — all-integer so
    bucket edges can't drift by a float epsilon in either engine. One
    partial+final aggregate — the single-pass histogram that feeds
    range-partitioning decisions and data-quality checks."""
    l = load_table(spark, sf_dir, "lineitem")
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    span = HIST_HI - HIST_LO
    bucket = (
        F.when(F.col("cents") < HIST_LO, F.lit(0))
        .when(F.col("cents") >= HIST_HI, F.lit(HIST_N + 1))
        .otherwise(
            1 + int_div((F.col("cents") - HIST_LO) * HIST_N, F.lit(span))
        )
        .cast("int")
    )
    return (
        l.select(cents.alias("cents"))
        .select(bucket.alias("bucket"), "cents")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("cents").alias("min_cents"),
            F.max("cents").alias("max_cents"),
        )
    )


@query(
    "orders_scd2_intervals",
    oracle="""
    SELECT
      o_custkey,
      CAST(epoch_us(o_orderdate) // 86400000000 AS BIGINT) AS valid_from_day,
      CAST(coalesce(
        lead(epoch_us(o_orderdate) // 86400000000)
          OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
        9999999
      ) AS BIGINT) AS valid_to_day,
      o_orderkey,
      CAST(round(o_totalprice * 100) AS BIGINT) AS state_cents
    FROM orders
    """,
)
def orders_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension (type 2) interval construction: each
    customer order becomes a versioned state row valid from its order
    day until the next order (lead window, open-ended sentinel for the
    current state). The per-key window partitioning IS the scale story
    — no global sort; this is the standard point-in-time-join feed for
    feature stores and temporal audits."""
    o = load_table(spark, sf_dir, "orders")
    day = F.expr("unix_micros(cast(o_orderdate as timestamp)) div 86400000000")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_custkey",
        day.cast("long").alias("valid_from_day"),
        F.coalesce(F.lead(day.cast("long")).over(w), F.lit(9999999))
        .cast("long")
        .alias("valid_to_day"),
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("state_cents"),
    )


@query(
    "unpivot_priority_measures",
    oracle="""
    WITH agg AS (
      SELECT o_orderpriority,
             CAST(count(*) AS BIGINT) AS n_orders,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents,
             CAST(max(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS max_cents
      FROM orders GROUP BY o_orderpriority
    )
    SELECT o_orderpriority, measure, value
    FROM agg
    UNPIVOT (value FOR measure IN (n_orders, total_cents, max_cents))
    """,
)
def unpivot_priority_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (wide → long): per-priority order measures melt into
    (priority, measure, value) rows — the inverse reshape of
    pivot_event_types. Spark's DataFrame.unpivot is a zero-shuffle
    projection (each input row fans out to one row per value column
    inside the same stage), so the only shuffle here is the upstream
    groupBy; at 100 TB the melt itself adds no exchange. Measures are
    exact integer cents so the long-form `value` column is one BIGINT
    type in both engines (unpivot requires a common value type — the
    integer-cents idiom gives it for free)."""
    o = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    agg = o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(cents).alias("total_cents"),
        F.max(cents).alias("max_cents"),
    )
    return agg.unpivot(
        ["o_orderpriority"],
        ["n_orders", "total_cents", "max_cents"],
        "measure",
        "value",
    )


# --------------------------------------------------------------------------
# Range joins at scale: the naive interval join is a nested-loop over
# every (user, click, purchase) combination. Bucketing rewrites it as
# an EQUI-join: floor both sides to window-width buckets, explode the
# probe side to the <=2 buckets its interval can touch, join on
# (user_id, bucket), and keep the residual range predicate. Candidate
# volume drops from |clicks|x|purchases| per user to only the pairs
# whose buckets coincide.
# --------------------------------------------------------------------------
INTERVAL_W_S = 1800  # 30-minute attribution window = bucket width


@query(
    "join_interval_bucketed",
    oracle=f"""
    SELECT
      c.event_id AS click_id,
      p.event_id AS purchase_id,
      c.user_id  AS user_id,
      epoch_us(p.ts) // 1000000 - epoch_us(c.ts) // 1000000 AS delay_s
    FROM events c
    JOIN events p
      ON c.user_id = p.user_id
     AND p.ts >= c.ts
     AND p.ts <= c.ts + INTERVAL {INTERVAL_W_S} SECOND
    WHERE c.event_type = 'click' AND p.event_type = 'purchase'
    """,
)
def join_interval_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join rewritten as a bucketed EQUI-join: clicks attach
    purchases by the same user within 30 minutes. Each purchase lives
    in exactly ONE 30-min bucket; each click's window spans at most
    TWO, so the click side explodes 2× and joins on (user_id, bucket)
    — a hash-partitionable shuffle Spark executes as a sort-merge/
    hash join, never a nested loop. The residual p.ts BETWEEN c.ts
    AND c.ts+30min runs as a join filter on candidates only. A (c,p)
    pair can match through just the purchase's single bucket, so no
    dedup pass is needed. The oracle is the plain range-predicate
    join: the rewrite must be result-invisible.

    At 100 TB this is THE difference between a feasible attribution
    join and a cross product: candidates are bounded by events that
    share a (user, half-hour) cell, and skewed users split via AQE."""
    e = load_table(spark, sf_dir, "events")
    us = F.expr("unix_micros(ts)")
    bucket = (us / (INTERVAL_W_S * 1_000_000)).cast("long")
    clicks = (
        e.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            us.alias("c_us"),
            F.explode(F.array(bucket, bucket + 1)).alias("bucket"),
        )
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        us.alias("p_us"),
        bucket.alias("bucket"),
    )
    joined = clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (clicks.bucket == purchases.bucket)
        & (F.col("p_us") >= F.col("c_us"))
        & (F.col("p_us") <= F.col("c_us") + INTERVAL_W_S * 1_000_000),
    )
    return joined.select(
        "click_id",
        "purchase_id",
        F.col("c_user").alias("user_id"),
        # floor-div each side separately, exactly as the oracle's
        # epoch_us // 1000000 arithmetic does
        F.expr("p_us div 1000000 - c_us div 1000000").alias("delay_s"),
    )


# --------------------------------------------------------------------------
# KMV (k-minimum-values) distinct sketch: the deterministic,
# cross-engine-reproducible counterpart to HLL. Hash every key with the
# affine mix, keep the k smallest DISTINCT hash values per group; the
# kth value's position estimates the distinct count as
# (k-1) * M / h_k (Bar-Yossef et al. '02). Mergeable (union the value
# sets, re-take the k smallest), fixed-size (k longs per group), and —
# unlike HLL — bit-identical in any engine that can sort integers, so
# the ORACLE checks the estimate itself.
# --------------------------------------------------------------------------
KMV_K = 64
# Two LCG rounds so the hash actually WRAPS the modulus and lands
# ~uniform on [0, M) even for small dense keys (one round of
# key * 48271 never exceeds M for key < 44k, which made the kth-min
# constant and the estimate useless — caught by the audit column).
# Max intermediate: (M-1)*A + B < 2.4e18 < int64 max.
_KMV_A = 1_103_515_245
_KMV_B = 12_345
_KMV_M = 2_147_483_647  # Mersenne 2^31-1


@query(
    "agg_distinct_kmv",
    oracle=f"""
    WITH hashed AS (
      SELECT DISTINCT o_orderstatus,
        ((o_custkey * {_KMV_A} + {_KMV_B}) % {_KMV_M} * {_KMV_A}
          + {_KMV_B}) % {_KMV_M} AS h
      FROM orders
    ),
    ranked AS (
      SELECT o_orderstatus, h,
             row_number() OVER (PARTITION BY o_orderstatus ORDER BY h) AS rn,
             count(*)    OVER (PARTITION BY o_orderstatus) AS n_exact_h
      FROM hashed
    ),
    est AS (
      SELECT o_orderstatus,
             CASE WHEN n_exact_h < {KMV_K} THEN n_exact_h
                  ELSE CAST({KMV_K} - 1 AS BIGINT) * {_KMV_M} // h
                  END AS est_distinct
      FROM ranked
      WHERE rn = CASE WHEN n_exact_h < {KMV_K} THEN 1 ELSE {KMV_K} END
    )
    SELECT e.o_orderstatus, CAST(e.est_distinct AS BIGINT) AS est_distinct,
           x.exact_distinct
    FROM est e
    JOIN (SELECT o_orderstatus,
                 CAST(count(DISTINCT o_custkey) AS BIGINT) AS exact_distinct
          FROM orders GROUP BY 1) x
      ON e.o_orderstatus = x.o_orderstatus
    """,
)
def agg_distinct_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-count estimation via a KMV sketch with the
    cross-engine mix hash, so — unlike the engine-internal HLL of
    agg_approx_distinct (rows-only) — the estimate itself is
    oracle-checked. Plan: distinct on (group, hash) [one shuffle],
    per-group windows on the distinct hashes [reuses the partitioning]
    , then the estimate formula in exact int64. Exact counts ride
    along as the audit column. At 100 TB the sketch state is k longs
    per group and merges by set-union + re-truncation — the partial
    aggregate IS the mergeable object, same contract as the count-min
    sketch."""
    o = load_table(spark, sf_dir, "orders")
    hashed = (
        o.select(
            "o_orderstatus",
            (
                (
                    (F.col("o_custkey") * _KMV_A + _KMV_B) % _KMV_M * _KMV_A
                    + _KMV_B
                )
                % _KMV_M
            ).alias("h"),
        )
        .distinct()
    )
    w = Window.partitionBy("o_orderstatus")
    ranked = hashed.select(
        "o_orderstatus",
        "h",
        F.row_number().over(w.orderBy("h")).alias("rn"),
        F.count(F.lit(1)).over(w).alias("n_exact_h"),
    )
    est = ranked.filter(
        F.col("rn")
        == F.when(F.col("n_exact_h") < KMV_K, 1).otherwise(KMV_K)
    ).select(
        "o_orderstatus",
        F.when(F.col("n_exact_h") < KMV_K, F.col("n_exact_h"))
        .otherwise(F.expr(f"({KMV_K} - 1) * {_KMV_M}L div h"))
        .cast("long")
        .alias("est_distinct"),
    )
    exact = o.groupBy("o_orderstatus").agg(
        F.countDistinct("o_custkey").alias("exact_distinct")
    )
    return est.join(exact, "o_orderstatus")


@query(
    "agg_kmv_user_overlap",
    oracle=f"""
    WITH hashed AS (
      SELECT DISTINCT event_type,
        ((user_id * {_KMV_A} + {_KMV_B}) % {_KMV_M} * {_KMV_A}
          + {_KMV_B}) % {_KMV_M} AS h
      FROM events
    ),
    sk AS (
      SELECT event_type, h FROM (
        SELECT event_type, h,
               row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
        FROM hashed)
      WHERE rn <= {KMV_K}
    ),
    types AS (SELECT DISTINCT event_type FROM sk),
    pairs AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b
      FROM types a JOIN types b ON a.event_type < b.event_type
    ),
    m AS (
      SELECT type_a, type_b, h, max(in_a) AS ia, max(in_b) AS ib FROM (
        SELECT p.type_a, p.type_b, s.h, 1 AS in_a, 0 AS in_b
        FROM pairs p JOIN sk s ON s.event_type = p.type_a
        UNION ALL
        SELECT p.type_a, p.type_b, s.h, 0 AS in_a, 1 AS in_b
        FROM pairs p JOIN sk s ON s.event_type = p.type_b
      ) GROUP BY type_a, type_b, h
    ),
    ranked AS (
      SELECT type_a, type_b, ia, ib,
             row_number() OVER (PARTITION BY type_a, type_b ORDER BY h) AS rn
      FROM m
    )
    SELECT type_a, type_b,
           CAST(count(*) AS BIGINT)     AS k_used,
           CAST(sum(ia * ib) AS BIGINT) AS n_common,
           CAST(sum(ia * ib) * 1000000 // count(*) AS BIGINT)
             AS jaccard_est_ppm
    FROM ranked WHERE rn <= {KMV_K}
    GROUP BY type_a, type_b
    ORDER BY type_a, type_b
    """,
)
def agg_kmv_user_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience-overlap estimation via KMV sketch ALGEBRA: for every
    pair of event types, the Jaccard similarity of their user SETS is
    estimated from the k-minimum-values sketches alone — |common
    members of the union's k smallest hashes| / k (Beyer et al. 2007)
    — never touching the raw sets pairwise. The sketch hash is the
    same cross-engine double-LCG as agg_distinct_kmv (bijective mod
    the Mersenne prime, so distinct users ↔ distinct hash values and
    a shared hash across types IS a shared user), making the estimate
    itself integer-deterministic and oracle-checked, not rows-only.

    Plan at 100 TB: the ONLY corpus-scale work is distinct
    (event_type, h) — one shuffle with map-side combine; the per-type
    top-{KMV_K} window, the pair expansion, and the union-rank run on
    ≤ types × {KMV_K} rows (constant). This is the shape that replaces
    a types² self-join of user sets (quadratic in the fact table) with
    sketch algebra on constant-size summaries."""
    ev = load_table(spark, sf_dir, "events")
    h = (
        (F.col("user_id") * _KMV_A + _KMV_B) % _KMV_M * _KMV_A + _KMV_B
    ) % _KMV_M
    hashed = ev.select("event_type", h.alias("h")).distinct()
    wt = Window.partitionBy("event_type").orderBy("h")
    sk = (
        hashed.withColumn("rn", F.row_number().over(wt))
        .filter(F.col("rn") <= KMV_K)
        .select("event_type", "h")
    )
    types = sk.select("event_type").distinct()
    pairs = types.select(F.col("event_type").alias("type_a")).join(
        types.select(F.col("event_type").alias("type_b")),
        F.col("type_a") < F.col("type_b"),
    )
    ra = pairs.join(sk, sk["event_type"] == pairs["type_a"]).select(
        "type_a", "type_b", "h", F.lit(1).alias("in_a"), F.lit(0).alias("in_b")
    )
    rb = pairs.join(sk, sk["event_type"] == pairs["type_b"]).select(
        "type_a", "type_b", "h", F.lit(0).alias("in_a"), F.lit(1).alias("in_b")
    )
    m = (
        ra.unionByName(rb)
        .groupBy("type_a", "type_b", "h")
        .agg(F.max("in_a").alias("ia"), F.max("in_b").alias("ib"))
    )
    wp = Window.partitionBy("type_a", "type_b").orderBy("h")
    ranked = m.withColumn("rn", F.row_number().over(wp)).filter(
        F.col("rn") <= KMV_K
    )
    return (
        ranked.groupBy("type_a", "type_b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("k_used"),
            F.sum(F.col("ia") * F.col("ib")).cast("long").alias("n_common"),
        )
        .select(
            "type_a",
            "type_b",
            "k_used",
            "n_common",
            int_div(F.col("n_common") * 1_000_000, F.col("k_used"))
            .cast("long")
            .alias("jaccard_est_ppm"),
        )
        .orderBy("type_a", "type_b")
    )


@query(
    "sql_recursive_ancestors",
    oracle="""
    WITH RECURSIVE anc(doc_id, ancestor, depth) AS (
      SELECT doc_id, doc_id // 7, 1
      FROM documents WHERE doc_id > 0
      UNION ALL
      SELECT doc_id, ancestor // 7, depth + 1
      FROM anc WHERE ancestor > 0
    )
    SELECT doc_id, ancestor, CAST(depth AS INT) AS depth
    FROM anc
    """,
)
def sql_recursive_ancestors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITH RECURSIVE (new in Spark 4): transitive closure of a
    synthetic containment hierarchy (parent = doc_id div 7, root 0) —
    the org-chart / bill-of-materials walk that previously needed a
    driver-side iteration loop (the dedup_connected_components
    pattern) and is now a single declarative statement both engines
    execute natively.

    Scale shape: each recursion step is one self-referential projection
    + union; depth is bounded by log7(max_id) (~12 levels even at 1e10
    ids), so the iterative plan runs a FIXED small number of stages,
    each map-only — no joins, no shuffle growth per level. The
    recursion depth is data-bounded, not driver-configured."""
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("docs_v")
    return spark.sql(
        """
        WITH RECURSIVE anc(doc_id, ancestor, depth) AS (
          SELECT doc_id, doc_id div 7, 1
          FROM docs_v WHERE doc_id > 0
          UNION ALL
          SELECT doc_id, ancestor div 7, depth + 1
          FROM anc WHERE ancestor > 0
        )
        SELECT doc_id, ancestor, CAST(depth AS INT) AS depth
        FROM anc
        """
    )


@query(
    "window_first_last_nth",
    oracle="""
    SELECT
      o_orderkey,
      o_custkey,
      first_value(o_orderkey) OVER w  AS first_in_cust,
      last_value(o_orderkey) OVER (
        PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
      )                               AS last_in_cust,
      nth_value(o_orderkey, 2) OVER w AS second_in_cust
    FROM orders
    WINDOW w AS (
      PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
    )
    """,
)
def window_first_last_nth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first_value / last_value / nth_value with explicit ROWS frames —
    the navigation-function battery with the frame semantics spelled
    out (last_value needs the UNBOUNDED FOLLOWING frame or it
    degenerates to current row; nth_value(…, 2) over the default
    running frame is NULL until the partition's second row arrives —
    both classic SQL footguns, both mirrored exactly by the oracle).
    One shuffle on o_custkey shared by all three functions."""
    o = load_table(spark, sf_dir, "orders")
    w_run = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_full = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.first("o_orderkey").over(w_run).alias("first_in_cust"),
        F.last("o_orderkey").over(w_full).alias("last_in_cust"),
        F.nth_value("o_orderkey", 2).over(w_run).alias("second_in_cust"),
    )


@query(
    "scalar_bitwise_funcs",
    oracle="""
    SELECT
      event_id,
      event_id & 255                    AS low_byte,
      event_id | 4096                   AS with_flag,
      xor(event_id, user_id)            AS id_xor,
      event_id << 3                     AS shl3,
      event_id >> 2                     AS shr2,
      bit_count(CAST(event_id AS BIGINT)) AS popcount
    FROM events
    """,
)
def scalar_bitwise_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise scalar battery (&, |, xor, shifts, popcount) — the ops
    every hash/bucket/bloom expression compiles down to, exercised as
    first-class surface. Map-only codegen."""
    e = load_table(spark, sf_dir, "events")
    return e.select(
        "event_id",
        F.col("event_id").bitwiseAND(F.lit(255)).alias("low_byte"),
        F.col("event_id").bitwiseOR(F.lit(4096)).alias("with_flag"),
        F.col("event_id").bitwiseXOR(F.col("user_id")).alias("id_xor"),
        F.shiftleft("event_id", 3).alias("shl3"),
        F.shiftright("event_id", 2).alias("shr2"),
        F.bit_count("event_id").alias("popcount"),
    )


@query(
    "join_lateral_topk",
    oracle="""
    SELECT n.n_name, t.s_suppkey, round(t.s_acctbal, 2) AS s_acctbal
    FROM nation n
    CROSS JOIN LATERAL (
      SELECT s_suppkey, s_acctbal
      FROM supplier s
      WHERE s.s_nationkey = n.n_nationkey
      ORDER BY s_acctbal DESC, s_suppkey
      LIMIT 3
    ) t
    """,
)
def join_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery (top-3 suppliers per nation) — the
    SQL-surface twin of window_rank_topn_per_group, run through
    spark.sql to prove the LATERAL form plans too. Catalyst rewrites
    the correlated limit into the same partitioned-rank shape, so the
    plan is one supplier shuffle + a broadcast nation join — the
    LATERAL never executes per-row."""
    load_table(spark, sf_dir, "nation").createOrReplaceTempView("nation_v")
    load_table(spark, sf_dir, "supplier").createOrReplaceTempView("supplier_v")
    return spark.sql(
        """
        SELECT n.n_name, t.s_suppkey, round(t.s_acctbal, 2) AS s_acctbal
        FROM nation_v n
        JOIN LATERAL (
          SELECT s_suppkey, s_acctbal
          FROM supplier_v s
          WHERE s.s_nationkey = n.n_nationkey
          ORDER BY s_acctbal DESC, s_suppkey
          LIMIT 3
        ) t
        """
    )


@query(
    "orders_cohort_revenue",
    oracle="""
    WITH firsts AS (
      SELECT o_custkey,
             min(year(o_orderdate) * 12 + month(o_orderdate)) AS cohort_m
      FROM orders GROUP BY o_custkey
    )
    SELECT
      CAST(f.cohort_m AS INT)                                  AS cohort_m,
      CAST(year(o.o_orderdate) * 12 + month(o.o_orderdate)
           - f.cohort_m AS INT)                                AS months_since,
      CAST(count(DISTINCT o.o_custkey) AS BIGINT)              AS active_customers,
      round(sum(o.o_totalprice), 2)                            AS revenue
    FROM orders o JOIN firsts f ON o.o_custkey = f.o_custkey
    GROUP BY 1, 2
    """,
)
def orders_cohort_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly cohort analysis: customers grouped by first-order month,
    revenue and active count tracked by months-since-acquisition — the
    retention/LTV matrix every growth dashboard is built on. Months as
    exact integers (year*12 + month), never float date arithmetic.

    Scale shape: the first-order table is one partial-aggregated
    groupBy on o_custkey; the fact join shuffles on the SAME key, so
    AQE reuses the exchange; the final cohort-cell aggregate has
    months² cells — bounded by time span, not data. The cohort table
    grows with customers (a fact, not a dimension), so it is NOT
    broadcast-hinted — at dimension-like sizes AQE will pick broadcast
    from measured stats on its own."""
    o = load_table(spark, sf_dir, "orders")
    month_idx = (F.year("o_orderdate") * 12 + F.month("o_orderdate")).cast("int")
    firsts = (
        o.select("o_custkey", month_idx.alias("m"))
        .groupBy("o_custkey")
        .agg(F.min("m").alias("cohort_m"))
    )
    return (
        o.select("o_custkey", month_idx.alias("order_m"), "o_totalprice")
        .join(firsts, "o_custkey")
        .groupBy(
            F.col("cohort_m").cast("int").alias("cohort_m"),
            (F.col("order_m") - F.col("cohort_m")).cast("int").alias("months_since"),
        )
        .agg(
            F.countDistinct("o_custkey").alias("active_customers"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


@query(
    "agg_correlation_matrix",
    oracle="""
    WITH ints AS (
      SELECT l_returnflag AS flag,
             CAST(l_quantity AS BIGINT) AS x,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS y
      FROM lineitem
    ),
    moms AS (
      SELECT flag,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
             CAST(sum(x * y) AS DOUBLE) AS sxy,
             CAST(sum(x * x) AS DOUBLE) AS sxx,
             CAST(sum(CAST(y AS HUGEINT) * y) AS DOUBLE) AS syy
      FROM ints GROUP BY flag
    )
    SELECT flag, n,
           round((n * sxy - sx * sy)
                 / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)),
                 6) + 0 AS corr_qty_price,
           round((n * sxy - sx * sy) / (n * (n - 1)) / 100, 2) + 0
             AS covar_samp_qty_price
    FROM moms
    """,
)
def agg_correlation_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation + sample covariance per group, computed
    from EXACT integer moment sums (quantity as int, price in cents;
    the one sum that can pass 2^63 — Σy² — runs in decimal/hugeint)
    and only converted to float once, in an expression written
    identically in both engines, so the result is IEEE-deterministic
    and the round(6) hash is stable. The built-in corr()/covar_samp()
    would fold doubles in partial-aggregation order — fine numerically,
    but hash-unstable cross-engine. One map-side-combined shuffle to
    flag-cardinality rows; moments compose, so the same plan serves
    streaming/incremental maintenance."""
    li = load_table(spark, sf_dir, "lineitem")
    ints = li.select(
        F.col("l_returnflag").alias("flag"),
        F.col("l_quantity").cast("long").alias("x"),
        F.expr("CAST(round(l_extendedprice * 100) AS BIGINT)").alias("y"),
    )
    moms = ints.groupBy("flag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
        F.sum(
            F.col("y").cast("decimal(38,0)") * F.col("y").cast("decimal(38,0)")
        )
        .cast("double")
        .alias("syy"),
    )
    corr = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.sqrt(F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        * F.sqrt(F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    covar = (
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
        / (F.col("n") * (F.col("n") - 1))
        / 100
    )
    return moms.select(
        "flag",
        "n",
        (F.round(corr, 6) + 0.0).alias("corr_qty_price"),
        (F.round(covar, 2) + 0.0).alias("covar_samp_qty_price"),
    )


@query(
    "scalar_regex_funcs",
    oracle="""
    SELECT doc_id,
           regexp_extract(text, '([A-Z][a-z]+)', 1)           AS first_cap_word,
           CAST(len(regexp_extract_all(text, '[0-9]+')) AS BIGINT)
                                                              AS n_number_runs,
           CAST(len(regexp_extract_all(text, '\\b[a-z]{7,}\\b')) AS BIGINT)
                                                              AS n_long_words,
           CASE WHEN regexp_matches(text, '(the|and|of)') THEN 1 ELSE 0 END
                                                              AS has_stopword,
           substring(regexp_replace(text, '[aeiou]', '_', 'g'), 1, 40)
                                                              AS devoweled_prefix
    FROM documents
    """,
)
def scalar_regex_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex scalar battery — extract / extract-all-count / match-test
    / global-replace, all JVM codegen (zero Python), the text-wrangling
    surface every log/corpus pipeline leans on. Map-only: no exchange
    at any scale; the only care is cross-engine regex dialect (both
    sides stick to RE2-safe syntax: classes, anchors, alternation,
    bounded repeats — no lookaround)."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.regexp_extract("text", r"([A-Z][a-z]+)", 1).alias("first_cap_word"),
        F.size(F.expr(r"regexp_extract_all(text, '[0-9]+', 0)"))
        .cast("long")
        .alias("n_number_runs"),
        F.size(F.expr(r"regexp_extract_all(text, '\\b[a-z]{7,}\\b', 0)"))
        .cast("long")
        .alias("n_long_words"),
        F.when(F.col("text").rlike("(the|and|of)"), 1)
        .otherwise(0)
        .alias("has_stopword"),
        F.substring(
            F.regexp_replace("text", "[aeiou]", "_"), 1, 40
        ).alias("devoweled_prefix"),
    )


BIN_CENTS = 100_000  # $1000-wide histogram bins for the quantile sketch


@query(
    "agg_percentile_binned",
    oracle=f"""
    WITH binned AS (
      SELECT CAST(round(o_totalprice * 100) AS BIGINT) // {BIN_CENTS} AS bin,
             CAST(count(*) AS BIGINT) AS cnt
      FROM orders GROUP BY 1
    ),
    cum AS (
      SELECT bin, cnt,
             sum(cnt) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS c,
             sum(cnt) OVER () AS n
      FROM binned
    )
    SELECT
      CAST(min(CASE WHEN c * 100 >= 50 * n THEN bin END) AS BIGINT) AS p50_bin,
      CAST(min(CASE WHEN c * 100 >= 90 * n THEN bin END) AS BIGINT) AS p90_bin,
      CAST(min(CASE WHEN c * 100 >= 99 * n THEN bin END) AS BIGINT) AS p99_bin,
      CAST(min(n) AS BIGINT) AS n_rows,
      CAST(min(CASE WHEN c * 100 >= 50 * n THEN bin END) * {BIN_CENTS}
           + {BIN_CENTS} // 2 AS BIGINT) AS p50_mid_cents
    FROM cum
    """,
)
def agg_percentile_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile sketch: fixed-width integer histogram bins
    -> cumulative counts -> percentile = first bin covering the rank.
    Unlike GK/t-digest (engine-specific, hash-uncheckable — see
    agg_approx_percentiles, deliberately rows-only), a fixed-bin
    histogram is DETERMINISTIC and associative: per-partition bin
    counts merge by addition, so the same sketch serves batch,
    streaming state, and cross-day rollups, with error bounded by the
    bin width. One map-side-combined shuffle to ~|price-range/bin|
    rows; the cumulative window runs over BIN rows (bounded by value
    range, not data size). Everything integer -> exact hash."""
    o = load_table(spark, sf_dir, "orders")
    binned = o.groupBy(
        F.expr(
            f"CAST(round(o_totalprice * 100) AS BIGINT) div {BIN_CENTS}"
        ).alias("bin")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    w_cum = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.partitionBy()
    cum = binned.select(
        "bin",
        F.sum("cnt").over(w_cum).alias("c"),
        F.sum("cnt").over(w_all).alias("n"),
    )
    pick = lambda q: F.min(  # noqa: E731
        F.when(F.col("c") * 100 >= q * F.col("n"), F.col("bin"))
    )
    return cum.agg(
        pick(50).alias("p50_bin"),
        pick(90).alias("p90_bin"),
        pick(99).alias("p99_bin"),
        F.min("n").alias("n_rows"),
        (pick(50) * BIN_CENTS + BIN_CENTS // 2).alias("p50_mid_cents"),
    )


@query(
    "orders_seasonal_index",
    oracle="""
    WITH monthly AS (
      SELECT year(o_orderdate) * 12 + month(o_orderdate) AS ym,
             CAST(month(o_orderdate) AS INT) AS mon,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders GROUP BY 1, 2
    ),
    with_trail AS (
      SELECT ym, mon, cents,
             CAST(sum(cents) OVER (ORDER BY ym
                                   ROWS BETWEEN 11 PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS trail12,
             CAST(count(*) OVER (ORDER BY ym
                                 ROWS BETWEEN 11 PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS n_win
      FROM monthly
    )
    SELECT ym, mon, cents,
           CAST(CAST(cents AS HUGEINT) * 1000 * n_win // trail12 AS BIGINT)
             AS seasonal_index_milli
    FROM with_trail
    WHERE n_win = 12
    """,
)
def orders_seasonal_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality index per calendar month: revenue vs its trailing
    12-month average, as integer milli-ratio (1000 = on-trend). The
    only window runs over MONTH rows (one per ym — bounded by the time
    span, the events_cumulative_distinct_users precedent), never over
    orders; the monthly rollup underneath is one map-side-combined
    shuffle in exact cents. The n_win=12 guard drops the ramp-up
    months identically in both engines."""
    o = load_table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias("ym"),
        F.month("o_orderdate").cast("int").alias("mon"),
    ).agg(
        F.sum(F.expr("CAST(round(o_totalprice * 100) AS BIGINT)")).alias(
            "cents"
        )
    )
    w = Window.orderBy("ym").rowsBetween(-11, 0)
    with_trail = monthly.select(
        "ym",
        "mon",
        "cents",
        F.sum("cents").over(w).alias("trail12"),
        F.count(F.lit(1)).over(w).alias("n_win"),
    )
    return with_trail.filter(F.col("n_win") == 12).select(
        "ym",
        "mon",
        "cents",
        F.expr(
            "CAST(cents AS decimal(38,0)) * 1000 * n_win div trail12"
        ).cast("long").alias(
            "seasonal_index_milli"
        ),
    )


ADVISOR_TARGET_ROWS = 1_000_000  # rows per bucket a co-located join wants


@query(
    "diagnose_bucket_advisor",
    oracle=f"""
    WITH stats AS (
      SELECT 'lineitem.l_orderkey' AS key, sum(cnt) AS n_rows,
             count(*) AS n_keys, max(cnt) AS max_key_rows
      FROM (SELECT l_orderkey, count(*) AS cnt FROM lineitem GROUP BY 1)
      UNION ALL
      SELECT 'events.user_id', sum(cnt), count(*), max(cnt)
      FROM (SELECT user_id, count(*) AS cnt FROM events GROUP BY 1)
    )
    SELECT key,
           CAST(n_rows AS BIGINT)        AS n_rows,
           CAST(n_keys AS BIGINT)        AS n_keys,
           CAST(max_key_rows AS BIGINT)  AS max_key_rows,
           CAST(greatest(1, (n_rows + {ADVISOR_TARGET_ROWS} - 1)
                            // {ADVISOR_TARGET_ROWS}) AS BIGINT)
             AS advised_buckets,
           CASE WHEN max_key_rows * 20 > n_rows THEN 1 ELSE 0 END
             AS skew_flag
    FROM stats
    """,
)
def diagnose_bucket_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketing advisor for co-located joins: per join key, the row
    and distinct-key counts, the heaviest key, the bucket count that
    keeps ~ADVISOR_TARGET_ROWS rows per bucket, and a skew flag (one
    key holding >5% of rows means salting, not bucketing — see
    skew.salted_join). This is the planning query a team runs BEFORE
    committing to a bucketed layout (sources/bucketed.py). Each key's
    stats are one map-side-combined groupBy + a 1-row rollup; output
    is one row per audited key."""
    li = load_table(spark, sf_dir, "lineitem")
    ev = load_table(spark, sf_dir, "events")

    def key_stats(df: DataFrame, col: str, label: str) -> DataFrame:
        per_key = df.groupBy(col).agg(F.count(F.lit(1)).alias("cnt"))
        return per_key.agg(
            F.lit(label).alias("key"),
            F.sum("cnt").alias("n_rows"),
            F.count(F.lit(1)).alias("n_keys"),
            F.max("cnt").alias("max_key_rows"),
        )

    stats = key_stats(li, "l_orderkey", "lineitem.l_orderkey").unionByName(
        key_stats(ev, "user_id", "events.user_id")
    )
    return stats.select(
        "key",
        "n_rows",
        "n_keys",
        "max_key_rows",
        F.greatest(
            F.lit(1).cast("long"),
            F.expr(
                f"(n_rows + {ADVISOR_TARGET_ROWS} - 1) div {ADVISOR_TARGET_ROWS}"
            ),
        ).alias("advised_buckets"),
        F.when(F.col("max_key_rows") * 20 > F.col("n_rows"), 1)
        .otherwise(0)
        .alias("skew_flag"),
    )


PARETO_BAND_CENTS = 5_000_000  # $50k revenue bands for running_sums
PARETO_TARGET_PCT = 80


@query(
    "orders_pareto_8020",
    oracle=f"""
    WITH per_cust AS (
      SELECT o_custkey,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS rev
      FROM orders GROUP BY o_custkey
    ),
    tot AS (SELECT sum(rev) AS total_rev, count(*) AS n_cust FROM per_cust),
    cum AS (
      SELECT rev,
             sum(rev) OVER (ORDER BY rev DESC, o_custkey
                            ROWS UNBOUNDED PRECEDING) - rev AS cum_before
      FROM per_cust
    )
    SELECT
      CAST(count(*) FILTER (
        WHERE cum_before * 100 < total_rev * {PARETO_TARGET_PCT}
      ) AS BIGINT)                                    AS n_cust_for_80pct,
      CAST(min(n_cust) AS BIGINT)                     AS n_customers,
      CAST(count(*) FILTER (
        WHERE cum_before * 100 < total_rev * {PARETO_TARGET_PCT}
      ) * 1000000 // min(n_cust) AS BIGINT)           AS share_ppm
    FROM cum, tot
    """,
)
def orders_pareto_8020(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration (Pareto 80/20): how many customers does
    it take to cover 80% of revenue? Needs a GLOBAL cumulative sum in
    revenue-descending order, taken by functions/banded.running_sums
    over fixed $50k revenue bands (negated, so the band ascends as
    revenue descends); o_custkey breaks revenue ties. The count of
    customers whose exclusive cumulative stays under the 80% line is
    the answer; exact integer cents throughout."""
    o = load_table(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.sum(F.expr("CAST(round(o_totalprice * 100) AS BIGINT)")).alias("rev")
    )
    banded = per_cust.withColumn(
        "band", F.expr(f"-(rev div {PARETO_BAND_CENTS})")
    )
    tot = per_cust.agg(
        F.sum("rev").alias("total_rev"), F.count(F.lit(1)).alias("n_cust")
    )
    cum = (
        running_sums(
            banded, "band", [F.desc("rev"), "o_custkey"], {"cum": F.col("rev")}
        )
        .select("rev", (F.col("cum") - F.col("rev")).alias("cum_before"))
        .crossJoin(F.broadcast(tot))
    )
    # decimal(38,0): cum_before*100 passes int64 once total revenue
    # crosses ~9.2e16 cents (the extreme-values suite reproduces it);
    # the oracle's window sum is already HUGEINT
    under = (
        F.col("cum_before").cast("decimal(38,0)") * 100
        < F.col("total_rev").cast("decimal(38,0)") * PARETO_TARGET_PCT
    )
    return cum.agg(
        F.count(F.when(under, 1)).alias("n_cust_for_80pct"),
        F.min("n_cust").alias("n_customers"),
        F.expr(
            "count(CASE WHEN CAST(cum_before AS decimal(38,0)) * 100"
            f" < CAST(total_rev AS decimal(38,0)) * {PARETO_TARGET_PCT} "
            "THEN 1 END) * 1000000 div min(n_cust)"
        ).alias("share_ppm"),
    )


@query(
    "scalar_struct_map_funcs",
    oracle="""
    WITH t AS (
      SELECT p_partkey,
             struct_pack(brand := p_brand, sz := p_size) AS st,
             MAP(['brand', 'type'], [p_brand, p_type])   AS m
      FROM part
    )
    SELECT p_partkey,
           st.brand                                   AS st_brand,
           CAST(st.sz AS INT)                         AS st_size,
           CAST(cardinality(m) AS INT)                AS n_entries,
           m['brand'][1]                              AS m_brand,
           m['type'][1]                               AS m_type,
           CASE WHEN len(m['missing']) = 0 THEN 1 ELSE 0 END AS missing_is_null,
           array_to_string(list_sort(map_keys(m)), ',') AS keys_sorted
    FROM t
    """,
)
def scalar_struct_map_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested-type scalar battery: STRUCT construction + field access
    and MAP construction / lookup / cardinality / key listing — the
    semi-structured surface a pipeline needs the moment metadata stops
    being flat columns. Map-only, codegen, no exchange; lookups of
    absent keys must return NULL (not error) identically in both
    engines, and key listings are sorted and joined to a scalar
    string (the harness contract: no array/map/struct in final
    outputs)."""
    p = load_table(spark, sf_dir, "part")
    st = F.struct(
        F.col("p_brand").alias("brand"), F.col("p_size").alias("sz")
    )
    m = F.map_from_arrays(
        F.array(F.lit("brand"), F.lit("type")),
        F.array(F.col("p_brand"), F.col("p_type")),
    )
    t = p.select("p_partkey", st.alias("st"), m.alias("m"))
    return t.select(
        "p_partkey",
        F.col("st.brand").alias("st_brand"),
        F.col("st.sz").cast("int").alias("st_size"),
        F.size("m").cast("int").alias("n_entries"),
        F.element_at("m", "brand").alias("m_brand"),
        F.element_at("m", "type").alias("m_type"),
        F.when(F.element_at("m", "missing").isNull(), 1)
        .otherwise(0)
        .alias("missing_is_null"),
        F.array_join(F.array_sort(F.map_keys("m")), ",").alias("keys_sorted"),
    )


@query(
    "scalar_try_funcs",
    oracle="""
    WITH t AS (
      SELECT doc_id,
             CASE WHEN doc_id % 3 = 0 THEN CAST(doc_id AS VARCHAR)
                  ELSE 'not-a-number' END AS maybe_num,
             doc_id % 5 AS denom
      FROM documents
    )
    SELECT doc_id,
           TRY_CAST(maybe_num AS BIGINT)                  AS parsed,
           CASE WHEN TRY_CAST(maybe_num AS BIGINT) IS NULL THEN 1 ELSE 0 END
                                                          AS parse_failed,
           CASE WHEN denom = 0 THEN NULL
                ELSE doc_id // denom END                  AS safe_div,
           coalesce(TRY_CAST(maybe_num AS BIGINT), -1)    AS parsed_or_default
    FROM t
    """,
)
def scalar_try_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-safe scalar battery: TRY_CAST on dirty strings and
    guarded integer division — malformed input must become NULL, never
    a task failure, because at 100 TB a single poison row otherwise
    kills the stage hours in. Spark's try_cast/try_divide and the
    CASE-guarded form agree with DuckDB's TRY_CAST + NULL guard
    exactly. Map-only, codegen."""
    d = load_table(spark, sf_dir, "documents")
    maybe = F.when(
        F.col("doc_id") % 3 == 0, F.col("doc_id").cast("string")
    ).otherwise(F.lit("not-a-number"))
    denom = F.col("doc_id") % 5
    t = d.select("doc_id", maybe.alias("maybe_num"), denom.alias("denom"))
    parsed = F.expr("try_cast(maybe_num AS BIGINT)")
    return t.select(
        "doc_id",
        parsed.alias("parsed"),
        F.when(parsed.isNull(), 1).otherwise(0).alias("parse_failed"),
        F.when(F.col("denom") == 0, F.lit(None).cast("long"))
        .otherwise(F.expr("doc_id div denom"))
        .alias("safe_div"),
        F.coalesce(parsed, F.lit(-1)).alias("parsed_or_default"),
    )


@query(
    "join_point_in_time_scd2",
    oracle="""
    WITH states AS (
      SELECT o_custkey AS k,
             CAST(epoch_us(o_orderdate) // 86400000000 AS BIGINT) AS vfrom
      FROM orders
    ),
    probes AS (
      SELECT o.o_custkey AS k,
             CAST(epoch_us(l.l_shipdate) // 86400000000 AS BIGINT) AS ship_day,
             l.l_orderkey, l.l_linenumber
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    pit AS (
      -- correlated scalar per probe ROW: (l_orderkey, l_linenumber) is
      -- NOT unique in the synthetic lineitem, so a GROUP BY over probe
      -- identity would collapse duplicate probes the Spark side keeps
      SELECT p.ship_day,
             (SELECT max(s.vfrom) FROM states s
              WHERE s.k = p.k AND s.vfrom <= p.ship_day) AS vfrom
      FROM probes p
    ),
    aged AS (
      SELECT ship_day - vfrom AS age,
             CASE WHEN ship_day - vfrom = 0 THEN 0
                  ELSE CAST(length(bin(ship_day - vfrom)) AS BIGINT) END AS bucket
      FROM pit WHERE vfrom IS NOT NULL
    )
    SELECT bucket,
           CAST(count(*) AS BIGINT) AS n,
           CAST(min(age) AS BIGINT) AS min_age_days,
           CAST(max(age) AS BIGINT) AS max_age_days
    FROM aged
    GROUP BY bucket
    ORDER BY bucket
    """,
)
def join_point_in_time_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (feature-store) join: every lineitem ship event
    looks up the customer state version VALID AT SHIP TIME (the
    orders_scd2_intervals feed) — the temporal-correctness join that
    prevents feature leakage in training-data builds, where joining
    'current' dimension values into historical facts silently leaks
    the future. The lookup is the UNION-MERGE as-of rewrite, not an
    interval join: states and probes union into one stream, one
    window per customer ordered by (day, tag — states first on ties)
    carries the last state day forward, and each probe reads its
    version start with ZERO per-key quadratic work (a range join here
    would cost n_versions x n_probes per key; the oracle pays exactly
    that, which is the point of the rewrite). Read-out is the
    version-AGE histogram in binary-digit buckets — how stale the
    joined state was — bounded at ~13 rows; the probe build is one
    fact-fact equi-join on the order key."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_shipdate"
    )
    day = F.expr("unix_micros(cast(o_orderdate as timestamp)) div 86400000000")
    states = o.select(
        F.col("o_custkey").alias("k"),
        day.cast("long").alias("day"),
        F.lit(0).alias("tag"),
    )
    probes = (
        li.join(o.select("o_orderkey", "o_custkey"), li.l_orderkey == F.col("o_orderkey"))
        .select(
            F.col("o_custkey").alias("k"),
            F.expr("unix_micros(cast(l_shipdate as timestamp)) div 86400000000")
            .cast("long")
            .alias("day"),
            F.lit(1).alias("tag"),
        )
    )
    merged = states.unionByName(probes)
    w = (
        Window.partitionBy("k")
        .orderBy("day", "tag")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    vfrom = F.last(
        F.when(F.col("tag") == 0, F.col("day")), ignorenulls=True
    ).over(w)
    aged = (
        merged.withColumn("vfrom", vfrom)
        .filter(F.col("tag") == 1)
        # probes with NO state at-or-before their day (ship date before
        # the customer's first order date in the synthetic data) have
        # no valid version — the oracle's inner range join drops them,
        # so the as-of side must too
        .filter(F.col("vfrom").isNotNull())
        .select((F.col("day") - F.col("vfrom")).alias("age"))
    )
    bucket = (
        F.when(F.col("age") == 0, F.lit(0))
        .otherwise(F.length(F.conv(F.col("age").cast("string"), 10, 2)))
        .cast("long")
    )
    return (
        aged.select(bucket.alias("bucket"), "age")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("age").cast("long").alias("min_age_days"),
            F.max("age").cast("long").alias("max_age_days"),
        )
        .select("bucket", F.col("n").cast("long").alias("n"), "min_age_days", "max_age_days")
        .orderBy("bucket")
    )


EQUIDEPTH_BAND_CENTS = 100_000  # $1k value bands for the two-phase rank probe
EQUIDEPTH_BUCKETS = 10


@query(
    "agg_histogram_equidepth",
    oracle=f"""
    WITH priced AS (
      SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS price,
             l_orderkey, l_linenumber
      FROM lineitem
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM priced),
    ranks AS (
      SELECT CAST(k AS INT) AS decile,
             greatest(1, k * n // {EQUIDEPTH_BUCKETS}) AS r
      FROM tot, unnest(range(1, {EQUIDEPTH_BUCKETS})) AS t(k)
    ),
    ordered AS (
      SELECT price,
             row_number() OVER (ORDER BY price, l_orderkey, l_linenumber)
               AS rn
      FROM priced
    )
    SELECT r.decile, CAST(r.r AS BIGINT) AS rank, o.price AS boundary_cents
    FROM ranks r JOIN ordered o ON o.rn = r.r
    ORDER BY r.decile
    """,
)
def agg_histogram_equidepth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT equi-depth decile boundaries of line-item price — the
    statistic ANALYZE builds for optimizer histograms — without ever
    globally sorting the fact table. Two-phase banded rank probe (the
    orders_pareto_8020 technique pointed at rank-selection): (1) one
    groupBy collapses prices into fixed $1k value bands (bounded by
    the value DOMAIN, not the row count — SF-invariant ~100 rows), and
    the exclusive band-offset cumsum runs over that tiny frame;
    (2) each decile's target rank r_k = k·n/10 locates its band via a
    broadcast range probe, the fact scan re-reads ONLY the ≤9 target
    bands (predicate-pushdown on the band expression prunes the rest),
    and a window PARTITIONED BY band — never global — finds the row
    whose band-offset + in-band row_number equals r_k exactly, ties
    broken by (orderkey, linenumber) as everywhere else. The oracle is
    the naive full row_number, so the banded plan must be
    rank-for-rank identical. Value-skew note: a band holding most of
    the mass bounds phase 2 by that band's population; production
    would recursively re-band inside a fat band (same plan, one more
    level) — the domain-banded first cut is what makes that recursion
    cheap."""
    li = load_table(spark, sf_dir, "lineitem")
    priced = li.select(
        F.expr("CAST(round(l_extendedprice * 100) AS BIGINT)").alias("price"),
        "l_orderkey",
        "l_linenumber",
    ).withColumn("band", F.expr(f"price div {EQUIDEPTH_BAND_CENTS}"))
    # r12: band_counts (~100 domain-bounded rows) is the collapse
    # point of phase 1's fact pass, but offsets, tot, and the
    # twice-referenced targets chain each replanned it (10 lineitem
    # scans in the before-plan). Persist the tiny band table and
    # derive the total from it — the fact table is scanned exactly
    # twice (phase 1 band count, phase 2 pruned re-read), by design.
    band_counts = scoped_persist(
        priced.groupBy("band").agg(F.count(F.lit(1)).alias("band_n"))
    )
    w_bands = Window.orderBy("band").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = band_counts.select(
        "band",
        "band_n",
        F.coalesce(F.sum("band_n").over(w_bands), F.lit(0)).alias(
            "cum_before"
        ),
    )
    tot = band_counts.agg(
        F.coalesce(F.sum("band_n"), F.lit(0).cast("long")).alias("n")
    )
    ranks = (
        spark.range(1, EQUIDEPTH_BUCKETS)
        .select(F.col("id").cast("int").alias("decile"))
        .crossJoin(F.broadcast(tot))
        .select(
            "decile",
            F.greatest(
                F.lit(1).cast("long"),
                F.expr(f"decile * n div {EQUIDEPTH_BUCKETS}"),
            ).alias("r"),
        )
    )
    targets = ranks.join(
        F.broadcast(offsets),
        (F.col("r") > F.col("cum_before"))
        & (F.col("r") <= F.col("cum_before") + F.col("band_n")),
    ).select("decile", "r", "band", "cum_before")
    # scan phase 2 touches only the <=9 target bands: the semi join on
    # the band expression prunes before the window
    in_band = priced.join(
        F.broadcast(targets.select("band").distinct()), "band", "semi"
    )
    w_in = Window.partitionBy("band").orderBy(
        "price", "l_orderkey", "l_linenumber"
    )
    ranked = in_band.withColumn("rn", F.row_number().over(w_in))
    return (
        ranked.join(
            F.broadcast(targets),
            (ranked["band"] == targets["band"])
            & (F.col("rn") == F.col("r") - F.col("cum_before")),
        )
        .select(
            "decile",
            F.col("r").cast("long").alias("rank"),
            F.col("price").alias("boundary_cents"),
        )
        .orderBy("decile")
    )



# Spend-tier migration: the pivot date splits the order history into
# an early and a late period; tiers are the BINARY DIGIT COUNT of the
# period spend in $1000 units (the events_interarrival_log2_histogram
# no-float-log2 discipline), so tier k covers [2^(k-1), 2^k) thousand
# dollars and both engines band identically. -1 = absent that period.
MIGRATION_PIVOT_DATE = "1998-01-01"


@query(
    "orders_spend_tier_migration",
    oracle=f"""
    WITH spend AS (
      SELECT o_custkey,
             CAST(o_orderdate < DATE '{MIGRATION_PIVOT_DATE}' AS INT)
               AS early,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders GROUP BY 1, 2
    ),
    tiers AS (
      SELECT o_custkey, early,
             CASE WHEN cents // 100000 = 0 THEN 0
                  ELSE CAST(length(bin(cents // 100000)) AS BIGINT)
             END AS tier,
             cents
      FROM spend
    ),
    a AS (SELECT o_custkey, tier, cents FROM tiers WHERE early = 1),
    b AS (SELECT o_custkey, tier, cents FROM tiers WHERE early = 0)
    SELECT coalesce(a.tier, -1) AS tier_early,
           coalesce(b.tier, -1) AS tier_late,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(coalesce(sum(b.cents), 0) AS BIGINT) AS late_cents
    FROM a FULL OUTER JOIN b ON a.o_custkey = b.o_custkey
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def orders_spend_tier_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer spend-tier MIGRATION matrix across the 1998-01-01
    pivot — the upgrade/downgrade/churn/acquisition
    table a revenue team reads next to the RFM segmentation
    (customer_rfm_segments gives the snapshot; this gives the flow):
    tier_early=-1 rows are acquisitions, tier_late=-1 rows are churn,
    off-diagonal cells are movement. Tiers are the binary digit count
    of period spend in $1000 units (Spark conv-length, DuckDB
    bin-length — the interarrival-histogram no-float-log2 discipline),
    so banding is pure integer arithmetic in both engines. Plan: one
    (custkey, period) groupBy with map-side combine, then a FULL OUTER
    fact-fact join of the two period frames on the SAME custkey —
    Spark co-partitions both sides in one exchange each — and a
    tier²-bounded matrix aggregate. No windows, no sort wider than the
    ~2·40² output."""
    o = load_table(spark, sf_dir, "orders")
    spend = o.groupBy(
        "o_custkey",
        (
            F.col("o_orderdate").cast("date")
            < F.lit(MIGRATION_PIVOT_DATE).cast("date")
        )
        .cast("int")
        .alias("early"),
    ).agg(
        F.expr(
            "CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)"
        ).alias("cents")
    )
    units = F.expr("cents div 100000")
    tier = (
        F.when(units == 0, F.lit(0))
        .otherwise(F.length(F.conv(units.cast("string"), 10, 2)))
        .cast("long")
        .alias("tier")
    )
    tiers = spend.select("o_custkey", "early", tier, "cents")
    a = tiers.filter(F.col("early") == 1).select(
        F.col("o_custkey").alias("ck_a"),
        F.col("tier").alias("ta"),
    )
    b = tiers.filter(F.col("early") == 0).select(
        F.col("o_custkey").alias("ck_b"),
        F.col("tier").alias("tb"),
        F.col("cents").alias("cents_b"),
    )
    return (
        a.join(b, a["ck_a"] == b["ck_b"], "full_outer")
        .groupBy(
            F.coalesce(F.col("ta"), F.lit(-1)).alias("tier_early"),
            F.coalesce(F.col("tb"), F.lit(-1)).alias("tier_late"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.coalesce(F.sum("cents_b"), F.lit(0))
            .cast("long")
            .alias("late_cents"),
        )
        .orderBy("tier_early", "tier_late")
    )


@query(
    "lineitem_unit_value_index",
    oracle=f"""
    WITH base AS (
      SELECT p.p_type AS ptype,
             CAST(year(l.l_shipdate) >= 1998 AS INT) AS late,
             CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT))
                  AS HUGEINT) AS ext_cents,
             CAST(sum(CAST(l.l_quantity AS BIGINT)) AS HUGEINT) AS qty
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      GROUP BY 1, 2
    ),
    sides AS (
      SELECT ptype,
             max(CASE WHEN late = 0 THEN ext_cents END) AS e0,
             max(CASE WHEN late = 0 THEN qty END) AS q0,
             max(CASE WHEN late = 1 THEN ext_cents END) AS e1,
             max(CASE WHEN late = 1 THEN qty END) AS q1
      FROM base GROUP BY ptype
    )
    SELECT ptype,
           CAST(e0 AS BIGINT) AS early_cents,
           CAST(q0 AS BIGINT) AS early_qty,
           CAST(e1 AS BIGINT) AS late_cents,
           CAST(q1 AS BIGINT) AS late_qty,
           CAST(e1 * q0 * 1000000 // (q1 * e0) AS BIGINT) AS uvi_ppm
    FROM sides
    WHERE e0 IS NOT NULL AND e1 IS NOT NULL AND q0 > 0 AND q1 > 0
      AND e0 > 0
    ORDER BY ptype
    """,
)
def lineitem_unit_value_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unit-value price index per product type across the 1998 pivot —
    the index-number workhorse of warehouse economics: UVI =
    (late revenue / late quantity) / (early revenue / early quantity),
    i.e. how the average realized price per unit moved, volume-mix
    included (the pragmatic cousin of Laspeyres/Paasche when per-item
    base prices aren't tracked). Exact: the two rational unit values
    never materialize — the ratio algebraically rearranges to
    e1*q0*1e6 div (q1*e0), one truncating division on integer cents x
    quantities widened to decimal(38,0)/HUGEINT (the cross product is
    O(revenue*quantity)). Shape: broadcast the part dim into the fact
    scan, ONE (type, period) groupBy with map-side combine (12 cells),
    a 6-row pivot read-out. Same pivot convention as
    orders_spend_tier_migration."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    base = (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .groupBy(
            F.col("p_type").alias("ptype"),
            (F.year("l_shipdate") >= 1998).cast("int").alias("late"),
        )
        .agg(
            F.expr(
                "CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) "
                "AS decimal(38,0))"
            ).alias("ext_cents"),
            F.expr(
                "CAST(sum(CAST(l_quantity AS BIGINT)) AS decimal(38,0))"
            ).alias("qty"),
        )
    )
    sides = base.groupBy("ptype").agg(
        F.max(F.when(F.col("late") == 0, F.col("ext_cents"))).alias("e0"),
        F.max(F.when(F.col("late") == 0, F.col("qty"))).alias("q0"),
        F.max(F.when(F.col("late") == 1, F.col("ext_cents"))).alias("e1"),
        F.max(F.when(F.col("late") == 1, F.col("qty"))).alias("q1"),
    )
    return (
        sides.filter(
            "e0 IS NOT NULL AND e1 IS NOT NULL AND q0 > 0 AND q1 > 0 "
            "AND e0 > 0"
        )
        .select(
            "ptype",
            F.col("e0").cast("long").alias("early_cents"),
            F.col("q0").cast("long").alias("early_qty"),
            F.col("e1").cast("long").alias("late_cents"),
            F.col("q1").cast("long").alias("late_qty"),
            F.expr(
                "CAST(e1 * q0 * 1000000 div (q1 * e0) AS BIGINT)"
            ).alias("uvi_ppm"),
        )
        .orderBy("ptype")
    )


@query(
    "supplier_hhi_by_part_type",
    oracle="""
    WITH rev AS (
      SELECT p.p_type AS ptype, l.l_suppkey AS supp,
             CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT))
                  AS HUGEINT) AS cents
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      GROUP BY 1, 2
    ),
    tot AS (
      SELECT ptype, CAST(sum(cents) AS HUGEINT) AS total,
             CAST(count(*) AS BIGINT) AS n_suppliers
      FROM rev GROUP BY ptype
    )
    SELECT r.ptype,
           t.n_suppliers,
           CAST(t.total AS BIGINT) AS total_cents,
           CAST(sum(r.cents * r.cents * 1000000 // (t.total * t.total))
                AS BIGINT) AS hhi_ppm
    FROM rev r JOIN tot t ON t.ptype = r.ptype
    WHERE t.total > 0
    GROUP BY r.ptype, t.n_suppliers, t.total
    ORDER BY r.ptype
    """,
)
def supplier_hhi_by_part_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier market concentration per product category as the
    Herfindahl-Hirschman index: HHI = sum over suppliers of
    (revenue share)^2 — 1e6 ppm means a single-supplier category (the
    procurement risk flag), 1e6/n means perfectly split. The grouped
    sibling of the global HHI readout, per-cell exact: each supplier's
    share-square lands as ONE truncating division c^2 * 1e6 div T^2
    on decimal(38,0)/HUGEINT cross products (c*T can pass int64), then
    sums exactly — no float shares. Shape: broadcast part dim into the
    fact scan, one (type, supplier) groupBy with map-side combine, a
    type-keyed total join, bounded read-out."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    dec = "decimal(38,0)"
    rev = (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .groupBy(F.col("p_type").alias("ptype"), F.col("l_suppkey").alias("supp"))
        .agg(
            F.expr(
                "CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) "
                "AS decimal(38,0))"
            ).alias("cents")
        )
    )
    tot = rev.groupBy("ptype").agg(
        F.sum("cents").cast(dec).alias("total"),
        F.count(F.lit(1)).cast("long").alias("n_suppliers"),
    )
    return (
        rev.join(tot, "ptype")
        .filter(F.expr("total > 0"))
        .groupBy("ptype", "n_suppliers", "total")
        .agg(
            F.expr(
                "CAST(sum(cents * cents * 1000000 div (total * total)) "
                "AS BIGINT)"
            ).alias("hhi_ppm")
        )
        .select(
            "ptype",
            "n_suppliers",
            F.col("total").cast("long").alias("total_cents"),
            "hhi_ppm",
        )
        .orderBy("ptype")
    )


@query(
    "lineitem_returns_rate_monthly",
    oracle="""
    WITH m AS (
      SELECT CAST(year(l_shipdate) * 100 + month(l_shipdate) AS BIGINT)
               AS ship_month,
             CAST(count(*) AS BIGINT) AS n_lines,
             CAST(count(*) FILTER (WHERE l_returnflag = 'R') AS BIGINT)
               AS n_returned,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                    FILTER (WHERE l_returnflag = 'R') AS BIGINT)
               AS returned_cents
      FROM lineitem GROUP BY 1
    )
    SELECT ship_month, n_lines, n_returned,
           coalesce(returned_cents, 0) AS returned_cents,
           CAST(n_returned * 1000000 // n_lines AS BIGINT)
             AS return_rate_ppm
    FROM m ORDER BY ship_month
    """,
)
def lineitem_returns_rate_monthly(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Monthly returns-rate trend: share of shipped lines flagged
    returned plus the revenue at stake — the operational KPI behind
    'did the Q3 packaging change move returns', and the time-series
    the CUSUM/changepoint operators consume when the question is WHEN
    it moved. One map-side-combined month groupBy (calendar-bounded
    output) with conditional counts folded into the same pass; exact
    integer cents and one truncating ppm division per month."""
    li = load_table(spark, sf_dir, "lineitem")
    returned = F.col("l_returnflag") == "R"
    m = li.groupBy(
        (F.year("l_shipdate") * 100 + F.month("l_shipdate"))
        .cast("long")
        .alias("ship_month")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.count(F.when(returned, 1)).cast("long").alias("n_returned"),
        F.coalesce(
            F.sum(
                F.when(
                    returned,
                    F.expr("CAST(round(l_extendedprice * 100) AS BIGINT)"),
                )
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("returned_cents"),
    )
    return m.select(
        "ship_month",
        "n_lines",
        "n_returned",
        "returned_cents",
        F.expr("CAST(n_returned * 1000000 div n_lines AS BIGINT)").alias(
            "return_rate_ppm"
        ),
    ).orderBy("ship_month")
