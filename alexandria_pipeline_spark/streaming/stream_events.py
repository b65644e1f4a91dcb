"""Structured Streaming over the events table.

SURVEY §2.9: the reference's hand-rolled cursor/flush loop
(run.py:121-153 — whose checkpoint races its flush, §4.3.6) maps to
readStream + checkpointLocation + foreachBatch, where offset tracking
and exactly-once sink commits are engine-managed.

Batch-mode twins of these queries (operators/events.py) are the
oracle-checked versions; here the same logic runs through the
streaming engine with trigger(availableNow) so results are
deterministic and comparable. The parquet dir doubles as a file-stream
source (FIXTURES.md mapping note).
"""

from __future__ import annotations

import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from alexandria_pipeline_spark.catalog import (
    _ensure_event_time_confs,
    normalize_event_ts,
    read_parquet,
)
from alexandria_pipeline_spark.operators.relational_ext import (
    KMV_K,
    _KMV_A,
    _KMV_B,
    _KMV_M,
)
from alexandria_pipeline_spark.registry import query


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-stream sources monitor a DIRECTORY (new files = new data),
    so the single events.parquet file is staged into a landing dir via
    symlink — exactly how a live pipeline would tail a landing dir.
    The dir name is a stable function of sf_dir (NOT a fresh tempdir):
    a stream restarted from a checkpoint must see the same source
    path, or the recorded offsets refer to files that no longer
    exist."""
    import hashlib
    import os

    # Self-sufficient in a bare session (same contract as
    # catalog.load_table); callers may hit the stream path first.
    _ensure_event_time_confs(spark)

    tag = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:12]
    stage = os.path.join(tempfile.gettempdir(), f"apspark_stream_src_{tag}")
    os.makedirs(stage, exist_ok=True)
    link = os.path.join(stage, "events-0000.parquet")
    if not os.path.exists(link):
        os.symlink(os.path.abspath(f"{sf_dir}/events.parquet"), link)
    # File-stream sources need an explicit schema (no inference at
    # stream start). Hard-coding one broke when the generator switched
    # ts from timestamp[ns] to timestamp[us]; instead read the CURRENT
    # schema from the parquet footer so the stream always matches the
    # file (through the catalog's schema cache: a footer job only when
    # the file or the inference confs changed), then normalize ts the
    # same way the batch path does.
    schema = read_parquet(spark, f"{sf_dir}/events.parquet").schema
    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    return normalize_event_ts(raw)


def _run_to_memory(stream_df: DataFrame, output_mode: str) -> DataFrame:
    """Drain a stream with trigger(availableNow) into an in-memory
    table and return the final result. availableNow = process all
    currently-available input then stop — the batch-parity trigger
    (the reference's whole run loop is this trigger, hand-rolled)."""
    name = f"mem_{uuid.uuid4().hex[:12]}"
    ckpt = tempfile.mkdtemp(prefix="apspark_ckpt_")
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return stream_df.sparkSession.table(name)


@query(
    "stream_tumbling_counts",
    oracle="""
    SELECT
      (epoch_us(ts) // 1000000 // 3600) * 3600 AS window_start_s,
      event_type,
      count(*)             AS n_events,
      round(sum(value), 2) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def stream_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly tumbling-window aggregate executed BY THE STREAMING
    ENGINE (readStream → watermark → window agg → availableNow →
    memory sink). With all input available, the final complete-mode
    result equals the batch query — which is exactly what the oracle
    checks. At scale this query runs unchanged against a live file/
    Kafka source with the watermark bounding state eviction."""
    events = read_events_stream(spark, sf_dir)
    agg = (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
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
    return _run_to_memory(agg, "complete")


@query(
    "stream_session_window",
    oracle="""
    WITH flagged AS (
      SELECT
        user_id, ts, value,
        CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800 * 1000000
             OR lag(ts) OVER w IS NULL
             THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sessions AS (
      SELECT user_id, ts, value,
        sum(new_session) OVER (
          PARTITION BY user_id ORDER BY ts
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
        ) AS session_id
      FROM flagged
    )
    SELECT
      user_id,
      count(*)             AS n_events,
      round(sum(value), 2) AS sum_value
    FROM sessions
    GROUP BY user_id, session_id
    """,
)
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows computed BY THE STREAMING ENGINE:
    F.session_window(ts, 30 min) + watermark — Spark's stateful
    session assembly (merging windows as events arrive, evicting on
    watermark). With availableNow over a complete input the final
    sessions equal the batch gaps-and-islands result, so the oracle is
    the same SQL as events_session_window minus session ids (the
    engine's internal numbering isn't exposed) and timestamps (session
    bounds live in the window struct — dropped so the hash compares
    engine-independent columns)."""
    events = read_events_stream(spark, sf_dir)
    agg = (
        events.withWatermark("ts", "1 day")
        .groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select("user_id", "n_events", "sum_value")
    )
    return _run_to_memory(agg, "complete")


def stream_to_sharded_sink(
    spark: SparkSession, sf_dir: str, output_path: str, checkpoint_path: str
) -> None:
    """S6 done right: the reference flushed a buffer to
    embeddings_{batch_id}.pkl and THEN saved its cursor (run.py:148-153
    — a crash between the two re-embeds or loses up to 100 batches,
    SURVEY §4.3.6). foreachBatch + checkpointLocation makes the offset
    commit and the sink write one atomic unit: each micro-batch id is
    recorded only after its writer commits, so restart resumes exactly
    after the last durable batch."""
    events = read_events_stream(spark, sf_dir)
    enriched = events.withColumn("props_k", F.from_json("props", "k INT").getField("k"))

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.withColumn("batch_id", F.lit(batch_id))
            .write.mode("append")
            .option("maxRecordsPerFile", 100_000)
            .parquet(output_path)
        )

    q = (
        enriched.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


@query("stream_dedup_watermark")  # rows-only: which duplicate survives
def stream_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming dedup: dropDuplicatesWithinWatermark on
    (user_id, event_type) with a 1-day watermark — the streaming twin
    of events_dedup_keep_first. Surviving-row choice is arrival-order
    dependent, so the driver records the (deterministic) row count
    only."""
    events = read_events_stream(spark, sf_dir)
    deduped = events.withWatermark("ts", "1 day").dropDuplicatesWithinWatermark(
        ["user_id", "event_type"]
    )
    out = deduped.select("user_id", "event_type", "event_id")
    return _run_to_memory(out, "append")


@query(
    "stream_sliding_counts",
    oracle="""
    SELECT
      ((epoch_us(ts) // 1000000 // 900) - off) * 900 AS window_start_s,
      count(*)             AS n_events,
      round(sum(value), 2) AS sum_value
    FROM events
    CROSS JOIN (SELECT unnest(range(0, 2)) AS off)
    GROUP BY 1
    """,
)
def stream_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """30-minute windows sliding every 15 minutes, computed by the
    streaming engine (each event feeds 2 open windows' state). Oracle
    replicates the window/slide=2 fan-out explicitly."""
    events = read_events_stream(spark, sf_dir)
    agg = (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "30 minutes", "15 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start_s"),
            "n_events",
            "sum_value",
        )
    )
    return _run_to_memory(agg, "complete")


@query(
    "stream_stateful_user_stats",
    oracle="""
    SELECT
      user_id,
      count(*)             AS n_events,
      round(sum(value), 2) AS sum_value,
      count(DISTINCT event_type) AS n_types
    FROM events
    GROUP BY user_id
    """,
)
def stream_stateful_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSTOM stateful streaming operator via applyInPandasWithState:
    per-user running (count, sum, distinct-type set) maintained in
    GroupState across micro-batches — the escape hatch for stateful
    logic the built-in windowed aggregates can't express (the
    north-star names this API for custom stateful operators).

    Each batch updates the state and emits the user's CURRENT totals;
    with availableNow over one input file there is exactly one batch,
    so the final emission equals the batch group-by — which the oracle
    checks. At scale state is per-key (bytes per user), partitioned on
    user_id, and evicted via the processing-time timeout."""
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    events = read_events_stream(spark, sf_dir)

    def update(key, pdfs, state: GroupState):
        if state.exists:
            n, total, types = state.get
            types = set(types)
        else:
            n, total, types = 0, 0.0, set()
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
            types |= set(pdf["event_type"])
        state.update((n, total, sorted(types)))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "sum_value": [round(total, 2)],
                "n_types": [len(types)],
            }
        )

    out = events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id long, n_events long, sum_value double, n_types long",
        stateStructType="n long, total double, types array<string>",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return _run_to_memory(out, "update")


@query(
    "stream_interval_join",
    oracle="""
    SELECT
      c.event_id AS click_id,
      p.event_id AS purchase_id,
      c.user_id  AS user_id,
      epoch_us(p.ts) // 1000000 - epoch_us(c.ts) // 1000000 AS delay_s
    FROM events c
    JOIN events p
      ON c.user_id = p.user_id
     AND p.ts >= c.ts
     AND p.ts <= c.ts + INTERVAL 30 MINUTE
    WHERE c.event_type = 'click' AND p.event_type = 'purchase'
    """,
)
def stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM inner join: clicks joined to purchases by the same
    user within 30 minutes, executed by the streaming engine. Both
    sides carry watermarks and the join has a two-sided time bound, so
    state is evictable: Spark keeps only 30min+watermark of each side's
    history per user. This is the canonical attribution-join shape; at
    scale the same plan runs against two live Kafka topics. The oracle
    is the identical interval join in batch SQL."""
    clicks = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    purchases = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    joined = clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 30 MINUTE")),
    ).select(
        "click_id",
        "purchase_id",
        F.col("c_user").alias("user_id"),
        (
            F.expr("unix_micros(p_ts) div 1000000")
            - F.expr("unix_micros(c_ts) div 1000000")
        ).alias("delay_s"),
    )
    return _run_to_memory(joined, "append")


@query(
    "stream_static_enrich",
    oracle="""
    SELECT
      c_mktsegment AS segment,
      CAST(count(*) AS BIGINT) AS n_purchases,
      round(sum(value), 2)     AS total_value
    FROM events
    JOIN customer ON user_id = c_custkey
    WHERE event_type = 'purchase'
    GROUP BY c_mktsegment
    """,
)
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STATIC join: the purchase stream enriched against the
    static customer dimension (broadcast — no stream-side shuffle),
    then aggregated by market segment. The static side is re-read per
    micro-batch by the engine, so dimension updates between batches
    are picked up — the standard slowly-changing-dimension pattern.
    sum(value) is on a 2-decimal grid -> round(2) is exact in both
    engines."""
    from alexandria_pipeline_spark.catalog import load_table

    purchases = read_events_stream(spark, sf_dir).filter(
        F.col("event_type") == "purchase"
    )
    cust = F.broadcast(
        load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    )
    agg = (
        purchases.join(cust, purchases.user_id == cust.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )
    return _run_to_memory(agg, "complete")


@query(
    "stream_dq_monitor",
    oracle="""
    SELECT
      CAST(count(*) FILTER (WHERE event_type NOT IN
        ('click', 'view', 'purchase', 'signup', 'error')) AS BIGINT)
        AS domain_violations,
      CAST(count(*) FILTER (WHERE ts IS NULL) AS BIGINT)
        AS null_ts,
      CAST(count(*) FILTER (WHERE value < 0) AS BIGINT)
        AS negative_value,
      CAST(count(*) AS BIGINT) AS n_rows
    FROM events
    """,
)
def stream_dq_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONTINUOUS data-quality monitoring: the streaming twin of
    dq_constraint_check's per-table rules, run BY THE STREAMING ENGINE
    as a global conditional aggregate in complete mode — the
    violations dashboard a live ingest tails. State is one counter per
    rule (bytes, not rows), so the monitor runs unchanged against a
    live source at any volume; with availableNow over the full input
    the final totals equal the batch rule counts, which is what the
    oracle checks."""
    from alexandria_pipeline_spark.operators.quality import EVENT_TYPES

    events = read_events_stream(spark, sf_dir)

    def cnt(cond):
        return F.count(F.when(cond, 1))

    agg = events.agg(
        cnt(~F.col("event_type").isin(EVENT_TYPES)).alias("domain_violations"),
        cnt(F.col("ts").isNull()).alias("null_ts"),
        cnt(F.col("value") < 0).alias("negative_value"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    return _run_to_memory(agg, "complete")


@query(
    "stream_cdc_latest_state",
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
def stream_cdc_latest_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING twin of events_cdc_latest_state: the change feed is
    consumed by the streaming engine and compacted to latest-per-key
    with the same map-side-combining max(struct(...)) aggregate —
    streaming state is ONE struct per key (bounded by the key
    universe, not the change volume), updated incrementally per
    micro-batch. With all input available, complete-mode output equals
    the batch CDC query, which is what the oracle checks; against a
    live Kafka/file source this is the continuously-maintained MERGE
    target, no rewrite per batch."""
    events = read_events_stream(spark, sf_dir)
    latest = (
        events.groupBy("user_id", "event_type")
        .agg(F.max(F.struct("ts", "event_id", "value")).alias("m"))
        .select(
            "user_id",
            "event_type",
            F.col("m.event_id").alias("last_event_id"),
            F.round("m.value", 2).alias("last_value"),
            F.expr("unix_micros(m.ts) div 1000000").alias("last_ts_s"),
        )
    )
    return _run_to_memory(latest, "complete")


@query(
    "stream_percentile_binned",
    oracle=f"""
    WITH binned AS (
      SELECT CAST(round(value * 100) AS BIGINT) // {100} AS bin,
             CAST(count(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1
    ),
    cum AS (
      SELECT bin, cnt,
             sum(cnt) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS c,
             sum(cnt) OVER () AS n
      FROM binned
    )
    SELECT
      CAST(min(CASE WHEN c * 100 >= 50 * n THEN bin END) AS BIGINT) AS p50_bin,
      CAST(min(CASE WHEN c * 100 >= 95 * n THEN bin END) AS BIGINT) AS p95_bin,
      CAST(min(n) AS BIGINT) AS n_rows
    FROM cum
    """,
)
def stream_percentile_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming quantile monitoring via the SAME mergeable fixed-bin
    histogram agg_percentile_binned uses in batch — the whole point of
    choosing an associative sketch: the streaming state is just the
    per-bin counters, updated by ordinary partial aggregation each
    micro-batch (complete-mode groupBy bin), and the percentile
    read-out is a bin-count-bounded post-pass on the final state. No
    custom stateful operator needed; GK/t-digest would have required
    one AND broken oracle checkability. The oracle is the batch SQL —
    with all input consumed, final state must equal the batch answer
    ($1-wide bins over the event value)."""
    events = read_events_stream(spark, sf_dir)
    binned = events.groupBy(
        F.expr("CAST(round(value * 100) AS BIGINT) div 100").alias("bin")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    state = _run_to_memory(binned, "complete")
    # final-state read-out (batch DataFrame from the memory sink)
    w_cum = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.partitionBy()
    cum = state.select(
        "bin",
        F.sum("cnt").over(w_cum).alias("c"),
        F.sum("cnt").over(w_all).alias("n"),
    )
    pick = lambda q: F.min(  # noqa: E731
        F.when(F.col("c") * 100 >= q * F.col("n"), F.col("bin"))
    )
    return cum.agg(
        pick(50).alias("p50_bin"),
        pick(95).alias("p95_bin"),
        F.min("n").alias("n_rows"),
    )


# NOTE: a transformWithStateInPandas (Spark 4 StatefulProcessor) variant of
# the stateful operator was attempted and works API-wise, but the streaming
# Python runner it spawns requires google.protobuf, which is not importable
# in this environment (and installs are off-limits). applyInPandasWithState
# above covers the custom-stateful-operator surface; revisit if the
# environment gains protobuf.


@query(
    "stream_benford_digits",
    oracle="""
    SELECT substr(CAST(CAST(round(value * 100) AS BIGINT) AS VARCHAR), 1, 1) AS d,
           CAST(count(*) AS BIGINT) AS n
    FROM events
    WHERE value > 0
    GROUP BY 1
    ORDER BY d
    """,
)
def stream_benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-digit distribution of event values computed BY THE
    STREAMING ENGINE — the in-flight twin of the batch
    orders_benford_first_digit audit: a fraud/synthetic-data screen
    you keep running against the live feed, with per-digit counts as
    9-row streaming state (complete mode; the digit extraction is the
    same integer-cents string head, map-side in the micro-batch).
    With all input available the final result equals the batch GROUP
    BY, which is what the oracle checks."""
    events = read_events_stream(spark, sf_dir)
    agg = (
        events.filter(F.col("value") > 0)
        .select(
            F.substring(
                F.expr("CAST(CAST(round(value * 100) AS BIGINT) AS STRING)"), 1, 1
            ).alias("d")
        )
        .groupBy("d")
        .agg(F.count(F.lit(1)).alias("n"))
        .select("d", F.col("n").cast("long").alias("n"))
    )
    return _run_to_memory(agg, "complete").orderBy("d")


@query(
    "stream_hourly_heatmap",
    oracle="""
    SELECT CAST(dayofweek(ts) AS BIGINT) AS dow,
           CAST(hour(ts) AS BIGINT)      AS hod,
           CAST(count(*) AS BIGINT)      AS n_events
    FROM events
    GROUP BY 1, 2
    ORDER BY dow, hod
    """,
)
def stream_hourly_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dow x hod activity heatmap maintained BY THE STREAMING
    ENGINE: at most 168 rows of state (complete mode), updated per
    micro-batch — the always-on ops display whose batch twin is
    events_hourly_heatmap. Cross-engine note: Spark's dayofweek is
    1-Sunday while DuckDB's is 0-Sunday, so the stream emits
    dayofweek(ts) − 1 to match the oracle's 0-based numbering
    EXPLICITLY (an output key, unlike the join-key-only uses where
    the offset is invisible — the seasonal-residual convention)."""
    events = read_events_stream(spark, sf_dir)
    agg = (
        events.groupBy(
            (F.dayofweek("ts") - 1).cast("long").alias("dow"),
            F.hour("ts").cast("long").alias("hod"),
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select("dow", "hod", F.col("n_events").cast("long").alias("n_events"))
    )
    return _run_to_memory(agg, "complete").orderBy("dow", "hod")


@query(
    "stream_ewma_spike_flags",
    oracle="""
    WITH RECURSIVE per_hour AS (
      SELECT event_type,
             (epoch_us(ts) // 1000000 // 3600) * 3600 AS hour_s,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ),
    ranked AS (
      SELECT event_type, hour_s, n,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY hour_s) AS rn
      FROM per_hour
    ),
    rec AS (
      SELECT event_type, hour_s, n, rn,
             n AS ewma, CAST(NULL AS BIGINT) AS ewma_prior
      FROM ranked WHERE rn = 1
      UNION ALL
      SELECT r.event_type, r.hour_s, r.n, r.rn,
             (p.ewma + r.n) // 2 AS ewma, p.ewma
      FROM ranked r JOIN rec p
        ON p.event_type = r.event_type AND r.rn = p.rn + 1
    )
    SELECT event_type, CAST(hour_s AS BIGINT) AS hour_s,
           n AS n_events,
           coalesce(ewma_prior, -1) AS ewma_prior,
           CAST(CASE WHEN ewma_prior IS NULL THEN 0
                     ELSE CAST(n > 2 * ewma_prior AS INT) END AS INT)
             AS spike_flag
    FROM rec ORDER BY event_type, hour_s
    """,
)
def stream_ewma_spike_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming volume-spike monitor — the streaming twin of
    orders_ewma_daily's smoothing idea, maintained as CUSTOM state:
    per event type, an integer EWMA of hourly event counts
    (ewma' = (ewma + n) // 2, α=1/2 — division-free-exact in both
    engines) carried across micro-batches in applyInPandasWithState;
    each hour is flagged when its count exceeds 2× the EWMA of the
    hours BEFORE it (self-exclusive, so a spike can't suppress its
    own alarm). State is two integers per event type — constant bytes
    per key at any scale, the canonical shape for an always-on
    detector over a Kafka source. With availableNow over one input
    the per-type fold equals the oracle's recursive-CTE recurrence,
    which is what the value-hash checks."""
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    events = read_events_stream(spark, sf_dir)

    def update(key, pdfs, state: GroupState):
        if state.exists:
            ewma, last_hour = state.get
        else:
            ewma, last_hour = -1, -1
        counts: dict[int, int] = {}
        for pdf in pdfs:
            hours = (pdf["ts"].astype("int64") // 10**9 // 3600) * 3600
            for h, c in hours.value_counts().items():
                counts[int(h)] = counts.get(int(h), 0) + int(c)
        rows = []
        for h in sorted(counts):
            n = counts[h]
            if h <= last_hour:
                # Late/out-of-order hour across micro-batches: folding
                # it in would rewrite smoothed history (and the old
                # code even RESET the EWMA to the raw count). The EWMA
                # recurrence is defined over in-order hours only, so
                # drop the late hour — matching the oracle's ordered
                # recursive CTE under any batch split of the input.
                continue
            prior = ewma if ewma >= 0 else -1
            rows.append(
                {
                    "event_type": key[0],
                    "hour_s": h,
                    "n_events": n,
                    "ewma_prior": prior,
                    "spike_flag": int(prior >= 0 and n > 2 * prior),
                }
            )
            ewma = n if prior < 0 else (ewma + n) // 2
            last_hour = h
        state.update((int(ewma), int(last_hour)))
        yield pd.DataFrame(rows)

    out = events.groupBy("event_type").applyInPandasWithState(
        update,
        outputStructType=(
            "event_type string, hour_s long, n_events long, "
            "ewma_prior long, spike_flag int"
        ),
        stateStructType="ewma long, last_hour long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return _run_to_memory(out, "update").orderBy("event_type", "hour_s")


@query(
    "stream_kmv_distinct_users",
    oracle=f"""
    WITH hashed AS (
      SELECT DISTINCT event_type,
        ((user_id * {_KMV_A} + {_KMV_B}) % {_KMV_M} * {_KMV_A}
          + {_KMV_B}) % {_KMV_M} AS h
      FROM events
    ),
    ranked AS (
      SELECT event_type, h,
             row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n_exact_h
      FROM hashed
    )
    SELECT event_type,
           CAST(LEAST(n_exact_h, {KMV_K}) AS INT) AS k_used,
           CAST(CASE WHEN n_exact_h < {KMV_K} THEN n_exact_h
                     ELSE CAST({KMV_K} - 1 AS BIGINT) * {_KMV_M} // h
                END AS BIGINT) AS est_distinct
    FROM ranked
    WHERE rn = CASE WHEN n_exact_h < {KMV_K} THEN 1 ELSE {KMV_K} END
    ORDER BY event_type
    """,
)
def stream_kmv_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming distinct-user counting as MERGEABLE SKETCH STATE: per
    event type, the KMV sketch (k smallest values of the cross-engine
    LCG hash over user_id) is carried across micro-batches in
    applyInPandasWithState — each batch folds its new hashes into the
    sketch and re-emits the current estimate. This is the always-on
    cardinality monitor a 100-TB event pipeline runs where exact
    distinct is unaffordable: state is a FIXED {KMV_K} longs per key
    forever (vs. dropDuplicates' unbounded key set), and because the
    sketch is a pure min-merge, late or replayed data can only refine
    it — no ordering assumptions at all (unlike the EWMA monitor's
    in-order recurrence). The oracle recomputes the same estimator
    ((k-1)*M // h_k, exact below k) from the full table with the same
    integer hash, so the ESTIMATE itself is value-hash-checked, same
    contract as the batch twin agg_distinct_kmv."""
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    events = read_events_stream(spark, sf_dir)

    def update(key, pdfs, state: GroupState):
        ks: list[int] = list(state.get[0]) if state.exists else []
        s = set(ks)
        for pdf in pdfs:
            u = pdf["user_id"].astype("int64")
            h = ((u * _KMV_A + _KMV_B) % _KMV_M * _KMV_A + _KMV_B) % _KMV_M
            s.update(int(x) for x in h.unique())
        ks = sorted(s)[:KMV_K]
        state.update((ks,))
        if len(ks) < KMV_K:
            k_used, est = len(ks), len(ks)
        else:
            k_used, est = KMV_K, (KMV_K - 1) * _KMV_M // ks[KMV_K - 1]
        yield pd.DataFrame(
            [{"event_type": key[0], "k_used": k_used, "est_distinct": est}]
        )

    out = (
        events.select("event_type", "user_id")
        .groupBy("event_type")
        .applyInPandasWithState(
            update,
            outputStructType="event_type string, k_used int, est_distinct long",
            stateStructType="ks array<bigint>",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    return _run_to_memory(out, "update").orderBy("event_type")


def _tdiv2(x: int) -> int:
    """Halve with truncation toward ZERO: DuckDB's // truncates
    (-7 // 2 = -3) while Python's floors (-4); the Holt trend term
    goes negative on declining series, so the state fold must match
    the oracle's truncating semantics explicitly."""
    return x // 2 if x >= 0 else -((-x) // 2)


@query(
    "stream_holt_trend_flags",
    oracle="""
    WITH RECURSIVE per_hour AS (
      SELECT event_type,
             (epoch_us(ts) // 1000000 // 3600) * 3600 AS hour_s,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ),
    ranked AS (
      SELECT event_type, hour_s, n,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY hour_s) AS rn
      FROM per_hour
    ),
    rec AS (
      SELECT event_type, hour_s, n, rn,
             n AS l, CAST(0 AS BIGINT) AS b,
             CAST(NULL AS BIGINT) AS forecast_prior
      FROM ranked WHERE rn = 1
      UNION ALL
      SELECT r.event_type, r.hour_s, r.n, r.rn,
             (p.l + p.b + r.n) // 2 AS l,
             (((p.l + p.b + r.n) // 2 - p.l) + p.b) // 2 AS b,
             p.l + p.b
      FROM ranked r JOIN rec p
        ON p.event_type = r.event_type AND r.rn = p.rn + 1
    )
    SELECT event_type, CAST(hour_s AS BIGINT) AS hour_s,
           n AS n_events,
           coalesce(forecast_prior, -1) AS forecast_prior,
           CAST(CASE WHEN forecast_prior IS NULL THEN 0
                     ELSE CAST(n > 2 * forecast_prior AS INT) END AS INT)
             AS spike_flag
    FROM rec ORDER BY event_type, hour_s
    """,
)
def stream_holt_trend_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double-exponential smoothing (level + trend) as streaming
    state — the EWMA spike monitor's big brother for series with
    drift: a steadily-growing stream makes a level-only EWMA lag
    permanently and fire false spikes, while Holt's trend term b
    absorbs the slope. Integer recurrences with alpha = beta = 1/2:
    l' = (l + b + n) div 2, b' = ((l' - l) + b) div 2 (truncating
    division toward zero in BOTH engines — see _tdiv2; the trend term
    goes negative on declining series where floor and trunc differ).
    Each hour is flagged against the PRIOR forecast l + b, so a spike
    cannot suppress its own alarm; late hours are dropped, matching
    the ordered recursive-CTE oracle under any batch split. State is
    three integers per event type — constant bytes per key at any
    scale."""
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    events = read_events_stream(spark, sf_dir)

    def update(key, pdfs, state: GroupState):
        if state.exists:
            lvl, trend, last_hour = state.get
        else:
            lvl, trend, last_hour = -1, 0, -1
        counts: dict[int, int] = {}
        for pdf in pdfs:
            hours = (pdf["ts"].astype("int64") // 10**9 // 3600) * 3600
            for h, c in hours.value_counts().items():
                counts[int(h)] = counts.get(int(h), 0) + int(c)
        rows = []
        for h in sorted(counts):
            n = counts[h]
            if h <= last_hour:
                continue  # late hour: the recurrence is order-defined
            # init test is last_hour < 0 (hours are epoch seconds), NOT
            # lvl < 0: the Holt LEVEL can legitimately go negative on a
            # declining series, and a negative-level sentinel would
            # silently restart the recurrence mid-stream (caught when
            # the batch twin orders_holt_linear_trend hit real negative
            # levels on declining revenue).
            if last_hour < 0:
                prior, lvl, trend = -1, n, 0
                flag = 0
            else:
                f = lvl + trend
                prior = f
                flag = int(n > 2 * f)
                new_l = _tdiv2(f + n)
                trend = _tdiv2((new_l - lvl) + trend)
                lvl = new_l
            rows.append(
                {
                    "event_type": key[0],
                    "hour_s": h,
                    "n_events": n,
                    "forecast_prior": prior,
                    "spike_flag": flag,
                }
            )
            last_hour = h
        state.update((int(lvl), int(trend), int(last_hour)))
        yield pd.DataFrame(rows)

    out = events.groupBy("event_type").applyInPandasWithState(
        update,
        outputStructType=(
            "event_type string, hour_s long, n_events long, "
            "forecast_prior long, spike_flag int"
        ),
        stateStructType="l long, b long, last_hour long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return _run_to_memory(out, "update").orderBy("event_type", "hour_s")


# Closed-session assembly gap (seconds) — matches the batch session
# queries' 30-minute rule.
SESSION_GAP_S = 1800


@query(
    "stream_closed_sessions",
    oracle=f"""
    WITH seq AS (
      SELECT user_id, ts, event_id, epoch_us(ts) // 1000000 AS t_s,
             CASE WHEN epoch_us(ts) // 1000000
                       - lag(epoch_us(ts) // 1000000) OVER (
                           PARTITION BY user_id ORDER BY ts, event_id)
                       > {SESSION_GAP_S}
                  THEN 1 ELSE 0 END AS new_s
      FROM events
    ),
    isl AS (
      -- cumsum MUST use the same total order (ts, event_id) that
      -- produced new_s: ordering by t_s alone leaves same-second ties
      -- unspecified, a latent cross-run flake when a session boundary
      -- lands on a second holding 2+ events for one user.
      SELECT user_id, t_s,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM seq
    ),
    sess AS (
      SELECT user_id, sid,
             CAST(min(t_s) AS BIGINT) AS session_start_s,
             CAST(max(t_s) AS BIGINT) AS session_end_s,
             CAST(count(*) AS BIGINT) AS n_events,
             max(sid) OVER (PARTITION BY user_id) AS last_sid
      FROM isl GROUP BY user_id, sid
    )
    SELECT user_id, session_start_s, session_end_s, n_events
    FROM sess WHERE sid < last_sid
    ORDER BY user_id, session_start_s
    """,
)
def stream_closed_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CLOSED-session emission — the output contract of a real
    streaming sessionizer: a session is emitted exactly once, when a
    gap > {SESSION_GAP_S}s proves it over; each user's trailing
    still-open session stays IN STATE (constant per key: start,
    last-seen, count) and is never emitted — which is also why the
    oracle excludes each user's final island. This is the
    applyInPandasWithState face of what F.session_window does
    engine-side (stream_session_window): custom state buys the
    open/closed distinction and per-session immediate emission, the
    piece window aggregation in complete/update mode can't express.
    Late events (event time <= state's last-seen) are dropped, same
    order-defined contract as the Holt monitor; in-batch events are
    processed in event-time order so the recurrence is deterministic
    under any in-order batch split (two-batch test)."""
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    events = read_events_stream(spark, sf_dir)

    def update(key, pdfs, state: GroupState):
        if state.exists:
            start, last, n = state.get
        else:
            start, last, n = -1, -1, 0
        ts = []
        for pdf in pdfs:
            ts.extend(int(x) for x in pdf["ts"].astype("int64") // 10**9)
        rows = []
        for t in sorted(ts):
            if t <= last and last >= 0:
                # duplicate-or-late second: counts once per distinct
                # second would need dedup state; keep the simple
                # order-defined contract (count every in-order event,
                # drop regressions)
                if t == last:
                    n += 1
                continue
            if start < 0:
                start, last, n = t, t, 1
            elif t - last > SESSION_GAP_S:
                rows.append(
                    {
                        "user_id": key[0],
                        "session_start_s": start,
                        "session_end_s": last,
                        "n_events": n,
                    }
                )
                start, last, n = t, t, 1
            else:
                last, n = t, n + 1
        state.update((int(start), int(last), int(n)))
        yield pd.DataFrame(
            rows,
            columns=[
                "user_id",
                "session_start_s",
                "session_end_s",
                "n_events",
            ],
        )

    out = events.select("user_id", "ts").groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=(
            "user_id long, session_start_s long, session_end_s long, "
            "n_events long"
        ),
        stateStructType="start long, last long, n long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return _run_to_memory(out, "append").orderBy("user_id", "session_start_s")


@query(
    "stream_anomaly_run_monitor",
    oracle="""
    WITH RECURSIVE per_hour AS (
      SELECT event_type,
             (epoch_us(ts) // 1000000 // 3600) * 3600 AS hour_s,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ),
    ranked AS (
      SELECT event_type, hour_s, n,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY hour_s) AS rn
      FROM per_hour
    ),
    rec AS (
      SELECT event_type, hour_s, n, rn,
             n AS ewma, CAST(NULL AS BIGINT) AS ewma_prior
      FROM ranked WHERE rn = 1
      UNION ALL
      SELECT r.event_type, r.hour_s, r.n, r.rn,
             (p.ewma + r.n) // 2 AS ewma, p.ewma
      FROM ranked r JOIN rec p
        ON p.event_type = r.event_type AND r.rn = p.rn + 1
    ),
    flags AS (
      SELECT event_type, hour_s FROM rec
      WHERE ewma_prior IS NOT NULL AND n > 2 * ewma_prior
    ),
    maxp AS (
      SELECT event_type, max(hour_s) AS mx FROM per_hour GROUP BY 1
    ),
    isl AS (
      SELECT event_type, hour_s,
             hour_s // 3600
               - row_number() OVER (PARTITION BY event_type
                                    ORDER BY hour_s) AS grp
      FROM flags
    ),
    runs AS (
      SELECT event_type,
             CAST(min(hour_s) AS BIGINT) AS run_start_s,
             CAST(count(*) AS BIGINT) AS run_len,
             max(hour_s) AS run_end
      FROM isl GROUP BY event_type, grp
    )
    SELECT r.event_type, r.run_start_s, r.run_len
    FROM runs r JOIN maxp m ON m.event_type = r.event_type
    WHERE r.run_end < m.mx
    ORDER BY r.event_type, r.run_start_s
    """,
)
def stream_anomaly_run_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of events_anomaly_run_lengths' idea, emitted
    EXACTLY ONCE per incident: consecutive spike-flagged hours (the
    stream_ewma_spike_flags detector — n > 2x the EWMA of prior hours)
    are tracked as custom state and each run is emitted ONLY when a
    later in-order hour closes it (an unflagged hour, or a flagged
    hour that isn't start-of-run-adjacent). A run still extending at
    the data's edge stays open — unemitted — which is precisely what
    an always-on pager wants (you page on the CLOSED duration, you
    hold the open one); the oracle encodes the same semantics by
    dropping islands whose end is the type's max processed hour.
    State is four integers per event type (ewma, last_hour, run_start,
    run_len) — constant bytes per key at any scale. Late hours are
    dropped, matching the EWMA recurrence's ordered-fold contract."""
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    events = read_events_stream(spark, sf_dir)

    def update(key, pdfs, state: GroupState):
        if state.exists:
            ewma, last_hour, run_start, run_len = state.get
        else:
            ewma, last_hour, run_start, run_len = -1, -1, -1, 0
        counts: dict[int, int] = {}
        for pdf in pdfs:
            hours = (pdf["ts"].astype("int64") // 10**9 // 3600) * 3600
            for h, c in hours.value_counts().items():
                counts[int(h)] = counts.get(int(h), 0) + int(c)
        rows = []
        for h in sorted(counts):
            n = counts[h]
            if h <= last_hour:
                continue  # late hour: outside the ordered recurrence
            prior = ewma if ewma >= 0 else -1
            flagged = prior >= 0 and n > 2 * prior
            if run_len > 0:
                extends = flagged and h == last_hour + 3600
                if not extends:
                    rows.append(
                        {
                            "event_type": key[0],
                            "run_start_s": run_start,
                            "run_len": run_len,
                        }
                    )
                    run_start, run_len = -1, 0
            if flagged:
                if run_len == 0:
                    run_start = h
                    run_len = 1
                else:
                    run_len += 1
            ewma = n if prior < 0 else (ewma + n) // 2
            last_hour = h
        state.update((int(ewma), int(last_hour), int(run_start), int(run_len)))
        yield pd.DataFrame(
            rows, columns=["event_type", "run_start_s", "run_len"]
        )

    out = events.groupBy("event_type").applyInPandasWithState(
        update,
        outputStructType="event_type string, run_start_s long, run_len long",
        stateStructType=(
            "ewma long, last_hour long, run_start long, run_len long"
        ),
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return _run_to_memory(out, "append").orderBy("event_type", "run_start_s")
