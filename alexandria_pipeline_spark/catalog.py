"""Table loading over the driver testdata star schema.

Reference analog: the reference materializes whole Parquet files into
pandas (`run.py:20-21`, `process.py:64-67`); here every load is a lazy
Parquet scan so Catalyst gets column pruning + predicate pushdown for
free and nothing is materialized until an action runs.

Schema cache: a bare `spark.read.parquet` launches one Spark job to
read the file footers before it returns, and every builder calls
`load_table` at least once. `read_parquet` keeps one process-wide map
from (stat digest of the path, schema-inference confs) to the inferred
schema and, on a hit, hands it to `spark.read.schema(...)`, which runs
no job. Freshness is the same stat rule the written-once relations use
(`stat_digest`: absolute path, size and mtime_ns of every part file):
Parquet writers never mutate a part file in place, so any rewrite of
the path changes the digest and the next read infers again. The confs
are part of the key because they change the schema inferred from the
very same bytes (nanosAsLong turns timestamp[ns] into bigint,
inferTimestampNTZ turns timestamp[us] no-tz into TIMESTAMP_NTZ, ...);
a schema inferred under one setting must never be served under
another. A path that cannot be stat'ed (a non-local filesystem) is a
miss on every call.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructType

from alexandria_pipeline_spark.registry import env_flag

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

# Dimension tables small enough to broadcast at ANY scale factor — a
# region/nation table never grows with the fact data, so joins against
# them must always be broadcast-hash, never shuffle.
BROADCAST_DIMS = {"region", "nation"}

# Session confs that change the schema Spark infers from a Parquet
# footer; their values are part of the schema-cache key.
_SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.caseSensitive",
)
_SCHEMAS: dict[tuple, StructType] = {}


def stat_digest(path: str) -> str:
    """Stat-digest of a parquet path (file or directory of parts):
    absolute path, then (relative path, size, mtime_ns) per file in a
    sorted walk. Any rewrite changes mtime_ns, so a digest never
    matches a regenerated file. Raises OSError when the path cannot be
    stat'ed."""
    h = hashlib.sha256()
    h.update(os.path.abspath(path).encode())
    if os.path.isdir(path):
        for root, _dirs, files in sorted(os.walk(path)):
            for name in sorted(files):
                p = os.path.join(root, name)
                st = os.stat(p)
                h.update(
                    f"{os.path.relpath(p, path)}:{st.st_size}:{st.st_mtime_ns}".encode()
                )
    else:
        st = os.stat(path)
        h.update(f"{st.st_size}:{st.st_mtime_ns}".encode())
    return h.hexdigest()[:24]


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Lazy Parquet scan of `path` that runs no footer job when the
    schema cache holds the schema for the path's current stat digest
    under the session's current schema-inference confs (see the module
    docstring). A miss reads as `spark.read.parquet` and stores the
    inferred schema."""
    try:
        key = (stat_digest(path), tuple(spark.conf.get(k) for k in _SCHEMA_CONFS))
    except OSError:
        key = None
    schema = _SCHEMAS.get(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    if key is not None:
        _SCHEMAS[key] = df.schema
    return df


def _ensure_event_time_confs(spark: SparkSession) -> None:
    """Confs the events table needs, set at RUNTIME, not only in our
    session factory: callers (the correctness driver, a notebook,
    spark-submit) construct their own SparkSession and never see
    session.py, so every read path must be self-sufficient in a bare
    session.

    - nanosAsLong: a timestamp[ns] parquet column is only readable as a
      raw int64 with this on (Spark rejects TIMESTAMP(NANOS) otherwise).
      Runtime-settable and behavior-neutral for non-ns files.
    - session timezone is deliberately NOT touched (it was pinned to UTC
      here through round 6): normalize_event_ts is now timezone-
      independent, so a foreign session's timeZone survives loading
      events. BUT: registered queries that extract calendar fields
      (date/hour) from events.ts — DAU/stickiness, retention, changepoint,
      partition-skew, cohorts — resolve those fields in the SESSION
      timezone while the DuckDB oracle is naive-UTC, so oracle-checked
      results for event-time queries are only guaranteed under a UTC
      session. Default behavior is a warning (exploratory use in a local
      timezone is legitimate); the correctness paths (oracle sweep,
      bench, driver) set SPARK_GRAFT_REQUIRE_UTC=1 which upgrades the
      mismatch to a hard error so a silent divergence cannot ship.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    tz = spark.conf.get("spark.sql.session.timeZone", None)
    if tz not in (None, "UTC", "Etc/UTC", "GMT"):
        msg = (
            f"session timeZone is {tz!r}; events.ts is normalized to UTC "
            f"instants regardless, but date/hour extractions over it "
            f"resolve in {tz!r} while the oracle assumes UTC."
        )
        if env_flag("SPARK_GRAFT_REQUIRE_UTC"):
            raise RuntimeError(
                msg + " SPARK_GRAFT_REQUIRE_UTC is set: refusing to run "
                "oracle-checked event-time queries in a non-UTC session; "
                'set spark.sql.session.timeZone to "UTC".'
            )
        import warnings

        warnings.warn(msg, stacklevel=3)


def normalize_event_ts(df: DataFrame, col: str = "ts") -> DataFrame:
    """Normalize the event-time column to TIMESTAMP (UTC instant),
    whatever physical type the testdata generator chose this round:

    - int64 ns-since-epoch (timestamp[ns] + nanosAsLong) → integer
      division to µs, then timestamp_micros. Integer division because
      ns-since-epoch (~1.7e18) exceeds double's 53-bit mantissa; float
      division would corrupt the low microseconds.
    - TIMESTAMP_NTZ (timestamp[us], no UTC flag) → field decomposition
      to epoch-µs, then timestamp_micros. A plain cast would interpret
      the wall clock in the SESSION timezone (requiring a global UTC
      pin, the round-6 behavior); unix_date/hour/minute/date_part on an
      NTZ value are pure field extractions, so this is exact in ANY
      session timezone — verified equal to the raw parquet int64 µs
      under an America/New_York session.
    - TIMESTAMP → already an instant; passthrough.

    Every downstream operator (unix_micros, windows, watermarks, as-of
    joins) sees one stable type regardless of the source file's choice.
    """
    dt = dict(df.dtypes).get(col)
    if dt == "bigint":
        return df.withColumn(col, F.expr(f"timestamp_micros({col} div 1000)"))
    if dt == "timestamp_ntz":
        return df.withColumn(
            col,
            F.expr(
                f"timestamp_micros("
                f"cast(unix_date(cast({col} as date)) as bigint) * 86400000000"
                f" + cast(hour({col})*3600 + minute({col})*60 as bigint)*1000000"
                f" + cast(date_part('SECOND', {col})*1000000 as bigint))"
            ),
        )
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Lazily read one testdata table; events.ts is normalized to a
    UTC-instant TIMESTAMP across all physical encodings the generator
    has shipped (int64 ns, timestamp[ns], timestamp[us] NTZ,
    timestamp[us] UTC) — see normalize_event_ts. The caller's session
    timezone is left untouched (round-7 change; the NTZ path no longer
    needs a UTC pin).

    The scan goes through read_parquet's schema cache: a repeat load of
    an unchanged file under unchanged inference confs runs no Spark job,
    and normalize_event_ts reads the dtype from the cached schema. A
    rewritten file (new size or mtime_ns of any part) or a changed conf
    (events sets nanosAsLong first) is a miss and infers afresh, so a
    stale schema is never served.

    Also ships the package zip to executors on first use of any session
    (ensure_package_on_executors): every pandas-UDF operator downstream
    needs `alexandria_pipeline_spark` importable on worker Python, and
    foreign sessions (the correctness driver, the sweep run from another
    cwd) never go through session.get_spark."""
    from .session import ensure_package_on_executors

    ensure_package_on_executors(spark)
    if name == "events":
        _ensure_event_time_confs(spark)
    df = read_parquet(spark, f"{sf_dir}/{name}.parquet")
    if name == "events":
        df = normalize_event_ts(df)
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def spread_to_cores(df: DataFrame) -> DataFrame:
    """Round-robin repartition to cluster parallelism, but ONLY if the
    frame is currently narrower — a no-op on a real cluster where the
    scan is already wide, essential on the local fixtures where a
    ~10 MB single-row-group parquet scans as ONE partition and a
    downstream CPU-heavy scorer (e.g. a 64-float interpreted dot fold
    per candidate pair) would serialize on one core (measured: 43 s
    single-core vs ~2 s spread for knn_label_eval at the sf1 stress).
    The byte-based knobs (maxPartitionBytes, AQE advisory sizes) size
    partitions by DATA volume and cannot see CPU-per-row, so the
    spread is an explicit plan-time decision gated on the actual
    partition count."""
    sc = df.sparkSession.sparkContext
    p = sc.defaultParallelism
    if df.rdd.getNumPartitions() < p:
        return df.repartition(p)
    return df
