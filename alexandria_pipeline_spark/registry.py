"""Query + oracle registry — the driver-contract surface.

Every implemented operator from SURVEY.md §2 registers here:
  - a callable (spark, sf_dir) -> DataFrame  (the Spark-native plan)
  - optionally an ANSI-SQL string DuckDB can run on the same Parquet
    tables (the correctness oracle). Omitted only for genuinely
    non-SQL-expressible ops (streaming state, approx sketches), which
    the driver checks rows-only.

Cross-engine determinism rules used throughout the query library:
  - every computed column is aliased identically in Spark and SQL
    (the driver sorts columns by name before hashing values);
  - non-associative float aggregates (sum/avg over double) are
    round()ed in BOTH engines so partial-aggregation order can't leak
    into the hash;
  - top-k / window rankings always carry a unique-key tiebreaker;
  - timestamps are emitted as epoch seconds or formatted strings,
    never raw timestamp values.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}

_REGISTERED = False

# --- persist lifecycle scope (r7 verdict #4) -------------------------
# Many sketch-style queries persist an intermediate (MinHash
# signatures, adjacency frames, ...) that the RETURNED DataFrame still
# references, so the query body cannot unpersist it — the cache must
# outlive the call so the caller's single materialization reuses it.
# Without a release contract those caches accumulate for the life of
# the session (a service-style caller grows storage monotonically).
# scoped_persist() records every such frame; callers that materialize
# results (sweep / bench / stress / CLI / driver harness) call
# release_persisted() after each query's action. For scoped_persist
# frames, release is safe even though downstream plans still reference
# them — Spark recomputes on any later reuse. scoped_release callbacks
# may free NON-recomputable storage (localCheckpoint blocks whose
# lineage is truncated), so the caller contract is release-after-done:
# call release_persisted() only once you are finished acting on the
# previous query's result.
_SCOPED: list[DataFrame] = []


def scoped_persist(df: DataFrame, level=None) -> DataFrame:
    """Persist an intermediate whose lifetime must extend past the
    query function's return (the result plan references it), and
    record it for registry-level release. `level=None` keeps
    DataFrame.persist()'s default storage level."""
    df = df.persist(level) if level is not None else df.persist()
    _SCOPED.append(df)
    return df


def env_int(name: str, default: int) -> int:
    """Integer value of env var `name`, or `default` when it is unset,
    empty or malformed — a bad measurement override falls back with a
    stderr message instead of failing the query that reads it."""
    import os
    import sys

    v = os.environ.get(name, "").strip()
    try:
        return int(v) if v else default
    except ValueError:
        print(f"{name}={v!r} is not an integer; using {default}", file=sys.stderr)
        return default


def env_flag(name: str) -> bool:
    """Boolean value of env var `name`: unset, empty, `0`, `false`,
    `no` and `off` (any case) are False, anything else True."""
    import os

    v = os.environ.get(name, "").strip().lower()
    return v not in ("", "0", "false", "no", "off")


def persist_if_source_large(
    df: DataFrame, sf_dir: str, table: str = "documents",
    min_bytes: int = 256 * 1024 * 1024,
) -> DataFrame:
    """Scale-gated scoped_persist (r13, verdict #7 — the at-scale twin
    of the r8/ccnet/bm25 'cheaper-to-replay' rule): persist a shared
    subtree ONLY when its source table is big enough that replaying the
    subtree per consumer costs more than the cache materialization
    barrier. Below the gate the frame is returned unpersisted and the
    parallel replays win (measured repeatedly at sf0.1: ccnet persist
    1.72→2.88 s, bm25 dl/tf +0.67 s, rake ph +0.5 s).

    The gate operand is the source table's ON-DISK parquet bytes — a
    free os.stat walk, deterministic, and proportional to the work a
    replay re-does (unlike a row-count job, it costs no Spark action).
    Default threshold 256 MiB ≈ 2.5e6 docs at this corpus's density —
    an order of magnitude above the largest scale where replay has
    been MEASURED cheaper (sf1, ~6 MB/50 k docs), and two below the
    ~10^7-doc point the r12 analysis called for the persist."""
    import os

    src = os.path.join(sf_dir, f"{table}.parquet")
    size = 0
    try:
        if os.path.isdir(src):
            for root, _dirs, files in os.walk(src):
                size += sum(
                    os.stat(os.path.join(root, f)).st_size for f in files
                )
        else:
            size = os.stat(src).st_size
    except OSError:
        return df  # unstatable source (fixture-injected tables): inline
    return scoped_persist(df) if size >= min_bytes else df


def scoped_release(callback: Callable[[], None]) -> None:
    """Record an arbitrary release callback for storage that
    DataFrame.unpersist can't reach — e.g. the RDD-level blocks of a
    localCheckpoint an iterative query's RESULT still references
    (connected components). Runs at the next release_persisted()."""
    _SCOPED.append(callback)


def release_persisted() -> int:
    """Release every frame/callback recorded since the last release;
    returns how many were released. Called by materializing callers
    (oracle sweep, bench, stress runner, CLI) after each query's
    action so session storage stays flat across a long run.
    Idempotent: double-unpersist is a Spark no-op."""
    n = 0
    while _SCOPED:
        item = _SCOPED.pop()
        try:
            if callable(item):
                item()
            else:
                # blocking (r12): the default async unpersist let block
                # eviction bleed into the NEXT query's timed window —
                # the release-outside-the-timed-span contract (r7
                # verdict #4) only holds if the release actually
                # completes outside it.
                item.unpersist(blocking=True)
        except Exception:  # noqa: BLE001 - a dead session must not stop release
            pass
        n += 1
    return n


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Decorator: register a query, optionally with its DuckDB oracle."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name: {name}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def register_all() -> None:
    """Import every operator module for its registration side effects."""
    global _REGISTERED
    if _REGISTERED:
        return
    # Imports deferred so `import alexandria_pipeline_spark` stays cheap.
    from alexandria_pipeline_spark.operators import (  # noqa: F401
        anomaly,
        bloom,
        relational,
        relational_ext,
        tpch_full,
        windows,
        events,
        pipeline,
        dedup,
        similarity,
        text_analysis,
        multimodal,
        graph,
        curation,
        packing,
        quality,
        retrieval,
        maintenance,
        stats,
        skew,
    )
    from alexandria_pipeline_spark.sources.text_formats import (
        register_text_format_queries,
    )
    from alexandria_pipeline_spark.streaming import stream_events  # noqa: F401

    register_text_format_queries()
    _REGISTERED = True
