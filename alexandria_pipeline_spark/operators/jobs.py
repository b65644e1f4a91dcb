"""End-to-end job entry points — the reference's three CLI scripts as
callable, composable Spark jobs (what a user of the reference actually
runs, as opposed to individual operators).

  run_embedding_job        <- python run.py --type {title|abstract}
                              (run.py:71-156)
  run_chunked_embedding_job<- python run_extra.py (run_extra.py:109-215)
  run_consolidation_job    <- python process.py (process.py:131-200)

Differences from the reference, by design (SURVEY §4.3):
  - no (batch_id, line_num) checkpoint cursor: batch jobs rely on
    Spark lineage/task-retry; incremental runs use the missing-ids
    anti-join (idempotent) instead of a resume offset whose skip logic
    was broken in the reference (§4.3.1);
  - no tail loss: Spark processes every row (§4.3.2's 4,198 dropped
    rows cannot happen);
  - alignment is a keyed join, not positional zip (§4.3.3/4);
  - run metadata (params.txt, run.py:104-114) becomes a JSON sidecar
    written once per job.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from alexandria_pipeline_spark.catalog import load_table
from alexandria_pipeline_spark.functions.featurizer import embed_pandas_udf, featurize
from alexandria_pipeline_spark.sources.parquet import write_sharded

DEFAULT_ROWS_PER_SHARD = 100_000  # process.py:55


def _write_run_metadata(path: str, params: dict) -> None:
    """S9 run-metadata sink (params.txt analog, run.py:109-114)."""
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, "_run_params.json"), "w") as f:
        json.dump(params, f, indent=2, sort_keys=True)


def run_embedding_job(
    spark: SparkSession,
    sf_dir: str,
    output_path: str,
    text_col: str = "text",
    use_pandas_udf: bool = False,
    limit: int | None = None,
    rows_per_shard: int = DEFAULT_ROWS_PER_SHARD,
) -> DataFrame:
    """§3.1 run.py as ONE lazy plan: scan → project/rename (P1) →
    embed (M7) → sharded sink (S5/S6).

    use_pandas_udf toggles the Arrow-batched UDF path (the real-model
    seam) vs the codegen featurizer — identical outputs, verified in
    tests. `limit` is the --test crop flag (P3, run.py:23-24)."""
    d = load_table(spark, sf_dir, "documents")
    if limit is not None:
        d = d.limit(limit)
    embed = embed_pandas_udf(text_col) if use_pandas_udf else featurize(text_col)
    result = d.select(
        F.col("doc_id").alias("id"),
        F.col(text_col).alias("content"),
        embed.alias("embedding"),
    )
    write_sharded(result, output_path, rows_per_shard=rows_per_shard)
    _write_run_metadata(
        output_path,
        {
            "job": "embedding",
            "source": sf_dir,
            "text_col": text_col,
            "rows_per_shard": rows_per_shard,
            "use_pandas_udf": use_pandas_udf,
        },
    )
    return spark.read.parquet(output_path)


def run_incremental_embedding_job(
    spark: SparkSession,
    sf_dir: str,
    output_path: str,
    text_col: str = "text",
) -> DataFrame:
    """The resume story done right: instead of a positional cursor
    (run.py:121 — which never actually skipped, §4.3.1), diff the
    source against the sink with a left-anti join on the key and embed
    only the missing rows. Idempotent under any crash point; append
    commits are atomic per task. This is also §3.3's missing-ids
    reconciliation (process.py:69-117) as an *operation*, not a
    post-mortem."""
    d = load_table(spark, sf_dir, "documents")
    try:
        done = spark.read.parquet(output_path).select(F.col("id").alias("doc_id"))
    except Exception:  # first run: nothing processed yet
        done = None
    todo = d if done is None else d.join(done, "doc_id", "left_anti")
    result = todo.select(
        F.col("doc_id").alias("id"),
        F.col(text_col).alias("content"),
        featurize(text_col).alias("embedding"),
    )
    result.write.mode("append").parquet(output_path)
    return spark.read.parquet(output_path)


def run_chunked_embedding_job(
    spark: SparkSession,
    sf_dir: str,
    output_path: str,
) -> DataFrame:
    """§3.2 run_extra.py: chunk → embed → length-weighted mean pool →
    sharded sink. Reuses the chunk_embed_pool operator plan, then
    reassembles its exploded (doc_id, dim, v) exchange rows into the
    array-per-doc product format the parquet sink ships. The chunk width
    is the pool's CHUNK_TOKENS, which the sidecar records."""
    from alexandria_pipeline_spark.operators.pipeline import (
        CHUNK_TOKENS,
        chunk_embed_pool,
    )

    pooled = (
        chunk_embed_pool(spark, sf_dir)
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list(F.struct("dim", "v"))).alias("dv"))
        .select(
            "doc_id", F.transform("dv", lambda s: s["v"]).alias("embedding")
        )
    )
    write_sharded(pooled, output_path)
    _write_run_metadata(
        output_path,
        {"job": "chunked_embedding", "source": sf_dir, "chunk_tokens": CHUNK_TOKENS},
    )
    return spark.read.parquet(output_path)


def run_consolidation_job(
    spark: SparkSession,
    titles: DataFrame,
    abstracts: DataFrame,
    output_path: str,
    title_weight: float = 0.2,
) -> DataFrame:
    """§3.3 process.py: verify alignment (J3, done as a real full-outer
    null check), merge title+abstract embeddings (J1 + M9 scaled
    concat), write sharded. Inputs are DataFrames with (id, embedding)
    so the job composes with either embedding job above."""
    t = titles.select(F.col("id"), F.col("embedding").alias("t_emb"))
    a = abstracts.select(F.col("id"), F.col("embedding").alias("a_emb"))

    misaligned = (
        t.join(a, "id", "full_outer")
        .filter(F.col("t_emb").isNull() | F.col("a_emb").isNull())
        .count()
    )
    if misaligned:
        raise ValueError(f"alignment check failed: {misaligned} unmatched ids")

    merged = t.join(a, "id").select(
        "id",
        F.concat(
            F.transform("t_emb", lambda x: x * title_weight),
            F.transform("a_emb", lambda x: x * (1.0 - title_weight)),
        ).alias("embedding"),
    )
    write_sharded(merged, output_path)
    _write_run_metadata(
        output_path, {"job": "consolidation", "title_weight": title_weight}
    )
    return spark.read.parquet(output_path)


def run_upsert_job(
    spark: SparkSession,
    updates: DataFrame,
    output_path: str,
    key: str = "id",
    version_col: str | None = None,
) -> DataFrame:
    """Keyed upsert into a Parquet sink (MERGE semantics without a
    table format): union existing + updates, keep one row per key —
    the newest by version_col if given, else prefer the incoming row.

    Plain Parquet has no row-level transactions, so upsert is
    read-union-dedupe-rewrite into a staging dir, then a swap done
    with sibling-directory os.rename calls: staging lives NEXT TO
    output_path (same filesystem — rename stays atomic, never a copy),
    the old sink is renamed aside before the new one moves in, and the
    old copy is deleted only after the new dir is in place. The one
    remaining crash window (between the two renames) leaves the data
    recoverable in the `.old` dir rather than destroyed; a true
    all-or-nothing swap needs a table format — on Delta/Iceberg this
    whole function becomes MERGE INTO with the same plan shape
    (anti-join + union under the hood). Rewrite cost is bounded by
    partitioning the sink and rewriting only partitions containing
    updated keys."""
    import os
    import shutil

    try:
        existing = spark.read.parquet(output_path)
        existing = existing.select(*updates.columns)  # align column order
    except Exception:
        existing = None

    tagged_new = updates.withColumn("_src", F.lit(1))
    if existing is None:
        merged = tagged_new
    else:
        merged = existing.withColumn("_src", F.lit(0)).unionByName(tagged_new)

    from pyspark.sql import Window

    order = (
        [F.desc(version_col), F.desc("_src")] if version_col else [F.desc("_src")]
    )
    w = Window.partitionBy(key).orderBy(*order)
    deduped = (
        merged.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_src")
    )

    # Sibling staging dir => same filesystem => os.rename is atomic.
    staging = f"{output_path.rstrip('/')}.staging"
    old = f"{output_path.rstrip('/')}.old"
    shutil.rmtree(staging, ignore_errors=True)
    shutil.rmtree(old, ignore_errors=True)
    deduped.write.mode("overwrite").parquet(staging)
    if os.path.exists(output_path):
        os.rename(output_path, old)
    os.rename(staging, output_path)
    shutil.rmtree(old, ignore_errors=True)
    return spark.read.parquet(output_path)


def run_range_partitioned_sink(
    spark: SparkSession,
    df: DataFrame,
    output_path: str,
    key: str,
    num_ranges: int = 8,
) -> DataFrame:
    """Range-partitioned SORTED parquet sink: repartitionByRange(key) +
    sortWithinPartitions(key) before the write, so (a) each output
    file covers a disjoint key range, (b) rows within every file are
    key-ordered, and (c) parquet min/max column stats per file become
    perfect pruning indexes — a reader with a key predicate touches
    exactly one range file instead of all of them. This is the layout
    step a 100 TB corpus runs ONCE so that every later keyed read
    (resume-from-offset, as-of backfills, range scans) prunes at the
    file level; the analog of clustering/Z-ordering in table formats.

    repartitionByRange samples the key distribution to place balanced
    split points, so skewed keys still yield even file sizes — the
    property a modulo-hash layout can't give you."""
    (
        df.repartitionByRange(num_ranges, F.col(key))
        .sortWithinPartitions(key)
        .write.mode("overwrite")
        .parquet(output_path)
    )
    return spark.read.parquet(output_path)


def _zvalue(a, b, bits: int = 16):
    """Morton (Z-order) interleave of two non-negative int columns'
    low `bits` bits: z = Σ_i (a_i << 2i) | (b_i << 2i+1). Built as a
    sum of 2·bits JVM-side bit expressions — whole-stage-codegen, no
    UDF."""
    z = F.lit(0).cast("long")
    for i in range(bits):
        z = (
            z
            + F.call_function(
                "shiftleft",
                F.call_function("shiftright", a.cast("long"), F.lit(i))
                .bitwiseAND(F.lit(1).cast("long")),
                F.lit(2 * i),
            )
            + F.call_function(
                "shiftleft",
                F.call_function("shiftright", b.cast("long"), F.lit(i))
                .bitwiseAND(F.lit(1).cast("long")),
                F.lit(2 * i + 1),
            )
        )
    return z


def run_zorder_sink(
    spark: SparkSession,
    df: DataFrame,
    output_path: str,
    key_a: str,
    key_b: str,
    num_files: int = 16,
    bits: int = 16,
) -> DataFrame:
    """Z-ORDER clustered parquet layout: rows are range-partitioned and
    sorted by the Morton interleave of TWO keys, so each output file
    covers a small square-ish region of the (key_a, key_b) plane and
    its parquet min/max stats stay tight on BOTH columns — a predicate
    on either key (or a 2-D box) prunes most files at the footer.
    Plain single-key range clustering gives perfect pruning on one
    column and none on the other; Z-order trades a little of the first
    for most of the second — the standard multi-dim layout in lakehouse
    table formats, here from pure DataFrame primitives.

    Keys are clamped into [0, 2^bits) by masking their low bits, which
    preserves locality for keys already in that range (the caller
    scales/offsets otherwise)."""
    mask = (1 << bits) - 1
    z = _zvalue(
        F.col(key_a).bitwiseAND(F.lit(mask)),
        F.col(key_b).bitwiseAND(F.lit(mask)),
        bits,
    )
    (
        df.withColumn("_z", z)
        .repartitionByRange(num_files, F.col("_z"))
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode("overwrite")
        .parquet(output_path)
    )
    return spark.read.parquet(output_path)


def run_restatement_job(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    start_day: str,
    end_day: str,
) -> dict:
    """Partition RESTATEMENT: recompute a closed date range of the
    day-partitioned events export and replace ONLY those partitions,
    leaving every other day's files byte-untouched — the
    late-data/bug-backfill operation every lakehouse pipeline needs
    (reference analog: rerunning run.py over a shard subset, which
    rewrote everything it touched without isolation).

    Mechanics: dynamic partition overwrite
    (spark.sql.sources.partitionOverwriteMode=dynamic, set ONLY for
    this write and restored after) with the recomputed range written
    in mode('overwrite') — Spark then drops exactly the partitions
    present in the incoming frame. Idempotent by construction: a
    repeated restatement of the same range produces identical
    partition contents; counts are returned for audit."""
    from alexandria_pipeline_spark.catalog import load_table

    e = load_table(spark, sf_dir, "events")
    day = F.date_format(F.col("ts").cast("date"), "yyyy-MM-dd")
    full = e.select(
        "event_id", "user_id", "event_type", "value", day.alias("day")
    )
    window = full.filter(
        (F.col("day") >= start_day) & (F.col("day") <= end_day)
    )
    n_restated = window.count()
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        window.write.partitionBy("day").mode("overwrite").parquet(out_dir)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    return {
        "rows_restated": n_restated,
        "start_day": start_day,
        "end_day": end_day,
    }

