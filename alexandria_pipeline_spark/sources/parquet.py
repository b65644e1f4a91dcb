"""Parquet sources/sinks re-expressing the reference's pickle-shard
dataset (SURVEY §2.1 S3-S8).

The reference shards output as `embeddings_{i}.pkl` with 100k rows per
shard, recovering global order by parsing shard ids from filenames
(process.py:26-62, join.py:5-41). Here a sharded dataset is a plain
partitioned Parquet directory:

  - fixed rows-per-file via `maxRecordsPerFile` (S5's 100k contract,
    process.py:55) — the writer splits files without a repartition;
  - ordering is DATA, not filename convention: an explicit `shard_id`
    column written with the rows (O1's numeric filename sort,
    process.py:33, becomes `orderBy(shard_id, row_in_shard)`);
  - resume/checkpointing is engine-managed (lineage + task retry, or
    streaming checkpointLocation) instead of the reference's
    `(batch_id, line_num)` pickle whose cursor races its flush
    (SURVEY §4.3.1/§4.3.6).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from alexandria_pipeline_spark.functions.banded import running_sums

DEFAULT_ROWS_PER_SHARD = 100_000  # process.py:55


def number_by_order(df: DataFrame, order_col: str) -> tuple[DataFrame, DataFrame]:
    """Global 0-based row numbers by order_col WITHOUT a global sort.

    repartitionByRange spreads the total order across partitions, so
    the partition id is a band that rises with order_col, and the
    numbering is functions/banded.running_sums over it: per-partition
    counts become offsets in-plan, with no driver action. The ranged
    frame is persisted so the range boundaries sampled for the counts
    and for the numbering are the same ones. order_col must be unique
    for the numbering to be deterministic (true of every id column in
    this repo); ties would be nondeterministic under ANY
    global-numbering scheme, including the naive global window.

    Returns (numbered_df, persist_handle): the caller unpersists the
    handle after its terminal action — the persist must stay alive
    until then so both reads of the ranged frame see one partitioning."""
    ranged = (
        df.repartitionByRange(F.col(order_col))
        .sortWithinPartitions(order_col)
        .withColumn("_pid", F.spark_partition_id())
    )
    ranged.persist()
    numbered = running_sums(ranged, "_pid", [order_col], {"_rn": F.lit(1)})
    return numbered.select(*df.columns, (F.col("_rn") - 1).alias("_rn")), ranged


def write_sharded(
    df: DataFrame,
    path: str,
    rows_per_shard: int = DEFAULT_ROWS_PER_SHARD,
    order_col: str | None = None,
) -> None:
    """S5/S6 sink: bounded-size Parquet shards.

    If order_col is given, rows get explicit (shard_id, row_in_shard)
    columns computed from a global ordering — the keyed replacement
    for the reference's filename-encoded order — via the range-
    partitioned numbering in number_by_order (no single-partition
    sort). Without it, files are still capped via maxRecordsPerFile
    (no extra shuffle)."""
    handle = None
    if order_col is not None:
        numbered, handle = number_by_order(df, order_col)
        df = (
            numbered.withColumn(
                "shard_id", (F.col("_rn") / rows_per_shard).cast("int")
            )
            .withColumn("row_in_shard", (F.col("_rn") % rows_per_shard).cast("int"))
            .drop("_rn")
        )
    (
        df.write.mode("overwrite")
        .option("maxRecordsPerFile", rows_per_shard)
        .parquet(path)
    )
    if handle is not None:
        handle.unpersist()


def read_sharded(spark: SparkSession, path: str, ordered: bool = False) -> DataFrame:
    """S3 source: read the shard directory back; ordering (when asked)
    comes from the data columns, never from file listing order."""
    df = spark.read.parquet(path)
    if ordered:
        df = df.orderBy("shard_id", "row_in_shard")
    return df


def compact(
    spark: SparkSession,
    path: str,
    target_rows_per_file: int = DEFAULT_ROWS_PER_SHARD,
) -> int:
    """Small-files compaction — the maintenance op every long-lived
    sink needs: streaming/incremental appends leave N tiny files whose
    per-file open/footer cost eventually dominates scans (the classic
    small-files problem). Rewrites the dataset into
    ceil(rows/target) evenly-sized files via a round-robin
    repartition, atomically swapping directories. Returns the new file
    count. At 100 TB run this per-partition (compact only partitions
    whose file count exceeds a threshold), never whole-table."""
    import glob
    import math
    import shutil
    import tempfile

    df = spark.read.parquet(path)
    n_rows = df.count()
    n_files = max(1, math.ceil(n_rows / target_rows_per_file))
    staging = tempfile.mkdtemp(prefix="apspark_compact_")
    df.repartition(n_files).write.mode("overwrite").parquet(staging)
    shutil.rmtree(path, ignore_errors=True)
    shutil.move(staging, path)
    return len(glob.glob(f"{path}/*.parquet"))
