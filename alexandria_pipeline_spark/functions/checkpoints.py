"""RDD-level checkpoint storage accounting for iterative queries.

localCheckpoint(eager=True) persists its data through an INTERNAL
RDD that DataFrame.unpersist() cannot reach (it belongs to the
checkpoint, not the CacheManager), so iterative loops that checkpoint
per round must rotate superseded rounds' blocks BY RDD ID or pile up
one stale snapshot per iteration for the life of the session.
`local_checkpoint` returns those ids with the checkpointed frame, and
`unpersist_rdd_ids` frees them: the one rotation every iterative loop
here uses (PageRank, the k-core peel, connected components).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def persistent_rdd_ids(spark: SparkSession) -> set[int]:
    """Ids of every block-holding RDD in the session, INCLUDING
    localCheckpoint internals invisible to DataFrame-level APIs."""
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(i) for i in jmap.keySet().toArray()}


def unpersist_rdd_ids(spark: SparkSession, ids: set[int]) -> None:
    """Free the given RDDs' blocks (non-blocking); missing ids are
    skipped, so double-release is safe."""
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    for i in ids:
        if jmap.containsKey(i):
            jmap.get(i).unpersist(False)


def local_checkpoint(df: DataFrame) -> tuple[DataFrame, set[int]]:
    """Eager localCheckpoint of `df`, with the ids of the RDDs whose
    blocks it persisted — what the caller frees with unpersist_rdd_ids
    once the checkpoint is superseded."""
    spark = df.sparkSession
    before = persistent_rdd_ids(spark)
    out = df.localCheckpoint(eager=True)
    return out, persistent_rdd_ids(spark) - before
