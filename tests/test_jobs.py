"""End-to-end job tests: the reference's three scripts run as Spark
jobs against the testdata, with the §4.3 bug classes asserted fixed.
"""

from __future__ import annotations

import glob
import json
import os
import tempfile

import pytest

from pyspark.sql import functions as F

from alexandria_pipeline_spark.catalog import load_table
from alexandria_pipeline_spark.operators import pipeline
from alexandria_pipeline_spark.operators.jobs import (
    run_chunked_embedding_job,
    run_consolidation_job,
    run_embedding_job,
    run_incremental_embedding_job,
)

from tests.conftest import SF_SMOKE


def test_embedding_job_end_to_end(spark):
    out = tempfile.mkdtemp(prefix="apspark_job_")
    result = run_embedding_job(spark, SF_SMOKE, out, rows_per_shard=200)
    n_docs = load_table(spark, SF_SMOKE, "documents").count()
    # §4.3.2: NO tail loss — every source row embedded
    assert result.count() == n_docs
    assert set(result.columns) == {"id", "content", "embedding"}
    # sharded sink respects the rows-per-file contract
    counts = [
        spark.read.parquet(f).count() for f in glob.glob(f"{out}/*.parquet")
    ]
    assert max(counts) <= 200
    # S9 metadata sidecar
    params = json.load(open(os.path.join(out, "_run_params.json")))
    assert params["job"] == "embedding"


def test_chunked_job_sidecar_records_the_applied_chunk_width(
    spark, monkeypatch, tmp_path
):
    """The pool chunks at pipeline.CHUNK_TOKENS, read when the job
    builds its plan; the sidecar must record that width, not a default
    of its own."""
    monkeypatch.setattr(pipeline, "CHUNK_TOKENS", 8)
    out = str(tmp_path)
    run_chunked_embedding_job(spark, SF_SMOKE, out)
    params = json.load(open(os.path.join(out, "_run_params.json")))
    assert params["job"] == "chunked_embedding"
    assert params["chunk_tokens"] == 8


def test_embedding_job_udf_parity(spark):
    out_a = tempfile.mkdtemp(prefix="apspark_joba_")
    out_b = tempfile.mkdtemp(prefix="apspark_jobb_")
    a = run_embedding_job(spark, SF_SMOKE, out_a, limit=50, use_pandas_udf=False)
    b = run_embedding_job(spark, SF_SMOKE, out_b, limit=50, use_pandas_udf=True)
    ra = {r["id"]: r["embedding"] for r in a.collect()}
    rb = {r["id"]: r["embedding"] for r in b.collect()}
    assert ra == rb


def test_incremental_job_is_idempotent_resume(spark):
    """§4.3.1 fixed: 'resume' = anti-join diff, not a cursor. First
    run embeds a subset; second run embeds exactly the rest; third run
    is a no-op."""
    out = tempfile.mkdtemp(prefix="apspark_incr_")
    d = load_table(spark, SF_SMOKE, "documents")
    n_docs = d.count()
    # seed the sink with half the corpus (simulating an interrupted run)
    half = d.filter(F.col("doc_id") % 2 == 0).select(
        F.col("doc_id").alias("id"),
        F.col("text").alias("content"),
        F.lit(None).cast("array<double>").alias("embedding"),
    )
    half.write.mode("overwrite").parquet(out)  # mkdtemp pre-created the dir
    n_half = half.count()

    after = run_incremental_embedding_job(spark, SF_SMOKE, out)
    assert after.count() == n_docs
    again = run_incremental_embedding_job(spark, SF_SMOKE, out)
    assert again.count() == n_docs  # no duplicates on re-run


def test_consolidation_job_merge_and_alignment(spark):
    out_t = tempfile.mkdtemp(prefix="apspark_t_")
    out_a = tempfile.mkdtemp(prefix="apspark_a_")
    out_m = tempfile.mkdtemp(prefix="apspark_m_")
    titles = run_embedding_job(spark, SF_SMOKE, out_t, limit=100)
    abstracts = run_embedding_job(spark, SF_SMOKE, out_a, limit=100)
    merged = run_consolidation_job(spark, titles, abstracts, out_m)
    row = merged.limit(1).collect()[0]
    # M9: merged dim = 2 × input dim (process.py:126)
    assert len(row["embedding"]) == 16
    assert merged.count() == 100


def test_consolidation_rejects_misalignment(spark):
    """§4.3.3 fixed: the alignment check actually checks (the
    reference's assert compared a variable to itself)."""
    out_t = tempfile.mkdtemp(prefix="apspark_t2_")
    out_a = tempfile.mkdtemp(prefix="apspark_a2_")
    titles = run_embedding_job(spark, SF_SMOKE, out_t, limit=100)
    abstracts = run_embedding_job(spark, SF_SMOKE, out_a, limit=80)
    with pytest.raises(ValueError, match="alignment check failed: 20"):
        run_consolidation_job(spark, titles, abstracts, tempfile.mkdtemp())


def test_grouped_map_pooling_matches_builtin(spark):
    """§2.10: the applyInPandas (numpy) pooling face must agree with
    the built-in two-level aggregate to ~1e-9 (np.average computes
    sum(w*x)/sum(w) in a different order — bitwise equality is not
    expected, semantic equality is)."""
    import math

    from pyspark.sql import functions as F

    from alexandria_pipeline_spark.functions.featurizer import featurize
    from alexandria_pipeline_spark.operators.jobs import run_embedding_job  # noqa: F401
    from alexandria_pipeline_spark.operators.pipeline import (
        CHUNK_TOKENS,
        chunk_embed_pool,
        pool_embeddings_pandas,
    )
    from alexandria_pipeline_spark.catalog import load_table

    d = load_table(spark, SF_SMOKE, "documents").limit(50)
    toks = d.select("doc_id", F.split("text", " ").alias("tokens"))
    n_chunks = F.ceil(F.size("tokens") / F.lit(float(CHUNK_TOKENS)))
    chunks = toks.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), n_chunks.cast("int") - 1),
                lambda i: F.array_join(
                    F.slice(F.col("tokens"), i * CHUNK_TOKENS + 1, CHUNK_TOKENS), " "
                ),
            )
        ).alias("chunk_text"),
    )
    feats = chunks.select(
        "doc_id",
        F.size(F.split("chunk_text", " ")).cast("double").alias("w"),
        featurize("chunk_text").alias("f"),
    )
    via_pandas = {
        r["doc_id"]: r["embedding"] for r in pool_embeddings_pandas(feats).collect()
    }
    # chunk_embed_pool emits exploded (doc_id, dim, v) exchange rows;
    # reassemble per-doc vectors for the comparison.
    via_builtin: dict[int, list[float]] = {}
    for r in (
        chunk_embed_pool(spark, SF_SMOKE)
        .filter(F.col("doc_id").isin(list(via_pandas)))
        .collect()
    ):
        via_builtin.setdefault(r["doc_id"], [0.0] * 8)[r["dim"] - 1] = r["v"]
    assert via_pandas.keys() == via_builtin.keys()
    for doc_id, emb in via_builtin.items():
        for got, want in zip(via_pandas[doc_id], emb):
            # builtin rounds to 4 decimals; numpy path is unrounded
            assert math.isclose(round(got, 4), want, abs_tol=1.5e-4), (doc_id, got, want)


def test_upsert_job_merges_by_key(spark):
    from alexandria_pipeline_spark.operators.jobs import run_embedding_job, run_upsert_job

    out = tempfile.mkdtemp(prefix="apspark_ups_")
    base = run_embedding_job(spark, SF_SMOKE, out, limit=100)
    assert base.count() == 100

    # updates: 20 overlapping keys with changed content + 10 new keys
    updates = (
        load_table(spark, SF_SMOKE, "documents")
        .filter((F.col("doc_id") >= 80) & (F.col("doc_id") < 110))
        .select(
            F.col("doc_id").alias("id"),
            F.upper("text").alias("content"),
            F.expr("array(1.0d, 2.0d)").alias("embedding"),
        )
    )
    merged = run_upsert_job(spark, updates, out, key="id")
    assert merged.count() == 110  # 100 existing + 10 net-new
    updated = merged.filter(F.col("id") == 85).collect()[0]
    assert updated["embedding"] == [1.0, 2.0]  # incoming row won
    untouched = merged.filter(F.col("id") == 5).collect()[0]
    assert len(untouched["embedding"]) == 8  # original featurizer row kept


def test_compaction_reduces_files(spark):
    import glob

    from alexandria_pipeline_spark.sources.parquet import compact

    out = tempfile.mkdtemp(prefix="apspark_compact_t_")
    d = load_table(spark, SF_SMOKE, "orders")
    n = d.count()
    d.repartition(40).write.mode("overwrite").parquet(out)  # 40 tiny files
    assert len(glob.glob(f"{out}/*.parquet")) == 40
    n_files = compact(spark, out, target_rows_per_file=500)
    assert n_files == -(-n // 500)
    assert spark.read.parquet(out).count() == n


def test_range_partitioned_sink_files_are_disjoint_and_sorted(spark, tmp_path):
    """Every output file must cover a disjoint key range with rows
    sorted inside — the file-level-pruning contract."""
    import pyarrow.parquet as pq

    from alexandria_pipeline_spark.operators.jobs import run_range_partitioned_sink

    df = spark.range(0, 10_000).selectExpr(
        "id * 37 % 10007 AS k", "id AS payload"
    )
    out = str(tmp_path / "ranged")
    back = run_range_partitioned_sink(spark, df, out, key="k", num_ranges=8)
    assert back.count() == 10_000

    import glob

    spans = []
    for f in sorted(glob.glob(f"{out}/part-*.parquet")):
        t = pq.read_table(f, columns=["k"])
        ks = t.column("k").to_pylist()
        assert ks == sorted(ks), f"{f} not sorted within file"
        if ks:
            spans.append((min(ks), max(ks)))
    spans.sort()
    assert len(spans) >= 2, "expected multiple range files"
    for (lo1, hi1), (lo2, hi2) in zip(spans, spans[1:]):
        assert hi1 < lo2, f"overlapping ranges ({lo1},{hi1}) vs ({lo2},{hi2})"


def test_zorder_sink_prunes_on_both_keys(spark, tmp_path):
    """Z-order layout must keep per-file min/max tight on BOTH
    dimensions: a box predicate on (a, b) should overlap only a small
    fraction of files, where a hash/random layout overlaps all of
    them."""
    import glob

    import pyarrow.parquet as pq

    from alexandria_pipeline_spark.operators.jobs import run_zorder_sink

    df = spark.range(0, 40_000).selectExpr(
        "CAST(id % 200 AS BIGINT) AS a",
        "CAST((id * 7919) % 200 AS BIGINT) AS b",
        "id AS payload",
    )
    out = str(tmp_path / "zorder")
    back = run_zorder_sink(spark, df, out, "a", "b", num_files=16, bits=8)
    assert back.count() == 40_000

    files = sorted(glob.glob(f"{out}/part-*.parquet"))
    assert len(files) >= 8
    # 50x50 box in a 200x200 space = 1/16 of the area; count files
    # whose (min,max) spans overlap the box on BOTH dims
    box = (50, 99, 50, 99)
    touched = 0
    for f in files:
        t = pq.read_table(f, columns=["a", "b"])
        a, b = t.column("a").to_pylist(), t.column("b").to_pylist()
        if not a:
            continue
        if min(a) <= box[1] and max(a) >= box[0] and min(b) <= box[3] and max(b) >= box[2]:
            touched += 1
    assert touched <= len(files) // 2, (
        f"z-order pruning ineffective: {touched}/{len(files)} files overlap"
        " a 1/16-area box"
    )


def test_restatement_overwrites_only_target_partitions(spark, tmp_path):
    """run_restatement_job must replace exactly the [start, end] day
    partitions: corrupt one in-range and one out-of-range partition,
    restate the range, and verify the in-range corruption is healed
    while the out-of-range corruption survives (proof the write was
    partition-scoped, not a table truncate)."""
    import pathlib

    import pyspark.sql.functions as F

    from alexandria_pipeline_spark.catalog import load_table
    from alexandria_pipeline_spark.operators.jobs import run_restatement_job

    out = str(tmp_path / "events_by_day")
    e = load_table(spark, SF_SMOKE, "events")
    day = F.date_format(F.col("ts").cast("date"), "yyyy-MM-dd")
    full = e.select("event_id", "user_id", "event_type", "value", day.alias("day"))
    full.write.partitionBy("day").parquet(out)

    days = sorted(p.name.split("=")[1] for p in pathlib.Path(out).glob("day=*"))
    assert len(days) >= 4, days
    target, untouched = days[1], days[-1]

    # corrupt both partitions by replacing them with empty-but-valid data
    schema = "event_id long, user_id long, event_type string, value double"
    for d in (target, untouched):
        spark.createDataFrame([], schema).write.mode("overwrite").parquet(
            f"{out}/day={d}"
        )
    spark.catalog.refreshByPath(out)
    assert spark.read.parquet(f"{out}/day={target}").count() == 0

    res = run_restatement_job(spark, SF_SMOKE, out, days[1], days[2])
    assert res["rows_restated"] > 0

    spark.catalog.refreshByPath(out)
    healed = spark.read.parquet(out)
    expected = full.filter(F.col("day") == target).count()
    assert healed.filter(F.col("day") == target).count() == expected
    # out-of-range partition was NOT rewritten: still the corrupted zero
    assert healed.filter(F.col("day") == untouched).count() == 0
    # in-range restatement is idempotent
    run_restatement_job(spark, SF_SMOKE, out, days[1], days[2])
    spark.catalog.refreshByPath(out)
    assert (
        spark.read.parquet(out).filter(F.col("day") == target).count() == expected
    )
