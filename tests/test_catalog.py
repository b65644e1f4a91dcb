"""catalog.read_parquet's schema cache: a warm load runs no Spark job,
a rewritten file or a changed inference conf is never served a stale
schema, and a warm builder launches nothing before it returns."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq

from alexandria_pipeline_spark import QUERIES
from alexandria_pipeline_spark.catalog import load_table, read_parquet
from alexandria_pipeline_spark.registry import release_persisted

from tests.conftest import SF_SMOKE, count_jobs

NTZ_CONF = "spark.sql.parquet.inferTimestampNTZ.enabled"


def test_warm_load_runs_no_job_and_keeps_schema(spark):
    load_table(spark, SF_SMOKE, "lineitem")
    df, jobs = count_jobs(spark, lambda: load_table(spark, SF_SMOKE, "lineitem"))
    assert jobs == 0
    assert df.schema == spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet").schema


def test_rewritten_file_is_never_served_a_stale_schema(spark, tmp_path):
    path = str(tmp_path / "region.parquet")
    pq.write_table(pa.table({"r_regionkey": [0, 1], "r_name": ["A", "B"]}), path)
    assert load_table(spark, str(tmp_path), "region").columns == ["r_regionkey", "r_name"]
    pq.write_table(
        pa.table({"r_regionkey": [0, 1], "r_name": ["A", "B"], "r_comment": ["x", "y"]}),
        path,
    )
    df = load_table(spark, str(tmp_path), "region")
    assert df.columns == ["r_regionkey", "r_name", "r_comment"]
    assert sorted(r["r_comment"] for r in df.collect()) == ["x", "y"]


def test_inference_conf_is_part_of_the_key(spark, tmp_path):
    """timestamp[us] without a timezone infers as TIMESTAMP_NTZ or
    TIMESTAMP depending on the session conf; the cached schema must
    follow the conf, on a miss and on a hit alike."""
    path = str(tmp_path / "ticks.parquet")
    pq.write_table(
        pa.table({"ts": pa.array([1704067798778549], type=pa.timestamp("us"))}), path
    )
    before = spark.conf.get(NTZ_CONF)
    try:
        for _ in range(2):
            for flag, dtype in (("true", "timestamp_ntz"), ("false", "timestamp")):
                spark.conf.set(NTZ_CONF, flag)
                assert dict(read_parquet(spark, path).dtypes)["ts"] == dtype, flag
    finally:
        spark.conf.set(NTZ_CONF, before)


def test_warm_builder_runs_no_job(spark):
    build = QUERIES["q5_region_volume"]
    build(spark, SF_SMOKE)
    _, jobs = count_jobs(spark, lambda: build(spark, SF_SMOKE))
    assert jobs == 0


def test_lsh_recall_eval_warm_builder_runs_no_job(spark):
    """The sample modulus is a broadcast one-row aggregate inside the
    plan, not a count the builder runs."""
    build = QUERIES["dedup_lsh_recall_eval"]
    build(spark, SF_SMOKE)
    release_persisted()
    try:
        _, jobs = count_jobs(spark, lambda: build(spark, SF_SMOKE))
    finally:
        release_persisted()
    assert jobs == 0
