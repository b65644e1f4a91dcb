"""Written-once shingle-sketch relation (sketch.py): freshness,
stale-source fallback, and value identity between the materialized
read path and the inline compute path — including through a real
consumer (dedup_minhash_lsh), so the r9 rewiring cannot silently
change any oracle-checked value.

Reference analog for the layout: the reference writes its expensive
intermediate once and re-reads shards on every later pass
(`run.py:64-67`, `process.py:26-44`).
"""

from __future__ import annotations

import os
import shutil

import pytest

from alexandria_pipeline_spark import QUERIES, materialize
from alexandria_pipeline_spark.registry import release_persisted
from alexandria_pipeline_spark.sketch import (
    SKETCH,
    _inline_sketch,
    run_sketch_build_job,
    shingle_sketch,
    sketch_location,
)
from tests.conftest import SF_SMOKE


@pytest.fixture()
def sketch_env(tmp_path, monkeypatch):
    """Isolated cache root + a writable copy of the smoke testdata so
    the stale test can mutate the source without touching /root/testdata."""
    cache = tmp_path / "cache"
    monkeypatch.setenv("SPARK_GRAFT_SKETCH_CACHE", str(cache))
    monkeypatch.delenv("SPARK_GRAFT_SKETCH_DISABLE", raising=False)
    sf_copy = tmp_path / "sf"
    sf_copy.mkdir()
    for name in ("documents.parquet",):
        src = os.path.join(SF_SMOKE, name)
        dst = sf_copy / name
        if os.path.isdir(src):
            shutil.copytree(src, dst)
        else:
            shutil.copy2(src, dst)
    return str(sf_copy)


def _rows(df):
    return sorted(
        (r["doc_id"], r["lang"], r["n_toks"], tuple(r["codes"]))
        for r in df.select("doc_id", "lang", "n_toks", "codes").collect()
    )


def test_build_then_read_is_value_identical(spark, sketch_env):
    loc = run_sketch_build_job(spark, sketch_env)
    assert materialize.fresh(SKETCH, sketch_env)
    mat = shingle_sketch(spark, sketch_env)
    # the hook really serves the materialization, not the fallback
    assert any(loc in f for f in mat.inputFiles())
    assert _rows(mat) == _rows(_inline_sketch(spark, sketch_env))
    # schema identical too (a long->int drift would change downstream
    # overflow semantics even with equal small-SF values)
    assert mat.schema == _inline_sketch(spark, sketch_env).schema


def test_stale_source_falls_back_inline(spark, sketch_env):
    run_sketch_build_job(spark, sketch_env)
    assert materialize.fresh(SKETCH, sketch_env)
    old_loc = sketch_location(sketch_env)
    # Regenerate the source: rewrite documents.parquet (new mtime/size)
    src = os.path.join(sketch_env, "documents.parquet")
    df = spark.read.parquet(src).limit(50)
    tmp_out = sketch_env + "_regen"
    df.coalesce(1).write.mode("overwrite").parquet(tmp_out)
    shutil.rmtree(src) if os.path.isdir(src) else os.remove(src)
    shutil.move(tmp_out, src)
    assert sketch_location(sketch_env) != old_loc
    assert materialize.fresh(SKETCH, sketch_env) is None
    fb = shingle_sketch(spark, sketch_env)
    # fallback reads the SOURCE, never the stale materialization
    assert not any(old_loc in f for f in fb.inputFiles())
    assert fb.count() <= 50
    # rebuild picks up the new digest at a new location
    new_loc = run_sketch_build_job(spark, sketch_env)
    assert new_loc != old_loc
    assert materialize.fresh(SKETCH, sketch_env)


def test_disable_env_forces_inline(spark, sketch_env, monkeypatch):
    run_sketch_build_job(spark, sketch_env)
    monkeypatch.setenv("SPARK_GRAFT_SKETCH_DISABLE", "1")
    df = shingle_sketch(spark, sketch_env)
    assert not any(
        sketch_location(sketch_env) in f for f in df.inputFiles()
    )


def test_consumer_identical_with_and_without_materialization(
    spark, sketch_env, monkeypatch
):
    """dedup_minhash_lsh (the base of the composed family) returns the
    same pair set whether the sketch is read or recomputed."""
    def run():
        out = sorted(
            (r["doc_a"], r["doc_b"], r["jaccard"])
            for r in QUERIES["dedup_minhash_lsh"](spark, sketch_env).collect()
        )
        release_persisted()
        return out

    monkeypatch.setenv("SPARK_GRAFT_SKETCH_DISABLE", "1")
    inline = run()
    monkeypatch.delenv("SPARK_GRAFT_SKETCH_DISABLE")
    run_sketch_build_job(spark, sketch_env)
    assert run() == inline


def test_build_job_is_idempotent_noop_when_fresh(spark, sketch_env):
    loc = run_sketch_build_job(spark, sketch_env)
    meta = os.path.join(loc, "_sketch_meta.json")
    mtime = os.stat(meta).st_mtime_ns
    assert run_sketch_build_job(spark, sketch_env) == loc
    assert os.stat(meta).st_mtime_ns == mtime  # no rewrite
    assert run_sketch_build_job(spark, sketch_env, force=True) == loc
    assert os.stat(meta).st_mtime_ns != mtime  # force rebuilds
