"""The written-once relation contract (materialize.py), checked once per
registered relation: stat-digest freshness, the format stamp, the meta
committed last, the inline fallback, the disable flag (reads only) and
the bench provenance record.

Each relation runs on a writable copy of its smoke-scale source table
under an isolated cache root, and is read through a real consumer:
shingle_sketch for the sketch, the shared edge frame for jsig.
"""

from __future__ import annotations

import dataclasses
import inspect
import json
import os
import shutil

import pytest

from alexandria_pipeline_spark import QUERIES, materialize, sketch as S
from alexandria_pipeline_spark.operators import graph as G
from alexandria_pipeline_spark.registry import release_persisted
from tests.conftest import SF_SMOKE

CONSUMERS = {"sketch": S.shingle_sketch, "jsig": G._jaccard_edges}
# On-disk meta names: a rename would orphan every existing cache.
META = {"sketch": "_sketch_meta.json", "jsig": "_jsig_meta.json"}


@pytest.fixture(params=sorted(materialize.REGISTRY))
def rel_env(request, tmp_path, monkeypatch):
    rel = materialize.REGISTRY[request.param]
    monkeypatch.setenv("SPARK_GRAFT_SKETCH_CACHE", str(tmp_path / "cache"))
    monkeypatch.delenv(rel.disable_env, raising=False)
    sf = tmp_path / "sf"
    sf.mkdir()
    src = os.path.join(SF_SMOKE, f"{rel.source}.parquet")
    dst = sf / f"{rel.source}.parquet"
    if os.path.isdir(src):
        shutil.copytree(src, dst)
    else:
        shutil.copy2(src, dst)
    return rel, str(sf)


def _reads(spark, rel, sf, loc, consumer=None) -> bool:
    """Whether the relation's consumer scans files under loc."""
    df = (consumer or CONSUMERS[rel.name])(spark, sf)
    hit = any(loc in f for f in df.inputFiles())
    release_persisted()
    return hit


def _meta(rel, loc) -> str:
    return os.path.join(loc, META[rel.name])


def _rewrite_source(spark, rel, sf) -> None:
    src = os.path.join(sf, f"{rel.source}.parquet")
    tmp_out = sf + "_regen"
    spark.read.parquet(src).limit(100).coalesce(1).write.mode(
        "overwrite"
    ).parquet(tmp_out)
    shutil.rmtree(src) if os.path.isdir(src) else os.remove(src)
    shutil.move(tmp_out, src)


def test_kept_entry_points_bind_materialize():
    """The build/location names other code imports keep their
    signatures and bind to the one mechanism."""
    for build, loc, rel in (
        (S.run_sketch_build_job, S.sketch_location, S.SKETCH),
        (G.run_jaccard_sig_build_job, G.jaccard_sig_location, G.JSIG),
    ):
        assert list(inspect.signature(build).parameters) == ["spark", "sf_dir", "force"]
        assert list(inspect.signature(loc).parameters) == ["sf_dir"]
        assert build.func is materialize.build and build.args == (rel,)
        assert loc.func is materialize.location and loc.args == (rel,)
    assert set(materialize.REGISTRY) == set(CONSUMERS)


def test_rewritten_source_is_stale(spark, rel_env):
    rel, sf = rel_env
    loc = materialize.build(rel, spark, sf)
    assert materialize.fresh(rel, sf)["loc"] == loc
    assert _reads(spark, rel, sf, loc)
    _rewrite_source(spark, rel, sf)
    assert materialize.fresh(rel, sf) is None
    assert materialize.location(rel, sf) != loc
    assert not _reads(spark, rel, sf, loc)


def test_format_stamp_invalidates(spark, rel_env, monkeypatch):
    """A cache written under a different format stamp reads as absent,
    so consumers compute inline instead of serving pre-change values;
    a rebuild under the current stamp restores the read path. For jsig
    the gate is at 0, so the scored relations are written and the
    graph_resource_allocation read-out is checked too."""
    rel, sf = rel_env
    consumers = [CONSUMERS[rel.name]]
    if rel is G.JSIG:
        monkeypatch.setattr(G, "BROADCAST_EDGE_LIMIT", 0)
        consumers.append(QUERIES["graph_resource_allocation"])
    loc = materialize.build(rel, spark, sf)
    doc = json.load(open(_meta(rel, loc)))
    assert doc["format"] == rel.format
    doc["format"] = "v0:obsolete"
    json.dump(doc, open(_meta(rel, loc), "w"))
    assert materialize.fresh(rel, sf) is None
    for c in consumers:
        assert not _reads(spark, rel, sf, loc, c), "must not serve stale"
    assert materialize.build(rel, spark, sf) == loc
    assert materialize.fresh(rel, sf)["format"] == rel.format
    for c in consumers:
        assert _reads(spark, rel, sf, loc, c)


def test_location_without_meta_is_absent(spark, rel_env):
    """A crash mid-build leaves parquet without meta: absent, and the
    next build (unforced) writes it again."""
    rel, sf = rel_env
    loc = materialize.build(rel, spark, sf)
    os.remove(_meta(rel, loc))
    assert materialize.fresh(rel, sf) is None
    assert not _reads(spark, rel, sf, loc)
    assert materialize.build(rel, spark, sf) == loc
    assert materialize.fresh(rel, sf) is not None


def test_force_clears_earlier_layout(spark, rel_env):
    rel, sf = rel_env
    loc = materialize.build(rel, spark, sf)
    old = os.path.join(loc, "old_layout")
    os.makedirs(old)
    open(os.path.join(old, "part-0.parquet"), "w").close()
    mtime = os.stat(_meta(rel, loc)).st_mtime_ns
    assert materialize.build(rel, spark, sf) == loc  # fresh: no-op
    assert os.path.isdir(old)
    assert os.stat(_meta(rel, loc)).st_mtime_ns == mtime
    assert materialize.build(rel, spark, sf, force=True) == loc
    assert not os.path.exists(old)
    assert os.stat(_meta(rel, loc)).st_mtime_ns != mtime
    assert materialize.fresh(rel, sf) is not None


def test_source_changed_during_build_stays_stale(spark, rel_env):
    """The digest is taken before the build runs, so a source rewritten
    while the build reads it never passes as fresh."""
    rel, sf = rel_env
    loc = materialize.location(rel, sf)

    def racing_build(spark_, sf_, loc_):
        extra = rel.build(spark_, sf_, loc_)
        _rewrite_source(spark_, rel, sf_)
        return extra

    racing = dataclasses.replace(rel, build=racing_build)
    assert materialize.build(racing, spark, sf) == loc
    assert os.path.exists(_meta(rel, loc))
    assert materialize.fresh(rel, sf) is None
    assert not _reads(spark, rel, sf, loc)


def test_disable_flag_affects_reads_only(spark, rel_env, monkeypatch):
    rel, sf = rel_env
    monkeypatch.setenv(rel.disable_env, "1")
    loc = materialize.build(rel, spark, sf)
    assert materialize.fresh(rel, sf)["loc"] == loc
    assert materialize.serve(rel, sf) is None
    assert not _reads(spark, rel, sf, loc)
    for value in ("", "false", "No", " off ", "0"):
        monkeypatch.setenv(rel.disable_env, value)
        assert materialize.serve(rel, sf)["loc"] == loc, value
    assert _reads(spark, rel, sf, loc)  # =0 serves the materialization


def test_bench_record_states(spark, rel_env, monkeypatch):
    """The bench's provenance record: a fresh relation is rebuilt unless
    warm caches are allowed; the disable env builds nothing; a failing
    build is recorded and consumers read inline."""
    rel, sf = rel_env
    loc = materialize.build(rel, spark, sf)
    digest = os.path.basename(loc).split("-", 1)[1]
    mtime = os.stat(_meta(rel, loc)).st_mtime_ns

    rec = materialize.bench_record(rel, spark, sf, allow_warm=False)
    assert rec["digest"] == digest
    assert rec["state"] == "built" and rec["forced_cold"] is True
    assert rec["build_sec"] >= 0
    # the fields bench.py has always written for each relation
    extra = {"below_gate", "phases"} if rel is G.JSIG else set()
    assert set(rec) == {"digest", "state", "build_sec", "forced_cold"} | extra
    mtime2 = os.stat(_meta(rel, loc)).st_mtime_ns
    assert mtime2 != mtime

    rec = materialize.bench_record(rel, spark, sf, allow_warm=True)
    assert rec["state"] == "hit" and rec["forced_cold"] is False
    assert os.stat(_meta(rel, loc)).st_mtime_ns == mtime2

    def boom(*_):
        raise RuntimeError("build exploded")

    broken = dataclasses.replace(rel, build=boom)
    monkeypatch.setenv(rel.disable_env, "1")
    rec = materialize.bench_record(broken, spark, sf, allow_warm=False)
    assert rec == {"digest": digest, "state": "disabled", "build_sec": None}
    assert os.stat(_meta(rel, loc)).st_mtime_ns == mtime2
    monkeypatch.delenv(rel.disable_env)

    rec = materialize.bench_record(broken, spark, sf, allow_warm=False)
    assert rec["state"] == "failed" and "build exploded" in rec["error"]
    assert materialize.fresh(rel, sf) is None
    assert not _reads(spark, rel, sf, loc)
