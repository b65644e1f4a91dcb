"""Round-11 invariants: the written-once jaccard signature relation
(operators/graph.py run_jaccard_sig_build_job — r10 verdict #3, the
shingle-sketch economics applied to the graph family's only >10x
scaler) and the stage-level shuffle-audit rebuild's metric source.

Value identity is the bar everywhere: the materialized read path must
be bitwise the inline plan's output, below-gate metas must not change
the exact path, and stale sources must fall back inline.
"""

from __future__ import annotations

import json
import os
import shutil

import pytest

from alexandria_pipeline_spark import QUERIES, materialize
from alexandria_pipeline_spark.operators import graph as G
from alexandria_pipeline_spark.registry import release_persisted
from tests.conftest import SF_SMOKE


@pytest.fixture()
def jsig_env(tmp_path, monkeypatch):
    """Isolated cache root + a writable copy of the smoke lineitem so
    the stale test can mutate the source without touching testdata."""
    cache = tmp_path / "cache"
    monkeypatch.setenv("SPARK_GRAFT_SKETCH_CACHE", str(cache))
    monkeypatch.delenv("SPARK_GRAFT_JACCARD_SIG_DISABLE", raising=False)
    sf_copy = tmp_path / "sf"
    sf_copy.mkdir()
    src = os.path.join(SF_SMOKE, "lineitem.parquet")
    dst = sf_copy / "lineitem.parquet"
    if os.path.isdir(src):
        shutil.copytree(src, dst)
    else:
        shutil.copy2(src, dst)
    return str(sf_copy)


def _rows(spark, sf_dir):
    out = [tuple(r) for r in QUERIES["graph_jaccard_neighbors"](spark, sf_dir).collect()]
    release_persisted()
    return out


def test_below_gate_build_writes_edges_and_exact_values_unchanged(
    spark, jsig_env
):
    """r12 session 2 revision of the r11 meta-only contract: below the
    gate the build now ALSO writes the shared edge parquet (the
    graph family's one derived input — the shingle-sketch economics),
    but NEVER the scored relations (escores/rascores/ntri stay
    above-gate-only: materializing query RESULTS where the exact
    plans are cheap would reduce the queries to read-outs). The exact
    path must serve the cached edges with values unchanged."""
    base = _rows(spark, jsig_env)
    loc = G.run_jaccard_sig_build_job(spark, jsig_env)
    meta = json.load(open(os.path.join(loc, "_jsig_meta.json")))
    assert meta["below_gate"] is True
    assert meta["raw_pairs"] > 0
    assert meta["edges"] is True and meta["build_sec"]["edges"] >= 0
    assert os.path.isdir(os.path.join(loc, "edges"))
    for rel in ("escores", "rascores", "ntri"):
        assert not os.path.exists(os.path.join(loc, rel)), rel
    # the fresh meta supplies raw_pairs; the exact plan now READS the
    # cached edge relation and its values are unchanged
    assert materialize.fresh(G.JSIG, jsig_env)["raw_pairs"] == meta["raw_pairs"]
    # the shared edge frame dispatches to the cached parquet (the
    # query's own inputFiles() is empty because its leaves sit behind
    # the scoped-persisted adjacency frame — assert on the source
    # relation directly)
    assert any(loc in f for f in G._jaccard_edges(spark, jsig_env).inputFiles())
    df = QUERIES["graph_jaccard_neighbors"](spark, jsig_env)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert loc in plan, "exact plan must read the cached edges"
    assert _rows(spark, jsig_env) == base
    # the cached edge relation is bitwise the inline frame
    cached = sorted(
        map(tuple, spark.read.parquet(os.path.join(loc, "edges")).collect())
    )
    inline = sorted(
        map(tuple, G._jaccard_edges_inline(spark, jsig_env).collect())
    )
    assert cached == inline and cached


def test_above_gate_read_path_is_value_identical_to_inline(
    spark, jsig_env, monkeypatch
):
    monkeypatch.setattr(G, "BROADCAST_EDGE_LIMIT", 0)
    monkeypatch.setenv("SPARK_GRAFT_JACCARD_SIG_DISABLE", "1")
    inline = _rows(spark, jsig_env)
    monkeypatch.delenv("SPARK_GRAFT_JACCARD_SIG_DISABLE")
    loc = G.run_jaccard_sig_build_job(spark, jsig_env)
    meta = json.load(open(os.path.join(loc, "_jsig_meta.json")))
    assert meta["K"] in (G.JACCARD_SKETCH_K, G.JACCARD_SKETCH_K // 2)
    assert os.path.isdir(os.path.join(loc, "edges"))
    assert os.path.isdir(os.path.join(loc, "escores"))
    # the read path really serves the materialization...
    df = QUERIES["graph_jaccard_neighbors"](spark, jsig_env)
    assert any(loc in f for f in df.inputFiles())
    # ...and is bitwise the inline sketch plan's output
    assert [tuple(r) for r in df.collect()] == inline
    release_persisted()
    # the scored parquet matches the inline scored frame exactly
    # (names, types, AND the full row multiset under the same
    # n_common >= 1 filter — not just the top-20 read-out)
    escores = spark.read.parquet(os.path.join(loc, "escores"))
    edges = G._jaccard_edges(spark, jsig_env)
    NP = meta["K"] // 4
    inline_scored = G._jaccard_scored(
        G._jaccard_pair_frame(edges, G._jaccard_sigs(edges, meta["K"]), NP),
        meta["K"],
        NP,
    ).filter("n_common >= 1")
    assert [(f.name, f.dataType) for f in escores.schema] == [
        (f.name, f.dataType) for f in inline_scored.schema
    ]
    assert sorted(map(tuple, escores.collect())) == sorted(
        map(tuple, inline_scored.collect())
    )


def test_stale_lineitem_falls_back_inline(spark, jsig_env, monkeypatch):
    monkeypatch.setattr(G, "BROADCAST_EDGE_LIMIT", 0)
    loc = G.run_jaccard_sig_build_job(spark, jsig_env)
    assert materialize.fresh(G.JSIG, jsig_env) is not None
    # regenerate the source: rewrite lineitem.parquet (new mtime/size)
    src = os.path.join(jsig_env, "lineitem.parquet")
    df = spark.read.parquet(src).limit(100)
    tmp_out = jsig_env + "_regen"
    df.coalesce(1).write.mode("overwrite").parquet(tmp_out)
    shutil.rmtree(src) if os.path.isdir(src) else os.remove(src)
    shutil.move(tmp_out, src)
    # digest moved -> meta no longer fresh; the query must not read the
    # stale materialization (its digest-keyed location no longer matches)
    assert materialize.fresh(G.JSIG, jsig_env) is None
    df2 = QUERIES["graph_jaccard_neighbors"](spark, jsig_env)
    assert not any(loc in f for f in df2.inputFiles())
    df2.collect()
    release_persisted()


def test_disable_env_forces_inline(spark, jsig_env, monkeypatch):
    monkeypatch.setattr(G, "BROADCAST_EDGE_LIMIT", 0)
    loc = G.run_jaccard_sig_build_job(spark, jsig_env)
    monkeypatch.setenv("SPARK_GRAFT_JACCARD_SIG_DISABLE", "1")
    df = QUERIES["graph_jaccard_neighbors"](spark, jsig_env)
    assert not any(loc in f for f in df.inputFiles())
    release_persisted()


def test_resource_allocation_matches_bruteforce(spark):
    """graph_resource_allocation vs an independent driver-side
    recompute at smoke scale: build the adjacency dict in Python from
    the same deduped edge list, score every edge with the identical
    truncating 1_000_000 // deg(z) terms, apply the identical
    (ra_e6 DESC, a, b) total order, and require the exact top-20."""
    edges = [
        (r["a"], r["b"]) for r in G._jaccard_edges(spark, SF_SMOKE).collect()
    ]
    release_persisted()
    adj: dict[int, set[int]] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    deg = {n: len(ns) for n, ns in adj.items()}
    scored = []
    for a, b in edges:
        common = adj[a] & adj[b]
        if common:
            scored.append(
                (
                    a,
                    b,
                    len(common),
                    sum(1_000_000 // deg[z] for z in common),
                )
            )
    expected = sorted(scored, key=lambda r: (-r[3], r[0], r[1]))[: G.RA_TOP_N]
    got = [
        (r["a"], r["b"], r["n_common"], r["ra_e6"])
        for r in QUERIES["graph_resource_allocation"](spark, SF_SMOKE).collect()
    ]
    release_persisted()
    assert got == expected


def test_resource_allocation_bounds(spark):
    """Every output pair is an existing edge; any common neighbor has
    deg >= 2, so ra_e6 <= 500_000 * n_common; n_common >= 1."""
    edge_set = {
        (r["a"], r["b"]) for r in G._jaccard_edges(spark, SF_SMOKE).collect()
    }
    release_persisted()
    rows = QUERIES["graph_resource_allocation"](spark, SF_SMOKE).collect()
    release_persisted()
    assert rows, "smoke graph has common-neighbor edges"
    for r in rows:
        assert (r["a"], r["b"]) in edge_set
        assert r["n_common"] >= 1
        assert 0 < r["ra_e6"] <= 500_000 * r["n_common"]


def test_cc_driver_unionfind_matches_iterative(spark, monkeypatch):
    """The r11 driver union-find fast path (below CC_DRIVER_PAIR_LIMIT)
    must label identically to the iterative hash-min loop it gates —
    same (node, component-min) pairs on the real smoke pair graph AND
    on a hand-built graph with a chain longer than a broadcast round
    would propagate in one step."""
    from alexandria_pipeline_spark.operators import dedup as D

    chain = [(i, i + 1) for i in range(50)] + [(100, 200), (200, 300)]
    pairs = spark.createDataFrame(chain, "doc_a long, doc_b long")
    fast = {
        (r["node"], r["lab"])
        for r in D.connected_components_from_pairs(pairs, "doc_a", "doc_b").collect()
    }
    release_persisted()
    monkeypatch.setattr(D, "CC_DRIVER_PAIR_LIMIT", -1)
    slow = {
        (r["node"], r["lab"])
        for r in D.connected_components_from_pairs(pairs, "doc_a", "doc_b").collect()
    }
    release_persisted()
    assert fast == slow
    # the 51-node chain collapses to min label 0; the side pair to 100
    assert {lab for n, lab in fast if n <= 50} == {0}
    assert {lab for n, lab in fast if n >= 100} == {100}


def test_build_job_is_idempotent_when_fresh(spark, jsig_env, monkeypatch):
    monkeypatch.setattr(G, "BROADCAST_EDGE_LIMIT", 0)
    loc = G.run_jaccard_sig_build_job(spark, jsig_env)
    meta_path = os.path.join(loc, "_jsig_meta.json")
    mtime = os.stat(meta_path).st_mtime_ns
    assert G.run_jaccard_sig_build_job(spark, jsig_env) == loc
    assert os.stat(meta_path).st_mtime_ns == mtime  # no rebuild
