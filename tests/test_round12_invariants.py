"""Round-12 invariants: the degree-oriented triangle triple stream
(operators/graph.py _tri_triples_deg) shared by the rascores/ntri
written-once relations, graph_local_clustering and the packed-key
overflow guards (ADVICE r11). The format-stamp tests live in
test_materialize.py, the gate-form identity tests in test_graph.py.

Value identity is the bar everywhere: the materialized read paths must
equal the inline plans bitwise.
"""

from __future__ import annotations

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from alexandria_pipeline_spark import QUERIES
from alexandria_pipeline_spark.operators import graph as G
from alexandria_pipeline_spark.registry import release_persisted
from tests.conftest import SF_SMOKE


@pytest.fixture()
def jsig_env(tmp_path, monkeypatch):
    """Isolated cache root + a writable copy of the smoke lineitem
    (same fixture shape as round 11's)."""
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


def _adj_deg(spark):
    edges = [
        (r["a"], r["b"]) for r in G._jaccard_edges(spark, SF_SMOKE).collect()
    ]
    release_persisted()
    adj: dict[int, set[int]] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    return edges, adj, {n: len(ns) for n, ns in adj.items()}


def test_tri_triples_match_bruteforce(spark):
    """Every triangle of the smoke co-purchase graph appears in the
    triple stream EXACTLY once, with the exact degree of each corner
    embedded — against an independent driver-side enumeration."""
    edges, adj, deg = _adj_deg(spark)
    expected: dict[frozenset, int] = {}
    for a, b in edges:
        for z in adj[a] & adj[b]:
            if z > b:  # each triangle once from its sorted (a<b<z) edge
                expected[frozenset((a, b, z))] = 1
    ef = G._jaccard_edges(spark, SF_SMOKE)
    rows = G._tri_triples_deg(ef, broadcast_deg=True).collect()
    release_persisted()
    assert len(rows) == len(expected), "each triangle surfaces exactly once"
    for r in rows:
        tri = frozenset((r["u"], r["v"], r["z"]))
        assert tri in expected and len(tri) == 3
        for n, d in ((r["u"], r["du"]), (r["v"], r["dv"]), (r["z"], r["dz"])):
            assert deg[n] == d, "packed degree must be the exact degree"


def test_local_clustering_matches_bruteforce(spark):
    """graph_local_clustering vs an independent driver-side recompute:
    exact truncating ppm, deg >= 2 population, (lcc_ppm DESC, node)
    total order, explicit 0 for triangle-free nodes."""
    edges, adj, deg = _adj_deg(spark)
    ntri: dict[int, int] = {}
    for a, b in edges:
        for z in adj[a] & adj[b]:
            if z > b:
                for n in (a, b, z):
                    ntri[n] = ntri.get(n, 0) + 1
    expected = sorted(
        (
            (n, d, ntri.get(n, 0), ntri.get(n, 0) * 2_000_000 // (d * (d - 1)))
            for n, d in deg.items()
            if d >= 2
        ),
        key=lambda r: (-r[3], r[0]),
    )[: G.LCC_TOP_N]
    got = [
        (r["node"], r["deg"], r["n_tri"], r["lcc_ppm"])
        for r in QUERIES["graph_local_clustering"](spark, SF_SMOKE).collect()
    ]
    release_persisted()
    assert got == expected and got


def test_pack_guards_raise_on_overflow(spark):
    """Node ids >= 2^32 must RAISE from both packed-key helpers, never
    silently alias two different pairs onto one join key (ADVICE
    r11)."""
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    big = spark.createDataFrame([(1 << 32, 7)], "a long, b long")
    with pytest.raises(SparkRuntimeException, match="overflow"):
        big.select(G._packed_pair(F.col("a"), F.col("b")).alias("k")).collect()
    with pytest.raises(SparkRuntimeException, match="overflow"):
        big.select(G._pack_deg_node(F.col("b"), F.col("a")).alias("k")).collect()
    # in-range values round-trip exactly
    ok = spark.createDataFrame([(5, 3)], "a long, b long").select(
        G._pack_deg_node(F.col("a"), F.col("b")).alias("k")
    )
    assert ok.collect()[0]["k"] == (5 << 32) | 3


def test_materialized_read_paths_value_identical(spark, jsig_env, monkeypatch):
    """With a fresh above-gate materialization, resource-allocation,
    triangle-count, and local-clustering must serve the written
    relations (rascores / ntri / edges in inputFiles) with values
    bitwise-identical to their inline plans."""
    names = (
        "graph_resource_allocation",
        "graph_triangle_count",
        "graph_local_clustering",
    )
    monkeypatch.setenv("SPARK_GRAFT_JACCARD_SIG_DISABLE", "1")
    inline = {}
    for n in names:
        inline[n] = [tuple(r) for r in QUERIES[n](spark, jsig_env).collect()]
        release_persisted()
    monkeypatch.delenv("SPARK_GRAFT_JACCARD_SIG_DISABLE")
    monkeypatch.setattr(G, "BROADCAST_EDGE_LIMIT", 0)
    loc = G.run_jaccard_sig_build_job(spark, jsig_env)
    for rel in ("edges", "escores", "rascores", "ntri"):
        assert os.path.isdir(os.path.join(loc, rel)), rel
    meta = json.load(open(os.path.join(loc, "_jsig_meta.json")))
    assert set(meta["build_sec"]) == {"edges", "escores", "rascores", "ntri"}
    for n in names:
        df = QUERIES[n](spark, jsig_env)
        assert any(loc in f for f in df.inputFiles()), f"{n} must read cache"
        assert [tuple(r) for r in df.collect()] == inline[n], n
        release_persisted()


# ---------------------------------------------------------------------------
# r11 verdict #6 growth queries: span-corruption packing stats,
# multimodal e2e twin. Each gets a driver-side replication or a
# cross-query reconciliation on top of its DuckDB oracle (which covers
# exact values at sf0.01). The incremental IVF replication lives in
# test_similarity.py.
# ---------------------------------------------------------------------------


def test_span_corruption_reconciles_with_packing(spark):
    """Same bins, same doc/token counts as pack_sequences_contiguous;
    encoder + target token identity; boundary count = n_docs - 1."""
    from alexandria_pipeline_spark.operators import packing as P

    pack = {
        (r["lang"], r["bucket"], r["bin_id"]): (r["n_docs"], r["bin_tokens"])
        for r in QUERIES["pack_sequences_contiguous"](spark, SF_SMOKE).collect()
    }
    release_persisted()
    rows = QUERIES["pack_span_corruption_stats"](spark, SF_SMOKE).collect()
    release_persisted()
    assert rows
    got = {(r["lang"], r["bucket"], r["bin_id"]) for r in rows}
    assert got == set(pack)
    for r in rows:
        key = (r["lang"], r["bucket"], r["bin_id"])
        assert (r["n_docs"], r["bin_tokens"]) == pack[key]
        # every masked token and every sentinel is accounted exactly once
        assert (
            r["enc_tokens"] + r["tgt_tokens"]
            == r["bin_tokens"] + 2 * r["n_spans"]
        )
        assert r["n_boundaries"] == r["n_docs"] - 1
        assert 0 <= r["masked_tokens"] <= r["bin_tokens"] * P.SPAN_MASK_PCT // 100
        # ceil grouping: spans never exceed masked count, never under 1/len
        assert r["n_spans"] * P.SPAN_MEAN_LEN >= r["masked_tokens"]
