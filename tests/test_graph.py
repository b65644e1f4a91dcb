"""The graph family (operators/graph.py): the iterative loops' fixpoints
and checkpoint release, and value identity across every gate form.

Every size gate here chooses a plan form, never a value: each test
builds the query at the default constant and again with the constant
monkeypatched so the other form runs, and requires identical rows.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from alexandria_pipeline_spark import QUERIES
from alexandria_pipeline_spark.functions.checkpoints import persistent_rdd_ids
from alexandria_pipeline_spark.operators import graph as G
from alexandria_pipeline_spark.registry import release_persisted
from tests.conftest import SF_SMOKE, count_jobs


def _rows(spark, name, **kw):
    rows = [tuple(r) for r in QUERIES[name](spark, SF_SMOKE, **kw).collect()]
    release_persisted()
    return rows


def test_kcore_fixpoint_invariant(spark):
    """At a pinned k that leaves a NONEMPTY core on the smoke graph,
    every surviving node must keep degree >= k inside the core (the
    peeling fixpoint); with the adaptive default (mean degree on a
    near-regular dense graph) the cascade legitimately empties the
    core and the counters must stay consistent."""
    from alexandria_pipeline_spark.catalog import load_table

    row = QUERIES["graph_kcore_summary"](spark, SF_SMOKE, k=60).collect()[0]
    assert row["k"] == 60
    assert row["n_edges_core"] > 0, "pinned k should retain a core"
    # independently recompute the core's internal degrees
    sets = (
        load_table(spark, SF_SMOKE, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.collect_set("l_partkey").alias("ps"))
    )
    edges = (
        sets.select(F.explode("ps").alias("a"), "ps")
        .select("a", F.explode("ps").alias("b"))
        .filter(F.col("a") < F.col("b"))
        .distinct()
    )
    # peel in python (tiny graph) to the same fixpoint
    e = {(r["a"], r["b"]) for r in edges.collect()}
    while True:
        deg: dict[int, int] = {}
        for a, b in e:
            deg[a] = deg.get(a, 0) + 1
            deg[b] = deg.get(b, 0) + 1
        keep = {n for n, d in deg.items() if d >= 60}
        e2 = {(a, b) for a, b in e if a in keep and b in keep}
        if e2 == e:
            break
        e = e2
    nodes = {n for ab in e for n in ab}
    assert row["n_edges_core"] == len(e)
    assert row["n_nodes_core"] == len(nodes)

    row2 = QUERIES["graph_kcore_summary"](spark, SF_SMOKE).collect()[0]
    assert row2["k"] == max(3, 2 * row2["n_edges_total"] // row2["n_nodes_total"])
    assert (row2["n_edges_core"] == 0) == (row2["n_nodes_core"] == 0)


def test_kcore_releases_all_checkpoint_blocks(spark):
    """graph_kcore_summary localCheckpoints the surviving edges each
    peel round; superseded rounds' blocks must be freed as the loop
    advances (up to 30 stale edge snapshots otherwise sit in executor
    storage for the life of a sweep session)."""
    before = persistent_rdd_ids(spark)
    res = QUERIES["graph_kcore_summary"](spark, SF_SMOKE).collect()
    assert len(res) == 1 and res[0]["n_iterations"] >= 1
    leaked = persistent_rdd_ids(spark) - before
    assert not leaked, f"persistent RDD blocks leaked: {leaked}"


def test_kcore_distributed_peel_releases_all_checkpoint_blocks(spark, monkeypatch):
    """The same release contract on the distributed peel, which is the
    form that checkpoints (the smoke graph runs the driver peel by
    default)."""
    monkeypatch.setattr(G, "KCORE_DRIVER_EDGE_LIMIT", -1)
    before = persistent_rdd_ids(spark)
    res = QUERIES["graph_kcore_summary"](spark, SF_SMOKE, k=60).collect()
    release_persisted()
    assert len(res) == 1 and res[0]["n_iterations"] >= 2
    leaked = persistent_rdd_ids(spark) - before
    assert not leaked, f"persistent RDD blocks leaked: {leaked}"


def test_kcore_driver_peel_matches_distributed(spark, monkeypatch):
    """The driver-side numpy peel (below KCORE_DRIVER_EDGE_LIMIT) must
    produce the EXACT summary row of the distributed peel — same
    fixpoint counts AND the same n_iterations — at both a pinned k
    that keeps a nonempty core and the adaptive mean-degree default
    (which cascades the smoke graph empty)."""
    for k in (60, 0):
        drv = _rows(spark, "graph_kcore_summary", k=k)
        monkeypatch.setattr(G, "KCORE_DRIVER_EDGE_LIMIT", -1)
        dist = _rows(spark, "graph_kcore_summary", k=k)
        monkeypatch.undo()
        assert drv == dist and drv, f"k={k}: driver peel must be value-identical"


def test_pagerank_checkpoint_rotation_invariant(spark):
    """pagerank_ranks must produce identical ranks whether or not the
    checkpoint interval fires mid-loop — lineage truncation is an
    execution detail, never a semantics change — and no checkpoint's
    blocks may outlive release_persisted()."""
    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (3, 2), (3, 1), (1, 3), (4, 1), (1, 4)],
        "src long, dst long",
    )
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    edges_deg = edges.join(deg, "src")
    before = persistent_rdd_ids(spark)
    plain = {
        r["node"]: r["r"]
        for r in G.pagerank_ranks(edges_deg, deg, iters=6, checkpoint_every=100).collect()
    }
    rotated = {
        r["node"]: r["r"]
        for r in G.pagerank_ranks(edges_deg, deg, iters=6, checkpoint_every=2).collect()
    }
    assert plain == rotated and len(plain) == 4, (plain, rotated)
    release_persisted()
    leaked = persistent_rdd_ids(spark) - before
    assert not leaked, f"persistent RDD blocks leaked: {leaked}"


def test_ra_iterator_matches_broadcast_plan(spark, monkeypatch):
    """Above CLOSURE_BROADCAST_LIMIT resource allocation runs the
    triangle edge-iterator; its output must be bitwise the broadcast
    closure plan's."""
    base = _rows(spark, "graph_resource_allocation")
    monkeypatch.setattr(G, "CLOSURE_BROADCAST_LIMIT", -1)
    it = _rows(spark, "graph_resource_allocation")
    assert it == base and base, "iterator plan must be value-identical"


def test_triangle_gate_paths_value_identical(spark, monkeypatch):
    """graph_triangle_count counts the rows of the broadcast closure
    below CLOSURE_BROADCAST_LIMIT and sums size(zs) over the edge
    iterator above it: the same edge and triangle counts either way."""
    base = _rows(spark, "graph_triangle_count")
    monkeypatch.setattr(G, "CLOSURE_BROADCAST_LIMIT", -1)
    above = _rows(spark, "graph_triangle_count")
    assert above == base and base[0][1] > 0, "gate must not change the counts"


def test_modularity_gate_paths_value_identical(spark, monkeypatch):
    """The one-pass per-label aggregate must yield identical
    (n_communities, t_directed_edges, q_ppm) whether the label frames
    broadcast (below LPA_LABEL_BROADCAST_LIMIT) or attach via shuffle
    joins (above it) — the gate changes the join strategy, never the
    moments."""
    base = _rows(spark, "graph_lpa_modularity")
    monkeypatch.setattr(G, "LPA_LABEL_BROADCAST_LIMIT", 0)
    above = _rows(spark, "graph_lpa_modularity")
    assert above == base and base, "gate must not change the moments"
    n_comm, t_edges, q_ppm = base[0]
    assert t_edges % 2 == 0 and t_edges > 0
    assert 0 < n_comm <= t_edges
    assert -1_000_000 < q_ppm < 1_000_000


def test_lcc_gate_paths_value_identical(spark, monkeypatch):
    """graph_local_clustering must return the same top-20 rows from the
    below-gate broadcast-closure stream and the above-gate edge-iterator
    — both fed by the one scoped-persisted degree frame."""
    base = _rows(spark, "graph_local_clustering")
    monkeypatch.setattr(G, "CLOSURE_BROADCAST_LIMIT", -1)
    above = _rows(spark, "graph_local_clustering")
    assert above == base and base, "gate must not change the rows"


def test_triangle_builder_runs_no_job_with_edges_served(spark, tmp_path, monkeypatch):
    """With the JSIG relation served, graph_triangle_count's builder
    takes its gate operand from the relation's meta and its edges from
    the parquet: a warm build runs no Spark job."""
    monkeypatch.setenv("SPARK_GRAFT_SKETCH_CACHE", str(tmp_path / "cache"))
    monkeypatch.delenv("SPARK_GRAFT_JACCARD_SIG_DISABLE", raising=False)
    G.run_jaccard_sig_build_job(spark, SF_SMOKE)
    cold = _rows(spark, "graph_triangle_count")  # warms the schema cache
    df, jobs = count_jobs(spark, lambda: QUERIES["graph_triangle_count"](spark, SF_SMOKE))
    assert jobs == 0
    assert [tuple(r) for r in df.collect()] == cold
    release_persisted()
