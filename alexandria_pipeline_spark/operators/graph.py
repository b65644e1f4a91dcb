"""Graph analytics over the part co-purchase graph (parts appearing in
the same order are linked).

One edge relation. Every query reads the graph through
`_jaccard_edges`: the deduped half-direction (a < b) edge list, served
from the written-once JSIG relation when it is fresh and computed by
`_jaccard_edges_inline` otherwise. Directed consumers (PageRank, LPA)
symmetrise it with `_both_ways`, every degree comes from `_degrees`,
and every oracle selects from the one DuckDB text `_DUCK_EDGES`.
Triangle count, resource allocation and local clustering enumerate
triangles with the two shared enumerators (`_tri_closed_bcast` below
CLOSURE_BROADCAST_LIMIT raw pairs, `_tri_edge_rows` above it).

Exact cross-engine iteration: PageRank is normally float fixpoint,
which would diverge bit-wise across engines after one aggregation
(sum order). Here every rank lives in int64 micro-units and every
division is truncating integer division, so three Spark iterations
produce bit-identical values to three unrolled CTE stages in DuckDB —
the same technique functions/exact.py uses for money. Long runs bound
their lineage with pagerank_ranks' checkpoint rotation
(functions/checkpoints.local_checkpoint every K iterations)."""

from __future__ import annotations

import functools
import os

from pyspark.sql import DataFrame, SparkSession, Window, functions as F
from pyspark.storagelevel import StorageLevel

from alexandria_pipeline_spark import materialize
from alexandria_pipeline_spark.catalog import load_table, read_parquet
from alexandria_pipeline_spark.functions.exact import int_div
from alexandria_pipeline_spark.functions.checkpoints import (
    local_checkpoint,
    unpersist_rdd_ids,
)
from alexandria_pipeline_spark.registry import (
    query,
    scoped_persist,
    scoped_release,
)

PR_ITERS = 3
DAMP_MICRO = 850_000
BASE_MICRO = 150_000

# The sketch gate, in raw pairs (_jaccard_raw_pairs): above it
# graph_jaccard_neighbors switches to MinHash signatures and the JSIG
# build also writes the scored relations (escores, rascores, ntri) that
# the jaccard, RA, triangle and local-clustering queries then read.
BROADCAST_EDGE_LIMIT = 5_000_000

# Node ids must fit the packed-pair key's 32-bit field. TPC-H partkeys
# at 100-TB scale reach ~2e10 > 2^32, where the high bits of b would
# bleed into a's field and silently alias DIFFERENT pairs onto one
# join key (ADVICE r11) — so every pack fails loudly instead.
_PACK_LIMIT = 1 << 32


def _packed_pair(lo, hi):
    """Pack a canonical node pair into one int64 join key
    (lo << 32 | hi) with a plan-embedded overflow guard: any id >=
    2^32 raises at runtime instead of returning aliased keys. The
    guard is a codegen branch per row — no extra pass, no driver
    action. (Bitwise shift, not arithmetic *2^32: the multiply would
    overflow ANSI int64 for ids >= 2^31.)"""
    lo, hi = lo.cast("long"), hi.cast("long")
    ok = (lo < F.lit(_PACK_LIMIT)) & (hi < F.lit(_PACK_LIMIT)) & (hi >= 0)
    return F.when(ok, F.shiftleft(lo, 32).bitwiseOR(hi)).otherwise(
        F.raise_error(F.lit("packed pair overflow: node id >= 2^32"))
    )


def _pair_key(x, y):
    """The guarded packed key of an unordered node pair."""
    return _packed_pair(F.least(x, y), F.greatest(x, y))


def _degrees(edges: DataFrame) -> DataFrame:
    """(node, deg long) of a half-direction (a, b) edge list: each edge
    counts once at each endpoint."""
    return (
        edges.select(F.col("a").alias("node"))
        .unionAll(edges.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("deg"))
    )


def _both_ways(half: DataFrame) -> DataFrame:
    """(src, dst): a half-direction (a, b) edge list with both
    orientations, emitted by one in-row explode (no second scan)."""
    return half.select(
        F.explode(
            F.array(
                F.struct(F.col("a").alias("src"), F.col("b").alias("dst")),
                F.struct(F.col("b").alias("src"), F.col("a").alias("dst")),
            )
        ).alias("e")
    ).select("e.src", "e.dst")


# DuckDB twin of _jaccard_edges, _both_ways and _degrees: the CTEs every
# graph oracle selects from. `e` is the distinct a < b pair list,
# `edges` its directed form (the union with the swap, already distinct)
# and `deg` each node's degree.
_DUCK_EDGES = """
    e AS (
      SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    edges AS (SELECT a AS src, b AS dst FROM e UNION ALL SELECT b, a FROM e),
    deg AS (
      SELECT src AS node, CAST(count(*) AS BIGINT) AS deg
      FROM edges GROUP BY src
    )"""


def _duck_pagerank_sql() -> str:
    ctes = [
        _DUCK_EDGES,
        "r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM deg)",
    ]
    prev = "r0"
    for i in range(1, PR_ITERS + 1):
        ctes.append(
            f"""s{i} AS (
              SELECT e.dst AS node, sum({prev}.r // d.deg) AS s
              FROM edges e
              JOIN {prev} ON e.src = {prev}.node
              JOIN deg d ON d.node = e.src
              GROUP BY e.dst
            )"""
        )
        ctes.append(
            f"r{i} AS (SELECT node, CAST({BASE_MICRO} + ({DAMP_MICRO} * s) // 1000000"
            f" AS BIGINT) AS r FROM s{i})"
        )
        prev = f"r{i}"
    return (
        "WITH " + ",\n".join(ctes) +
        f"\nSELECT node AS part_id, r AS rank_micro FROM {prev}"
    )


def pagerank_ranks(
    edges_deg: DataFrame,
    deg: DataFrame,
    iters: int = PR_ITERS,
    checkpoint_every: int = 5,
) -> DataFrame:
    """Damped integer-unit PageRank core. Every `checkpoint_every`
    iterations the rank frame is eagerly localCheckpointed, so lineage
    depth stays bounded by the interval instead of growing with the
    iteration count. The superseded checkpoint's blocks are freed by
    RDD id (functions/checkpoints.py) and the last one's at the next
    registry release. Short loops (the 3-iteration registered query)
    never hit the interval, so the registered plan stays fully lazy."""
    ranks = deg.select(
        F.col("src").alias("node"), F.lit(1_000_000).cast("long").alias("r")
    )
    ckpt_ids: set[int] = set()
    for i in range(1, iters + 1):
        contrib = (
            edges_deg.join(ranks, edges_deg.src == ranks.node)
            .groupBy("dst")
            .agg(F.sum(int_div(F.col("r"), F.col("deg"))).alias("s"))
        )
        ranks = contrib.select(
            F.col("dst").alias("node"),
            (
                F.lit(BASE_MICRO)
                + int_div(F.lit(DAMP_MICRO) * F.col("s"), F.lit(1_000_000))
            ).cast("long").alias("r"),
        )
        if i % checkpoint_every == 0 and i < iters:
            ranks, new_ids = local_checkpoint(ranks)
            unpersist_rdd_ids(ranks.sparkSession, ckpt_ids)
            ckpt_ids = new_ids
    if ckpt_ids:
        spark = ranks.sparkSession
        scoped_release(lambda ids=frozenset(ckpt_ids): unpersist_rdd_ids(spark, set(ids)))
    return ranks


@query("graph_pagerank_copurchase", oracle=_duck_pagerank_sql())
def graph_pagerank_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-iteration damped PageRank (d=0.85) over the undirected part
    co-purchase graph (_jaccard_edges, symmetrised), all arithmetic in
    int64 micro-units. Every node has degree >= 1 by construction
    (nodes ARE edge endpoints), so there is no dangling mass and each
    iteration covers every node."""
    half = _jaccard_edges(spark, sf_dir)
    deg = _degrees(half).select(F.col("node").alias("src"), "deg")
    edges_deg = scoped_persist(
        _both_ways(half).join(deg, "src"), StorageLevel.MEMORY_AND_DISK
    )
    ranks = pagerank_ranks(edges_deg, deg, PR_ITERS)
    return ranks.select(F.col("node").alias("part_id"), F.col("r").alias("rank_micro"))


# --------------------------------------------------------------------------
@query(
    "graph_triangle_count",
    oracle=f"""
    WITH {_DUCK_EDGES},
    tri AS (
      SELECT count(*) AS n
      FROM e e1
      JOIN e e2 ON e2.a = e1.b
      JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
    )
    SELECT CAST((SELECT count(*) FROM e) AS BIGINT) AS n_edges,
           CAST(tri.n AS BIGINT) AS n_triangles
    FROM tri
    """,
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edge and triangle counts of the part co-purchase graph. The
    triangles come from the shared degree-oriented enumerators: below
    CLOSURE_BROADCAST_LIMIT each triangle is one row of
    _tri_closed_bcast (wedges probe the broadcast packed edge set), above
    it the sum of size(zs) over _tri_edge_rows (adjacency arrays
    intersected per oriented edge). Orientation from the lower-(deg, id)
    endpoint bounds every out-degree by O(sqrt(m)), so hub nodes never
    explode the wedge stream, and each triangle surfaces exactly once.
    The oracle counts the same triangles with the simple a<b<c
    three-way join.

    With a served JSIG relation above BROADCAST_EDGE_LIMIT the count is
    sum(n_tri) div 3 over the written `ntri` relation (each triangle
    credits its three corners once), built by the same edge-iterator."""
    jsig = materialize.serve(JSIG, sf_dir)
    edges = _jaccard_edges(spark, sf_dir)
    if jsig is not None and "K" in jsig:
        tris = read_parquet(spark, os.path.join(jsig["loc"], "ntri")).agg(
            F.coalesce(F.expr("CAST(sum(n_tri) div 3 AS BIGINT)"), F.lit(0))
            .alias("n_triangles")
        )
    else:
        edges = scoped_persist(edges, StorageLevel.MEMORY_AND_DISK)
        if _closure_fits(spark, sf_dir, jsig):
            tris = _tri_closed_bcast(edges).agg(
                F.count(F.lit(1)).alias("n_triangles")
            )
        else:
            tris = _tri_edge_rows(edges).agg(
                F.coalesce(F.sum(F.size("zs")), F.lit(0)).alias("n_triangles")
            )
    n_edges = edges.agg(F.count(F.lit(1)).alias("n_edges"))
    # both aggregates are single rows; the cross join stays lazy
    return n_edges.join(tris).select(
        F.col("n_edges").cast("long"), F.col("n_triangles").cast("long")
    )


JACCARD_TOP_N = 20
# Signature width for the above-gate sketch path: 64 min-hashes ≈ 6 ppt
# worst-case standard error on the Jaccard estimate, 8·64 B per node.
JACCARD_SKETCH_K = 64
# Above this raw-pair volume the sketch width halves (32 slots ≈ 8.8
# ppt worst-case SE) to bound the per-edge join payload on very large
# graphs.
JACCARD_K_HALVE_PAIRS = 50_000_000

# --- written-once jaccard signature relation (the JSIG registration) ---
# The deduped half-direction edge list and, above the gate, the scored
# relations are deterministic functions of lineitem: at 100 TB the edge
# build + signature aggregate dominate every read, so they are a
# written-once relation keyed by lineitem (materialize.py). Below the
# gate the gate operand (raw_pairs) and the shared edge parquet are
# recorded, so consumers skip the gate's lineitem scan and the
# per-query edge rebuild; the scored relations stay above-gate-only
# (see _build_jsig).
#
# Format stamp: without it, a change to any constant, hash, scoring
# expression or output schema below would serve pre-change values from
# a warm cache, and no value test would catch it (sweeps run below the
# gate, where no scored parquet exists). The stamp encodes every knob
# the written relations depend on; bump the leading version on any
# change the string can't see (hash function, estimator math,
# orientation rule).
_JSIG_FORMAT = (
    f"v3:K{JACCARD_SKETCH_K}:halve{JACCARD_K_HALVE_PAIRS}"
    f":gate{BROADCAST_EDGE_LIMIT}:edges-any-gate(a,b)"
    ":escores(a,b,n_common,jaccard_ppm)"
    ":rascores(a,b,n_common,ra_e6):ntri(node,n_tri)"
)


def _pack_deg_node(deg, node):
    """(deg << 32) | node as one guarded int64. Because node < 2^32,
    the packed longs sort exactly like (deg, node) lexicographic — the
    degree-orientation total order — so orientation compares ONE long
    and adjacency arrays stay primitive (array_intersect over struct
    elements falls off the fast path: measured 19 s vs 4 s at sf0.01
    for the identical triple stream). Guards: node >= 2^32 would bleed
    into the degree field, deg >= 2^31 would overflow int64 — both
    raise instead of aliasing."""
    deg, node = deg.cast("long"), node.cast("long")
    ok = (node >= 0) & (node < F.lit(_PACK_LIMIT)) & (deg < F.lit(1 << 31))
    return F.when(ok, F.shiftleft(deg, 32).bitwiseOR(node)).otherwise(
        F.raise_error(F.lit("deg/node pack overflow: id >= 2^32 or deg >= 2^31"))
    )


_LO32 = (1 << 32) - 1


def _tri_closed_bcast(edges: DataFrame, deg: DataFrame | None = None) -> DataFrame:
    """One row PER TRIANGLE (u, v, w), all packed (deg<<32|id) longs —
    the BELOW-GATE twin of _tri_edge_rows' zs stream (r12 optimization
    round): identical degree orientation and triangle multiset (each
    triangle surfaces exactly once, at the edge whose source is its
    minimum vertex in the (deg, id) total order), but wedges explode
    MAP-SIDE from per-source adjacency arrays and probe the BROADCAST
    packed canonical edge set — instead of shuffling adjacency arrays
    into a self-join. Below the gate that swap removes the plan's only
    array-payload exchange (the e_u⋈adj_v join moved the full
    O(m^1.5)-element wedge volume as shuffled array bytes; measured
    sf0.1: graph_local_clustering 9.2 s → 5.3 s bench wall) while the
    wedge stream itself stays rows-in-a-stage, never materialized.
    Callers gate on CLOSURE_BROADCAST_LIMIT (_closure_fits): |E| packed
    longs and a (node, deg) row per node are broadcast.

    `deg` (optional): a precomputed (node, deg) frame — callers that
    need degrees for their own read-out (local clustering) pass their
    scoped-persisted frame so it is computed once. When absent it is
    built here and scoped-persisted anyway: the da/db broadcast
    exchanges are independent plan consumers (Catalyst does no
    cross-consumer subtree CSE), so an unpersisted deg subtree would
    run its 2|E|-row aggregate twice — once per broadcast build. The
    frame is two int64 columns, |V| <= 2|E| rows: columnar-cache
    friendly, no nested types (the r8 never-persist-arrays lesson does
    not apply)."""
    if deg is None:
        deg = scoped_persist(_degrees(edges))
    da = F.broadcast(
        deg.select(F.col("node").alias("a"), F.col("deg").alias("deg_a"))
    )
    db = F.broadcast(
        deg.select(F.col("node").alias("b"), F.col("deg").alias("deg_b"))
    )
    with_deg = edges.join(da, "a").join(db, "b")
    pa = _pack_deg_node(F.col("deg_a"), F.col("a"))
    pb = _pack_deg_node(F.col("deg_b"), F.col("b"))
    oriented = with_deg.select(
        F.least(pa, pb).alias("src"), F.greatest(pa, pb).alias("dst")
    )
    adj = oriented.groupBy("src").agg(F.collect_set("dst").alias("ns"))
    # each unordered pair of u's out-neighbors once, v before w by id,
    # so the closure key is the canonical pair with no reordering
    lo32 = F.lit(_LO32)
    vi, wi = F.col("v").bitwiseAND(lo32), F.col("w").bitwiseAND(lo32)
    wedges = (
        adj.select(F.col("src").alias("u"), F.explode("ns").alias("v"), "ns")
        .select("u", "v", F.explode("ns").alias("w"))
        .filter(vi < wi)
    )
    eset = F.broadcast(
        edges.select(_packed_pair(F.col("a"), F.col("b")).alias("pk"))
    )
    return (
        wedges.withColumn("pk", _packed_pair(vi, wi))
        .join(eset, "pk")
        .select("u", "v", "w")
    )


def _tri_edge_rows(edges: DataFrame, broadcast_deg: bool = False) -> DataFrame:
    """One row PER ORIENTED EDGE with >= 1 common out-neighbor:
    (u, v, zs), all packed (deg<<32|id) longs (_pack_deg_node —
    primitive arrays keep array_intersect on the fast path AND the
    pack embeds each endpoint's degree, so no join ever touches the
    candidate stream) — the degree-oriented edge-iterator, the
    above-gate triangle enumerator: orient each edge from its
    lower-(deg, id) endpoint (= packed-long order), build per-source
    adjacency arrays, and intersect adjOut(u) with adjOut(v) INSIDE
    the join row. zs holds the triangles closed by this apex edge —
    each triangle of the graph appears in exactly one row's zs (the
    edge whose source is the triangle's minimum vertex in the (deg,
    id) total order). Candidates are O(m^1.5) (Chiba–Nishizeki) and no
    wedge row ever shuffles. Consumers derive their outputs in ONE
    pass over this frame (r12 disk lesson: the first cut exploded a
    (u,v,z) triple stream and fed 3 unioned projections of it to
    groupBys — 3x the subtree, 3T contribution rows of ~24 B against
    a 50M-key aggregate whose map-side combine couldn't collapse them,
    ~70 GB of shuffle at sf10). Shared by the rascores/ntri build
    outputs and the above-gate triangle, resource-allocation and local
    clustering plans."""
    deg = _degrees(edges)
    da = deg.select(F.col("node").alias("a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("node").alias("b"), F.col("deg").alias("deg_b"))
    if broadcast_deg:
        da, db = F.broadcast(da), F.broadcast(db)
    with_deg = edges.join(da, "a").join(db, "b")
    pa = _pack_deg_node(F.col("deg_a"), F.col("a"))
    pb = _pack_deg_node(F.col("deg_b"), F.col("b"))
    oriented = with_deg.select(
        F.least(pa, pb).alias("src"), F.greatest(pa, pb).alias("dst")
    )
    adj = oriented.groupBy("src").agg(F.collect_set("dst").alias("ns"))
    e_u = adj.select(
        F.col("src").alias("u"),
        F.col("ns").alias("ns_u"),
        F.explode("ns").alias("v"),
    )
    adj_v = adj.select(F.col("src").alias("v"), F.col("ns").alias("ns_v"))
    return (
        e_u.join(adj_v, "v")
        .select("u", "v", F.array_intersect("ns_u", "ns_v").alias("zs"))
        .filter(F.size("zs") > 0)
    )


def _tri_triples_deg(edges: DataFrame, broadcast_deg: bool = False) -> DataFrame:
    """Every triangle as ONE row (u, du, v, dv, z, dz) — the three
    vertices plus their exact degrees — by exploding _tri_edge_rows'
    per-apex-edge zs arrays. Each triangle surfaces exactly once.
    Kept as the test/inspection face; production consumers aggregate
    the edge-rows frame directly (single pass, no triple stream)."""
    packed = _tri_edge_rows(edges, broadcast_deg).select(
        "u", "v", F.explode("zs").alias("z")
    )
    lo32 = F.lit(_LO32)
    cols = []
    for c, d in (("u", "du"), ("v", "dv"), ("z", "dz")):
        cols.append(F.col(c).bitwiseAND(lo32).alias(c))
        cols.append(F.shiftrightunsigned(F.col(c), 32).alias(d))
    return packed.select(*cols)


def _tri_node_counts(rows: DataFrame) -> DataFrame:
    """Per-node triangle participation (node, n_tri) from the
    edge-rows frame: each row credits u and v with size(zs) triangles
    and each z with one — every triangle credits all three corners
    exactly once. ONE explode of T + 2|E'| (node, c) pairs computed
    in-row, then a node-keyed aggregate whose map-side combine
    actually collapses (|V| distinct keys, not |E|). Nodes in no
    triangle are ABSENT (consumers left-join and coalesce to 0);
    sum(n_tri) = 3 · total triangles exactly."""
    lo32 = F.lit(_LO32)
    sz = F.size("zs").cast("long")
    base = F.array(
        F.struct(F.col("u").bitwiseAND(lo32).alias("node"), sz.alias("c")),
        F.struct(F.col("v").bitwiseAND(lo32).alias("node"), sz.alias("c")),
    )
    zarr = F.transform(
        "zs",
        lambda z: F.struct(
            z.bitwiseAND(lo32).alias("node"), F.lit(1).cast("long").alias("c")
        ),
    )
    ex = rows.select(F.explode(F.concat(base, zarr)).alias("e"))
    return ex.groupBy(F.col("e.node").alias("node")).agg(
        F.sum("e.c").cast("long").alias("n_tri")
    )


def _ra_from_edge_rows(rows: DataFrame) -> DataFrame:
    """Resource-allocation scores from the edge-rows frame: RA only
    scores CLOSED wedges — triangles — so each apex row contributes
    (1) its OWN pair's full score in-row (n_common = size(zs),
    ra = Σ 1e6 div deg(z), an array fold — no explode, no cross-row
    aggregation for the apex pair's zs) and (2) one (pair, 1/deg)
    term per triangle for each of the two side pairs (u,z)/(v,z).
    All contributions carry a GUARDED packed (lo<<32|hi) pair key and
    come out of ONE explode over one copy of the subtree; the final
    groupBy moves 2T + |E'| rows of 24 B — vs the first r12 cut's 3T
    struct rows, the difference between ~70 GB of sf10 shuffle (disk
    exhaustion) and a bounded exchange. Identical values to the
    broadcast wedge plan: every (edge, common-neighbor) pair appears
    exactly once because the edge-iterator enumerates each triangle
    exactly once, and each 1e6 div deg term truncates identically."""
    lo32 = F.lit(_LO32)
    ui, vi = F.col("u").bitwiseAND(lo32), F.col("v").bitwiseAND(lo32)
    du = F.shiftrightunsigned(F.col("u"), 32)
    dv = F.shiftrightunsigned(F.col("v"), 32)

    one = F.lit(1).cast("long")
    apex = F.struct(
        _pair_key(ui, vi).alias("k"),
        F.size("zs").cast("long").alias("n"),
        F.aggregate(
            "zs",
            F.lit(0).cast("long"),
            lambda acc, z: acc
            + int_div(F.lit(1_000_000), F.shiftrightunsigned(z, 32)),
        ).alias("w"),
    )
    sides = F.flatten(
        F.transform(
            "zs",
            lambda z: F.array(
                F.struct(
                    _pair_key(z.bitwiseAND(lo32), ui).alias("k"),
                    one.alias("n"),
                    int_div(F.lit(1_000_000), dv).alias("w"),
                ),
                F.struct(
                    _pair_key(z.bitwiseAND(lo32), vi).alias("k"),
                    one.alias("n"),
                    int_div(F.lit(1_000_000), du).alias("w"),
                ),
            ),
        )
    )
    contribs = rows.select(F.explode(F.concat(F.array(apex), sides)).alias("c"))
    return (
        contribs.groupBy(F.col("c.k").alias("k"))
        .agg(
            F.sum("c.n").cast("long").alias("n_common"),
            F.sum("c.w").cast("long").alias("ra_e6"),
        )
        .select(
            F.shiftrightunsigned(F.col("k"), 32).alias("a"),
            F.col("k").bitwiseAND(lo32).alias("b"),
            "n_common",
            "ra_e6",
        )
    )


def _ra_from_closed(closed: DataFrame) -> DataFrame:
    """Resource-allocation scores from the _tri_closed_bcast triangle
    rows (u, v, w): RA only scores CLOSED wedges, so each triangle emits
    its three pair terms — pair (u,v) gains 1e6 div deg(w), (u,w) gains
    1e6 div deg(v), (v,w) gains 1e6 div deg(u). Every (edge,
    common-neighbor) combination appears exactly once because the
    stream enumerates each triangle exactly once, and each term
    truncates identically to the oracle's 1000000 // deg. The final
    groupBy moves 3T contribution rows, collapsed map-side onto
    ≤ |E'| distinct pair keys."""
    lo32 = F.lit(_LO32)
    ui, vi, wi = (
        F.col("u").bitwiseAND(lo32),
        F.col("v").bitwiseAND(lo32),
        F.col("w").bitwiseAND(lo32),
    )
    du = F.shiftrightunsigned(F.col("u"), 32)
    dv = F.shiftrightunsigned(F.col("v"), 32)
    dw = F.shiftrightunsigned(F.col("w"), 32)

    one = F.lit(1).cast("long")
    contribs = closed.select(
        F.explode(
            F.array(
                F.struct(
                    _pair_key(ui, vi).alias("k"),
                    one.alias("n"),
                    int_div(F.lit(1_000_000), dw).alias("t"),
                ),
                F.struct(
                    _pair_key(ui, wi).alias("k"),
                    one.alias("n"),
                    int_div(F.lit(1_000_000), dv).alias("t"),
                ),
                F.struct(
                    _pair_key(vi, wi).alias("k"),
                    one.alias("n"),
                    int_div(F.lit(1_000_000), du).alias("t"),
                ),
            )
        ).alias("c")
    )
    return (
        contribs.groupBy(F.col("c.k").alias("k"))
        .agg(
            F.sum("c.n").cast("long").alias("n_common"),
            F.sum("c.t").cast("long").alias("ra_e6"),
        )
        .select(
            F.shiftrightunsigned(F.col("k"), 32).alias("a"),
            F.col("k").bitwiseAND(lo32).alias("b"),
            "n_common",
            "ra_e6",
        )
    )


def _jaccard_raw_pairs(
    spark: SparkSession, sf_dir: str, jsig: dict | None = None
) -> int:
    """The graph gates' operand: sum c·(c-1)/2 over per-order ROW counts
    — a conservative upper bound on distinct edges AND on the explode
    volume the array build would ingest (see the gate note in
    graph_jaccard_neighbors). Read from the served JSIG meta `jsig` when
    given, else one single-column counted groupBy."""
    if jsig is not None:
        return jsig["raw_pairs"]
    return (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(F.sum(F.col("c") * (F.col("c") - 1)))
        .first()[0]
        or 0
    ) // 2


# The one closure gate of the triangle count, resource allocation and
# local clustering, in raw pairs. At or below it they enumerate
# triangles with _tri_closed_bcast, which broadcasts the (node, deg)
# table and the packed edge set (one long per edge), so no wedge or
# adjacency array ever shuffles; above it with _tri_edge_rows, which
# broadcasts nothing. 1.5M raw pairs bounds that broadcast at ~1.5M
# longs plus ~3M (node, deg) rows. Every committed scale sits on one
# side of it: sf0.1 has 1.2M raw pairs, .stress/sf1 12M. Still to
# measure (ROADMAP item 4): between 1.5M and 5M raw pairs the triangle
# count takes the iterator, where its old edge-count gate broadcast up
# to 5M distinct edges.
CLOSURE_BROADCAST_LIMIT = 1_500_000


def _closure_fits(spark: SparkSession, sf_dir: str, jsig: dict | None) -> bool:
    return _jaccard_raw_pairs(spark, sf_dir, jsig) <= CLOSURE_BROADCAST_LIMIT


def _jaccard_K(raw_pairs: int) -> int:
    return (
        JACCARD_SKETCH_K
        if raw_pairs <= JACCARD_K_HALVE_PAIRS
        else JACCARD_SKETCH_K // 2
    )


def _jaccard_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deduped half-direction (a < b) co-purchase edge list — the ONE
    way every graph query gets the graph (PageRank, triangle, jaccard,
    RA, LCC, degree distribution, k-core, assortativity,
    LPA/modularity). Read from the JSIG
    materialization when it is served (the build writes the edge
    parquet at ANY gate: at every scale the collect_set + packed-distinct
    build over lineitem was re-run per consumer, ~7x per bench pass,
    and production writes the ~16 B/edge relation ONCE). Inline
    fallback (_jaccard_edges_inline) is bitwise-identical — the build
    writes exactly that frame. The SCORED relations (escores/rascores/
    ntri) remain above-gate-only: they are query RESULTS, and
    materializing results where the exact plans are cheap would make
    the below-gate queries pure read-outs; the edge list is shared
    INPUT, which every consumer still computes on."""
    jsig = materialize.serve(JSIG, sf_dir)
    if jsig is not None and jsig.get("edges"):
        return read_parquet(spark, os.path.join(jsig["loc"], "edges"))
    return _jaccard_edges_inline(spark, sf_dir)


def _jaccard_edges_inline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The inline edge build: the dedup runs over the GUARDED packed
    (a<<32|b) long (r12 optimization round): the distinct's exchange —
    the largest in every consumer's edge build, raw-pair-volume rows —
    carries one 8-byte key instead of a 16-byte two-column row, and
    the post-shuffle hash dedup compares single longs. Unpacking after
    the distinct restores the exact (a, b) columns, so every consumer
    sees the identical frame. Ids ≥ 2^32 raise loudly via the pack
    guard — the SAME documented contract every packed graph path here
    has carried since the r11 ADVICE fix (the triangle/RA/rascores
    machinery packs ids in every branch); a corpus whose keys exceed
    2^32 needs the two-column fallback noted there, not a silent
    alias. collect_set dedupes the order-part rows per order in one
    partial-aggregated shuffle; the pair expansion is map-side row
    generation over sets bounded by items per order (~7 in TPC-H)."""
    sets = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.collect_set("l_partkey").alias("ps"))
    )
    packed = (
        sets.select(F.explode("ps").alias("node"), "ps")
        .select("node", F.explode("ps").alias("nb"))
        .filter(F.col("node") < F.col("nb"))
        .select(_packed_pair(F.col("node"), F.col("nb")).alias("k"))
        .distinct()
    )
    return packed.select(
        F.shiftrightunsigned(F.col("k"), 32).alias("a"),
        F.col("k").bitwiseAND(F.lit(_LO32)).alias("b"),
    )


def _jaccard_sigs(edges: DataFrame, K: int) -> DataFrame:
    """Per-node (deg, packed K-minima) signature frame from the deduped
    edge list: deg + the K 16-bit-truncated minima come from ONE
    map-combined aggregate over the flipped union, the minima packed 4
    per int64 (see the plan rationale in graph_jaccard_neighbors)."""
    both = edges.select(F.col("a").alias("node"), F.col("b").alias("nb")).unionAll(
        edges.select(F.col("b").alias("node"), F.col("a").alias("nb"))
    )

    def _h32(k: int):
        return (
            F.xxhash64("nb", F.lit(k)).bitwiseAND(F.lit(4294967295))
            - F.lit(2147483648)
        ).cast("int")

    mins = both.groupBy("node").agg(
        F.count(F.lit(1)).cast("long").alias("deg"),
        *[F.min(_h32(k)).alias(f"s{k}") for k in range(K)],
    )
    packs = []
    for g in range(K // 4):
        packed = F.lit(0).cast("long")
        for j in range(4):
            k = g * 4 + j
            packed = packed.bitwiseOR(
                F.shiftleft(
                    F.col(f"s{k}").cast("long").bitwiseAND(F.lit(65535)),
                    16 * j,
                )
            )
        packs.append(packed.alias(f"p{g}"))
    return mins.select("node", "deg", *packs)


def _jaccard_pair_frame(edges: DataFrame, sigs: DataFrame, NP: int) -> DataFrame:
    """Every edge with both endpoints' (deg, packed signature) attached
    — the frame the scoring expression runs over. The two id-keyed
    joins here are the dominant cost of the whole query at scale
    (measured sf10: ~260 of ~295 s), which is why the build job
    materializes THIS frame, not just the signatures."""
    sa = sigs.select(
        F.col("node").alias("a"),
        F.col("deg").alias("da"),
        *[F.col(f"p{g}").alias(f"pa{g}") for g in range(NP)],
    ).hint("shuffle_hash")
    sb = sigs.select(
        F.col("node").alias("b"),
        F.col("deg").alias("db"),
        *[F.col(f"p{g}").alias(f"pb{g}") for g in range(NP)],
    ).hint("shuffle_hash")
    return edges.join(sa, "a").join(sb, "b")


def _jaccard_scored(paired: DataFrame, K: int, NP: int) -> DataFrame:
    """The sketch estimator over the pair frame: slot-match count m as
    a K-term codegen equality sum over the packed columns, then
    n_common read back from j = m/K via n_common = m·(da+db)/(K+m)
    and jaccard_ppm = m·1e6/K, both truncating integer."""
    terms = []
    for g in range(NP):
        for j in range(4):
            sh = 16 * j
            terms.append(
                (
                    F.shiftrightunsigned(F.col(f"pa{g}"), sh).bitwiseAND(
                        F.lit(65535)
                    )
                    == F.shiftrightunsigned(F.col(f"pb{g}"), sh).bitwiseAND(
                        F.lit(65535)
                    )
                ).cast("long")
            )
    matches = sum(terms[1:], terms[0])
    return paired.select(
        "a",
        "b",
        matches.alias("m"),
        (F.col("da") + F.col("db")).alias("dsum"),
    ).select(
        "a",
        "b",
        F.expr(f"CAST(m * dsum div ({K} + m) AS BIGINT)").alias("n_common"),
        F.expr(f"CAST(m * 1000000 div {K} AS BIGINT)").alias("jaccard_ppm"),
    )


def _build_jsig(spark: SparkSession, sf_dir: str, loc: str) -> dict:
    """The JSIG build: the co-purchase graph's derived relations.
    Above the gate, writes (1) the deduped edge parquet, (2) `escores`
    — every edge SCORED with the MinHash jaccard estimate: (a, b,
    n_common, jaccard_ppm), zero-overlap rows excluded (they are
    excluded from every read-out anyway: the oracle's wedge GROUP BY
    never emits them), (3) `rascores` — every edge's EXACT
    resource-allocation score (a, b, n_common, ra_e6) from the
    degree-oriented triangle triples (the escores precedent: RA is a
    deterministic function of the same edge set), and (4) `ntri` —
    per-node exact triangle participation counts (node, n_tri), read
    by graph_triangle_count (sum div 3) and graph_local_clustering.
    The r11 stress run measured the jaccard alternatives at sf10:
    inline 295.6 s; materialized signatures (join per read) 260.8 s;
    materialized pre-joined signature pairs 216.5 s — scanning
    edge-sized signature payloads is the floor, so the build runs each
    whole pipeline once and persists the small scored/count relations
    the consumers actually re-read (any top-k, any threshold). Below
    the gate, the EDGE parquet is still written (every graph consumer
    re-derived the identical frame from lineitem, ~7 rebuilds per
    bench pass) but the scored relations are NOT: below the gate the
    exact plans are the cheap path and materializing their RESULTS
    would reduce the queries to read-outs. The meta records raw_pairs
    (consumers skip the gate scan), `below_gate` or `K`, and each
    build phase's wall (build_sec) for bench provenance."""
    import time

    doc: dict = {"raw_pairs": _jaccard_raw_pairs(spark, sf_dir)}
    build_sec: dict[str, float] = {}
    t0 = time.perf_counter()
    edges_loc = os.path.join(loc, "edges")
    _jaccard_edges_inline(spark, sf_dir).write.mode("overwrite").parquet(edges_loc)
    edges = read_parquet(spark, edges_loc)
    build_sec["edges"] = round(time.perf_counter() - t0, 2)
    doc["edges"] = True
    doc["build_sec"] = build_sec
    if doc["raw_pairs"] <= BROADCAST_EDGE_LIMIT:
        doc["below_gate"] = True
    else:
        K = _jaccard_K(doc["raw_pairs"])
        doc["K"] = K
        t0 = time.perf_counter()
        sigs = _jaccard_sigs(edges, K).persist(StorageLevel.MEMORY_AND_DISK)
        _jaccard_scored(_jaccard_pair_frame(edges, sigs, K // 4), K, K // 4).filter(
            F.col("n_common") >= 1
        ).write.mode("overwrite").parquet(os.path.join(loc, "escores"))
        sigs.unpersist()
        build_sec["escores"] = round(time.perf_counter() - t0, 2)
        # The apex edge-rows frame feeds BOTH remaining relations —
        # enumerate once, persist the |E'|-row frame (zs payload = T
        # packed longs total), derive each output from the cache in
        # one pass each (the one-time-build analogue of the query-side
        # rule that the collect_set subtree must run exactly once).
        t0 = time.perf_counter()
        rows = _tri_edge_rows(edges).persist(StorageLevel.MEMORY_AND_DISK)
        _ra_from_edge_rows(rows).write.mode("overwrite").parquet(
            os.path.join(loc, "rascores")
        )
        build_sec["rascores"] = round(time.perf_counter() - t0, 2)
        t0 = time.perf_counter()
        _tri_node_counts(rows).write.mode("overwrite").parquet(
            os.path.join(loc, "ntri")
        )
        rows.unpersist()
        build_sec["ntri"] = round(time.perf_counter() - t0, 2)
    return doc


JSIG = materialize.register(
    materialize.Relation(
        "jsig", "lineitem", _JSIG_FORMAT, "SPARK_GRAFT_JACCARD_SIG_DISABLE",
        _build_jsig,
    )
)
run_jaccard_sig_build_job = functools.partial(materialize.build, JSIG)
jaccard_sig_location = functools.partial(materialize.location, JSIG)


@query(
    "graph_jaccard_neighbors",
    oracle=f"""
    WITH {_DUCK_EDGES},
    common AS (
      SELECT e.a, e.b, CAST(count(*) AS BIGINT) AS c
      FROM e
      JOIN edges n1 ON n1.src = e.a
      JOIN edges n2 ON n2.src = e.b AND n2.dst = n1.dst
      GROUP BY e.a, e.b
    )
    SELECT a, b, c AS n_common,
           CAST(c * 1000000 // (da.deg + db.deg - c) AS BIGINT) AS jaccard_ppm
    FROM common
    JOIN deg da ON da.node = common.a
    JOIN deg db ON db.node = common.b
    ORDER BY jaccard_ppm DESC, a, b
    LIMIT {JACCARD_TOP_N}
    """,
)
def graph_jaccard_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Node-pair similarity on the part co-purchase graph: for every
    EDGE (a, b), the Jaccard overlap of the two endpoints' neighbor
    sets |N(a)∩N(b)| / |N(a)∪N(b)| in exact ppm — the classic
    link-prediction / related-items score. Restricting candidates to
    existing edges (not all wedge pairs) keeps the pair space |E|,
    never Σdeg²: each edge row joins its two adjacency arrays and the
    intersection runs INSIDE the row (array_intersect, codegen), so
    the per-row cost is deg(a)+deg(b) and nothing quadratic ever
    materializes as rows. The adjacency sets come from ONE groupBy
    over the symmetrised shared edge list, and the a-side edge list
    with its neighbor array attached falls out of the adjacency frame
    by a map-side explode, so only the b-side array needs a join —
    broadcast under the plan-time size gate (fact-derived frames are
    never unconditionally broadcast). Top-20 survives via TakeOrdered with an (a, b)
    tiebreaker. The oracle recomputes common-neighbor counts with the
    naive wedge GROUP BY.

    ABOVE the gate the exact path's per-edge array_intersect cost —
    deg(a)+deg(b), summed over edges = Σdeg² — is quadratic in hub
    degree (sf1 measured ~16x wall for 10x data) and the fat adjacency
    arrays would shuffle through both joins. The big-graph path
    therefore switches to MinHash SKETCHES of the adjacency sets, and
    since round 6 it is fully ARRAY-FREE: per-node arrays are never
    collected (the sf10 run proved the collect_set + per-row transform
    build exhausts a 16g local JVM before any timing); instead K
    32-bit-truncated xxhash64 minima are computed as SCALAR
    min-aggregates over the distinct incidence rows and stay
    PRIMITIVE COLUMNS end to end (since r8 — no array assembly, no
    interpreted zip_with fold: slot matching is a K-term codegen
    equality sum), every edge carries two FIXED K-slot int signatures
    (8+4K bytes), per-edge cost is O(K), and K auto-halves above
    JACCARD_K_HALVE_PAIRS so the join payload stays bounded as the
    graph grows (SE ~sqrt(j(1-j)/K): 6 -> 9 ppt worst case). The gate is an ARRAY-FREE
    raw-pair-volume bound from per-order ROW counts (since r8): one
    single-column counted groupBy, no collect_set pass spent on the
    scalar decision (the r7 gate's perf flag). n_common is read
    back from the estimate via j·(da+db)/(1+j) in truncating integer
    ppm. The exact path — and thus the sf0.01 oracle hash — is
    unchanged below the gate.

    Since r11 the sketch path is backed by the written-once JSIG
    relation (_build_jsig): a served materialization supplies
    raw_pairs (no gate scan) and, above the gate, the pre-SCORED
    edge-similarity parquet (a, b, n_common, jaccard_ppm) — the r11
    stress run measured signatures-only and pre-joined-signatures
    caches and found edge-sized signature scanning is the floor (sf10:
    295.6 s inline / 260.8 s sig cache / 216.5 s pair cache), so the
    build runs the whole pipeline once and the read path is a small
    4-column scan + TakeOrdered. Otherwise the bitwise-identical inline plan runs."""
    jsig = materialize.serve(JSIG, sf_dir)
    # Pre-gate on RAW pair volume. raw_pairs bounds the distinct edge
    # count from above AND (unlike the old distinct-edge gate) measures
    # the work the array build itself would ingest: at sf10 the
    # collect_set + 64-transform signature build over fat adjacency
    # arrays killed the 16g local JVM (SparkOutOfMemoryError
    # UNABLE_TO_ACQUIRE_MEMORY) before any timing — the sketch path
    # must not materialize per-node arrays at all. The bound comes
    # from per-order ROW counts (c >= |distinct parts| per order, so
    # sum c·(c-1)/2 conservatively bounds distinct edges AND the
    # explode volume): a single-column counted groupBy with map-side
    # combine. The r7 form computed the same bound from a per-order
    # collect_set pass spent entirely on this scalar (~0.9 s of the
    # 3.6 s sf0.1 wall, the r7 gate's only perf flag, and a far
    # larger duplicate pass at sf10). NOTE an r8 attempt to instead
    # PERSIST the set frame and share it between gate and paths
    # measured 30 -> 220 s at sf1: Spark's in-memory columnar cache
    # has no efficient encoding for array columns, so caching
    # array-typed frames costs more than recomputing them — never
    # persist nested-type intermediates that one extra scan can
    # rebuild.
    # THRESHOLD SEMANTICS (ADVICE r8): raw_pairs >= the old
    # distinct-edge count (duplicate (orderkey, partkey) rows inflate
    # c), so graphs near BROADCAST_EDGE_LIMIT that the r7 gate ran
    # exact may now take the sketch path — a deliberate trade: the
    # raw bound measures the explode/ingest work that actually OOMs,
    # and the sketch path is the safe side of the gate. "Exact path
    # unchanged below the gate" refers to the exact plan itself; the
    # gate's operand moved from distinct to raw volume in r8.
    raw_pairs = _jaccard_raw_pairs(spark, sf_dir, jsig)
    if raw_pairs <= BROADCAST_EDGE_LIMIT:
        # Neighbor sets from the symmetrised edge list: one groupBy
        # whose collect_set is exact (the edges are already distinct).
        adj = scoped_persist(
            _both_ways(_jaccard_edges(spark, sf_dir))
            .groupBy(F.col("src").alias("node"))
            .agg(F.collect_set("dst").alias("ns")),
            StorageLevel.MEMORY_AND_DISK,
        )
        # EXACT path. The a-side neighbor array rides along for free:
        # every canonical edge (a < b) appears exactly once as an
        # element of a's set. nodes ≤ 2·edges, so the edge gate bounds
        # the adjacency frame; broadcasting keeps the fat exploded side
        # entirely map-side.
        ewa = adj.select(
            F.col("node").alias("a"),
            F.col("ns").alias("ns_a"),
            F.explode("ns").alias("b"),
        ).filter(F.col("a") < F.col("b"))
        nb = F.broadcast(
            adj.select(F.col("node").alias("b"), F.col("ns").alias("ns_b"))
        )
        paired = ewa.join(nb, "b")
        c = F.size(F.array_intersect("ns_a", "ns_b")).cast("long")
        scored = paired.select(
            "a",
            "b",
            c.alias("n_common"),
            (F.size("ns_a") + F.size("ns_b")).cast("long").alias("dsum"),
        ).select(
            "a",
            "b",
            "n_common",
            F.expr("CAST(n_common * 1000000 div (dsum - n_common) AS BIGINT)").alias(
                "jaccard_ppm"
            ),
        )
    else:
        # SKETCH path (big graphs) — ARRAY-FREE since round 6,
        # primitive-slot since r8, PACKED + shuffle-pruned since r9:
        #
        #   - the signature stays K scalar min-aggregates of
        #     h_k(x) = xxhash64(x, k) (HOF folds are CodegenFallback —
        #     the r8 lesson stands);
        #   - r9 halves the DISTINCT (r8's und frame shuffled 239M
        #     full-direction rows at sf10 for a 0.3% duplicate rate):
        #     only the half-direction edge list (a < b) is deduped and
        #     persisted; deg and the K mins then come from ONE
        #     map-combined aggregate over its flipped union, read from
        #     cache — the collect_set subtree runs exactly once;
        #   - the K slots are TRUNCATED to 16 bits post-min and PACKED
        #     4 per int64 (bitwise shiftleft/OR — an arithmetic *2^48
        #     overflows ANSI int64), so the per-edge join payload is
        #     K/4 longs instead of K ints: truncation AFTER the min
        #     keeps the estimator valid (equal mins stay equal; a
        #     false 16-bit match costs 2^-16 per slot, far below the
        #     1/K estimate granularity — the plan-parity test bounds
        #     the estimate against the exact path);
        #   - join strategy re-measured for the packed shape (r8
        #     measured shuffle_hash WORSE at K=64 unpacked, 1175 ->
        #     1308 s: the wide rows made the hash build spill). With
        #     4x narrower rows the hash build skips sorting the
        #     100M+-row edge stream: sf10 sequential A/B measured
        #     392.4 s sort-merge -> 352.8 s shuffle_hash (identical
        #     top-20), and a warm sf1 A/B pair 55.3 -> 52.4 s. The
        #     later-run page-cache advantage means part of the sf10
        #     gap is ordering bias — the hint is kept on the warm-pair
        #     evidence plus the structural saving, not the 40 s.
        #     r8 committed plan: 504.4 s at sf10 on the same host.
        # K still auto-halves above JACCARD_K_HALVE_PAIRS so the
        # payload stays bounded as the graph grows.
        if jsig is not None and "K" in jsig:
            # Read path: ONE lazy parquet scan of the pre-SCORED edge
            # relation (a, b, n_common, jaccard_ppm; zero-overlap rows
            # already excluded). The r11 stress session measured the
            # layers one by one at sf10: inline 295.6 s; caching
            # signatures only (join still per-read) 260.8 s; caching
            # the pre-joined signature pairs (19 GB scan) 216.5 s — the
            # scan of edge-sized signature payloads, not the joins or
            # the signature math, is the floor. So the build
            # materializes the 4-column scored relation instead, and
            # what remains per read is a small scan + TakeOrdered.
            K = jsig["K"]
            scored = read_parquet(spark, os.path.join(jsig["loc"], "escores"))
        else:
            # Inline build. deg + mins come from ONE aggregate over the
            # flipped union of the persisted edges — the deduped set
            # read from cache, so the collect_set subtree runs exactly
            # once (an r9 draft computed mins from the raw pairs in a
            # second pass; recomputing the per-order collect_set
            # doubled the sf1 wall, 35.6 -> 81.8 s). count() over the
            # deduped union IS the exact degree; min() is indifferent
            # to the dedup.
            K = _jaccard_K(raw_pairs)
            NP = K // 4
            edges = scoped_persist(
                _jaccard_edges(spark, sf_dir),
                StorageLevel.MEMORY_AND_DISK,
            )
            sigs = scoped_persist(
                _jaccard_sigs(edges, K),
                StorageLevel.MEMORY_AND_DISK,
            )
            scored = _jaccard_scored(
                _jaccard_pair_frame(edges, sigs, NP), K, NP
            )
    # Edges with ZERO common neighbors are excluded before the top-N:
    # the oracle's wedge GROUP BY is an inner join and so never emits
    # them, and on sparse graphs (< top-N edges with any overlap) the
    # zero rows would otherwise pad the Spark side only.
    return (
        scored.filter(F.col("n_common") >= 1)
        .orderBy(F.desc("jaccard_ppm"), F.asc("a"), F.asc("b"))
        .limit(JACCARD_TOP_N)
    )


RA_TOP_N = 20


@query(
    "graph_resource_allocation",
    oracle=f"""
    WITH {_DUCK_EDGES},
    common AS (
      SELECT e.a, e.b, n1.dst AS z
      FROM e
      JOIN edges n1 ON n1.src = e.a
      JOIN edges n2 ON n2.src = e.b AND n2.dst = n1.dst
    )
    SELECT c.a, c.b,
           CAST(count(*) AS BIGINT) AS n_common,
           CAST(sum(1000000 // d.deg) AS BIGINT) AS ra_e6
    FROM common c JOIN deg d ON d.node = c.z
    GROUP BY c.a, c.b
    ORDER BY ra_e6 DESC, a, b
    LIMIT {RA_TOP_N}
    """,
)
def graph_resource_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resource-Allocation link-prediction index on the part
    co-purchase graph: for every EDGE (a, b), RA(a, b) =
    Σ_{{z ∈ N(a)∩N(b)}} 1/deg(z) — common neighbors weighted DOWN by
    their degree (Zhou/Lü/Zhang 2009), the standard complement to the
    unweighted Jaccard score next door: a hub shared by everyone says
    little; a degree-2 broker says a lot. Exact cross-engine in e6
    fixed point: each term is the truncating 1_000_000 div deg(z),
    summed as int64 (bounded by 500_000·n_common since any common
    neighbor has deg ≥ 2 — the invariant test pins this).

    Plan shape (the triangle-count discipline, not the oracle's naive
    wedge GROUP BY): wedges are enumerated from each edge's
    LOWER-DEGREE endpoint only — candidates Σ min(deg(a), deg(b)) =
    O(m^1.5) (Chiba–Nishizeki), hub-skew-proof where the naive
    Σ deg(a) is quadratic in hub degree. Below CLOSURE_BROADCAST_LIMIT
    the triangles come from _tri_closed_bcast: the degree table and the
    PACKED canonical edge set (guarded least<<32 | greatest, one long
    per edge) are broadcast, so the wedge stream never shuffles and
    the only exchange carries edge-bounded partial aggregates.

    ABOVE the gate (r12, replacing the r11 shuffle-equi-join fallback
    that re-materialized every wedge candidate — the suite's worst
    scaler, sf1 250.4 s): RA only scores CLOSED wedges — triangles —
    so the degree-oriented edge-iterator (_tri_edge_rows) enumerates each triangle
    exactly once with all three degrees packed into the ids, and
    _ra_from_edge_rows folds the apex pair's whole score in-row and
    explodes only the 2T side terms under packed 8-byte pair keys into
    ONE groupBy. No wedge row ever shuffles; candidates are O(m^1.5).

    Since r12 the build job also materializes `rascores` — the full
    exact scored relation, a deterministic function of the digest-keyed
    edge set (the escores precedent) — so above BROADCAST_EDGE_LIMIT a
    fresh materialization reduces the read to a 4-column scan +
    TakeOrdered; stale/absent falls back to the identical-value inline
    plans. The deduped edge list is the jaccard family's
    `_jaccard_edges` frame (read from the written-once materialization
    when fresh). Top-20 survives via TakeOrdered with the (ra_e6, a,
    b) total order."""
    jsig = materialize.serve(JSIG, sf_dir)
    if jsig is not None and "K" in jsig:
        scored = read_parquet(spark, os.path.join(jsig["loc"], "rascores"))
    else:
        edges = scoped_persist(
            _jaccard_edges(spark, sf_dir), StorageLevel.MEMORY_AND_DISK
        )
        if _closure_fits(spark, sf_dir, jsig):
            scored = _ra_from_closed(_tri_closed_bcast(edges))
        else:
            scored = _ra_from_edge_rows(_tri_edge_rows(edges))
    return scored.orderBy(F.desc("ra_e6"), F.asc("a"), F.asc("b")).limit(RA_TOP_N)


LCC_TOP_N = 20


@query(
    "graph_local_clustering",
    oracle=f"""
    WITH {_DUCK_EDGES},
    tri AS (
      SELECT e1.a AS x, e1.b AS y, e2.b AS z
      FROM e e1
      JOIN e e2 ON e2.a = e1.b
      JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
    ),
    nt AS (
      SELECT node, CAST(count(*) AS BIGINT) AS n_tri
      FROM (
        SELECT x AS node FROM tri
        UNION ALL SELECT y FROM tri
        UNION ALL SELECT z FROM tri
      )
      GROUP BY node
    )
    SELECT d.node, d.deg,
           COALESCE(nt.n_tri, 0) AS n_tri,
           CAST(COALESCE(nt.n_tri, 0)::HUGEINT * 2000000
                // (d.deg::HUGEINT * (d.deg - 1)) AS BIGINT) AS lcc_ppm
    FROM deg d LEFT JOIN nt ON nt.node = d.node
    WHERE d.deg >= 2
    ORDER BY lcc_ppm DESC, d.node
    LIMIT {LCC_TOP_N}
    """,
)
def graph_local_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient on the part co-purchase graph:
    lcc(v) = 2·T(v) / (deg(v)·(deg(v)−1)) — the share of a node's
    neighbor pairs that are themselves connected, in exact truncating
    ppm (Watts–Strogatz). The community-structure diagnostic next to
    the degree distribution: high-degree low-lcc nodes are brokers /
    aggregation hubs, lcc≈1 nodes sit inside cliques (here: parts
    always bought as a bundle). Top-20 by (lcc_ppm, node) total order.

    Plan shape: per-node triangle counts come from the shared
    enumerators behind the closure gate (_tri_closed_bcast below it,
    _tri_edge_rows above it — the one the ntri build runs; each
    triangle surfaces once with its three corners), so a
    fresh written-once materialization reduces this query to a scan of
    the `ntri` relation + one degree aggregate over the edge parquet;
    inline otherwise — bitwise-identical either way. The ppm ratio is
    computed in DECIMAL(38,0) (HUGEINT on the oracle side): 2e6·T(v)
    can pass int64 at hub degrees ~1e6 and the 100-TB contract is
    fail-safe arithmetic, not hope. Nodes of degree < 2 are excluded
    (lcc undefined); nodes with no triangles keep an explicit 0 via
    the left join, and they can reach the top-20 only on graphs with
    fewer than 20 closed wedges, where the (lcc_ppm DESC, node ASC)
    order remains total and deterministic."""
    jsig = materialize.serve(JSIG, sf_dir)
    if jsig is not None and "K" in jsig:
        deg = _degrees(_jaccard_edges(spark, sf_dir))
        nt = read_parquet(spark, os.path.join(jsig["loc"], "ntri"))
    else:
        edges = scoped_persist(
            _jaccard_edges(spark, sf_dir), StorageLevel.MEMORY_AND_DISK
        )
        # One persisted degree frame serves the closure stream's two
        # broadcast builds AND the read-out below: broadcast exchanges
        # are independent plan consumers with no subtree CSE, so an
        # unpersisted one would run three times.
        deg = scoped_persist(_degrees(edges))
        if _closure_fits(spark, sf_dir, jsig):
            # corner counts straight off the triangle rows; the only
            # shuffle is the node-keyed aggregate (|V| rows map-side)
            lo32 = F.lit(_LO32)
            nt = (
                _tri_closed_bcast(edges, deg=deg)
                .select(
                    F.explode(
                        F.array(
                            F.col("u").bitwiseAND(lo32),
                            F.col("v").bitwiseAND(lo32),
                            F.col("w").bitwiseAND(lo32),
                        )
                    ).alias("node")
                )
                .groupBy("node")
                .agg(F.count(F.lit(1)).cast("long").alias("n_tri"))
            )
        else:
            nt = _tri_node_counts(_tri_edge_rows(edges))
    out = (
        deg.filter(F.col("deg") >= 2)
        .join(nt, "node", "left")
        .select(
            "node",
            "deg",
            F.coalesce(F.col("n_tri"), F.lit(0)).cast("long").alias("n_tri"),
            F.expr(
                "CAST((CAST(coalesce(n_tri, 0) AS DECIMAL(38,0)) * 2000000)"
                " div (CAST(deg AS DECIMAL(38,0)) * (deg - 1)) AS BIGINT)"
            ).alias("lcc_ppm"),
        )
    )
    return out.orderBy(F.desc("lcc_ppm"), F.asc("node")).limit(LCC_TOP_N)


@query(
    "graph_degree_distribution",
    oracle=f"""
    WITH {_DUCK_EDGES}
    SELECT deg AS degree,
           CAST(count(*) AS BIGINT) AS n_nodes,
           CAST(sum(count(*)) OVER (ORDER BY deg DESC
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_nodes_at_least
    FROM deg
    GROUP BY deg
    ORDER BY deg
    """,
)
def graph_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the part co-purchase graph with the
    complementary cumulative count (how many nodes have degree ≥ d) —
    the first diagnostic before choosing a graph algorithm at scale:
    a heavy tail here is what makes naive wedge joins explode and is
    exactly what the degree-oriented triangle plan defends against.
    Shape: _degrees over the shared edge list, then a groupBy over
    DEGREE VALUES — whose cardinality is bounded by max-degree, not
    node count — so the survival-curve window runs over a few hundred
    rows at any SF."""
    hist = (
        _degrees(_jaccard_edges(spark, sf_dir))
        .groupBy("deg")
        .agg(F.count(F.lit(1)).alias("n_nodes"))
    )
    w = Window.orderBy(F.desc("deg")).rowsBetween(Window.unboundedPreceding, 0)
    return (
        hist.select(
            F.col("deg").alias("degree"),
            F.col("n_nodes").cast("long").alias("n_nodes"),
            F.sum("n_nodes").over(w).cast("long").alias("n_nodes_at_least"),
        )
        .orderBy("degree")
    )


# The co-purchase graph is DENSE (complete-ish per-order cliques), so a
# small fixed k never peels anything; k is chosen at plan time as the
# mean degree 2|E|/|V| (floor 3) — the "denser-than-average core",
# which peels meaningfully at every SF while staying deterministic.
K_CORE_FLOOR = 3
K_CORE_MAX_ITER = 30
# Above this removal-set size the broadcast anti-join falls back to a
# shuffled anti-join (10M longs ~ 80MB broadcast is the comfort edge).
KCORE_BROADCAST_REMOVE_LIMIT = 10_000_000
# Below this edge count the whole peel runs as a DRIVER-SIDE numpy
# loop over one bounded Arrow collect (r12 optimization round — the
# connected-components union-find precedent, dedup.py's
# CC_DRIVER_PAIR_LIMIT): each distributed peel round costs two
# scheduled jobs (degree aggregate + anti-join/localCheckpoint) of
# fixed multi-hundred-ms overhead regardless of data size, so a
# sf0.1 graph paid ~3 s of scheduling for ~0.1 s of arithmetic.
# 2M (a, b) int64 pairs ≈ 32 MB over Arrow — the same size class as
# the plan-time broadcast gates — and the numpy rounds are exact
# replicas of the distributed rounds (same removal rule, same
# iteration counting, same K_CORE_MAX_ITER cap), so the summary row
# is value-identical; the parity test pins both paths against each
# other. Above the gate (sf1+) the distributed peel runs unchanged.
KCORE_DRIVER_EDGE_LIMIT = 2_000_000
_KCORE_SCHEMA = (
    "k long, n_iterations int, n_nodes_total long, n_edges_total long, "
    "n_nodes_core long, n_edges_core long"
)


@query("graph_kcore_summary")  # rows-only: iterative fixpoint, not SQL-expressible
def graph_kcore_summary(spark: SparkSession, sf_dir: str, k: int = 0) -> DataFrame:
    """k-core of the part co-purchase graph by iterative peeling
    (k = mean degree, plan-time derived — see K_CORE_FLOOR note — unless
    a positive `k` is given):
    repeatedly drop nodes with degree < k until fixpoint — the
    standard dense-subgraph screen (spam rings, bot cliques, core
    community extraction) and the preprocessing step that makes
    triangle/clique algorithms affordable (the periphery is gone).
    Shape per round (r5 verdict #3 rewrite): ONE degree aggregate over
    the surviving edge list is the only exchange; the nodes BELOW k —
    the removal set, small after round one — are broadcast into two
    LEFT ANTI joins (narrow, no edge shuffle; falls back to a shuffled
    anti-join above KCORE_BROADCAST_REMOVE_LIMIT), and the surviving
    edges are localCheckpoint(eager)'d so the plan never grows past one
    round and each round's materialize doubles as the single forcing
    action. The fixpoint test is removal-set-empty, equivalent to the
    old edge-count test (an edge disappears iff an endpoint is
    removed). Peeling converges in O(max core number) rounds — single
    digits on power-law graphs — and is capped at K_CORE_MAX_ITER.
    Output is the one-row audit summary (rows-only by design: the
    fixpoint invariant is pytest-checked instead — every surviving
    node must keep degree ≥ 3 inside the core)."""
    # the deduped a<b edge list is _jaccard_edges (identical frame;
    # packed-long distinct — r12), persisted for the peel rounds
    edges0 = _jaccard_edges(spark, sf_dir).persist(StorageLevel.MEMORY_AND_DISK)
    n_edges_total = edges0.count()
    if n_edges_total <= KCORE_DRIVER_EDGE_LIMIT:
        # Driver peel (see KCORE_DRIVER_EDGE_LIMIT): one Arrow collect
        # of the cached edge list, then numpy rounds that mirror the
        # distributed loop STATEMENT FOR STATEMENT — degrees over
        # surviving edges, remove nodes with degree < k, count the
        # round, stop on an empty removal set or at K_CORE_MAX_ITER.
        # n_nodes_total falls out of the collected arrays (np.unique ==
        # the distributed distinct-count, saving that job too).
        import numpy as np

        pdf = edges0.toPandas()
        edges0.unpersist()
        ea = pdf["a"].to_numpy(copy=False)
        eb = pdf["b"].to_numpy(copy=False)
        n_nodes_total = int(np.unique(np.concatenate([ea, eb])).size)
        k = k or max(K_CORE_FLOOR, (2 * n_edges_total) // max(n_nodes_total, 1))
        alive = np.ones(len(ea), dtype=bool)
        iters = 0
        for _ in range(K_CORE_MAX_ITER):
            iters += 1
            nodes_u, cnts = np.unique(
                np.concatenate([ea[alive], eb[alive]]), return_counts=True
            )
            removal = nodes_u[cnts < k]
            if removal.size == 0:
                break
            alive &= ~(np.isin(ea, removal) | np.isin(eb, removal))
        n_edges = int(alive.sum())
        n_nodes_core = int(
            np.unique(np.concatenate([ea[alive], eb[alive]])).size
        )
        return spark.createDataFrame(
            [(k, iters, n_nodes_total, n_edges_total, n_nodes_core, n_edges)],
            _KCORE_SCHEMA,
        )
    n_nodes_total = _degrees(edges0).count()
    k = k or max(K_CORE_FLOOR, (2 * n_edges_total) // max(n_nodes_total, 1))
    edges = edges0
    prev_ckpt_ids: set[int] = set()
    iters = 0
    for _ in range(K_CORE_MAX_ITER):
        remove = (
            _degrees(edges)
            .filter(F.col("deg") < k)
            .select("node")
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        n_removed = remove.count()
        iters += 1
        if n_removed == 0:
            remove.unpersist()
            break
        drop = (
            F.broadcast(remove)
            if n_removed <= KCORE_BROADCAST_REMOVE_LIMIT
            else remove
        )
        edges, new_ids = local_checkpoint(
            edges.join(drop.withColumnRenamed("node", "a"), "a", "left_anti")
            .join(drop.withColumnRenamed("node", "b"), "b", "left_anti")
        )
        # Rotate checkpoint storage: the new round's blocks are live the
        # moment the eager checkpoint returns, so the SUPERSEDED round's
        # are freed by id. Without this, up to K_CORE_MAX_ITER stale
        # edge snapshots pile up in executor storage for the life of a
        # sweep session.
        unpersist_rdd_ids(spark, prev_ckpt_ids)
        prev_ckpt_ids = new_ids
        remove.unpersist()
    n_edges = edges.count() if edges is not edges0 else n_edges_total
    n_nodes_core = _degrees(edges).count()
    edges0.unpersist()
    # the final round's checkpoint blocks are done once the summary
    # counts above have materialized
    unpersist_rdd_ids(spark, prev_ckpt_ids)
    return spark.createDataFrame(
        [(k, iters, n_nodes_total, n_edges_total, n_nodes_core, n_edges)],
        _KCORE_SCHEMA,
    )


@query(
    "graph_degree_assortativity",
    oracle=f"""
    WITH {_DUCK_EDGES},
    pairs AS (
      -- every directed edge: BOTH orientations of each undirected one,
      -- so the correlation is symmetric in its arguments
      SELECT da.deg AS x, db.deg AS y FROM edges
        JOIN deg da ON da.node = edges.src JOIN deg db ON db.node = edges.dst
    ),
    moms AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
             CAST(sum(CAST(x AS HUGEINT) * y) AS DOUBLE) AS sxy,
             CAST(sum(CAST(x AS HUGEINT) * x) AS DOUBLE) AS sxx,
             CAST(sum(CAST(y AS HUGEINT) * y) AS DOUBLE) AS syy
      FROM pairs
    )
    SELECT n AS n_endpoints,
           round((n * sxy - sx * sy)
                 / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)),
                 6) + 0 AS assortativity
    FROM moms
    """,
)
def graph_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the co-purchase graph: the Pearson
    correlation of endpoint degrees over all edge orientations
    (Newman '02) — positive means hubs prefer hubs (social-network
    shape), negative means hub-and-spoke (catalog/star shape), and
    the sign decides which skew defenses matter (disassortative
    graphs concentrate wedge work at hubs — exactly what the
    degree-oriented triangle plan defends against). Computed with the
    agg_correlation_matrix discipline: exact integer/decimal moment
    sums, ONE float conversion in an expression written identically
    in both engines, round(6) hash-stable. Shape: _degrees over the
    persisted shared edge list + one edges->degrees join (ids and
    degrees only), one 1-row moment aggregate."""
    # r12 optimization round: the unpersisted edge subtree used to be
    # REPLANNED for every consumer (the before-plan shows 20 parquet
    # scans / 40 ObjectHashAggregates and zero ReusedExchange — the da,
    # db, and union branches each re-derived collect_set + explode +
    # distinct), so the one-pass graph build executed ~10x per run.
    # Persisting the deduped edge list (the RA/LCC discipline) plus the
    # tiny degree table collapses the plan to ONE edge build + ONE
    # degree aggregate. The both-orientations union is gone too: for
    # the symmetric pair set, n = 2·|E|, sx = sy = Σ(x+y), sxy =
    # 2·Σxy, sxx = syy = Σx²+Σy² — all exact integer/decimal algebra
    # over ONE pass of the oriented edges, bit-identical to the
    # unioned aggregate (the one float conversion still happens in the
    # same final expression). Measured sf0.1 bench wall 3.24 → 1.67 s.
    edges = scoped_persist(
        _jaccard_edges(spark, sf_dir), StorageLevel.MEMORY_AND_DISK
    )
    deg = scoped_persist(_degrees(edges))
    da = deg.select(F.col("node").alias("a"), F.col("deg").alias("x"))
    db = deg.select(F.col("node").alias("b"), F.col("deg").alias("y"))
    oriented = edges.join(da, "a").join(db, "b").select("x", "y")
    dec = "decimal(38,0)"
    half = oriented.agg(
        F.count(F.lit(1)).alias("n2"),
        F.sum(F.col("x").cast(dec) + F.col("y")).alias("sxy_sum"),
        F.sum(F.col("x").cast(dec) * F.col("y")).alias("sxy_half"),
        F.sum(
            F.col("x").cast(dec) * F.col("x") + F.col("y").cast(dec) * F.col("y")
        ).alias("sq_sum"),
    )
    moms = half.select(
        (F.col("n2") * 2).alias("n"),
        F.col("sxy_sum").cast("double").alias("sx"),
        F.col("sxy_sum").cast("double").alias("sy"),
        (F.col("sxy_half") * 2).cast("double").alias("sxy"),
        F.col("sq_sum").cast("double").alias("sxx"),
        F.col("sq_sum").cast("double").alias("syy"),
    )
    return moms.select(
        F.col("n").cast("long").alias("n_endpoints"),
        (
            F.round(
                (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
                / (
                    F.sqrt(F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
                    * F.sqrt(F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
                ),
                6,
            )
            + 0.0
        ).alias("assortativity"),
    )


# --------------------------------------------------------------------------
LPA_ITERS = 4

# Label-broadcast gate for graph_label_propagation, sized for the
# hash relation rather than the payload. A broadcast-hash
# relation of (node, label) int64 pairs costs far more than its 16
# payload bytes per row: UnsafeHashedRelation adds key hashing, page
# pointers, and alignment — budget ~6-8x, so 2.5M rows ≈ 40 MB
# payload ≈ 240-320 MB relation. That fits the 4 GB-executor sizing
# model with headroom; 5M rows (≈ 640 MB) would not. Above the gate
# the fallback shuffle path is correct, just slower.
LPA_LABEL_BROADCAST_LIMIT = 2_500_000

def _duck_lpa_ctes() -> tuple[str, str]:
    """Unrolled synchronous label propagation — same exact-iteration
    technique as _duck_pagerank_sql: fixed iteration count, pure int64
    labels/counts, deterministic min-label tie-break, so each DuckDB
    CTE stage is bit-identical to the matching Spark iteration.
    Returns (WITH-clause text, name of the final label CTE) so the
    modularity read-out can extend the same chain."""
    ctes = [
        _DUCK_EDGES,
        "l0 AS (SELECT node, CAST(node AS BIGINT) AS label FROM deg)",
    ]
    prev = "l0"
    for i in range(1, LPA_ITERS + 1):
        ctes.append(
            f"""c{i} AS (
              SELECT e.dst AS node, p.label, CAST(count(*) AS BIGINT) AS cnt
              FROM edges e JOIN {prev} p ON e.src = p.node
              GROUP BY 1, 2
            )"""
        )
        ctes.append(
            f"""l{i} AS (
              SELECT node, label FROM (
                SELECT node, label,
                       row_number() OVER (
                         PARTITION BY node ORDER BY cnt DESC, label ASC) AS rn
                FROM c{i}
              ) WHERE rn = 1
            )"""
        )
        prev = f"l{i}"
    return "WITH " + ",\n".join(ctes), prev


def _duck_lpa_sql() -> str:
    ctes, prev = _duck_lpa_ctes()
    return ctes + f"\nSELECT node AS part_id, label AS community FROM {prev}"


@query("graph_label_propagation", oracle=_duck_lpa_sql())
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous label propagation (Raghavan et al. 2007) over the
    part co-purchase graph: every node starts labeled with its own id;
    each of the 4 fixed iterations relabels every node with its
    neighbors' most frequent label, ties broken by the SMALLEST label.
    Fixed iterations + integer labels + deterministic tie-break make
    the fixpoint-free variant exactly reproducible cross-engine (the
    float-free discipline of graph_pagerank_copurchase).

    Scale shape (round 10): the edge list is built once, HASH-
    PARTITIONED BY dst during the dedup exchange, and persisted in
    that layout. HashPartitioning(dst) satisfies the clustered
    distribution of BOTH per-iteration aggregations (groupBy(dst,
    label) and groupBy(dst) — a subset of the grouping keys
    co-locates them), and a broadcast-hash join preserves the
    streamed side's partitioning, so below the label-broadcast gate
    every iteration runs join + count + argmax in ONE zero-exchange
    stage over the persisted layout: the only per-iteration data
    movement is broadcasting the n-row labels frame. r9's plan paid
    a (dst,label) + (dst) exchange per iteration — 10.9M shuffle
    records at sf0.1, the top shuffler in SHUFFLE_AUDIT_r9; this
    layout removes all of them (see SCALE.md for the measured cut).
    The argmax is max(struct(cnt, -label)) — a plain partial+final
    aggregate, no window sort, ties to the SMALLEST label. Label
    payloads are single int64s — no per-node label-histogram arrays
    ever materialize. The labels broadcast is gated by
    LPA_LABEL_BROADCAST_LIMIT (sized for hash-relation overhead, not
    raw row bytes — see the constant's comment); above the gate it
    falls back to the (dst)-keyed aggregate exchange PageRank pays,
    which an unconditional broadcast would OOM at 100x. Plan depth is
    bounded by the FIXED 4 iterations; a variant with more iterations
    would need the localCheckpoint rotation pagerank_ranks implements
    — this loop deliberately has none because the iteration count is
    a constant.

    Reference parity: covers the reference's iterative-analytics class
    alongside PageRank/k-core; community assignment itself is absent
    from the 688-LoC reference — this is a north-star addition."""
    labels, _ = _lpa_labels(_lpa_edges(spark, sf_dir))
    return labels.select(
        F.col("node").alias("part_id"), F.col("label").alias("community")
    )


def _lpa_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared edge list with both orientations (_both_ways),
    hash-partitioned by dst and persisted: unique (src, dst) rows in the
    layout every LPA iteration's aggregates (and the modularity
    read-out) reuse without another exchange."""
    edges = _both_ways(_jaccard_edges(spark, sf_dir)).repartition("dst")
    return scoped_persist(edges, StorageLevel.MEMORY_AND_DISK)


def _lpa_labels(edges: DataFrame) -> tuple[DataFrame, bool]:
    """The LPA_ITERS unrolled label-propagation iterations over the
    persisted dst-partitioned edge list; returns (labels, whether the
    label frame fits the broadcast gate — callers joining labels again
    should honor the same gate)."""
    # dst, not src: the edge set is symmetric (both orientations are
    # emitted), so the node sets are identical — but distinct over the
    # partitioning key runs exchange-free on the persisted layout.
    labels = (
        edges.select(F.col("dst").alias("node"))
        .distinct()
        .select("node", F.col("node").cast("long").alias("label"))
    )
    # Plan-time gate job on the already-persisted edge list (the
    # triangle count's discipline): node count bounds every later
    # iteration's labels frame, so one count decides all 4 joins.
    broadcast_labels = labels.count() <= LPA_LABEL_BROADCAST_LIMIT
    for _ in range(LPA_ITERS):
        lab = F.broadcast(labels) if broadcast_labels else labels
        cnt = (
            edges.join(lab, edges.src == lab.node)
            .groupBy("dst", "label")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        # argmax(cnt) with min-label tie-break == max of (cnt, -label):
        # a plain aggregate (partial+final), not a window sort.
        best = cnt.groupBy("dst").agg(
            F.max(F.struct(F.col("cnt"), (-F.col("label")).alias("neg"))).alias("m")
        )
        labels = best.select(
            F.col("dst").alias("node"), (-F.col("m.neg")).alias("label")
        )
    return labels, broadcast_labels


_DEC38 = "decimal(38,0)"


def _duck_lpa_modularity_sql() -> str:
    """Extends the unrolled LPA CTE chain with the Newman modularity
    moments: per-community within-edge counts and degree sums over the
    SAME directed edge list, folded to one exact-rational read-out."""
    ctes, prev = _duck_lpa_ctes()
    return (
        ctes
        + f""",
    lab AS (SELECT node, label FROM {prev}),
    tot AS (SELECT CAST(count(*) AS HUGEINT) AS t FROM edges),
    within AS (
      SELECT la.label AS label, CAST(count(*) AS BIGINT) AS e_in
      FROM edges e
      JOIN lab la ON e.src = la.node
      JOIN lab lb ON e.dst = lb.node
      WHERE la.label = lb.label
      GROUP BY 1
    ),
    dsum AS (
      SELECT la.label AS label, CAST(sum(d.deg) AS BIGINT) AS d_c
      FROM deg d JOIN lab la ON d.node = la.node
      GROUP BY 1
    ),
    mom AS (
      SELECT CAST(count(*) AS BIGINT) AS n_communities,
             CAST(sum(COALESCE(w.e_in, 0)) AS HUGEINT) AS sum_e,
             CAST(sum(CAST(ds.d_c AS HUGEINT) * ds.d_c) AS HUGEINT) AS sum_d2
      FROM dsum ds LEFT JOIN within w ON ds.label = w.label
    )
    SELECT n_communities,
           CAST(t AS BIGINT) AS t_directed_edges,
           CAST((t * sum_e - sum_d2) * 1000000 // (t * t) AS BIGINT) AS q_ppm
    FROM mom, tot"""
    )


@query("graph_lpa_modularity", oracle=_duck_lpa_modularity_sql())
def graph_lpa_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity Q of the LPA community partition — the ONE
    number that says whether a community detection run found real
    structure (Q near 0: no better than random given the degree
    sequence) — composed IN-PLAN over the same shared edge build and
    the same 4 unrolled LPA iterations, so the oracle checks the whole
    pipeline end-to-end. On the directed (both-orientations) edge
    list: Q = sum_c [ E_c/T - (D_c/T)^2 ] with T = directed edge
    count, E_c = within-community directed edges, D_c = community
    degree sum; emitted exact as q_ppm = (T*sum(E_c) - sum(D_c^2)) *
    1e6 // T^2 over the common denominator — one truncating division
    at the very end, moments in DECIMAL(38,0)/HUGEINT because T^2 is
    O(m^2).

    Scale shape: labels are computed once and scoped-persisted (n
    rows, two int64s); the read-out is ONE annotated pass over the
    persisted dst-partitioned edge list (r12 optimization round — the
    r11 form scanned edges three times: within-join, degree
    groupBy(dst), and the 1-row total). Both label joins sit behind
    the SAME broadcast gate LPA's iterations use (above the gate:
    shuffle joins, correct but slower — never an unconditional
    broadcast), and every moment falls out of the per-label aggregate:
    d_c = count of directed edges whose SRC is in the community
    (Σ out-deg over members, == the old Σ in-deg by symmetry of the
    both-orientations edge list), e_in = count of edges whose two
    endpoint labels agree, and t = Σ d_c (every directed edge has
    exactly one labeled src), so the separate degree pass, the
    label-keyed dsum⋈within join, AND the edge-count crossJoin all
    disappear. Community rollups still shuffle at most n_communities
    rows. Every labeled node is the src of >= 1 directed edge (nodes
    are defined BY the symmetric edge list), so grouping by src_label
    covers exactly the label universe the old node-keyed dsum did —
    n_communities is identical. Reference parity: community QUALITY
    evaluation is absent from the 688-LoC reference; north-star
    addition completing detect -> evaluate for the graph family."""
    edges = _lpa_edges(spark, sf_dir)
    labels, fits_gate = _lpa_labels(edges)
    labels = scoped_persist(labels)
    lab_src = labels.select(
        F.col("node").alias("src_node"), F.col("label").alias("src_label")
    )
    lab_dst = labels.select(
        F.col("node").alias("dst_node"), F.col("label").alias("dst_label")
    )
    if fits_gate:
        lab_src, lab_dst = F.broadcast(lab_src), F.broadcast(lab_dst)
    per_label = (
        edges.join(lab_src, edges.src == F.col("src_node"))
        .join(lab_dst, edges.dst == F.col("dst_node"))
        .groupBy(F.col("src_label").alias("label"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("d_c"),
            F.sum(
                (F.col("src_label") == F.col("dst_label")).cast("long")
            )
            .cast("long")
            .alias("e_in"),
        )
    )
    mom = per_label.agg(
        F.count(F.lit(1)).cast("long").alias("n_communities"),
        F.sum("e_in").cast(_DEC38).alias("sum_e"),
        F.sum(F.col("d_c").cast(_DEC38) * F.col("d_c"))
        .cast(_DEC38)
        .alias("sum_d2"),
        F.sum("d_c").cast(_DEC38).alias("t"),
    )
    return mom.select(
        "n_communities",
        F.col("t").cast("long").alias("t_directed_edges"),
        F.expr(
            "CAST((t * sum_e - sum_d2) * 1000000 div (t * t) AS BIGINT)"
        ).alias("q_ppm"),
    )
