"""Similarity search over the embeddings table (array<float>, dim 64).

North-star ops (BASELINE.json): brute-force cosine top-k as the exact
baseline, and an IVF-style cluster-pruned variant as the scale path.
Vector math is pure `zip_with`/`aggregate` (JVM codegen, no UDF) from
functions.vectors; a Pandas-UDF variant of the same dot product is
unit-tested for parity in tests/test_functions.py (the slot where a
BLAS batch kernel would go at very high dims).

Every step the vector-search queries share has one definition per
engine (Spark helper / DuckDB text helper):
- `_queries` / `_duck_queries`: the QUERY_IDS query vectors;
- `_seed` / `_duck_seed`: the seeded centroids (first N_CENTROIDS
  vectors);
- `_assign` / `_duck_assign`: nearest-centroid assignment, argmin of a
  distance with ties to the lowest c_id (`_neg_dot` / `_duck_neg_dot`
  turn the argmax-dot callers into argmin callers);
- `_train_centroids` / `_duck_train_centroids`: the KMEANS_ITERS Lloyd
  steps in exact integer micros;
- `_probe_ranks` / `_duck_probes`: centroids ranked per query;
- `_scan_corpus`, `_scan_clusters` / `_duck_scan_corpus`,
  `_duck_scan_clusters`: (query, neighbor, score) candidates from the
  whole corpus or from the probed clusters;
- `_top_k` / `_duck_top_k`: the per-query top-k by (score desc,
  neighbor_id), cos_sim = round(score, 6);
- `_duck_recall`: the recall@k read-out, `_duck_knn_ranked`: the
  knn-eval oracles' gated candidate ranking, `_PQ_ADC_SQL`: both PQ
  oracles' ADC block.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window, functions as F

from alexandria_pipeline_spark.catalog import load_table
from alexandria_pipeline_spark.functions.exact import int_div
from alexandria_pipeline_spark.functions.vectors import (
    cosine,
    dot,
    duck_cosine,
    duck_dot,
    duck_l2_dist2,
    l2_dist2,
)
from alexandria_pipeline_spark.operators.dedup import (
    _DUCK_PLANES_CTE,
    _duck_bucket,
)
from alexandria_pipeline_spark.registry import ORACLES, QUERIES, query, scoped_persist

EMBED_DIM = 64  # embeddings table vector width (see module docstring)

TOP_K = 5
QUERY_IDS = (0, 1, 2)
N_CENTROIDS = 8


def _queries(df: DataFrame, *extra: Column, emb: Column | None = None) -> DataFrame:
    """The QUERY_IDS rows of `df` as (query_id, q_emb, *extra)."""
    return df.filter(F.col("vec_id").isin(*QUERY_IDS)).select(
        F.col("vec_id").alias("query_id"),
        (F.col("embedding") if emb is None else emb).alias("q_emb"),
        *extra,
    )


def _duck_queries(src: str = "embeddings", extra: str = "", emb: str = "embedding") -> str:
    return (
        f"SELECT vec_id AS query_id, {emb} AS q_emb{extra} "
        f"FROM {src} WHERE vec_id IN {QUERY_IDS}"
    )


def _seed(df: DataFrame) -> DataFrame:
    """Deterministic centroid seed: the first N_CENTROIDS vectors of
    `df` as (c_id, c_emb) — the oracle-expressible stand-in for a
    k-means init."""
    return df.filter(F.col("vec_id") < N_CENTROIDS).select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_emb")
    )


def _duck_seed(src: str = "embeddings") -> str:
    return (
        f"SELECT vec_id AS c_id, embedding AS c_emb "
        f"FROM {src} WHERE vec_id < {N_CENTROIDS}"
    )


def _neg_dot(a, b) -> Column:
    """Argmax-dot as an argmin distance: negation is exact, so -dot
    ascending orders (and ties) exactly as dot descending."""
    return -dot(a, b)


def _duck_neg_dot(a: str, b: str) -> str:
    return f"-({duck_dot(a, b)})"


def _assign(src: DataFrame, cents: DataFrame, dist=l2_dist2) -> DataFrame:
    """Nearest centroid of every `src` vector as (vec_id, cluster_id,
    dist): argmin of dist(embedding, c_emb), ties to the lowest c_id.

    One narrow grouped min(struct(dist, c_id)) over the broadcast
    cross join — the struct order IS "lowest dist, then lowest c_id",
    so it equals the row_number window on identical per-pair values.
    Only (vec_id, c_id, dist) reach the aggregate: its map-side partial
    collapses the K candidates of a vector before the exchange, which
    carries one (vec_id, struct) row per vector and no array (a window
    form shuffles all n·K crossed rows with the vector on each). The
    struct buffer is not fixed-width, so Spark plans a SortAggregate.
    Callers that need the vector back join `src` on vec_id."""
    return (
        src.crossJoin(F.broadcast(cents))
        .select("vec_id", "c_id", dist("embedding", "c_emb").alias("dist"))
        .groupBy("vec_id")
        .agg(F.min(F.struct("dist", "c_id")).alias("m"))
        .select(
            "vec_id",
            F.col("m.c_id").alias("cluster_id"),
            F.col("m.dist").alias("dist"),
        )
    )


def _duck_assign(src: str, cents: str, dist=duck_l2_dist2) -> str:
    """`_assign` in DuckDB: (vec_id, embedding, cluster_id, dist)."""
    d = dist("e.embedding", "c.c_emb")
    return f"""
      SELECT vec_id, embedding, c_id AS cluster_id, dist FROM (
        SELECT e.vec_id, e.embedding, c.c_id, {d} AS dist,
          row_number() OVER (PARTITION BY e.vec_id ORDER BY {d}, c.c_id) AS rn
        FROM {src} e CROSS JOIN {cents} c
      ) WHERE rn = 1"""


def _probe_ranks(q: DataFrame, cents: DataFrame) -> DataFrame:
    """Every centroid ranked per query by dot desc, ties to the lowest
    c_id: (query_id, q_emb, probe_cluster, rn) — Q·K rows."""
    w = Window.partitionBy("query_id").orderBy(F.desc("p_score"), F.asc("c_id"))
    return (
        q.crossJoin(F.broadcast(cents))
        .withColumn("p_score", dot("q_emb", "c_emb"))
        .withColumn("rn", F.row_number().over(w))
        .select("query_id", "q_emb", F.col("c_id").alias("probe_cluster"), "rn")
    )


def _duck_probes(nprobe: int, q: str = "q", cents: str = "centroids") -> str:
    return f"""
      SELECT query_id, q_emb, c_id AS probe_cluster FROM (
        SELECT q.query_id, q.q_emb, c.c_id,
          row_number() OVER (
            PARTITION BY q.query_id
            ORDER BY {duck_dot('q.q_emb', 'c.c_emb')} DESC, c.c_id
          ) AS rn
        FROM {q} q CROSS JOIN {cents} c
      ) WHERE rn <= {nprobe}"""


def _scan_corpus(q: DataFrame, e: DataFrame, score: Column | None = None) -> DataFrame:
    """Broadcast query vectors crossed with the whole corpus, self-pairs
    dropped: (query_id, neighbor_id, score), score = dot by default."""
    return (
        F.broadcast(q)
        .crossJoin(e)
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            (dot("q_emb", "embedding") if score is None else score).alias("score"),
        )
    )


def _duck_scan_corpus(score: str | None = None) -> str:
    score = duck_dot("q.q_emb", "e.embedding") if score is None else score
    return f"""
      SELECT q.query_id, e.vec_id AS neighbor_id, {score} AS score
      FROM q CROSS JOIN embeddings e
      WHERE e.vec_id <> q.query_id"""


def _scan_clusters(probes: DataFrame, assigned: DataFrame, probe_col: str) -> DataFrame:
    """Score each query against the vectors of its probed cluster(s):
    the (query, probe) rows broadcast-joined to the assigned corpus on
    cluster_id — with the corpus bucketed by cluster_id, partition
    pruning IS the probe. (query_id, neighbor_id, cluster_id, score)."""
    return (
        F.broadcast(probes)
        .join(
            assigned,
            (F.col("cluster_id") == F.col(probe_col))
            & (F.col("vec_id") != F.col("query_id")),
        )
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            "cluster_id",
            dot("q_emb", "embedding").alias("score"),
        )
    )


def _duck_scan_clusters(probes: str, assigned: str, probe_col: str) -> str:
    return f"""
      SELECT p.query_id, a.vec_id AS neighbor_id, a.cluster_id,
             {duck_dot('p.q_emb', 'a.embedding')} AS score
      FROM {probes} p JOIN {assigned} a
        ON a.cluster_id = p.{probe_col} AND a.vec_id <> p.query_id"""


def _top_k(scored: DataFrame, *keep: str) -> DataFrame:
    """Per-query top-TOP_K of (query_id, neighbor_id, score) rows by
    score desc, ties to the lowest neighbor_id, as (query_id,
    neighbor_id, *keep, cos_sim, rk). Only k·Q rows survive the one
    query_id exchange."""
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= TOP_K)
        .select(
            "query_id",
            "neighbor_id",
            *keep,
            (F.round("score", 6) + 0.0).alias("cos_sim"),
            F.col("rk").cast("int").alias("rk"),
        )
    )


def _duck_top_k(scored: str, keep: str = "") -> str:
    return f"""
    SELECT query_id, neighbor_id, {keep}round(score, 6) + 0 AS cos_sim,
           CAST(rk AS INT) AS rk
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY score DESC, neighbor_id
      ) AS rk FROM {scored}
    )
    WHERE rk <= {TOP_K}"""


@query(
    "knn_brute_force",
    oracle=f"""
    WITH q AS ({_duck_queries()}),
    scored AS ({_duck_scan_corpus()})
    {_duck_top_k('scored')}
    """,
)
def knn_brute_force(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact k-NN: broadcast the (tiny) query set against the corpus,
    score with a codegen'd dot-product fold, take top-k per query via
    window rank. At scale the broadcast-nested-loop scores N·Q pairs in
    one narrow stage and only k·Q rows survive to the (single) shuffle —
    the standard exact-ANN baseline. Vectors are unit-norm so
    dot == cosine."""
    e = load_table(spark, sf_dir, "embeddings")
    return _top_k(_scan_corpus(_queries(e), e))


def _duck_ivf_ctes() -> str:
    """The seeded-centroid IVF oracles' `centroids` and `assigned` CTEs."""
    return f"""
    centroids AS ({_duck_seed()}),
    assigned AS ({_duck_assign('embeddings', 'centroids', _duck_neg_dot)})"""


@query(
    "knn_ivf_pruned",
    oracle=f"""
    WITH {_duck_ivf_ctes()},
    q AS ({_duck_queries('assigned', ', cluster_id AS q_cluster')}),
    scored AS ({_duck_scan_clusters('q', 'assigned', 'q_cluster')})
    {_duck_top_k('scored', 'CAST(cluster_id AS BIGINT) AS cluster_id, ')}
    """,
)
def knn_ivf_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style approximate k-NN: vectors are assigned to the nearest
    of 8 fixed centroids (deterministically seeded as the first 8
    vectors — a stand-in for k-means, which isn't oracle-expressible),
    and each query searches only its own cluster.

    Scale path: centroid assignment is a broadcast NLJ (centroid table
    is always tiny) + the narrow argmax aggregate (_assign); the search
    join hits 1/n_clusters of the corpus per query. At 100 TB this is
    the layout you'd persist — corpus parquet *bucketed by cluster_id*
    — so a query reads one bucket: partition pruning does the IVF
    probe."""
    e = load_table(spark, sf_dir, "embeddings")
    assigned = e.join(_assign(e, _seed(e), _neg_dot), "vec_id")
    q = _queries(assigned, F.col("cluster_id").alias("q_cluster"))
    return _top_k(_scan_clusters(q, assigned, "q_cluster"), "cluster_id")


NPROBE = 3  # clusters searched per query in the multi-probe variant


@query(
    "knn_ivf_multiprobe",
    oracle=f"""
    WITH {_duck_ivf_ctes()},
    q AS ({_duck_queries()}),
    probes AS ({_duck_probes(NPROBE)}),
    scored AS ({_duck_scan_clusters('probes', 'assigned', 'probe_cluster')})
    {_duck_top_k('scored', 'CAST(cluster_id AS BIGINT) AS cluster_id, ')}
    """,
)
def knn_ivf_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe IVF k-NN: each query searches its NPROBE(=3) nearest
    clusters instead of one — the standard recall remedy when true
    neighbors sit just across a Voronoi boundary (single-probe IVF on
    isotropic data recalls ~0.13 here; multi-probe on clustered data
    clears 0.9 — measured in tests/test_similarity_recall.py and
    SCALE.md). Costs nprobe/n_clusters of the corpus per query instead
    of 1/n_clusters.

    Scale shape is unchanged from knn_ivf_pruned: tiny centroid table
    broadcast for assignment; the probe fan-out is a broadcast join of
    (query × nprobe) rows against the cluster-bucketed corpus, so with
    the corpus parquet bucketed by cluster_id a query reads exactly
    nprobe buckets — partition pruning IS the probe."""
    e = load_table(spark, sf_dir, "embeddings")
    c = _seed(e)
    assigned = e.join(_assign(e, c, _neg_dot), "vec_id")
    probes = _probe_ranks(_queries(e), c).filter(F.col("rn") <= NPROBE)
    return _top_k(_scan_clusters(probes, assigned, "probe_cluster"), "cluster_id")


# Lloyd iteration count for the oracle-checked k-means IVF: enough to
# demonstrate real centroid refinement (assignments provably move off
# the seed Voronoi cells), small enough that the unrolled oracle CTE
# chain stays readable — the PageRank unrolled-iteration precedent.
KMEANS_ITERS = 2


def _train_centroids(src: DataFrame) -> DataFrame:
    """The seeded centroids of `src` after KMEANS_ITERS Lloyd steps, as
    (c_id, c_emb). Each step assigns by argmin squared-L2 (_assign),
    re-attaches the vectors by one vec_id equi-join, and updates in the
    repo's exact-integer convention: component sums in round(x*1e6)
    micros (exact associative int64 — float sums over rows would
    order-diverge across engines), truncating division by the member
    count, /1e6 back to double. Empty clusters drop (inner-join
    semantics in both engines). Nothing is persisted: a query reading
    the trained centroids twice shares the chain's exchanges through
    exchange reuse (persisting each step ran 9 more jobs and was no
    faster at sf0.1)."""
    cents = _seed(src)
    for _ in range(KMEANS_ITERS):
        upd = (
            src.join(_assign(src, cents), "vec_id")
            .select("cluster_id", F.posexplode("embedding").alias("d0", "x"))
            .groupBy("cluster_id", (F.col("d0") + 1).alias("d"))
            .agg(
                F.sum(
                    F.round(F.col("x").cast("double") * 1_000_000).cast("long")
                ).alias("s"),
                F.count(F.lit(1)).cast("long").alias("n"),
            )
        )
        cents = (
            upd.select(
                "cluster_id",
                F.struct(
                    "d", (int_div(F.col("s"), F.col("n")) / 1e6).alias("c")
                ).alias("dc"),
            )
            .groupBy(F.col("cluster_id").alias("c_id"))
            .agg(
                F.transform(
                    F.array_sort(F.collect_list("dc")), lambda s: s["c"]
                ).alias("c_emb")
            )
        )
    return cents


def _duck_train_centroids(src: str) -> str:
    """`_train_centroids` as CTEs c0 .. c{KMEANS_ITERS} over `src`."""
    ctes = [f"c0 AS ({_duck_seed(src)})"]
    for i in range(KMEANS_ITERS):
        ctes.append(f"""a{i} AS ({_duck_assign(src, f'c{i}')}),
    c{i + 1} AS (
      SELECT cluster_id AS c_id,
             list(CAST(s // n AS BIGINT) / 1000000.0 ORDER BY d) AS c_emb
      FROM (
        SELECT cluster_id, d,
               CAST(sum(CAST(round(CAST(embedding[d] AS DOUBLE) * 1000000)
                        AS BIGINT)) AS BIGINT) AS s,
               CAST(count(*) AS BIGINT) AS n
        FROM a{i}, (SELECT unnest(range(1, {EMBED_DIM} + 1)) AS d) dims
        GROUP BY cluster_id, d
      ) GROUP BY cluster_id
    )""")
    return ",\n    ".join(ctes)


@query(
    "knn_ivf_kmeans",
    oracle=f"""
    WITH {_duck_train_centroids('embeddings')},
    fin AS ({_duck_assign('embeddings', f'c{KMEANS_ITERS}')}),
    q AS ({_duck_queries('fin', ', cluster_id AS q_cluster')}),
    scored AS ({_duck_scan_clusters('q', 'fin', 'q_cluster')})
    {_duck_top_k('scored')}
    """,
)
def knn_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with TRAINED centroids — distributed Lloyd's k-means
    (k={N_CENTROIDS}, {KMEANS_ITERS} unrolled iterations), then each
    query searches only its own cluster: the full IVF-Flat recipe
    (Sivic & Zisserman '03 vocabulary trees / FAISS IVF family).

    ORACLE-CHECKED since r9 (verdict #7; previously rows-only behind
    an MLlib KMeans fit whose k-means|| init is not SQL-expressible):
    init is deterministic (the first {N_CENTROIDS} vectors — same seed
    rule as knn_ivf_pruned), assignment is argmin squared-L2 with the
    same left-fold arithmetic both engines evaluate bitwise-equal
    (functions.vectors.l2_dist2 / duck_l2_dist2), and the centroid
    update is the repo's exact-integer convention (_train_centroids).
    The MLlib VectorUDT boundary this query used to demonstrate lives
    on in functions/featurizer.py's predict_batch_udf seam.

    Scale shape: each iteration is one broadcast NLJ against the
    (always tiny) centroid table + the narrow argmin aggregate + one
    (cluster, dim)-keyed map-combined aggregate whose output is k x dim
    rows — corpus-linear map work, constant-size shuffles. At 100 TB
    you train on a sample and run ONE final assignment pass; the
    unrolled plan here is that exact dataflow."""
    e = load_table(spark, sf_dir, "embeddings")
    fin = e.join(_assign(e, _train_centroids(e)), "vec_id")
    q = _queries(fin, F.col("cluster_id").alias("q_cluster"))
    return _top_k(_scan_clusters(q, fin, "q_cluster"))


IVF_CUTOFF_PCT = 80  # first 80% of vec_ids are the already-indexed corpus


@query(
    "knn_ivf_incremental_assign",
    oracle=f"""WITH cut AS (
      SELECT max(vec_id) * {IVF_CUTOFF_PCT} // 100 AS cutoff FROM embeddings
    ),
    base AS (
      SELECT vec_id, embedding FROM embeddings, cut WHERE vec_id <= cutoff
    ),
    newb AS (
      SELECT vec_id, embedding FROM embeddings, cut WHERE vec_id > cutoff
    ),
    {_duck_train_centroids('base')},
    fb AS ({_duck_assign('base', f'c{KMEANS_ITERS}')}),
    fn AS ({_duck_assign('newb', f'c{KMEANS_ITERS}')}),
    bstat AS (
      SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_base,
             CAST(sum(CAST(round(dist * 1000000) AS BIGINT)) AS BIGINT) AS sq
      FROM fb GROUP BY cluster_id
    ),
    nstat AS (
      SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_new,
             CAST(sum(CAST(round(dist * 1000000) AS BIGINT)) AS BIGINT) AS sq
      FROM fn GROUP BY cluster_id
    )
    SELECT b.cluster_id,
           b.n_base,
           COALESCE(n.n_new, 0) AS n_new,
           CAST(COALESCE(n.n_new, 0) * 1000000 // b.n_base AS BIGINT)
             AS growth_ppm,
           CAST(b.sq // b.n_base AS BIGINT) AS qerr_base_micro,
           CAST(CASE WHEN COALESCE(n.n_new, 0) > 0 THEN n.sq // n.n_new
                ELSE 0 END AS BIGINT) AS qerr_new_micro
    FROM bstat b LEFT JOIN nstat n ON n.cluster_id = b.cluster_id
    ORDER BY b.cluster_id
    """,
)
def knn_ivf_incremental_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental IVF index maintenance — the production companion to
    knn_ivf_kmeans (r11 verdict #6a): centroids are trained once on
    the already-indexed corpus (first {IVF_CUTOFF_PCT}% of vec_ids,
    same unrolled deterministic Lloyd's as knn_ivf_kmeans), then a NEW
    batch of vectors is assigned to the FROZEN centroids — never
    retrained per batch, exactly how FAISS/Milvus-style IVF indexes
    ingest — and the output is the maintenance report an index
    operator watches: per cell, resident count, new-batch count,
    growth_ppm (rebalance trigger: a cell absorbing a skewed share of
    inserts needs a split), and mean quantization error of residents
    vs inserts in exact micros (drift trigger: inserts landing far
    from their nearest centroid mean the frozen codebook no longer
    fits the data distribution and a retrain is due).

    Exactness convention: per-vector dist2 is the same left-fold
    arithmetic both engines evaluate bitwise-equal (l2_dist2 /
    duck_l2_dist2); per-cell means round each row to int micros first,
    then exact int64 sum + truncating division — float accumulation
    across rows would order-diverge across engines. Scale shape: train
    on the bounded historical sample, then ONE broadcast-NLJ assignment
    pass over the insert batch (batch-linear map work, k x dim
    broadcast, aggregate output bounded by k); the two stat read-outs
    need no vector at all. sf0.1 bench wall is ~2.7 s: with n=2000
    vectors the query is bound by its sequential Lloyd's job chain."""
    e = load_table(spark, sf_dir, "embeddings")
    # plan-embedded cutoff: 1-row aggregate broadcast, same shape as
    # the dedup incremental family's cut CTE — no driver round-trip
    cut = e.agg(
        F.expr(
            f"CAST(max(vec_id) * {IVF_CUTOFF_PCT} div 100 AS BIGINT)"
        ).alias("cutoff")
    )
    split = e.crossJoin(F.broadcast(cut))
    base = split.filter(F.col("vec_id") <= F.col("cutoff")).select(
        "vec_id", "embedding"
    )
    newb = split.filter(F.col("vec_id") > F.col("cutoff")).select(
        "vec_id", "embedding"
    )
    cent = _train_centroids(base)

    def cell_stats(src: DataFrame, n_col: str) -> DataFrame:
        return (
            _assign(src, cent)
            .groupBy("cluster_id")
            .agg(
                F.count(F.lit(1)).cast("long").alias(n_col),
                F.sum(F.round(F.col("dist") * 1_000_000).cast("long"))
                .cast("long")
                .alias("sq"),
            )
        )

    bstat = cell_stats(base, "n_base")
    nstat = cell_stats(newb, "n_new").withColumnRenamed("sq", "sq_new")
    return (
        bstat.join(nstat, "cluster_id", "left")
        .select(
            "cluster_id",
            "n_base",
            F.coalesce(F.col("n_new"), F.lit(0)).cast("long").alias("n_new"),
            F.expr(
                "CAST(coalesce(n_new, 0) * 1000000 div n_base AS BIGINT)"
            ).alias("growth_ppm"),
            int_div(F.col("sq"), F.col("n_base"))
            .cast("long")
            .alias("qerr_base_micro"),
            F.when(
                F.coalesce(F.col("n_new"), F.lit(0)) > 0,
                int_div(F.col("sq_new"), F.col("n_new")),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("qerr_new_micro"),
        )
        .orderBy("cluster_id")
    )


@query(
    "vector_stats",
    oracle=f"""
    SELECT
      vec_id,
      CAST(list_max(embedding) AS DOUBLE)                       AS max_elem,
      CAST(list_position(embedding, list_max(embedding)) AS INT) AS argmax_dim,
      round({duck_dot('embedding', 'embedding')}, 6)            AS sq_norm
    FROM embeddings
    """,
)
def vector_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector analytics: max element, its (first) dimension, and
    squared L2 norm — all codegen array expressions; argmax ties break
    to the first occurrence in both engines."""
    e = load_table(spark, sf_dir, "embeddings")
    return e.select(
        "vec_id",
        F.array_max("embedding").cast("double").alias("max_elem"),
        F.array_position(F.col("embedding"), F.array_max("embedding"))
        .cast("int")
        .alias("argmax_dim"),
        F.round(dot("embedding", "embedding"), 6).alias("sq_norm"),
    )


@query(
    "embedding_quantize_int8",
    oracle="""
    WITH m AS (
      SELECT vec_id, embedding,
             list_max(list_transform(embedding,
                                     x -> abs(CAST(x AS DOUBLE)))) AS max_abs
      FROM embeddings
    )
    SELECT vec_id, max_abs,
           array_to_string(list_transform(embedding,
             x -> CAST(CAST(round(CAST(x AS DOUBLE) * 127.0 / max_abs) AS INT)
                       AS VARCHAR)), ',')
             AS emb_q,
           CAST(list_sum(list_transform(embedding,
             x -> abs(CAST(round(CAST(x AS DOUBLE) * 127.0 / max_abs) AS BIGINT))))
             AS BIGINT) AS l1_q
    FROM m
    """,
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization (scale = 127/max|x|) —
    the standard ANN-index compression step (4x memory, SIMD int8 dot
    products downstream). Map-only: no shuffle, no UDF; both engines
    evaluate the identical double expression per element, and round()
    on continuous values is cross-engine safe (never lands on exact
    halves — unlike quotients of small ints, see functions/exact.py).
    l1_q is an exact-int checksum of the quantized vector. The int8
    vector is emitted as a comma-joined string: integer→string renders
    identically in every engine (no float-format hazard) and keeps the
    query output scalar-only for canonicalizers."""
    e = load_table(spark, sf_dir, "embeddings")
    max_abs = F.array_max(
        F.transform("embedding", lambda x: F.abs(x.cast("double")))
    )
    with_m = e.select("vec_id", "embedding", max_abs.alias("max_abs"))
    emb_q = F.transform(
        "embedding",
        lambda x: F.round(x.cast("double") * 127.0 / F.col("max_abs")).cast("int"),
    )
    return with_m.select(
        "vec_id",
        "max_abs",
        F.array_join(F.transform(emb_q, lambda q: q.cast("string")), ",").alias(
            "emb_q"
        ),
        F.aggregate(
            emb_q,
            F.lit(0).cast("long"),
            lambda acc, q: acc + F.abs(q.cast("long")),
        ).alias("l1_q"),
    )


RRF_CANDIDATES = 200  # per-leg candidate pool — constant, not corpus-sized


@query(
    "hybrid_search_rrf",
    oracle=f"""
    WITH kw_cand AS (
      SELECT doc_id, kw_score
      FROM (
        SELECT doc_id,
               3 * len(list_filter(string_split(text, ' '), x -> x = 'data'))
             + 2 * len(list_filter(string_split(text, ' '), x -> x = 'spark'))
             +     len(list_filter(string_split(text, ' '), x -> x = 'table'))
               AS kw_score
        FROM documents
      ) scored_kw
      ORDER BY kw_score DESC, doc_id
      LIMIT {RRF_CANDIDATES}
    ),
    kw AS (
      SELECT doc_id,
             CAST(row_number() OVER (ORDER BY kw_score DESC, doc_id) AS INT)
               AS kw_rk
      FROM kw_cand
    ),
    qv AS (
      SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0
    ),
    vec_cand AS (
      SELECT vec_id, {duck_dot('embedding', 'q_emb')} AS score
      FROM embeddings CROSS JOIN qv
      ORDER BY score DESC, vec_id
      LIMIT {RRF_CANDIDATES}
    ),
    vec AS (
      SELECT vec_id,
             CAST(row_number() OVER (ORDER BY score DESC, vec_id) AS INT)
               AS vec_rk
      FROM vec_cand
    )
    SELECT COALESCE(kw.doc_id, vec.vec_id) AS doc_id, kw_rk, vec_rk,
           CAST(COALESCE(1000000 // (60 + kw_rk), 0)
              + COALESCE(1000000 // (60 + vec_rk), 0) AS BIGINT)
             AS rrf_micro
    FROM kw FULL OUTER JOIN vec ON kw.doc_id = vec.vec_id
    ORDER BY rrf_micro DESC, doc_id
    LIMIT 20
    """,
)
def hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: weighted keyword term-frequency ranking fused
    with vector-similarity ranking by Reciprocal Rank Fusion
    (1/(60+rank), the standard RRF constant). The fused score is kept
    in exact integer micro-units (1e6 // (60+rk)) — unit fractions
    would otherwise be float quotients of small ints, the classic
    cross-engine rounding trap.

    Scale shape: each leg first takes its top-N candidates (N=200)
    via orderBy+limit, which Spark plans as TakeOrderedAndProject —
    per-partition top-k merged on one node, NO corpus-sized global
    sort. Only the ≤N candidate rows pass through a rank window, so
    the single-partition window input is constant-bounded. Fusion is
    a full-outer join of the two candidate lists: a doc missing from
    one leg's pool contributes 0 from that leg — the standard
    candidate-set RRF semantics at scale (a doc outside both pools
    can't reach the fused top-20 anyway)."""
    d = load_table(spark, sf_dir, "documents")
    e = load_table(spark, sf_dir, "embeddings")

    toks = F.split("text", " ")

    def tf(term: str) -> F.Column:
        return F.size(F.filter(toks, lambda x: x == term))

    kw_score = (3 * tf("data") + 2 * tf("spark") + tf("table")).alias("kw_score")
    kw_cand = (
        d.select("doc_id", kw_score)
        .orderBy(F.desc("kw_score"), "doc_id")
        .limit(RRF_CANDIDATES)
    )
    w_kw = Window.orderBy(F.desc("kw_score"), "doc_id")
    kw = kw_cand.withColumn("kw_rk", F.row_number().over(w_kw).cast("int")).select(
        "doc_id", "kw_rk"
    )
    qv = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("q_emb"))
    vec_cand = (
        e.crossJoin(F.broadcast(qv))
        .select("vec_id", dot("embedding", "q_emb").alias("score"))
        .orderBy(F.desc("score"), "vec_id")
        .limit(RRF_CANDIDATES)
    )
    w_vec = Window.orderBy(F.desc("score"), "vec_id")
    vec = vec_cand.withColumn(
        "vec_rk", F.row_number().over(w_vec).cast("int")
    ).select("vec_id", "vec_rk")
    rrf = F.coalesce(
        int_div(F.lit(1000000), F.lit(60) + F.col("kw_rk")), F.lit(0)
    ) + F.coalesce(int_div(F.lit(1000000), F.lit(60) + F.col("vec_rk")), F.lit(0))
    return (
        kw.join(vec, kw.doc_id == vec.vec_id, "full_outer")
        .select(
            F.coalesce(kw.doc_id, vec.vec_id).alias("doc_id"),
            "kw_rk",
            "vec_rk",
            rrf.cast("long").alias("rrf_micro"),
        )
        .orderBy(F.desc("rrf_micro"), "doc_id")
        .limit(20)
    )


# --------------------------------------------------------------------------
# Product quantization (PQ) + asymmetric distance computation (ADC) —
# the memory-compression ANN path (Jégou et al., "Product Quantization
# for Nearest Neighbor Search", TPAMI 2011). At 100 TB the raw float
# corpus cannot live in memory; PQ codes (PQ_M bytes/vector here vs
# 64×4 raw) can, and query-time scoring touches ONLY the codes.
# --------------------------------------------------------------------------

PQ_M = 8      # subspaces per vector
PQ_DSUB = 8   # dims per subspace (PQ_M * PQ_DSUB = embedding dim 64)
PQ_K = 16     # codewords per subspace (first PQ_K corpus vectors seed
              # the codebook, the same oracle-expressible stand-in for
              # k-means that knn_ivf_pruned uses for its centroids)

# Exactness: every subspace distance is floored to integer PICO-units
# BEFORE any cross-subspace aggregation, so the ADC sum is an integer
# sum — associative, order-independent, and bitwise-identical across
# engines. floor (unlike round) has no half-boundary ambiguity, and
# IEEE double multiply-by-1e12 is deterministic in both engines.
_PQ_SCALE = "1000000000000"  # 1e12 as an exact integer literal


def _sub_l2_pico(a, b) -> "Column":
    """floor(||a - b||^2 * 1e12) as long — a,b are array<double> of
    PQ_DSUB elements. Left fold seeded with 0.0 (0.0 + x1 is exact, so
    it matches DuckDB's first-element-seeded list_reduce)."""
    sq = F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return F.floor(sq * F.lit(float(_PQ_SCALE))).cast("long")


def _duck_sub_l2_pico(a_expr: str, b_expr: str) -> str:
    return (
        f"CAST(floor(list_reduce(list_transform(range(1, {PQ_DSUB} + 1), "
        f"i -> ({a_expr}[i] - {b_expr}[i]) * ({a_expr}[i] - {b_expr}[i])), "
        f"(acc, x) -> acc + x) * {_PQ_SCALE}) AS BIGINT)"
    )


PQ_SHORTLIST = 50  # ADC candidates per query that survive to exact rerank

# The shared CTE block both PQ oracles start from (codebook → codes →
# query distance table → integer ADC scores per candidate).
_PQ_ADC_SQL = f"""
    WITH ms AS (SELECT unnest(range(0, {PQ_M})) AS m),
    codebook AS (
      SELECT ms.m, cb.vec_id AS j,
             list_transform(range(1, {PQ_DSUB} + 1),
                            i -> CAST(cb.embedding[ms.m * {PQ_DSUB} + i] AS DOUBLE)) AS c_sub
      FROM (SELECT vec_id, embedding FROM embeddings WHERE vec_id < {PQ_K}) cb
      CROSS JOIN ms
    ),
    subs AS (
      SELECT e.vec_id, ms.m,
             list_transform(range(1, {PQ_DSUB} + 1),
                            i -> CAST(e.embedding[ms.m * {PQ_DSUB} + i] AS DOUBLE)) AS x_sub
      FROM embeddings e CROSS JOIN ms
    ),
    dists AS (
      SELECT s.vec_id, s.m, c.j,
             {_duck_sub_l2_pico('s.x_sub', 'c.c_sub')} AS d_pico
      FROM subs s JOIN codebook c ON c.m = s.m
    ),
    codes AS (
      SELECT vec_id, m, j AS code FROM (
        SELECT *, row_number() OVER (
          PARTITION BY vec_id, m ORDER BY d_pico, j
        ) AS rn FROM dists
      ) WHERE rn = 1
    ),
    qtab AS (
      SELECT vec_id AS query_id, m, j, d_pico
      FROM dists WHERE vec_id IN {QUERY_IDS}
    ),
    scored AS (
      SELECT q.query_id, c.vec_id AS neighbor_id,
             CAST(sum(q.d_pico) AS BIGINT) AS adc_dist_pico
      FROM codes c JOIN qtab q ON q.m = c.m AND q.j = c.code
      WHERE c.vec_id <> q.query_id
      GROUP BY q.query_id, c.vec_id
    )
"""


@query(
    "knn_pq_adc",
    oracle=_PQ_ADC_SQL
    + f"""
    SELECT query_id, neighbor_id, adc_dist_pico, CAST(rk AS INT) AS rk
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY adc_dist_pico, neighbor_id
      ) AS rk FROM scored
    )
    WHERE rk <= {TOP_K}
    """,
)
def knn_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-compressed approximate k-NN with ADC scoring.

    Index build (one-time at scale): each vector splits into PQ_M
    subvectors; each subvector is assigned the nearest of PQ_K
    codewords (argmin window, tie → lowest codeword id). The corpus
    reduces to (vec_id, m, code) — PQ_M small ints per vector, ~32×
    smaller than the raw floats, the representation you'd persist and
    bucket at 100 TB.

    Query (the part that must be fast): the query's distance table —
    d(query_sub_m, codeword_j) for all m,j — is PQ_M×PQ_K rows per
    query, broadcast everywhere; scoring is a broadcast hash join of
    the code table against it plus an integer sum per candidate. The
    raw corpus vectors are NEVER read at query time: that is the whole
    point of ADC, and the plan shows it (one scan for the build, none
    for the search).

    Distances are integer pico-units end to end (see _sub_l2_pico), so
    the cross-engine hash is exact despite float inputs.

    Recall on the clustered fixture is 0.33 (test_similarity_recall) —
    pure ADC over a formula-seeded 16-codeword codebook is a COARSE
    filter, which is exactly how production PQ uses it: see
    knn_pq_rerank for the shortlist-then-exact-rerank pipeline that
    recovers full recall."""
    scored = _pq_adc_scores(spark, sf_dir)
    w = Window.partitionBy("query_id").orderBy("adc_dist_pico", "neighbor_id")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= TOP_K)
        .select("query_id", "neighbor_id", "adc_dist_pico", F.col("rk").cast("int").alias("rk"))
    )


def _pq_adc_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared PQ plumbing: build the codebook + code table, score every
    (query, candidate) pair by ADC; returns (query_id, neighbor_id,
    adc_dist_pico). See knn_pq_adc docstring for the scale shape."""
    e = load_table(spark, sf_dir, "embeddings")
    ms = spark.range(PQ_M).select(F.col("id").cast("int").alias("m"))

    def sub_at(vec, m_col):
        return F.transform(
            F.slice(vec, m_col * PQ_DSUB + 1, PQ_DSUB), lambda x: x.cast("double")
        )

    codebook = (
        e.filter(F.col("vec_id") < PQ_K)
        .select(F.col("vec_id").alias("j"), "embedding")
        .crossJoin(F.broadcast(ms))
        .select("m", "j", sub_at(F.col("embedding"), F.col("m")).alias("c_sub"))
    )
    subs = (
        e.crossJoin(F.broadcast(ms))
        .select("vec_id", "m", sub_at(F.col("embedding"), F.col("m")).alias("x_sub"))
    )
    dists = subs.join(F.broadcast(codebook), "m").select(
        "vec_id", "m", "j", _sub_l2_pico(F.col("x_sub"), F.col("c_sub")).alias("d_pico")
    )
    w_code = Window.partitionBy("vec_id", "m").orderBy("d_pico", "j")
    codes = (
        dists.withColumn("rn", F.row_number().over(w_code))
        .filter(F.col("rn") == 1)
        .select("vec_id", "m", F.col("j").alias("code"))
    )
    qtab = dists.filter(F.col("vec_id").isin(*QUERY_IDS)).select(
        F.col("vec_id").alias("query_id"), "m", "j", "d_pico"
    )
    return (
        codes.join(
            F.broadcast(qtab),
            (codes.m == qtab.m) & (codes.code == qtab.j),
        )
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("d_pico").alias("adc_dist_pico"))
    )


@query(
    "knn_pq_rerank",
    oracle=_PQ_ADC_SQL
    + f""",
    shortlist AS (
      SELECT query_id, neighbor_id FROM (
        SELECT *, row_number() OVER (
          PARTITION BY query_id ORDER BY adc_dist_pico, neighbor_id
        ) AS srk FROM scored
      ) WHERE srk <= {PQ_SHORTLIST}
    ),
    rerank AS (
      SELECT s.query_id, s.neighbor_id,
             {duck_dot('qe.embedding', 'ne.embedding')} AS score
      FROM shortlist s
      JOIN embeddings qe ON qe.vec_id = s.query_id
      JOIN embeddings ne ON ne.vec_id = s.neighbor_id
    )
    {_duck_top_k('rerank')}
    """,
)
def knn_pq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production PQ pipeline: ADC shortlists PQ_SHORTLIST
    candidates per query from the compressed codes alone, then ONLY
    those rows fetch their raw vectors for an exact rerank. Recall on
    the clustered fixture goes 0.33 (pure ADC) → 1.0 (reranked), at
    the cost of reading Q×PQ_SHORTLIST raw vectors instead of zero —
    the standard accuracy/IO dial every production ANN system exposes.

    Scale shape: the shortlist is broadcast-joined back to the corpus
    (Q×50 rows vs N — always broadcastable), so the rerank adds no
    corpus-sized shuffle; output matches knn_brute_force's schema, and
    on this fixture its values too."""
    scored = _pq_adc_scores(spark, sf_dir)
    w_s = Window.partitionBy("query_id").orderBy("adc_dist_pico", "neighbor_id")
    shortlist = (
        scored.withColumn("srk", F.row_number().over(w_s))
        .filter(F.col("srk") <= PQ_SHORTLIST)
        .select("query_id", "neighbor_id")
    )
    e = load_table(spark, sf_dir, "embeddings")
    qe = e.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb"))
    ne = e.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("n_emb"))
    rerank = (
        F.broadcast(shortlist)
        .join(ne, "neighbor_id")
        .join(F.broadcast(qe), "query_id")
        .select("query_id", "neighbor_id", dot("q_emb", "n_emb").alias("score"))
    )
    return _top_k(rerank)


@query(
    "embedding_dim_profile",
    oracle=f"""
    WITH ex AS (
      SELECT CAST(d AS INT) AS dim,
             CAST(round(CAST(embedding[d] AS DOUBLE) * 1000000) AS BIGINT) AS x_e6
      FROM embeddings
      CROSS JOIN LATERAL (SELECT unnest(range(1, {EMBED_DIM} + 1)) AS d)
    )
    SELECT dim,
           CAST(min(x_e6) AS BIGINT) / 1000000.0 AS min_val,
           CAST(max(x_e6) AS BIGINT) / 1000000.0 AS max_val,
           CAST(sum(x_e6) // count(*) AS BIGINT) / 1000000.0 AS mean_val,
           CAST(count(CASE WHEN x_e6 = 0 THEN 1 END) AS BIGINT) AS n_zero
    FROM ex GROUP BY dim
    """,
)
def embedding_dim_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension profile of the embedding column — min/max/mean and
    zero counts per dim, the data-QA scan that catches dead dimensions
    (all-zero), collapsed ranges, and scaling bugs before a 100-TB
    index build wastes a cluster-day on broken vectors. Values are
    profiled in exact 1e-6-scaled int64 (the functions.exact
    convention): a float sum's result depends on reduction order, which
    differs across engines AND across partition counts, so an exact
    integer sum is the only mean both DuckDB and every cluster size
    agree on bit-for-bit. One posexplode (map-only) + one partial-
    aggregated groupBy on dim — EMBED_DIM groups regardless of corpus
    size."""
    e = load_table(spark, sf_dir, "embeddings")
    ex = e.select(
        F.posexplode("embedding").alias("dim0", "x")
    ).select(
        (F.col("dim0") + 1).cast("int").alias("dim"),
        F.round(F.col("x").cast("double") * 1_000_000, 0).cast("long").alias("x_e6"),
    )
    return ex.groupBy("dim").agg(
        (F.min("x_e6") / 1_000_000.0).alias("min_val"),
        (F.max("x_e6") / 1_000_000.0).alias("max_val"),
        (int_div(F.sum("x_e6"), F.count(F.lit(1))) / 1_000_000.0).alias("mean_val"),
        F.count(F.when(F.col("x_e6") == 0, 1)).alias("n_zero"),
    )


def _duck_recall(ap: str) -> str:
    """Recall@k per query of the top-k CTE `ap` against the exact
    ground truth CTE `gt`, in integer percent."""
    return f"""
    SELECT gt.query_id,
           CAST(count(*) AS BIGINT)               AS k,
           CAST(count(ap.neighbor_id) AS BIGINT)  AS n_matched,
           CAST(count(ap.neighbor_id) * 100 // count(*) AS BIGINT)
             AS recall_pct
    FROM gt LEFT JOIN {ap} ap
      ON gt.query_id = ap.query_id AND gt.neighbor_id = ap.neighbor_id
    GROUP BY gt.query_id"""


# Composed evaluation: ground truth (exact brute force) vs the ANN
# index (IVF multi-probe), both already registered above — the oracle
# nests their oracle SQL as CTEs so the eval is checked end-to-end.
@query(
    "ann_eval_recall",
    oracle=f"""
    WITH gt AS ({ORACLES["knn_brute_force"]}),
         ap AS ({ORACLES["knn_ivf_multiprobe"]})
    {_duck_recall('ap')}
    """,
)
def ann_eval_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the IVF multi-probe index against exact brute-force
    ground truth — the acceptance test every ANN deployment runs
    before trading exactness for speed, expressed as a composition of
    the two registered operators (same plans, same constants). The
    eval join runs over k x |queries| rows (tiny at any corpus scale:
    ground truth and candidates are both top-k outputs), so the cost
    IS the two underlying searches; at 100 TB the brute-force leg is
    what you sample queries for, not the index leg. Integer recall
    percent keeps the hash float-free."""
    gt = QUERIES["knn_brute_force"](spark, sf_dir).select(
        "query_id", "neighbor_id"
    )
    ap = QUERIES["knn_ivf_multiprobe"](spark, sf_dir).select(
        F.col("query_id").alias("a_qid"),
        F.col("neighbor_id").alias("a_nid"),
    )
    j = gt.join(
        ap,
        (gt.query_id == ap.a_qid) & (gt.neighbor_id == ap.a_nid),
        "left",
    )
    return j.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("k"),
        F.count("a_nid").alias("n_matched"),
        F.expr("count(a_nid) * 100 div count(1)").alias("recall_pct"),
    )


@query("embedding_pca_top_component")  # rows-only: float eigensolve
def embedding_pca_top_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the embedding matrix the way Spark
    MLlib's computePrincipalComponents does it at any scale: ONE
    distributed pass builds the d x d Gram matrix XᵀX (double
    posexplode -> map-side-combined sum over <= d² = 4096 cells — the
    per-row arithmetic is exactly the d² multiplies any Gram
    computation pays, and the partial aggregation collapses it to
    4096 cells per partition before the only shuffle), then the tiny
    Gram is eigensolved locally — driver state is d², independent of
    corpus size. Naive data-side power iteration was measured to need
    ~64 full scans on this near-isotropic spectrum (w2/w1 = 0.93);
    the Gram route is one scan and exact. Rows-only for the driver
    (iterative float eigensolve has no SQL form); parity-tested
    against numpy eigh on the same matrix (tests/test_pca_parity.py).
    Reference analog: the model-side PCA the reference delegates to
    torch (run.py:9-10) — here the DATA-side reduction is the Spark
    part and only the d x d solve is local."""
    import numpy as np

    e = load_table(spark, sf_dir, "embeddings").select("embedding")
    pairs = e.select(
        F.posexplode("embedding").alias("i", "xi"),
        F.col("embedding").alias("emb"),
    ).select("i", "xi", F.posexplode("emb").alias("j", "xj"))
    cells = (
        pairs.groupBy("i", "j")
        .agg(F.sum(F.col("xi") * F.col("xj")).alias("g"))
        .collect()
    )
    d = max(r["i"] for r in cells) + 1
    gram = np.zeros((d, d))
    for r in cells:
        gram[r["i"], r["j"]] = r["g"]
    w, vecs = np.linalg.eigh(gram)
    top = vecs[:, -1]
    if top[int(np.argmax(np.abs(top)))] < 0:  # deterministic sign
        top = -top
    rows = [(i, float(top[i]), float(w[-1])) for i in range(d)]
    return spark.createDataFrame(
        rows, "dim int, component double, eigenvalue double"
    )


RANGE_TAU = 0.25  # cosine radius for the epsilon-ball search


@query(
    "knn_range_search",
    oracle=f"""
    WITH q AS ({_duck_queries()}),
    scored AS ({_duck_scan_corpus()})
    SELECT query_id, neighbor_id, round(score, 6) + 0 AS cos_sim
    FROM scored
    WHERE score >= {RANGE_TAU}
    ORDER BY query_id, neighbor_id
    """,
)
def knn_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (epsilon-ball) similarity search: ALL neighbors with
    cosine ≥ τ, not a fixed top-k — the retrieval shape for
    dedup-by-radius and recall-bounded RAG. Same broadcast-query scan
    as knn_brute_force, but the survivor set is decided by a
    scan-side filter, so NOTHING shuffles at all: the one window/rank
    exchange top-k needs disappears and the output is produced
    map-only (the final sort is presentation order on a τ-bounded
    result). Both engines evaluate the identical left-fold dot
    product (functions.vectors dot/duck_dot), so the τ boundary
    cannot flip cross-engine. At scale the τ filter is what makes
    radius search cheaper than top-k: no per-query state, pure
    predicate, and the same plan runs under an LSH bucket
    pre-filter (dedup_embedding_cosine) when the corpus outgrows a
    full scan."""
    e = load_table(spark, sf_dir, "embeddings")
    scored = _scan_corpus(_queries(e), e).filter(F.col("score") >= RANGE_TAU)
    return scored.select(
        "query_id",
        "neighbor_id",
        (F.round("score", 6) + 0.0).alias("cos_sim"),
    ).orderBy("query_id", "neighbor_id")


OUTLIER_PCTL = 0.95  # per-label distance percentile for the fence


@query(
    "embedding_label_outliers",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, label,
             CAST(round(CAST(u.val AS DOUBLE) * 1000000) AS BIGINT) AS x,
             u.dim
      FROM embeddings,
           LATERAL (SELECT unnest(embedding) AS val,
                           generate_subscripts(embedding, 1) AS dim) u
    ),
    cent AS (
      SELECT label, dim,
             CAST(sum(x) // count(*) AS BIGINT) AS c
      FROM v GROUP BY label, dim
    ),
    dist AS (
      SELECT v.vec_id, v.label,
             CAST(sum((v.x - cent.c) * (v.x - cent.c)) AS BIGINT) AS d2
      FROM v JOIN cent ON v.label = cent.label AND v.dim = cent.dim
      GROUP BY v.vec_id, v.label
    ),
    fence AS (
      SELECT label,
             CAST(floor(quantile_cont(d2, {OUTLIER_PCTL})) AS BIGINT) AS p95
      FROM dist GROUP BY label
    )
    SELECT
      dist.label,
      CAST(count(*) AS BIGINT)  AS n_vecs,
      CAST(min(fence.p95) AS BIGINT) AS p95_dist,
      CAST(sum(CASE WHEN dist.d2 > fence.p95 THEN 1 ELSE 0 END) AS BIGINT)
                                AS n_outliers
    FROM dist JOIN fence USING (label)
    GROUP BY dist.label
    ORDER BY dist.label
    """,
)
def embedding_label_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-class embedding QA: per label, flag vectors whose
    squared L2 distance to the label centroid exceeds the label's P95
    fence — the standard screen for mislabeled or corrupt vectors
    before index build or contrastive training. Everything is exact
    integer micro-units: components round to 1e-6, the centroid uses
    truncating division, distances are int64 sums of squared diffs,
    and the fence is a floored exact percentile — so the flag decision
    can never drift cross-engine. Shape: posexplode is map-side; the
    centroid groupBy runs on (label, dim) — DIMENSION-sized output
    (labels × 64), so it broadcasts back; the per-vector distance agg
    is one shuffle on vec_id and the fence/read-out run on bounded
    label keys. One fact-sized shuffle total at any SF."""
    e = load_table(spark, sf_dir, "embeddings")
    v = e.select(
        "vec_id",
        "label",
        F.posexplode("embedding").alias("dim0", "val"),
    ).select(
        "vec_id",
        "label",
        (F.col("dim0") + 1).alias("dim"),
        F.round(F.col("val").cast("double") * 1000000).cast("long").alias("x"),
    )
    cent = v.groupBy("label", "dim").agg(
        F.expr("CAST(sum(x) div count(*) AS BIGINT)").alias("c")
    )
    dist = (
        v.join(F.broadcast(cent), ["label", "dim"])
        .select(
            "vec_id",
            "label",
            ((F.col("x") - F.col("c")) * (F.col("x") - F.col("c"))).alias("sq"),
        )
        .groupBy("vec_id", "label")
        .agg(F.sum("sq").alias("d2"))
    )
    fence = dist.groupBy("label").agg(
        F.floor(F.percentile("d2", F.lit(OUTLIER_PCTL))).cast("long").alias("p95")
    )
    return (
        dist.join(F.broadcast(fence), "label")
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.min("p95").alias("p95_dist"),
            F.sum((F.col("d2") > F.col("p95")).cast("long")).alias("n_outliers"),
        )
        .select(
            "label",
            F.col("n_vecs").cast("long").alias("n_vecs"),
            F.col("p95_dist").cast("long").alias("p95_dist"),
            F.col("n_outliers").cast("long").alias("n_outliers"),
        )
        .orderBy("label")
    )


MUTUAL_K = 5
# Above this corpus size the all-pairs exact scoring (n^2 dot folds)
# is replaced by LSH-bucket-restricted candidates. Measured: the exact
# path costs ~9us per codegen dot fold, so 2k vectors (4M pairs) was
# already 37s — the gate sits at 1k (250k pairs, sub-second), leaving
# the sf0.01 oracle on the exact path and everything larger on the
# linear bucket path.
KNN_MUTUAL_EXACT_LIMIT = 1_000


def _bucketed_embeddings(
    spark: SparkSession, sf_dir: str, with_label: bool
) -> DataFrame:
    """Shared candidate-generation stage for the knn-eval family
    (r7 verdict #1: mutual/label/mrr rebuilt this byte-identically).

    Below KNN_MUTUAL_EXACT_LIMIT every vector lands in ONE bucket
    (exact all-pairs, same semantics as the oracles' is_exact gate);
    above it, the auto-scaled random-hyperplane bucket is computed by
    functions.bucketed.lsh_bucket_pandas — the same integer plane
    table and the same exact left-fold sign test as dedup.lsh_bucket,
    one Arrow pass instead of n_planes interpreted JVM folds (the JVM
    fold alone was ~18 s for 200k vectors at sf10). Downstream, the
    per-bucket pandas kernels (topk_neighbors / first_same_label_rank)
    ship each vector once per bucket and reduce to artifact-sized
    frames inside the kernel — replacing the bucket self-join that
    shipped two 64-float arrays per candidate PAIR and paid an ~8
    µs/pair interpreted fold (~170 s/query at sf10; now ~20 s)."""
    e = load_table(spark, sf_dir, "embeddings")
    n = e.count()
    cols = ["vec_id", "label", "embedding"] if with_label else [
        "vec_id", "embedding"
    ]
    base = e.select(*cols)
    if n <= KNN_MUTUAL_EXACT_LIMIT:
        # one bucket == exact all-pairs; a single kernel task computes
        # a <=1000² score matrix in numpy (~ms) — the gate guarantees
        # the group is small, so single-task is correct AND fastest
        return base.withColumn("bucket", F.lit(0).cast("long"))
    from alexandria_pipeline_spark.functions.bucketed import lsh_bucket_pandas
    from alexandria_pipeline_spark.operators.dedup import (
        _planes,
        lsh_planes_for,
    )

    return lsh_bucket_pandas(base, _planes[: lsh_planes_for(n)])


def _duck_knn_ranked() -> str:
    """The knn-eval oracles' candidate block: the same exact gate and
    np-CTE bucket formula as _bucketed_embeddings, then every candidate
    pair `ranked` per src by (score desc, dst)."""
    return f"""
    WITH np AS ({_DUCK_PLANES_CTE}),
    gate AS (
      SELECT count(*) <= {KNN_MUTUAL_EXACT_LIMIT} AS is_exact FROM embeddings
    ),
    bucketed AS (
      SELECT vec_id, label, embedding, {_duck_bucket('embedding')} AS bucket
      FROM embeddings, np
    ),
    scored AS (
      SELECT a.vec_id AS src, b.vec_id AS dst,
             a.label AS true_label, b.label AS nb_label,
             {duck_dot('a.embedding', 'b.embedding')} AS score
      FROM bucketed a JOIN bucketed b
        ON a.vec_id <> b.vec_id
       AND ((SELECT is_exact FROM gate) OR a.bucket = b.bucket)
    ),
    ranked AS (
      SELECT *,
             row_number() OVER (PARTITION BY src ORDER BY score DESC, dst) AS rk
      FROM scored
    )"""


@query(
    "knn_mutual_topk",
    oracle=_duck_knn_ranked()
    + f"""
    SELECT t1.src AS a, t1.dst AS b,
           CAST(t1.rk AS INT) AS rk_ab, CAST(t2.rk AS INT) AS rk_ba,
           round(t1.score, 6) + 0 AS cos_sim
    FROM ranked t1 JOIN ranked t2 ON t1.src = t2.dst AND t1.dst = t2.src
    WHERE t1.rk <= {MUTUAL_K} AND t2.rk <= {MUTUAL_K} AND t1.src < t1.dst
    ORDER BY a, b
    """,
)
def knn_mutual_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual-kNN graph: pairs (a, b) where each is in the OTHER's
    top-k by cosine — the standard edge filter for kNN-graph
    clustering and near-dup canopies (one-directional neighbors are
    hubs' noise; mutuality is the cheap symmetric-confidence test).

    Candidate generation + exact scoring + per-src top-k all run in
    the SHARED per-bucket pandas kernel (_bucketed_embeddings ->
    functions.bucketed.topk_neighbors): below the exact gate every
    vector is one bucket (all-pairs); above it the auto-scaled
    random-hyperplane buckets keep pair volume ~128·n. The kernel
    computes scores with the bit-identical left fold (see
    functions/bucketed.py), ranks by (score desc, dst) inside numpy,
    and emits only n·k rows — so the mutuality self-join below joins
    artifact-sized frames. The oracle encodes the SAME gate
    (count <= {KNN_MUTUAL_EXACT_LIMIT} -> all-pairs, else same-bucket
    candidates from the identical np-CTE plane formula), so a sweep at
    ANY SF stays hash-exact — the dedup_embedding_cosine convention
    (ADVICE r5, low)."""
    from alexandria_pipeline_spark.functions.bucketed import topk_neighbors

    bucketed = _bucketed_embeddings(spark, sf_dir, with_label=False)
    # scoped-persisted (r12): BOTH orientations of the mutuality join
    # read this n·k-row artifact, and without the persist each side
    # replans the whole bucket+pandas-kernel subtree (no
    # cross-consumer CSE), running the scoring kernel twice per query.
    topk = scoped_persist(
        topk_neighbors(bucketed, MUTUAL_K, with_labels=False).select(
            "src", "dst", "score", "rk"
        )
    )
    t2 = topk.select(
        F.col("src").alias("dst"), F.col("dst").alias("src"), F.col("rk").alias("rk_ba")
    )
    return (
        topk.join(t2, ["src", "dst"])
        .filter(F.col("src") < F.col("dst"))
        .select(
            F.col("src").alias("a"),
            F.col("dst").alias("b"),
            F.col("rk").cast("int").alias("rk_ab"),
            F.col("rk_ba").cast("int").alias("rk_ba"),
            (F.round("score", 6) + 0.0).alias("cos_sim"),
        )
        .orderBy("a", "b")
    )


@query(
    "embedding_centroid_drift",
    oracle=f"""
    WITH ex AS (
      SELECT label, vec_id % 2 AS half, CAST(d AS INT) AS dim,
             CAST(round(CAST(embedding[d] AS DOUBLE) * 1000000) AS BIGINT) AS x_e6
      FROM embeddings
      CROSS JOIN LATERAL (SELECT unnest(range(1, {EMBED_DIM} + 1)) AS d)
    ),
    cent AS (
      SELECT label, half, dim,
             CAST(sum(x_e6) // count(*) AS BIGINT) AS mean_e6,
             CAST(count(*) AS BIGINT) AS n
      FROM ex GROUP BY label, half, dim
    ),
    paired AS (
      SELECT a.label, a.dim,
             abs(a.mean_e6 - b.mean_e6) AS d_e6,
             a.n AS n_even, b.n AS n_odd
      FROM cent a JOIN cent b
        ON a.label = b.label AND a.dim = b.dim
       AND a.half = 0 AND b.half = 1
    )
    SELECT label,
           CAST(min(n_even) AS BIGINT)  AS n_even,
           CAST(min(n_odd) AS BIGINT)   AS n_odd,
           CAST(sum(d_e6) AS BIGINT)    AS l1_drift_e6,
           CAST(max(d_e6) AS BIGINT)    AS max_dim_drift_e6
    FROM paired
    GROUP BY label
    ORDER BY label
    """,
)
def embedding_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid stability check: split each label's vectors
    into two deterministic halves (vec_id parity — a stand-in for
    'yesterday's batch vs today's'), compute both centroids, and
    report the L1 distance between them plus the worst single
    dimension — the drift monitor that catches an embedding-model
    regression or a corrupted ingest before an index rebuild. All
    arithmetic is e6 fixed-point integers (the embedding_weighted_mean
    convention): per-dim sums are associative BIGINTs, means are
    truncating div, so partial-aggregation order can't leak into the
    hash. Shape: posexplode → one (label, half, dim) agg (state
    O(labels·dim)), a label·dim-bounded self-join, and a label-sized
    read-out. At 100 TB the halves become snapshot partitions and the
    plan is unchanged."""
    e = load_table(spark, sf_dir, "embeddings")
    ex = e.select(
        "label",
        (F.col("vec_id") % 2).alias("half"),
        F.posexplode(F.col("embedding")).alias("dim0", "x"),
    ).select(
        "label",
        "half",
        (F.col("dim0") + 1).cast("int").alias("dim"),
        F.round(F.col("x").cast("double") * 1_000_000).cast("long").alias("x_e6"),
    )
    cent = ex.groupBy("label", "half", "dim").agg(
        F.expr("CAST(sum(x_e6) div count(1) AS BIGINT)").alias("mean_e6"),
        F.count(F.lit(1)).alias("n"),
    )
    a = cent.filter(F.col("half") == 0).select(
        "label", "dim", F.col("mean_e6").alias("m_a"), F.col("n").alias("n_even")
    )
    b = cent.filter(F.col("half") == 1).select(
        "label", "dim", F.col("mean_e6").alias("m_b"), F.col("n").alias("n_odd")
    )
    paired = a.join(b, ["label", "dim"]).select(
        "label",
        F.abs(F.col("m_a") - F.col("m_b")).alias("d_e6"),
        "n_even",
        "n_odd",
    )
    return (
        paired.groupBy("label")
        .agg(
            F.min("n_even").alias("n_even"),
            F.min("n_odd").alias("n_odd"),
            F.sum("d_e6").alias("l1_drift_e6"),
            F.max("d_e6").alias("max_dim_drift_e6"),
        )
        .select(
            "label",
            F.col("n_even").cast("long").alias("n_even"),
            F.col("n_odd").cast("long").alias("n_odd"),
            F.col("l1_drift_e6").cast("long").alias("l1_drift_e6"),
            F.col("max_dim_drift_e6").cast("long").alias("max_dim_drift_e6"),
        )
        .orderBy("label")
    )


NPROBE_CURVE = (1, 2, 3, 4)


def _duck_nprobe_curve_sql() -> str:
    """Per-nprobe recall@k oracle: shared centroid/assignment CTEs, one
    probe/score/top chain per nprobe setting, unioned into the curve."""
    legs = "".join(
        f""",
    probes{np_} AS ({_duck_probes(np_)}),
    scored{np_} AS ({_duck_scan_clusters(f'probes{np_}', 'assigned', 'probe_cluster')}),
    top{np_} AS ({_duck_top_k(f'scored{np_}')})"""
        for np_ in NPROBE_CURVE
    )
    hits = """(SELECT count(*) FROM top{0} t
                     JOIN exact e ON e.query_id = t.query_id
                                 AND e.neighbor_id = t.neighbor_id)"""
    selects = "\nUNION ALL\n".join(
        f"""SELECT {np_} AS nprobe,
               CAST({hits.format(np_)} AS BIGINT) AS n_hits,
               CAST({hits.format(np_)} * 1000000 // (SELECT count(*) FROM exact)
                    AS BIGINT) AS recall_ppm"""
        for np_ in NPROBE_CURVE
    )
    return f"""
    WITH exact AS ({ORACLES["knn_brute_force"]}),{_duck_ivf_ctes()},
    q AS ({_duck_queries()}){legs}
{selects}
ORDER BY nprobe"""


@query("ann_nprobe_curve", oracle=_duck_nprobe_curve_sql())
def ann_nprobe_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF tuning table: recall@k against exact ground truth for
    nprobe = 1..4 in one result — the curve an ANN operator reads to
    pick the cheapest probe count that clears the recall SLO (the
    knee is usually sharp: here single-probe recalls poorly on
    isotropic data and 3 probes clear 0.9 — ann_eval_recall's single
    point, generalized). Composition: ONE cluster assignment is
    shared across all four legs (Catalyst reuses the exchange), each
    leg adds only a (queries x nprobe)-row probe fan-out + bucket
    join, and the read-out joins each leg's top-k against the
    brute-force ground truth — k x |queries| rows per leg. The recall
    denominator is a one-row count of the ground truth, broadcast into
    the plan, so the builder runs no job. The whole curve costs about
    one multiprobe run, not four."""
    e = load_table(spark, sf_dir, "embeddings")
    c = _seed(e)
    assigned = e.join(_assign(e, c, _neg_dot), "vec_id")
    probe_ranked = _probe_ranks(_queries(e), c)
    exact = QUERIES["knn_brute_force"](spark, sf_dir).select(
        "query_id", "neighbor_id"
    )
    n_exact = exact.agg(F.count(F.lit(1)).alias("n_exact"))
    legs = []
    for np_ in NPROBE_CURVE:
        probes = probe_ranked.filter(F.col("rn") <= np_)
        top = _top_k(_scan_clusters(probes, assigned, "probe_cluster"))
        hits = top.join(F.broadcast(exact), ["query_id", "neighbor_id"]).agg(
            F.count(F.lit(1)).alias("n_hits")
        )
        legs.append(hits.select(F.lit(np_).cast("long").alias("nprobe"), "n_hits"))
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionByName(leg)
    return (
        out.crossJoin(F.broadcast(n_exact))
        .select(
            "nprobe",
            F.col("n_hits").cast("long").alias("n_hits"),
            F.expr("CAST(n_hits * 1000000 div n_exact AS BIGINT)").alias(
                "recall_ppm"
            ),
        )
        .orderBy("nprobe")
    )


EVAL_K = 5


@query(
    "knn_label_eval",
    oracle=_duck_knn_ranked()
    + f""",
    votes AS (
      SELECT src, true_label, nb_label, CAST(count(*) AS BIGINT) AS v
      FROM ranked WHERE rk <= {EVAL_K}
      GROUP BY src, true_label, nb_label
    ),
    pred AS (
      SELECT src, true_label, nb_label AS pred_label
      FROM (
        SELECT *, row_number() OVER (
          PARTITION BY src ORDER BY v DESC, nb_label
        ) AS pr
        FROM votes
      ) WHERE pr = 1
    )
    SELECT true_label AS label,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END)
                AS BIGINT) AS n_correct,
           CAST(sum(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END)
                * 1000000 // count(*) AS BIGINT) AS acc_ppm
    FROM pred
    GROUP BY true_label
    ORDER BY label
    """,
)
def knn_label_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out kNN classifier accuracy per label — the standard
    embedding-QUALITY metric (if 5-NN majority vote can't recover the
    label, the space doesn't separate the classes and no downstream
    index will fix it); run per-label, it also pinpoints WHICH class
    collapsed after a model change. Candidates + exact scores + the
    per-src top-k all come from the SHARED per-bucket pandas kernel
    (_bucketed_embeddings -> topk_neighbors, r7 verdict #1): same
    exact gate under 1k vectors, LSH buckets above, bit-identical
    left-fold scores, so the oracle (same gate + np-CTE bucket
    formula) stays hash-exact at any SF while the vote below only
    ever sees n·k artifact rows. The majority vote is a (src,
    label)-bounded count + row_number argmax with a deterministic
    label tiebreak. Read-out is |labels| rows."""
    from alexandria_pipeline_spark.functions.bucketed import topk_neighbors

    bucketed = _bucketed_embeddings(spark, sf_dir, with_label=True)
    topk = topk_neighbors(bucketed, EVAL_K, with_labels=True)
    votes = topk.groupBy("src", "true_label", "nb_label").agg(
        F.count(F.lit(1)).alias("v")
    )
    w_pred = Window.partitionBy("src").orderBy(F.desc("v"), F.asc("nb_label"))
    pred = (
        votes.withColumn("pr", F.row_number().over(w_pred))
        .filter(F.col("pr") == 1)
        .select("src", "true_label", F.col("nb_label").alias("pred_label"))
    )
    return (
        pred.groupBy(F.col("true_label").alias("label"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum((F.col("pred_label") == F.col("true_label")).cast("long")).alias(
                "n_correct"
            ),
        )
        .select(
            "label",
            F.col("n").cast("long").alias("n"),
            F.col("n_correct").cast("long").alias("n_correct"),
            F.expr("CAST(n_correct * 1000000 div n AS BIGINT)").alias("acc_ppm"),
        )
        .orderBy("label")
    )


@query(
    "ann_ivf_build_report",
    oracle=f"""
    WITH {_duck_ivf_ctes()},
    per_cluster AS (
      SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_vecs
      FROM assigned GROUP BY cluster_id
    ),
    tot AS (
      SELECT CAST(sum(n_vecs) AS BIGINT) AS total,
             CAST(max(n_vecs) AS BIGINT) AS mx
      FROM per_cluster
    )
    SELECT CAST(cluster_id AS BIGINT) AS cluster_id, n_vecs,
           CAST(n_vecs * {N_CENTROIDS} * 1000 // total AS BIGINT)
             AS balance_milli,
           CAST(mx * {N_CENTROIDS} * 1000 // total AS BIGINT)
             AS worst_balance_milli
    FROM per_cluster, tot
    ORDER BY cluster_id
    """,
)
def ann_ivf_build_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF index-build quality report: vectors per cluster and each
    cluster's balance factor (1000 = perfectly even) — the number
    that explains a bad nprobe curve BEFORE re-training (a fat
    cluster means single-probe queries landing there scan far more
    than corpus/n_clusters, and the worst factor is the tail-latency
    multiplier of the whole index; the fix is more/kmeans-trained
    centroids — knn_ivf_kmeans — not more probes). Same centroid
    broadcast + assignment (_assign) as every IVF query, one
    cluster-cardinality aggregate on top; the
    diagnose_partition_balance methodology applied to the ANN
    index."""
    e = load_table(spark, sf_dir, "embeddings")
    per_cluster = _assign(e, _seed(e), _neg_dot).groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_vecs")
    )
    tot = per_cluster.agg(
        F.sum("n_vecs").alias("total"), F.max("n_vecs").alias("mx")
    )
    return (
        per_cluster.crossJoin(F.broadcast(tot))
        .select(
            F.col("cluster_id").cast("long").alias("cluster_id"),
            F.col("n_vecs").cast("long").alias("n_vecs"),
            F.expr(
                f"CAST(n_vecs * {N_CENTROIDS} * 1000 div total AS BIGINT)"
            ).alias("balance_milli"),
            F.expr(
                f"CAST(mx * {N_CENTROIDS} * 1000 div total AS BIGINT)"
            ).alias("worst_balance_milli"),
        )
        .orderBy("cluster_id")
    )


@query(
    "embedding_quantization_error_eval",
    oracle=f"""
    WITH m AS (
      SELECT vec_id, embedding,
             list_max(list_transform(embedding,
                                     x -> abs(CAST(x AS DOUBLE)))) AS max_abs
      FROM embeddings
    ),
    errs AS (
      SELECT vec_id,
             CAST(list_max(list_transform(embedding,
               x -> CAST(round(abs(
                 CAST(x AS DOUBLE)
                 - CAST(round(CAST(x AS DOUBLE) * 127.0 / max_abs) AS BIGINT)
                   * max_abs / 127.0) * 1000000) AS BIGINT)))
               AS BIGINT) AS max_err_e6,
             CAST(list_sum(list_transform(embedding,
               x -> CAST(round(abs(
                 CAST(x AS DOUBLE)
                 - CAST(round(CAST(x AS DOUBLE) * 127.0 / max_abs) AS BIGINT)
                   * max_abs / 127.0) * 1000000) AS BIGINT)))
               AS BIGINT) AS sum_err_e6
      FROM m
    )
    SELECT
      CAST(count(*) AS BIGINT)                    AS n_vectors,
      CAST(max(max_err_e6) AS BIGINT)             AS worst_dim_err_e6,
      CAST(sum(sum_err_e6) // (count(*) * {EMBED_DIM}) AS BIGINT)
                                                  AS mean_dim_err_e6
    FROM errs
    """,
)
def embedding_quantization_error_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reconstruction-error eval for the int8 quantizer: decode each
    quantized component back (q·scale) and report the worst and mean
    per-dimension absolute error in e6 units — the number that says
    whether 4x compression is free for YOUR distribution or is about
    to eat your recall (symmetric int8's bound is max|x|/254; a
    worst_dim_err_e6 well beyond that means outlier dimensions and a
    per-dim or PQ scheme is warranted — knn_pq_adc is the in-repo
    step up). Per-element errors round to integers INSIDE each engine
    from the identical double expression (the quantize query's
    convention), so sums are associative and the read-out hash-exact.
    Map-only until the 1-row summary."""
    e = load_table(spark, sf_dir, "embeddings")
    max_abs = F.array_max(
        F.transform("embedding", lambda x: F.abs(x.cast("double")))
    )
    err = lambda x: F.round(  # noqa: E731 - local expression builder
        F.abs(
            x.cast("double")
            - F.round(x.cast("double") * 127.0 / F.col("max_abs")).cast("bigint")
            * F.col("max_abs")
            / 127.0
        )
        * 1_000_000
    ).cast("long")
    errs = e.withColumn("max_abs", max_abs).select(
        F.array_max(F.transform("embedding", err)).alias("max_err_e6"),
        F.aggregate(
            F.transform("embedding", err),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("sum_err_e6"),
    )
    return errs.agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.max("max_err_e6").alias("worst_dim_err_e6"),
        F.expr(
            f"CAST(sum(sum_err_e6) div (count(1) * {EMBED_DIM}) AS BIGINT)"
        ).alias("mean_dim_err_e6"),
    ).select(
        F.col("n_vectors").cast("long").alias("n_vectors"),
        F.col("worst_dim_err_e6").cast("long").alias("worst_dim_err_e6"),
        "mean_dim_err_e6",
    )


# MMR re-ranking (Carbonell & Goldstein 1998): greedy diversified
# selection from an ANN candidate pool. Lambda = 0.5, scaled x2 so the
# score 2*relevance - max_sim stays integer in micro-units.
MMR_POOL = 32
MMR_SELECT = 8
MMR_QUERY_ID = 0


def _duck_mmr_sql() -> str:
    head = f"""
    WITH q AS MATERIALIZED (
      SELECT embedding AS q_emb FROM embeddings WHERE vec_id = {MMR_QUERY_ID}
    ),
    pool AS MATERIALIZED (
      SELECT e.vec_id, e.embedding,
             CAST(round({duck_dot("q.q_emb", "e.embedding")} * 1000000)
               AS BIGINT) AS rel_micro
      FROM embeddings e, q WHERE e.vec_id <> {MMR_QUERY_ID}
      ORDER BY rel_micro DESC, e.vec_id LIMIT {MMR_POOL}
    ),
    sims AS MATERIALIZED (
      SELECT a.vec_id AS va, b.vec_id AS vb,
             CAST(round({duck_dot("a.embedding", "b.embedding")} * 1000000)
               AS BIGINT) AS sim_micro
      FROM pool a JOIN pool b ON a.vec_id <> b.vec_id
    ),
    sel1 AS MATERIALIZED (
      SELECT vec_id, rel_micro, 2 * rel_micro AS mmr_micro
      FROM pool ORDER BY rel_micro DESC, vec_id LIMIT 1
    ),
    cum1 AS MATERIALIZED (SELECT vec_id FROM sel1)"""
    parts = [head]
    for i in range(2, MMR_SELECT + 1):
        parts.append(f""",
    sel{i} AS MATERIALIZED (
      SELECT p.vec_id, p.rel_micro, 2 * p.rel_micro - ms.ms AS mmr_micro
      FROM pool p JOIN (
        SELECT va, max(sim_micro) AS ms FROM sims
        WHERE vb IN (SELECT vec_id FROM cum{i - 1}) GROUP BY va
      ) ms ON ms.va = p.vec_id
      WHERE p.vec_id NOT IN (SELECT vec_id FROM cum{i - 1})
      ORDER BY mmr_micro DESC, p.vec_id LIMIT 1
    ),
    cum{i} AS MATERIALIZED (SELECT vec_id FROM cum{i - 1}
               UNION ALL SELECT vec_id FROM sel{i})""")
    sels = "\n    UNION ALL ".join(
        f"SELECT {i} AS rk, vec_id, rel_micro, mmr_micro FROM sel{i}"
        for i in range(1, MMR_SELECT + 1)
    )
    parts.append(f"""
    SELECT CAST(rk AS INT) AS rk, vec_id, rel_micro, mmr_micro
    FROM ({sels})
    ORDER BY rk""")
    return "".join(parts)


@query("similarity_mmr_rerank", oracle=_duck_mmr_sql())
def similarity_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR (maximal marginal relevance) diversified top-k: greedily
    pick {MMR_SELECT} results from a {MMR_POOL}-candidate ANN pool,
    each pick maximizing 2*relevance - max_similarity_to_selected
    (lambda = 0.5 in integer micro-units, ties by vec_id) — the
    re-ranking step a retrieval pipeline runs so the final hits aren't
    {MMR_SELECT} copies of the same near-duplicate passage.

    Plan at 100 TB: everything CORPUS-sized is distributed — the pool
    is a broadcast-query scan + TakeOrdered (exactly knn_brute_force's
    shape), and the pool's pairwise sim matrix is a self-join of a
    {MMR_POOL}-row broadcast frame. The greedy chain itself is
    inherently sequential in k and runs on the driver over a BOUNDED
    collect ({MMR_POOL}^2 = {MMR_POOL * MMR_POOL} integer cells, same
    documented pattern as the PCA Gram fold — the pool size is a
    constant of the query, not of the corpus). The oracle replays the
    identical greedy as {MMR_SELECT} unrolled CTE stages, so the whole
    pool->greedy pipeline is value-hash-checked cross-engine."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == MMR_QUERY_ID).select(
        F.col("embedding").alias("q_emb")
    )
    pool = (
        F.broadcast(q)
        .crossJoin(e)
        .filter(F.col("vec_id") != MMR_QUERY_ID)
        .select(
            "vec_id",
            "embedding",
            F.round(dot("q_emb", "embedding") * 1_000_000)
            .cast("long")
            .alias("rel_micro"),
        )
        .orderBy(F.desc("rel_micro"), "vec_id")
        .limit(MMR_POOL)
    )
    pool = pool.persist()
    a = pool.select(
        F.col("vec_id").alias("va"), F.col("embedding").alias("ea")
    )
    b = pool.select(
        F.col("vec_id").alias("vb"), F.col("embedding").alias("eb")
    )
    sims = (
        a.join(F.broadcast(b), F.col("va") != F.col("vb"))
        .select(
            "va",
            "vb",
            F.round(dot("ea", "eb") * 1_000_000).cast("long").alias("sim_micro"),
        )
    )
    # bounded driver-side greedy: MMR_POOL rel rows + MMR_POOL^2 sims
    rel = {
        r["vec_id"]: r["rel_micro"]
        for r in pool.select("vec_id", "rel_micro").collect()
    }
    sim = {(r["va"], r["vb"]): r["sim_micro"] for r in sims.collect()}
    pool.unpersist()
    selected: list[tuple[int, int, int, int]] = []  # (rk, vec_id, rel, mmr)
    chosen: list[int] = []
    for rk in range(1, MMR_SELECT + 1):
        best = None
        for v, rv in rel.items():
            if v in chosen:
                continue
            ms = max((sim[(v, s)] for s in chosen), default=None)
            mmr = 2 * rv if ms is None else 2 * rv - ms
            key = (-mmr, v)
            if best is None or key < best[0]:
                best = (key, v, rv, mmr)
        selected.append((rk, best[1], best[2], best[3]))
        chosen.append(best[1])
    return spark.createDataFrame(
        selected, "rk int, vec_id long, rel_micro long, mmr_micro long"
    ).orderBy("rk")


# Matryoshka truncation eval: how much retrieval quality survives when
# vectors are cut to their first MAT_DIM dims (Kusupati et al. 2022 —
# MRL trains prefixes to be usable embeddings; serving at half width
# halves index memory and doubles scan throughput IF recall holds).
MAT_DIM = 32


@query(
    "embedding_matryoshka_eval",
    oracle=f"""
    WITH gt AS ({ORACLES["knn_brute_force"]}),
    q AS ({_duck_queries(emb=f"embedding[1:{MAT_DIM}]")}),
    scored AS ({_duck_scan_corpus(duck_cosine("q.q_emb", f"e.embedding[1:{MAT_DIM}]"))}),
    tr AS ({_duck_top_k('scored')})
    {_duck_recall('tr')}
    """,
)
def embedding_matryoshka_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka truncation eval: recall@k of a HALF-WIDTH prefix
    search (first {MAT_DIM} of {EMBED_DIM} dims, re-normalized cosine
    — truncation breaks unit norm, so the score is a full cosine, not
    a dot) against the full-dimension exact top-k. This is the
    go/no-go table for serving truncated embeddings (half the index
    bytes, twice the scan rate): high recall says the prefix carries
    the ranking signal; low recall says the model wasn't
    Matryoshka-trained and truncation is not free.

    Plan: both legs are the broadcast-query scan of knn_brute_force —
    narrow stages scoring N·Q pairs with a codegen'd fold, only k·Q
    rows surviving to the windowed rank; the eval join is k·Q rows.
    Cross-engine floats: slice-then-fold in identical order on both
    sides, one division by a product of two sqrts — bitwise-equal
    doubles, so the rank (and therefore the integer recall) is
    hash-stable."""
    gt = QUERIES["knn_brute_force"](spark, sf_dir).select(
        "query_id", "neighbor_id"
    )
    e = load_table(spark, sf_dir, "embeddings")
    q = _queries(e, emb=F.slice("embedding", 1, MAT_DIM))
    scored = _scan_corpus(
        q, e, cosine(F.col("q_emb"), F.slice("embedding", 1, MAT_DIM))
    )
    tr = _top_k(scored).select(
        F.col("query_id").alias("t_qid"), F.col("neighbor_id").alias("t_nid")
    )
    j = gt.join(
        tr,
        (gt.query_id == tr.t_qid) & (gt.neighbor_id == tr.t_nid),
        "left",
    )
    return j.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("k"),
        F.count("t_nid").alias("n_matched"),
        F.expr("count(t_nid) * 100 div count(1)").alias("recall_pct"),
    )


@query(
    "knn_mrr_eval",
    oracle=_duck_knn_ranked()
    + """,
    first_hit AS (
      SELECT src, true_label, CAST(min(rk) AS BIGINT) AS frk
      FROM ranked WHERE nb_label = true_label
      GROUP BY src, true_label
    ),
    per_label AS (
      SELECT label, CAST(count(*) AS BIGINT) AS n_queries
      FROM embeddings GROUP BY label
    )
    SELECT p.label,
           p.n_queries,
           CAST(count(f.src) AS BIGINT) AS n_found,
           CAST(coalesce(sum(1000000 // f.frk), 0) // p.n_queries
                AS BIGINT) AS mrr_ppm
    FROM per_label p
    LEFT JOIN first_hit f ON f.true_label = p.label
    GROUP BY p.label, p.n_queries
    ORDER BY p.label
    """,
)
def knn_mrr_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean reciprocal rank of the first SAME-LABEL neighbor, per label
    — the retrieval-eval complement to recall@k (ann_eval_recall) and
    label-recovery accuracy (knn_label_eval): MRR rewards putting a
    relevant item FIRST, so it catches an embedding model whose top-5
    contains the class but never leads with it. Candidate generation,
    gate, and tie-breaks are SHARED with knn_label_eval
    (_bucketed_embeddings, r7 verdict #1); the first-same-label rank
    is computed INSIDE the per-bucket kernel
    (functions.bucketed.first_same_label_rank — full (score desc, dst)
    ordering per src in numpy with bit-identical left-fold scores, one
    (src, frk) row out), so the post-kernel plan joins an n-row
    artifact, never candidates. The oracle encodes the SAME gate +
    np-CTE bucket formula. Determinism: each query's reciprocal rank
    is ONE truncating division 1e6 div first_rank, summed exactly and
    divided once per label; vectors with no same-label candidate
    contribute zero (and are visible via n_found < n_queries)."""
    from alexandria_pipeline_spark.functions.bucketed import (
        first_same_label_rank,
    )

    e = load_table(spark, sf_dir, "embeddings")
    bucketed = _bucketed_embeddings(spark, sf_dir, with_label=True)
    first_hit = first_same_label_rank(bucketed)
    per_label = e.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n_queries")
    )
    return (
        per_label.join(
            first_hit, first_hit["true_label"] == per_label["label"], "left"
        )
        .groupBy("label", "n_queries")
        .agg(
            F.count("src").cast("long").alias("n_found"),
            F.expr(
                "CAST(coalesce(sum(1000000 div frk), 0) div n_queries "
                "AS BIGINT)"
            ).alias("mrr_ppm"),
        )
        .orderBy("label")
    )
