"""Invariant tests for the round-5 operators — internal-consistency
properties the equality oracles can't express: Lorenz-curve
monotonicity, Markov context distributions,
log2-bucket boundary containment, Zipf ordering, and the LSH plan
advisor agreeing with the Python-side formula. The mutual-kNN and
nprobe-curve tests live in test_similarity.py."""

from __future__ import annotations

from alexandria_pipeline_spark import QUERIES, register_all
from tests.conftest import SF_SMOKE


def setup_module() -> None:
    register_all()


def test_power_user_curve_is_monotone_lorenz(spark):
    rows = QUERIES["events_power_user_curve"](spark, SF_SMOKE).collect()
    rows.sort(key=lambda r: r["top_pct"])
    assert [r["top_pct"] for r in rows] == [1, 5, 10, 25, 50]
    for a, b in zip(rows, rows[1:]):
        assert a["k_users"] <= b["k_users"]
        assert a["events_covered"] <= b["events_covered"]
        assert a["share_ppm"] <= b["share_ppm"]
    for r in rows:
        # concentration: top p% of users must cover >= p% of events
        # (they are the MOST active users)
        assert r["share_ppm"] >= r["top_pct"] * 10_000 - 1, r
        assert r["share_ppm"] <= 1_000_000


def test_markov2_context_distributions(spark):
    rows = QUERIES["events_markov2_transitions"](spark, SF_SMOKE).collect()
    by_ctx: dict[tuple, list] = {}
    for r in rows:
        by_ctx.setdefault((r["p2"], r["p1"]), []).append(r)
    for ctx, group in by_ctx.items():
        total_ppm = sum(r["ctx_ppm"] for r in group)
        # truncating shares: within one ppm per row of exactly 1e6
        assert 1_000_000 - len(group) <= total_ppm <= 1_000_000, ctx
        n = sum(r["n"] for r in group)
        for r in group:
            assert r["ctx_ppm"] == r["n"] * 1_000_000 // n


def test_interarrival_buckets_contain_their_gaps(spark):
    rows = QUERIES["events_interarrival_log2_histogram"](spark, SF_SMOKE).collect()
    assert rows, "no gaps bucketed"
    for r in rows:
        b = r["bucket"]
        assert r["min_gap_s"] <= r["max_gap_s"]
        if b == 0:
            assert r["min_gap_s"] == r["max_gap_s"] == 0
        else:
            # bucket = digit count: gap in [2^(b-1), 2^b)
            assert (1 << (b - 1)) <= r["min_gap_s"], r
            assert r["max_gap_s"] < (1 << b), r


def test_zipf_ranking_is_ordered(spark):
    rows = QUERIES["text_zipf_rank_frequency"](spark, SF_SMOKE).collect()
    assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1))
    for a, b in zip(rows, rows[1:]):
        assert (a["n"], b["token"]) >= (b["n"], a["token"])
    for r in rows:
        assert r["rank_x_freq"] == r["rank"] * r["n"]


def test_token_diversity_bounds(spark):
    rows = QUERIES["text_token_diversity"](spark, SF_SMOKE).collect()
    for r in rows:
        assert 0 <= r["simpson_ppm"] <= 1_000_000
        assert 0 < r["ttr_ppm"] <= 1_000_000
        assert r["vocab"] <= r["n_tokens"]


def test_lsh_plan_advisor_matches_python_formula(spark):
    from alexandria_pipeline_spark.operators.dedup import lsh_planes_for

    row = QUERIES["diagnose_lsh_planes"](spark, SF_SMOKE).collect()[0]
    assert row["planes"] == lsh_planes_for(row["n_vectors"])
    assert row["n_buckets"] == 1 << row["planes"]
    assert (
        row["est_bucket_pairs"]
        == row["n_vectors"] * row["n_vectors"] // (2 * row["n_buckets"])
    )


def test_packing_report_conserves_documents(spark):
    from alexandria_pipeline_spark.catalog import load_table

    rows = QUERIES["packing_efficiency_report"](spark, SF_SMOKE).collect()
    n_docs = load_table(spark, SF_SMOKE, "documents").count()
    assert sum(r["n_docs"] for r in rows) == n_docs
    for r in rows:
        assert 0 <= r["n_overflow_bins"] <= r["n_bins"]
        assert 0 <= r["n_underfull_bins"] <= r["n_bins"]


def test_dedup_rate_by_source_bounds(spark):
    rows = QUERIES["corpus_dedup_rate_by_source"](spark, SF_SMOKE).collect()
    for r in rows:
        assert 0 <= r["n_dup_docs"] <= r["n_docs"]
        assert r["dup_ppm"] == r["n_dup_docs"] * 1_000_000 // r["n_docs"]


def test_type_affinity_bounds(spark):
    rows = QUERIES["events_type_affinity"](spark, SF_SMOKE).collect()
    for r in rows:
        assert r["type_a"] < r["type_b"]
        assert 0 < r["n_ab"] <= min(r["n_a"], r["n_b"])
        assert r["lift_ppm"] > 0


def test_fulfillment_latency_ordering(spark):
    rows = QUERIES["orders_fulfillment_latency_percentiles"](
        spark, SF_SMOKE
    ).collect()
    for r in rows:
        assert r["p50_days"] <= r["p90_days"] <= r["p99_days"]
        assert r["n"] > 0


def test_char_trigram_signature_shape(spark):
    from alexandria_pipeline_spark.operators.text_analysis import (
        CHAR_TRIGRAM_TOP_N,
    )

    rows = QUERIES["text_char_trigram_signature"](spark, SF_SMOKE).collect()
    by_lang: dict[str, list] = {}
    for r in rows:
        assert len(r["trigram"]) == 3
        by_lang.setdefault(r["lang"], []).append(r)
    for lang, group in by_lang.items():
        group.sort(key=lambda r: r["rk"])
        assert [g["rk"] for g in group] == list(range(1, len(group) + 1))
        assert len(group) <= CHAR_TRIGRAM_TOP_N
        counts = [g["n"] for g in group]
        assert counts == sorted(counts, reverse=True), lang


def test_column_stats_bounds(spark):
    from alexandria_pipeline_spark.catalog import load_table
    from alexandria_pipeline_spark.operators.maintenance import _STATS_COLS

    rows = QUERIES["maintenance_column_stats"](spark, SF_SMOKE).collect()
    n = load_table(spark, SF_SMOKE, "lineitem").count()
    assert {r["column_name"] for r in rows} == set(_STATS_COLS)
    for r in rows:
        assert r["n_rows"] == n
        assert 0 <= r["n_nulls"] <= n
        assert 1 <= r["ndv"] <= n - r["n_nulls"]


def test_centroid_drift_consistency(spark):
    from alexandria_pipeline_spark.catalog import load_table
    import pyspark.sql.functions as F

    rows = QUERIES["embedding_centroid_drift"](spark, SF_SMOKE).collect()
    per_label = {
        r["label"]: (r["n_even"], r["n_odd"])
        for r in load_table(spark, SF_SMOKE, "embeddings")
        .groupBy("label")
        .agg(
            F.sum((F.col("vec_id") % 2 == 0).cast("long")).alias("n_even"),
            F.sum((F.col("vec_id") % 2 == 1).cast("long")).alias("n_odd"),
        )
        .collect()
    }
    for r in rows:
        assert (r["n_even"], r["n_odd"]) == per_label[r["label"]]
        assert 0 <= r["max_dim_drift_e6"] <= r["l1_drift_e6"]


def test_compression_ratio_invariants(spark):
    """No SQL oracle exists for zlib — pin the physics instead: sizes
    positive, ratio = raw*1000//comp exactly, identical output across
    two runs (determinism), and natural-text docs compress (ratio >
    1000 for anything non-trivial)."""
    rows = QUERIES["text_compression_ratio"](spark, SF_SMOKE).collect()
    again = QUERIES["text_compression_ratio"](spark, SF_SMOKE).collect()
    assert [tuple(r) for r in rows] == [tuple(r) for r in again]
    assert rows
    for r in rows:
        assert r["raw_bytes"] > 0 and r["compressed_bytes"] > 0
        assert r["ratio_permille"] == r["raw_bytes"] * 1000 // r["compressed_bytes"]
    assert sum(r["ratio_permille"] > 1000 for r in rows) > len(rows) // 2


def test_interpolation_stays_between_neighbors(spark):
    """Every gap row's lerped value must lie within [min, max] of the
    enclosing known values — by construction of the truncating lerp."""
    rows = QUERIES["events_resample_hourly_interpolate"](
        spark, SF_SMOKE
    ).collect()
    by_user: dict[int, list] = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(r)
    checked = 0
    for series in by_user.values():
        series.sort(key=lambda r: r["hour_s"])
        known = [
            (i, r["value_cents"]) for i, r in enumerate(series) if not r["is_gap"]
        ]
        for (i1, v1), (i2, v2) in zip(known, known[1:]):
            lo, hi = min(v1, v2), max(v1, v2)
            for r in series[i1 + 1 : i2]:
                assert lo <= r["value_cents"] <= hi, r
                checked += 1
    assert checked > 0, "fixture produced no interior gaps"


def test_arrival_disorder_bounds(spark):
    rows = QUERIES["events_arrival_disorder_audit"](spark, SF_SMOKE).collect()
    for r in rows:
        assert 0 <= r["n_inversions"] <= r["n_arrivals"]
        assert r["inversion_ppm"] == r["n_inversions"] * 1_000_000 // r["n_arrivals"]
        assert (r["max_backstep_s"] > 0) == (r["n_inversions"] > 0) or (
            r["max_backstep_s"] == 0
        )


def test_dau_forecast_backtest_is_leakage_free(spark):
    """The holdout day per weekday must be STRICTLY the latest
    occurrence, and the forecast must be derivable from earlier days
    only (n_train_days >= 1 whenever a test row exists)."""
    rows = QUERIES["events_dau_naive_forecast_backtest"](spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert r["n_train_days"] >= 1
        assert r["abs_err"] == abs(r["actual_dau"] - r["forecast_dau"])


def test_quantization_error_within_theory(spark):
    """Symmetric int8 reconstruction error is bounded by
    max|x|/(2*127) per dimension; unit-norm vectors keep max|x| <= 1,
    so the worst e6 error must stay under ~3937 + rounding slack."""
    row = QUERIES["embedding_quantization_error_eval"](spark, SF_SMOKE).collect()[0]
    assert row["n_vectors"] > 0
    assert 0 <= row["mean_dim_err_e6"] <= row["worst_dim_err_e6"]
    assert row["worst_dim_err_e6"] <= 1_000_000 // 254 + 2


def test_anomaly_consensus_agrees_with_standalone_detectors(spark):
    """The ensemble's per-detector counts must equal each standalone
    query's flags exactly (same integer decision rules), and consensus
    can never exceed any pairwise-compatible bound."""
    cons = {
        r["event_type"]: r
        for r in QUERIES["events_anomaly_consensus"](spark, SF_SMOKE).collect()
    }
    z = {
        r["event_type"]: r["n_anomalies"]
        for r in QUERIES["events_zscore_anomalies"](spark, SF_SMOKE).collect()
    }
    iqr = {
        r["event_type"]: r["n_outliers"]
        for r in QUERIES["events_iqr_outliers"](spark, SF_SMOKE).collect()
    }
    mad = {
        r["event_type"]: r["n_anomalies"]
        for r in QUERIES["events_anomaly_mad"](spark, SF_SMOKE).collect()
    }
    for t, r in cons.items():
        assert r["n_zscore"] == z[t], t
        assert r["n_iqr"] == iqr[t], t
        assert r["n_mad"] == mad[t], t
        assert r["n_consensus"] <= r["n_zscore"] + r["n_iqr"] + r["n_mad"]
