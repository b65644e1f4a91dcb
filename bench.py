#!/usr/bin/env python
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is forced end-to-end with the noop sink (full computation,
no driver collect, no result materialization cost). A warmup run of
the flagship query absorbs JVM/codegen startup so per-query numbers
measure the plans, not JIT.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from alexandria_pipeline_spark import QUERIES, get_spark, materialize, register_all
from alexandria_pipeline_spark.registry import env_flag, env_int, release_persisted

# Headline set: one per operator family (scan-agg, joins, windows,
# event-time, pipeline, dedup, similarity, text). Streaming queries are
# excluded — micro-batch setup time would measure the harness, not the
# operator (their batch twins are here).
HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q4_order_priority",
    "q5_region_volume",
    "q6_forecast_revenue",
    "q12_shipmode_priority",
    "join_fact_fact",
    "join_star_revenue",
    "agg_rollup",
    "window_rank_topn_per_group",
    "window_running_total",
    "window_lag_lead",
    "pivot_event_types",
    "subquery_above_nation_avg",
    "agg_percentiles",
    "events_tumbling_window",
    "events_session_window",
    "events_asof_join",
    "embed_documents",
    "chunk_embed_pool",
    "merge_embeddings",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_ngram_jaccard",
    "dedup_embedding_cosine",
    "q7_volume_shipping",
    "q9_product_type_profit",
    "q13_customer_distribution",
    "q21_waiting_suppliers",
    "knn_brute_force",
    "knn_ivf_pruned",
    "text_quality_scores",
    "text_fingerprint",
    "text_token_counts",
    "multimodal_binary_meta",
    "knn_ivf_multiprobe",
    "events_zscore_anomalies",
    "customer_rfm_segments",
    "hybrid_search_rrf",
    "multimodal_decode_bmp",
    "decontam_ngram_overlap",
    "pack_sequences_contiguous",
    "split_train_eval_hash",
    "tfidf_top_terms",
    # round-3 additions
    "join_bloom_pruned",
    "events_funnel_sequential",
    "events_time_rollup",
    "sample_stratified_hash",
    "multimodal_decode_png",
    "dedup_incremental_antijoin",
    "text_heavy_hitters_countmin",
    "join_interval_bucketed",
    "agg_distinct_kmv",
    "graph_triangle_count",
    "dq_constraint_check",
    "corpus_shuffle_rank",
    "text_ngram_lm_counts",
    # round-4 additions
    "multimodal_decode_mixed",
    "events_cdc_latest_state",
    "training_negative_pairs",
    "doc_chunk_overlap_windows",
    "text_ngram_novelty",
    "snapshot_diff",
    "maintenance_compaction_plan",
    "orders_open_backlog_daily",
    "events_time_weighted_avg",
    "text_pmi_bigrams",
    "dedup_exact_keep_best",
    "merge_upsert_apply",
    "events_rolling_7d_distinct",
    "agg_correlation_matrix",
    "corpus_e2e_training_prep",
    "orders_pareto_8020",
    "dedup_incremental_minhash",
    "multimodal_audio_vad",
    "events_ab_test_lift",
    "graph_jaccard_neighbors",
    "doc_length_gini",
    "events_anomaly_mad",
    "knn_range_search",
    # round-5 additions
    "events_power_user_curve",
    "knn_mutual_topk",
    "events_markov2_transitions",
    "events_interarrival_log2_histogram",
    "orders_benford_first_digit",
    "orders_fulfillment_latency_percentiles",
    "text_zipf_rank_frequency",
    "text_token_diversity",
    "corpus_dedup_rate_by_source",
    "events_type_affinity",
    "curation_quality_decile_budget",
    "events_peak_concurrency_daily",
    "multimodal_image_ahash_dedup",
    "events_seasonal_residual_anomalies",
    "events_session_duration_percentiles",
    "ann_ivf_build_report",
    "split_leakage_audit",
    "knn_label_eval",
    "orders_theilsen_trend",
    "dedup_lsh_recall_eval",
    # round 6 additions
    "text_bm25_topk",
    "join_fuzzy_deletion_neighborhood",
    "dedup_passage_level",
    "orders_ewma_daily",
    "corpus_quality_linear_hist",
    "dedup_semantic_cluster",
    "text_unigram_surprisal",
    "agg_histogram_equidepth",
    # round 7 additions
    "curation_dsir_importance",
    "curation_quality_calibration",
    "text_bpe_pair_counts",
    "agg_kmv_user_overlap",
    "similarity_mmr_rerank",
    "multimodal_audio_loudness",
    "corpus_mix_temperature",
    "orders_holt_linear_trend",
    "embedding_matryoshka_eval",
    "decontam_embedding_cosine",
    "corpus_ccnet_perplexity_buckets",
    "events_watermark_lateness_curve",
    "multimodal_image_letterbox",
    "tokenizer_vocab_overlap",
    "text_chunk_stitch_join",
    "curation_rule_ablation",
    "corpus_epoch_repeat_plan",
    "orders_cohort_ltv_curve",
    "events_dau_stickiness",
    "dedup_edit_distance",
    "events_slo_burn_rate",
    "dq_freshness_lag",
    "events_markov_stationary",
    "text_token_fertility_by_lang",
    "corpus_length_pareto_alpha",
    "events_transition_entropy",
    "lineitem_price_elasticity_by_brand",
    "events_changepoint_binseg",
    "events_user_survival_km",
    "curation_quality_auc",
    "corpus_score_ks_drift",
    "curation_threshold_sweep",
    "text_bigram_cond_entropy",
    "events_seasonality_strength",
    "orders_spend_tier_migration",
    "events_anomaly_run_lengths",
    "knn_mrr_eval",
    "pack_capacity_curve",
    "maintenance_partition_skew_report",
    "dq_referential_integrity",
    "lineitem_unit_value_index",
    "events_attribution_position_compare",
    "events_retention_half_life",
    "multimodal_audio_snr",
    "supplier_hhi_by_part_type",
    "lineitem_returns_rate_monthly",
    "text_sentence_split_stats",
    "sample_priority_weighted",
    "orders_mann_kendall_trend",
    "text_mattr_lexical_diversity",
    "text_boilerplate_spans",
    "text_keyphrase_rake",
    # round-9 additions
    "curation_repetition_ratio",
    "graph_label_propagation",
    "corpus_source_overlap_matrix",
    # round-10 additions
    "curation_quality_train",
    "graph_lpa_modularity",
    # round-11 additions
    "graph_resource_allocation",
    # round-12 additions
    "graph_local_clustering",
    "knn_ivf_incremental_assign",
    "pack_span_corruption_stats",
    "multimodal_e2e_training_prep",
    # round-11 promotions (r10 verdict #5): the top engine-heavy
    # non-headline queries by the sweep's new spark_s attribution, so
    # the regression gate watches them every round. stream_* queries
    # stay out by policy — their walls are micro-batch trigger
    # scheduling, not plan cost, and would flap the gate (they are
    # covered by test_streaming + the sweeps + the cluster proof).
    "dedup_embedding_components",
    "graph_degree_assortativity",
    "graph_kcore_summary",
]


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def chunk_queries(
    headline: list[str], timings: dict[str, float], budget: int = 1200
) -> list[dict[str, float]]:
    """Split the per-query map into chunks whose serialized JSON lines
    each stay well under the driver's ~2000-char tail capture, values
    rounded to 2 decimals. Headline order is preserved so a reader can
    tell which part of the suite a surviving chunk covers."""
    chunks: list[dict[str, float]] = []
    chunk: dict[str, float] = {}
    size = 0
    for name in headline:
        if name not in timings:
            continue
        value = round(timings[name], 2)
        entry = len(json.dumps({name: value}))  # exact, at any magnitude
        if chunk and size + entry > budget:
            chunks.append(chunk)
            chunk, size = {}, 0
        chunk[name] = value
        size += entry
    if chunk:
        chunks.append(chunk)
    return chunks


def write_self_record(out: dict, cpus: str | None, repo_dir: str) -> str | None:
    """Write the complete record to BENCH_SELF.json (and
    BENCH_SELF_c<cpus>.json when cpus is set) in repo_dir. Returns the
    name the compact line should point at, or None when that file's
    write failed — a stale file from an earlier run must never be
    advertised as this run's."""
    self_name = f"BENCH_SELF_c{cpus}.json" if cpus else "BENCH_SELF.json"
    written = None
    for fname in {self_name, "BENCH_SELF.json"}:
        try:
            with open(os.path.join(repo_dir, fname), "w") as f:
                json.dump(out, f, indent=1)
        except OSError as exc:  # noqa: PERF203 - never fail the bench on I/O
            print(f"bench self-record write failed ({fname}): {exc!r}", file=sys.stderr)
        else:
            if fname == self_name:
                written = self_name
    return written


def main() -> None:
    # Timed numbers must be produced under the same UTC calendar the
    # oracles assume — fail loudly rather than benchmark divergent plans.
    os.environ.setdefault("SPARK_GRAFT_REQUIRE_UTC", "1")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # SPARK_GRAFT_BENCH_ONLY=a,b,c restricts the run to a subset of the
    # headline set — the regression gate uses this for its targeted
    # noise-retry pass on flagged queries (order preserved, unknown
    # names ignored so a stale flag list can't crash the retry).
    only = os.environ.get("SPARK_GRAFT_BENCH_ONLY")
    headline = (
        [n for n in HEADLINE if n in {s.strip() for s in only.split(",")}]
        if only
        else HEADLINE
    )
    register_all()
    spark = get_spark("alexandria-pipeline-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")

    try:
        force(QUERIES["q1_pricing_summary"](spark, sf_dir))  # warmup
    except Exception as exc:  # noqa: BLE001 - warmup failure is not fatal
        print(f"warmup failed: {exc!r}", file=sys.stderr)

    # Build every written-once relation (materialize.py) before the
    # timed passes: the build is timed and REPORTED per relation
    # (<name>_build_sec, materializations.<name>) so the one-time cost
    # is visible, and per-query numbers measure the read path, which
    # is what production pays per pass. Each record carries {digest,
    # state, build_sec} (r11 verdict #4: a bare build_sec of 0.0 was
    # ambiguous between a cache hit and a disabled relation). Every
    # bench run force-rebuilds (r12 verdict #3: round-over-round
    # comparisons silently mixed warm and cold runs), so "hit" never
    # occurs and every number is reproducible from the parquet inputs
    # alone. SPARK_GRAFT_BENCH_ALLOW_WARM=1 restores hit-or-build for
    # local iteration loops ONLY (a warm run is visibly state: hit).
    allow_warm = env_flag("SPARK_GRAFT_BENCH_ALLOW_WARM")
    materializations = {
        name: materialize.bench_record(rel, spark, sf_dir, allow_warm)
        for name, rel in materialize.REGISTRY.items()
    }

    # One failing query must never cost the whole run its JSON line
    # (round 2 lost all bench numbers to a single AnalysisException):
    # record the failure per-query, keep timing the rest, and exit 0 as
    # long as ANY query produced a number.
    # Per-query timing is min-of-N (default 2, SPARK_GRAFT_BENCH_RUNS to
    # change): this host shows 2-6% CPU steal and ±50% per-query wall
    # swings between back-to-back idle runs, so a single sample measures
    # the neighbor's workload, not the plan. The minimum is the standard
    # noisy-host estimator of intrinsic cost; the JSON says so
    # explicitly (runs_per_query / timing keys) so readers compare
    # like-for-like across rounds.
    # Passes are INTERLEAVED (pass 1 runs every query, then pass 2)
    # rather than back-to-back per query: the noise arrives in
    # multi-second bursts, and back-to-back samples would both land
    # inside the same burst.
    runs = max(1, env_int("SPARK_GRAFT_BENCH_RUNS", 2))
    timings: dict[str, float] = {}
    errors: dict[str, str] = {}
    for _ in range(runs):
        for name in headline:
            if name in errors:
                continue
            t0 = time.perf_counter()
            try:
                force(QUERIES[name](spark, sf_dir))
                dt = time.perf_counter() - t0
                timings[name] = round(min(timings.get(name, dt), dt), 3)
            except Exception as exc:  # noqa: BLE001 - keep benching
                timings.pop(name, None)
                errors[name] = f"{type(exc).__name__}: {exc}"[:300]
                print(f"bench query {name} failed: {exc!r}", file=sys.stderr)
            # release scoped persists OUTSIDE the timed span: the
            # timing measures the query, not the lifecycle contract
            # (r7 verdict #4); without this, later queries inherit
            # earlier queries' retained sketch caches.
            release_persisted()

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf_val = float(sf)
    except ValueError:
        sf_val = sf
    # "value" is only meaningful when every headline query was timed — a
    # partial sum would read a regression-induced failure as a speedup in
    # round-over-round comparisons. Null it out on any failure and always
    # emit n_timed/n_failed so aggregate readers can't misread partial runs.
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "")
    out = {
        "metric": "headline_queries_total_wall",
        "value": None if errors else round(sum(timings.values()), 3),
        "unit": "sec",
        "n_timed": len(timings),
        "n_failed": len(errors),
        "runs_per_query": runs,
        "timing": "min_of_runs",
        "cpus": cpus,
        "queries": timings,
        "sketch_build_sec": materializations["sketch"].get("build_sec"),
        "jsig_build_sec": materializations["jsig"].get("build_sec"),
        "materializations": materializations,
        "sf": sf_val,
    }
    if errors:
        out["errors"] = errors
        out["partial_total"] = round(sum(timings.values()), 3)
    print(json.dumps(out))
    # The per-query line above outgrew the driver's tail capture at 68
    # queries (BENCH_r04.json recorded parsed:null because the FRONT of
    # the line — where "value" lives — was truncated away). At 173
    # queries (r12) the problem returned one level up: the tail holds
    # only the last ~2000 characters, the sum of the query NAMES alone
    # is ~3.8 KB, so NO single per-query line can ever survive it and
    # the driver's round-over-round comparator got totals only
    # (PERF_r12 per_query: {}). Three additive channels (r12 verdict
    # #1), leaving the full line first and the compact line last:
    #   1. BENCH_SELF.json / BENCH_SELF_c<cpus>.json next to bench.py:
    #      the complete record as a stable file any comparator can read
    #      without depending on pipe capture limits.
    #   2. chunked per-query lines, each a self-contained JSON object
    #      well under the tail budget, so the LAST chunks always sit
    #      whole inside a truncated tail and a tail parser can merge
    #      every complete chunk line it sees (chunk/n_chunks say what
    #      fraction it got).
    #   3. the compact final line names channel 1 via per_query_file
    #      (null when that file's write failed).
    per_query_file = write_self_record(
        out, cpus, os.path.dirname(os.path.abspath(__file__))
    )

    for i, ch in enumerate(chunks := chunk_queries(headline, timings)):
        print(
            json.dumps(
                {
                    "metric": "headline_queries_chunk",
                    "chunk": i + 1,
                    "n_chunks": len(chunks),
                    "queries": ch,
                },
                separators=(",", ":"),
            )
        )
    compact = {
        k: out[k]
        for k in ("metric", "value", "unit", "n_timed", "n_failed", "sf")
    }
    compact["per_query_file"] = per_query_file
    print(json.dumps(compact))
    spark.stop()
    sys.exit(0 if timings else 1)


if __name__ == "__main__":
    main()
