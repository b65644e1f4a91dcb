"""Physical-plan quality gates — the scale contract made testable.

A query that returns correct rows through a bad plan (full-column
scan, shuffled dimension join, Python in the hot path) fails HERE even
though correctness passes: at 100 TB the plan IS the product.
"""

from __future__ import annotations

import pytest

from alexandria_pipeline_spark import QUERIES
from alexandria_pipeline_spark.plans.explain import (
    formatted_plan,
    has_broadcast_join,
    read_schema_columns,
)
from alexandria_pipeline_spark.registry import release_persisted

from tests.conftest import SF_SMOKE


@pytest.fixture(scope="session")
def registry_plans(spark):
    """Every registered query built once at SF_SMOKE, for the
    registry-wide walks: name -> (output schema, formatted plan). A
    streaming query carries no plan. Frames a builder persisted are
    released after its plan is taken, as the bench does per query."""
    built = {}
    for name, fn in sorted(QUERIES.items()):
        df = fn(spark, SF_SMOKE)
        plan = None if name.startswith("stream_") else formatted_plan(df)
        built[name] = (df.schema, plan)
        release_persisted()
    return built


def test_filter_pushdown_reaches_scan(spark):
    """filter_long_docs' n_chars predicate must appear in PushedFilters."""
    plan = formatted_plan(QUERIES["filter_long_docs"](spark, SF_SMOKE))
    assert "PushedFilters" in plan
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert any("n_chars" in ln and "256" in ln for ln in pushed), pushed


def test_column_pruning_q1(spark):
    """Q1 touches 7 of lineitem's 11 columns; the scan must not read
    the rest (the reference read ALL columns into pandas, run.py:20-21)."""
    cols = read_schema_columns(QUERIES["q1_pricing_summary"](spark, SF_SMOKE))
    assert "l_orderkey" not in cols and "l_partkey" not in cols, cols
    assert "l_quantity" in cols and "l_returnflag" in cols, cols


def test_projection_pruning_embed(spark):
    """embed_documents needs only (doc_id, text)."""
    cols = read_schema_columns(QUERIES["embed_documents"](spark, SF_SMOKE))
    assert set(cols) == {"doc_id", "text"}, cols


def test_dimension_joins_broadcast(spark):
    for name in ["join_star_revenue", "q3_shipping_priority", "q5_region_volume"]:
        assert has_broadcast_join(QUERIES[name](spark, SF_SMOKE)), name


def test_no_shuffle_in_narrow_pipeline(spark):
    """embed_documents is map-only: no Exchange may appear."""
    plan = formatted_plan(QUERIES["embed_documents"](spark, SF_SMOKE))
    assert "Exchange" not in plan, plan


def test_q6_single_aggregate_no_join(spark):
    plan = formatted_plan(QUERIES["q6_forecast_revenue"](spark, SF_SMOKE))
    assert "Join" not in plan
    # exactly one file scan (Location: appears once per scan node detail)
    assert plan.count("Location: InMemoryFileIndex") == 1


def test_topk_plans_take_ordered(spark):
    plan = formatted_plan(QUERIES["topk_orders"](spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in plan, plan


def test_no_python_eval_in_hot_paths(spark):
    """The builtin-only queries must never fall back to Python row
    evaluation (BatchEvalPython / ArrowEvalPython nodes) — everything
    stays JVM-side for whole-stage codegen. (Formatted explain under
    AQE doesn't label codegen stages pre-execution, so assert the
    absence of the anti-pattern rather than the marker.)"""
    for name in ["q1_pricing_summary", "join_fact_fact", "text_quality_scores",
                 "dedup_minhash_lsh", "knn_brute_force", "chunk_embed_pool"]:
        plan = formatted_plan(QUERIES[name](spark, SF_SMOKE))
        assert "EvalPython" not in plan, name


@pytest.mark.parametrize(
    "name",
    [
        "dedup_minhash_lsh",
        "dedup_minhash_jaccard_estimate",
        "dedup_lsh_recall_eval",
        "dedup_threshold_sensitivity",
    ],
)
def test_lsh_band_join_carries_ids_only(spark, name):
    """The undirected band self-join (_band_pairs) must not carry
    shingle arrays: its output attributes are ids only. Identified as
    the join whose condition is the doc_a < doc_b pair filter; `codes`
    enter only in the later verification joins."""
    plan = formatted_plan(QUERIES[name](spark, SF_SMOKE))
    release_persisted()
    blocks = plan.split("\n\n")
    band_join = [
        b for b in blocks
        if "Join" in b.splitlines()[0] and "doc_a" in b and "< doc_b" in b
    ]
    assert band_join, "expected the band self-join in the plan"
    assert not any("codes" in b for b in band_join), band_join


def test_tpch_full_dimension_broadcasts(spark):
    """The tpch_full join trees must broadcast every dimension side —
    a shuffled 100-row nation join at 100 TB means the optimizer never
    saw the hint (or AQE stats)."""
    for name in [
        "q7_volume_shipping",
        "q8_market_share",
        "q9_product_type_profit",
        "q14_promo_effect",
        "q17_small_quantity_revenue",
        "q20_excess_suppliers",
    ]:
        assert has_broadcast_join(QUERIES[name](spark, SF_SMOKE)), name


def test_ngram_jaccard_inverted_index_plan(spark):
    """The Jaccard verifier must stay on the inverted-index plan: no
    Python eval, no per-pair array set ops (the interpreted form this
    replaced), and the CANDIDATE join must be a real equi-join. One
    nested-loop join is expected and benign: the df-cap's one-row
    broadcast (a 16-byte build side) — anything beyond that means the
    candidate join degenerated."""
    import re

    plan = formatted_plan(QUERIES["dedup_ngram_jaccard"](spark, SF_SMOKE))
    assert "EvalPython" not in plan, "Python in the hot path"
    # every NL join must be the df-cap comparison (the a/b self-join
    # duplicates that subtree, so it appears twice)
    nl_conds = re.findall(
        r"\(\d+\) BroadcastNestedLoopJoin\s*\nJoin type: [^\n]+\s*\n"
        r"Join condition: ([^\n]+)",
        plan,
    )
    assert all("df_cap" in c for c in nl_conds), (
        f"non-cap NL join in plan: {nl_conds}"
    )
    assert "array_intersect" not in plan, "per-pair array ops are back"
    # the pair-generation equi-join survives as a hash/sort-merge join
    assert any(
        j in plan
        for j in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")
    ), "candidate equi-join missing from plan"


def test_quantize_map_only(spark):
    """int8 quantization is a narrow transform: no Exchange at all."""
    plan = formatted_plan(QUERIES["embedding_quantize_int8"](spark, SF_SMOKE))
    assert "Exchange" not in plan, plan


def test_no_complex_types_in_any_query_output(registry_plans):
    """Harness contract: every registered query's OUTPUT schema is
    scalar-only. Downstream canonicalizers (the correctness driver's
    included) sort and hash result columns; array/map/struct values are
    unhashable there and turn a correct answer into a harness error.
    Arrays are fine INSIDE a plan — just never in the final select.
    Builds all plans (no execution), so this also smoke-checks that
    every registered callable constructs against the smoke-scale data."""
    offenders = []
    for name in QUERIES:
        schema, _plan = registry_plans[name]
        for field in schema.fields:
            kind = field.dataType.typeName()
            if kind in ("array", "map", "struct"):
                offenders.append(f"{name}.{field.name}: {kind}")
    assert not offenders, offenders


def test_multimodal_payloads_never_shuffle(registry_plans):
    """Scale contract of every multimodal_* query: binary payloads stay
    inside the map stage that made or read them; only ids and
    extracted features cross an Exchange. Walks the node details of
    each formatted plan and checks every *Exchange node's input."""
    import re

    n_exchanges = n_payload_nodes = 0
    offenders = []
    for name in sorted(q for q in QUERIES if q.startswith("multimodal_")):
        _schema, plan = registry_plans[name]
        for node in plan.split("\n\n"):
            head = re.match(r"\(\d+\) (\w+)", node.strip())
            inputs = re.search(r"^Input \[\d+\]: \[(.*)\]$", node, re.M)
            if not head or not inputs:
                continue
            carries = re.search(r"\bpayload#", inputs.group(1)) is not None
            n_payload_nodes += carries
            if head.group(1).endswith("Exchange"):
                n_exchanges += 1
                if carries:
                    offenders.append(f"{name}: {node.strip()}")
    assert n_exchanges and n_payload_nodes, "plan walk matched nothing"
    assert not offenders, offenders


def test_assignment_exchanges_carry_one_row_per_vector(spark):
    """The assignment of every IVF query is the narrow aggregate: in
    the executed plans no shuffle Exchange carries a centroid vector
    (c_emb) or the crossed (vec_id, c_id) rows, n·K of them, that an
    argmin window over the cross join shuffles."""
    import re

    offenders, n_exchanges = [], 0
    for name in (
        "knn_ivf_pruned",
        "knn_ivf_multiprobe",
        "knn_ivf_kmeans",
        "knn_ivf_incremental_assign",
        "ann_nprobe_curve",
        "ann_ivf_build_report",
    ):
        df = QUERIES[name](spark, SF_SMOKE)
        df.collect()
        plan = formatted_plan(df)
        release_persisted()
        assert "isFinalPlan=true" in plan, name
        for node in plan.split("\n\n"):
            head = re.match(r"\(\d+\) (\w+)", node.strip())
            inputs = re.search(r"^Input \[\d+\]: \[(.*)\]$", node, re.M)
            if not head or not inputs or head.group(1) != "Exchange":
                continue
            n_exchanges += 1
            cols = set(re.findall(r"(\w+)#", inputs.group(1)))
            if "c_emb" in cols or {"vec_id", "c_id"} <= cols:
                offenders.append(f"{name}: {node.strip()}")
    assert n_exchanges, "plan walk matched no shuffle"
    assert not offenders, offenders


def _unpartitioned_window_lines(plan: str) -> list[str]:
    return [
        ln
        for ln in plan.splitlines()
        if "windowspecdefinition" in ln and "partitionBy" not in ln
        # physical text: Window [...windowspecdefinition(partcols..., order...)]
    ]


def test_rfm_has_no_window_at_all(spark):
    """customer_rfm_segments quartiles come from percentile cutpoints
    joined back — the round-1 global ntile (three corpus-wide
    single-partition sorts) must never reappear."""
    import re

    plan = formatted_plan(QUERIES["customer_rfm_segments"](spark, SF_SMOKE))
    assert "Window" not in plan, plan
    assert not re.search(r"\bntile\(", plan), plan


def test_rrf_ranks_within_bounded_candidates(spark):
    """hybrid_search_rrf must TakeOrdered each leg down to the constant
    candidate pool BEFORE any rank window, so window input is O(1) in
    corpus size. Both legs -> two TakeOrderedAndProject nodes (plus one
    for the final top-20)."""
    plan = formatted_plan(QUERIES["hybrid_search_rrf"](spark, SF_SMOKE))
    assert plan.count("TakeOrderedAndProject") >= 3, plan


def test_round3_single_shuffle_plans(spark):
    """The round-3 analytics ops must keep their one-Exchange shapes:
    funnel's three windows share a single user_id shuffle, the time
    rollup is one expand+agg pass, stratified sampling is one window."""
    import re

    for name in (
        "events_funnel_sequential",
        "events_time_rollup",
        "sample_stratified_hash",
    ):
        plan = formatted_plan(QUERIES[name](spark, SF_SMOKE))
        tree = plan.split("(1) Scan")[0]
        n_shuffles = len(re.findall(r"\bExchange \(\d+\)", tree))
        assert n_shuffles == 1, f"{name}: {n_shuffles} shuffles, expected 1"


def test_interval_bucketed_join_is_equi(spark):
    """The bucketed interval join must plan as a hash/sort-merge join
    (the whole point of the rewrite) — never a nested loop."""
    plan = formatted_plan(QUERIES["join_interval_bucketed"](spark, SF_SMOKE))
    assert "NestedLoop" not in plan, "range join degenerated to NL"
    assert any(
        j in plan
        for j in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")
    )


def test_triangle_count_broadcasts_are_size_gated(spark, monkeypatch):
    """graph_triangle_count broadcasts its fact-derived degree table
    and edge set ONLY below CLOSURE_BROADCAST_LIMIT. Above the cap the
    explicit hints must vanish from the plan (AQE may still choose
    broadcast at runtime from measured sizes — the invariant is that
    WE never force it)."""
    from alexandria_pipeline_spark.operators import graph

    plan = formatted_plan(QUERIES["graph_triangle_count"](spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan, "small graph should broadcast"

    monkeypatch.setattr(graph, "CLOSURE_BROADCAST_LIMIT", -1)
    df = QUERIES["graph_triangle_count"](spark, SF_SMOKE)
    # the analyzed plan records explicit hints as ResolvedHint nodes;
    # AQE-chosen broadcasts (fine) never appear there
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in analyzed, analyzed


def test_graph_queries_read_only_the_served_edges(spark, tmp_path, monkeypatch):
    """With the JSIG relation served, every graph query gets the
    co-purchase graph from its `edges` parquet: no executed plan scans
    lineitem, and no builder reads it (the gate operand comes from the
    relation's meta)."""
    from alexandria_pipeline_spark.operators import graph

    monkeypatch.setenv("SPARK_GRAFT_SKETCH_CACHE", str(tmp_path / "cache"))
    monkeypatch.delenv("SPARK_GRAFT_JACCARD_SIG_DISABLE", raising=False)
    graph.run_jaccard_sig_build_job(spark, SF_SMOKE)

    def no_lineitem(spark, sf_dir, name):
        raise AssertionError(f"builder read {name}")

    monkeypatch.setattr(graph, "load_table", no_lineitem)
    offenders = []
    for name in sorted(n for n in QUERIES if n.startswith("graph_")):
        df = QUERIES[name](spark, SF_SMOKE)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        release_persisted()
        if "lineitem.parquet" in plan:
            offenders.append(name)
    assert not offenders, f"graph plans scanning lineitem: {offenders}"


def test_jaccard_neighbors_sketches_above_gate(spark, monkeypatch):
    """graph_jaccard_neighbors must switch to fixed-width MinHash
    signatures above BROADCAST_EDGE_LIMIT: no per-edge array_intersect
    over unbounded adjacency arrays (Σdeg² work) may remain in the
    big-graph plan, and the deterministic estimate must stay close to
    the exact answer on the smoke graph."""
    from alexandria_pipeline_spark.operators import graph

    exact = {
        (r["a"], r["b"]): r["jaccard_ppm"]
        for r in QUERIES["graph_jaccard_neighbors"](spark, SF_SMOKE).collect()
    }

    monkeypatch.setattr(graph, "BROADCAST_EDGE_LIMIT", 0)
    df = QUERIES["graph_jaccard_neighbors"](spark, SF_SMOKE)
    plan = formatted_plan(df)
    assert "array_intersect" not in plan, "sketch path still intersects arrays"
    # r8 lock: signature slots stay primitive columns — an array
    # rebuild or an interpreted higher-order match fold (zip_with /
    # aggregate lambdas are CodegenFallback) must never reappear.
    assert "zip_with" not in plan, "interpreted match fold is back"
    assert "aggregate(" not in plan, "interpreted match fold is back"
    rows = df.collect()
    assert [f.name for f in df.schema.fields] == [
        "a",
        "b",
        "n_common",
        "jaccard_ppm",
    ]
    assert 0 < len(rows) <= graph.JACCARD_TOP_N
    est = {(r["a"], r["b"]): r["jaccard_ppm"] for r in rows}
    # K=64 signatures: every exact-top edge that the sketch also ranks
    # must estimate within ~3 standard errors (190k ppm) of truth.
    overlap = set(exact) & set(est)
    assert overlap, "sketch top-N shares no edge with exact top-N"
    for k in overlap:
        assert abs(exact[k] - est[k]) <= 190_000, (k, exact[k], est[k])


def test_window_distribution_has_no_unpartitioned_window(spark):
    """window_distribution_funcs computes percent_rank/cume_dist as
    closed forms over a running_sums rank — the single-partition
    global window over supplier rows (supplier grows with SF) must
    never reappear. No window may be ordered by s_acctbal without the
    s_nationkey partition (the only unpartitioned window is the
    helper's offset window over ≤64 bucket rows, declared "banded" in
    UNPART_WINDOW_BOUNDS), and the native distribution window
    functions must be gone."""
    plan = formatted_plan(QUERIES["window_distribution_funcs"](spark, SF_SMOKE))
    # function-call form with paren — the output aliases legitimately
    # contain the substrings (bal_pct_rank / bal_cume_dist)
    assert "percent_rank(" not in plan, plan
    assert "cume_dist(" not in plan, plan
    for ln in plan.splitlines():
        if "windowspecdefinition(" in ln:
            inner = ln.split("windowspecdefinition(", 1)[1]
            # spec args: [part cols...,] order col ASC/DESC, frame; an
            # unpartitioned spec starts directly with the ordered col
            assert not inner.lstrip().startswith(
                ("s_acctbal ASC", "s_acctbal DESC")
            ) or "s_nationkey" in inner.split("specifiedwindowframe")[0], ln


def test_no_python_eval_outside_declared_seams(registry_plans):
    """GLOBAL invariant over the whole registered surface: the only
    physical plans allowed to contain Python evaluation nodes are the
    declared multimodal decode seams (Python-bound by nature, Arrow-
    batched by construction). Everything else must stay JVM-side —
    a Python node sneaking into a relational/dedup/text plan is a
    10-100x regression at 100 TB, caught here at plan-build time."""
    from alexandria_pipeline_spark import register_all

    register_all()
    py_markers = (
        "EvalPython",
        "MapInPandas",
        "ArrowEval",
        "FlatMapGroupsInPandas",
    )
    allowed_prefixes = ("multimodal_",)
    # text_compression_ratio: zlib is a C codec with no SQL/codegen
    # twin — the declared Arrow-seam case, same class as the decoders.
    # orders_holt_linear_trend: the Holt recurrence is order-DEFINED
    # (no window/aggregate form exists); its applyInPandas stage runs
    # AFTER the day-level aggregate, so the Python side only ever sees
    # SF-invariant calendar-bounded rows per group — the declared
    # grouped-recurrence seam (stream twin holds the same state logic).
    # orders_theilsen_trend: the exact median of all pairwise day
    # slopes is one numpy kernel in a mapInPandas over the ONE row of
    # a global aggregate of the day-level aggregate, so Python sees a
    # single row of at most elapsed-days arrays — the same at every SF.
    # knn_mutual_topk / knn_label_eval / knn_mrr_eval /
    # dedup_embedding_cosine: the per-bucket exact-scoring kernel
    # (functions/bucketed.py, r7 verdict #1/#3) is a DECLARED Arrow
    # seam — the JVM aggregate(zip_with) fold it replaced is
    # interpreted (no codegen for higher-order functions), measured
    # ~8 µs/pair = ~170 s/query at sf10; the numpy block kernel is the
    # fast path (~17x), ships vectors once per bucket instead of twice
    # per candidate pair, and keeps bit-identical float64 scores.
    allowed = {
        "text_compression_ratio",
        "orders_holt_linear_trend",
        "orders_theilsen_trend",
        "knn_mutual_topk",
        "knn_label_eval",
        "knn_mrr_eval",
        "dedup_embedding_cosine",
        # composes dedup_embedding_cosine, so inherits its seam
        "dedup_lexical_semantic_agreement",
    }
    skip = {
        "sharded_sink_roundtrip",
        "source_text_formats_roundtrip",
    }  # side-effecting (knn_ivf_kmeans un-skipped in r9: now a pure
    # lazy Lloyd's plan, no MLlib fit)
    offenders = []
    for name in sorted(QUERIES):
        if name.startswith("stream_") or name in skip:
            continue
        if name.startswith(allowed_prefixes) or name in allowed:
            continue
        plan = registry_plans[name][1]
        if any(m in plan for m in py_markers):
            offenders.append(name)
    assert not offenders, f"Python eval nodes in JVM-only plans: {offenders}"


def test_keyword_tagging_is_map_only_until_agg(spark):
    """text_keyword_tagging's dictionary is a literal IN filter + CASE:
    the dictionary must never become a join table. The only join
    allowed is the benign 1-row totals cross join (BNLJ, no
    condition) — any HASH/sort-merge join means the CASE degenerated
    to a dictionary-table join."""
    plan = formatted_plan(QUERIES["text_keyword_tagging"](spark, SF_SMOKE))
    for j in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin"):
        assert j not in plan, (j, plan[:500])


def test_peak_concurrency_windows_are_bounded(spark):
    """events_peak_concurrency_daily may only use windows partitioned
    by user (session build) or by day (intra-day sweep) plus the
    calendar-bounded day-net cumsum — never an unpartitioned window
    over second-level rows (which grow with elapsed time)."""
    df = QUERIES["events_peak_concurrency_daily"](spark, SF_SMOKE)
    plan = formatted_plan(df)
    for ln in plan.splitlines():
        if "windowspecdefinition(" in ln:
            inner = ln.split("windowspecdefinition(", 1)[1]
            spec_head = inner.split("specifiedwindowframe")[0]
            assert (
                "user_id" in spec_head
                or "day_i" in spec_head
                or spec_head.lstrip().startswith("day_i")
                # the day-net cumsum: unpartitioned but calendar-bounded
                or spec_head.lstrip().startswith(("day_i ASC", "day_i DESC"))
                or "t ASC" not in spec_head
            ), ln


def test_round7_banded_windows_are_bounded(spark):
    """Round-7 window discipline locks: the watermark curve's only
    unpartitioned window must range over arrival BANDS (time-bounded
    rows), never the event stream itself; the CCNet tercile rank and
    the cohort LTV cumsum must carry their partition keys on every
    window spec."""
    plan = formatted_plan(
        QUERIES["events_watermark_lateness_curve"](spark, SF_SMOKE)
    )
    for ln in plan.splitlines():
        if "windowspecdefinition(" in ln:
            head = (
                ln.split("windowspecdefinition(", 1)[1]
                .split("specifiedwindowframe")[0]
                .lstrip()
            )
            assert head.startswith("band"), f"event-stream window: {ln}"
    for name, part_col in (
        ("corpus_ccnet_perplexity_buckets", "lang"),
        ("orders_cohort_ltv_curve", "cm"),
    ):
        plan = formatted_plan(QUERIES[name](spark, SF_SMOKE))
        for ln in plan.splitlines():
            if "windowspecdefinition(" in ln:
                head = (
                    ln.split("windowspecdefinition(", 1)[1]
                    .split("specifiedwindowframe")[0]
                    .lstrip()
                )
                assert head.startswith(part_col), f"{name}: {ln}"


# --- r7 verdict #7: registry-wide unpartitioned-window contract -----
# An unpartitioned window sorts its whole input into ONE task — fine
# only when that input is bounded by construction (a banded/bucketed
# aggregate, a calendar-bounded day/month series, a vocabulary-sized
# read-out, or a post-limit constant frame). Until now five such
# windows were justified in docstrings but nothing machine-checked
# the invariant, so a data-sized one could slip in silently. This
# declares the bound class of every known unpartitioned window and
# fails BOTH ways: a new unpartitioned window in any registered plan
# fails until declared here, and a stale declaration (the window was
# removed/partitioned) fails so the table can't rot.
#
# Bound classes (what the test verifies textually, beyond docstrings):
#   banded    — order col named band/bucket/bin*: input is a K-band
#               aggregate (K fixed at plan time, SF-invariant)
#   calendar  — order col is a day/month/epoch-grain key: input rows
#               are bounded by ELAPSED TIME, not data volume
#   vocab     — order col is an aggregate over a bounded key domain
#               (language vocabulary, partition list, degree values);
#               plan must show the aggregate feeding the window
#   postlimit — window runs after an explicit TakeOrdered/GlobalLimit
#               constant-size frame; plan must show the limit node
UNPART_WINDOW_BOUNDS = {
    "agg_histogram_equidepth": "banded",
    "agg_percentile_binned": "banded",
    "corpus_score_ks_drift": "banded",
    "corpus_shuffle_rank": "banded",
    "curation_quality_auc": "banded",
    "curation_quality_decile_budget": "banded",
    "curation_threshold_sweep": "banded",
    "doc_length_gini": "banded",
    "events_watermark_lateness_curve": "banded",
    "orders_abc_classification": "banded",
    "orders_pareto_8020": "banded",
    "window_distribution_funcs": "banded",
    "events_changepoint_binseg": "calendar",
    "events_cumulative_distinct_users": "calendar",
    "events_peak_concurrency_daily": "calendar",
    "events_user_survival_km": "calendar",
    "orders_cusum_changepoint": "calendar",
    "orders_open_backlog_daily": "calendar",
    "orders_rolling_median_7d": "calendar",
    "orders_runs_test": "calendar",
    "orders_seasonal_index": "calendar",
    "events_power_user_curve": "vocab",
    "graph_degree_distribution": "vocab",
    "maintenance_partition_skew_report": "vocab",
    "text_unigram_surprisal": "vocab",
    "text_vocab_coverage_curve": "vocab",
    "text_zipf_rank_frequency": "vocab",
    "hybrid_search_rrf": "postlimit",
}

_BANDED_COLS = ("band", "bucket", "bin")
_CALENDAR_COLS = ("d", "day", "day_i", "ym", "first_day", "t")


def _unpartitioned_specs(plan: str) -> list[str]:
    """First spec argument of every windowspecdefinition whose spec
    starts directly with an ORDERED column (physical text puts bare
    partition cols first; order cols carry ASC/DESC markers)."""
    out = []
    for ln in plan.splitlines():
        if "windowspecdefinition(" not in ln:
            continue
        head = ln.split("windowspecdefinition(", 1)[1].split(
            "specifiedwindowframe"
        )[0]
        first = head.split(",")[0].strip()
        if " ASC" in first or " DESC" in first:
            out.append(first)
    return out


def test_registry_unpartitioned_windows_are_declared_bounded(registry_plans):
    from alexandria_pipeline_spark import register_all

    register_all()
    skip = {
        "sharded_sink_roundtrip",
        "source_text_formats_roundtrip",
    }  # side-effecting (knn_ivf_kmeans un-skipped in r9: now a pure
    # lazy Lloyd's plan, no MLlib fit)
    undeclared, stale, misclassified = [], [], []
    for name in sorted(QUERIES):
        if name.startswith("stream_") or name in skip:
            continue
        plan = registry_plans[name][1]
        specs = _unpartitioned_specs(plan)
        kind = UNPART_WINDOW_BOUNDS.get(name)
        if specs and kind is None:
            undeclared.append((name, specs[0]))
            continue
        if not specs:
            if kind is not None:
                stale.append(name)
            continue
        for first in specs:
            col = first.split("#")[0].strip()
            if kind == "banded" and not col.startswith(_BANDED_COLS):
                misclassified.append((name, kind, first))
            elif kind == "calendar" and col not in _CALENDAR_COLS:
                misclassified.append((name, kind, first))
            elif kind == "postlimit" and (
                "TakeOrderedAndProject" not in plan
                and "GlobalLimit" not in plan
            ):
                misclassified.append((name, kind, "no limit node in plan"))
    assert not undeclared, (
        "unpartitioned window in undeclared plans (declare its bound in "
        f"UNPART_WINDOW_BOUNDS or partition it): {undeclared}"
    )
    assert not stale, f"stale UNPART_WINDOW_BOUNDS entries: {stale}"
    assert not misclassified, f"bound class mismatch: {misclassified}"
