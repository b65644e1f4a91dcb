"""Round-7 regression locks.

1. Executor deployability: every pandas-UDF/mapInPandas operator must
   work when the driver process is NOT launched from the repo root —
   i.e. the package must be shipped to executor Python workers, not
   found by cwd accident (round-6 verdict item #1: running the oracle
   sweep from /tmp failed all 9 multimodal queries with
   ModuleNotFoundError).
2. Timezone hygiene: load_table('events') must leave a foreign
   session's spark.sql.session.timeZone untouched AND still produce
   UTC-instant timestamps identical to the raw parquet microseconds
   (round-6 verdict item #5 / r5 hygiene #7).
3. No ./spark-warehouse litter in the launch cwd.
"""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_mapinpandas_query_from_foreign_cwd(tmp_path):
    """Judge repro, distilled: drive a mapInPandas query with cwd=/tmp.

    A fresh subprocess is required — the parent pytest process runs
    from the repo root, which is exactly the accident being tested
    away. The child puts the repo on the DRIVER's sys.path explicitly
    (that part is the user's job); the EXECUTOR side must be satisfied
    by ensure_package_on_executors' addPyFile zip.
    """
    script = f"""
import sys
sys.path.insert(0, {REPO!r})
from alexandria_pipeline_spark import get_spark, register_all
from alexandria_pipeline_spark.registry import QUERIES
register_all()
spark = get_spark("cwd-independence-test", cpus="4")
n = QUERIES["multimodal_decode_bmp"](spark, "/root/testdata/sf0.001").count()
assert n > 0, n
spark.stop()
print("FOREIGN_CWD_OK", n)
"""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=str(tmp_path),
        env=env,
        capture_output=True,
        text=True,
        timeout=420,
    )
    assert "FOREIGN_CWD_OK" in out.stdout, (out.stdout, out.stderr[-3000:])
    # the hygiene lock: no warehouse dir materialized in the foreign cwd
    assert not (tmp_path / "spark-warehouse").exists()


def test_foreign_session_timezone_survives_events_load(spark):
    """load_table('events') must not mutate the caller's timezone, and
    the normalized instants must still equal the parquet file's raw
    epoch-microseconds (the NTZ decomposition is tz-independent)."""
    from pyspark.sql import functions as F

    import pyarrow.parquet as pq

    from alexandria_pipeline_spark.catalog import load_table

    sf = "/root/testdata/sf0.001"
    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        import warnings

        with warnings.catch_warnings():
            warnings.simplefilter("ignore")
            ev = load_table(spark, sf, "events")
        assert (
            spark.conf.get("spark.sql.session.timeZone") == "America/New_York"
        ), "load_table mutated the session timezone"
        got = [
            r["um"]
            for r in ev.select(F.unix_micros("ts").alias("um"))
            .orderBy("event_id")
            .collect()
        ]
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)
    raw = pq.read_table(f"{sf}/events.parquet", columns=["event_id", "ts"])
    order = sorted(
        range(raw.num_rows), key=lambda i: raw.column("event_id")[i].as_py()
    )
    want_col = raw.column("ts").cast("int64").to_pylist()
    want = [want_col[i] for i in order]
    assert got == want


def test_kmv_overlap_estimates_are_sane(spark):
    """KMV Jaccard estimates live in [0, 1e6] ppm, k_used <= K, and
    n_common <= k_used; the estimate must be within a loose sketch
    tolerance of the EXACT user-set Jaccard (k=64 => s.e. ~ 1/8)."""
    from alexandria_pipeline_spark.operators.relational_ext import KMV_K
    from alexandria_pipeline_spark.registry import QUERIES

    sf = "/root/testdata/sf0.01"
    rows = QUERIES["agg_kmv_user_overlap"](spark, sf).collect()
    assert rows
    import duckdb

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{sf}/events.parquet')"
    )
    exact = {
        (a, b): j
        for a, b, j in con.execute(
            """
            WITH s AS (SELECT DISTINCT event_type, user_id FROM events),
            t AS (SELECT DISTINCT event_type FROM s),
            p AS (SELECT a.event_type AS ta, b.event_type AS tb
                  FROM t a JOIN t b ON a.event_type < b.event_type)
            SELECT ta, tb,
              (SELECT count(*) FROM s x JOIN s y
                ON x.user_id = y.user_id
               WHERE x.event_type = ta AND y.event_type = tb) * 1.0 /
              ((SELECT count(*) FROM s WHERE event_type = ta)
               + (SELECT count(*) FROM s WHERE event_type = tb)
               - (SELECT count(*) FROM s x JOIN s y
                   ON x.user_id = y.user_id
                  WHERE x.event_type = ta AND y.event_type = tb))
            FROM p
            """
        ).fetchall()
    }
    for r in rows:
        assert 0 <= r["jaccard_est_ppm"] <= 1_000_000
        assert r["n_common"] <= r["k_used"] <= KMV_K
        true_j = exact[(r["type_a"], r["type_b"])]
        assert abs(r["jaccard_est_ppm"] / 1e6 - true_j) < 0.25, (
            r["type_a"], r["type_b"], r["jaccard_est_ppm"], true_j,
        )


def test_package_zip_is_importable_and_content_addressed():
    import zipfile

    from alexandria_pipeline_spark.session import _package_zip

    p1 = _package_zip()
    p2 = _package_zip()
    assert p1 == p2  # stable while sources unchanged
    with zipfile.ZipFile(p1) as zf:
        names = zf.namelist()
    assert "alexandria_pipeline_spark/__init__.py" in names
    assert "alexandria_pipeline_spark/operators/multimodal.py" in names
    assert all(n.endswith(".py") for n in names)


def _staged_two_batch_sf(rows_filter_a, rows_filter_b, tag: str) -> str:
    """Build a temp sf_dir whose streaming stage contains TWO parquet
    files (batch A then batch B), exercising real cross-micro-batch
    state in applyInPandasWithState. Mirrors read_events_stream's
    staging layout: {sf_dir}/events.parquet symlinks in as file 0000;
    we pre-create the stage dir and drop file 0001 next to it with a
    later mtime (FileStreamSource picks oldest-first)."""
    import hashlib
    import tempfile

    import pyarrow.parquet as pq

    src = pq.read_table("/root/testdata/sf0.001/events.parquet")
    a = src.filter(rows_filter_a(src))
    b = src.filter(rows_filter_b(src))
    assert a.num_rows + b.num_rows == src.num_rows
    sf_dir = tempfile.mkdtemp(prefix=f"apspark_2batch_{tag}_")
    pq.write_table(a, f"{sf_dir}/events.parquet")
    stage = os.path.join(
        tempfile.gettempdir(),
        "apspark_stream_src_"
        + hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:12],
    )
    os.makedirs(stage, exist_ok=True)
    pq.write_table(b, os.path.join(stage, "events-0001.parquet"))
    now = os.path.getmtime(os.path.join(stage, "events-0001.parquet"))
    # the symlink target's mtime governs; backdate file A's source
    os.utime(f"{sf_dir}/events.parquet", (now - 60, now - 60))
    return sf_dir


def test_stream_kmv_state_is_order_independent_across_batches(spark):
    """The KMV sketch is a pure min-merge: splitting the input into two
    micro-batches by event_id PARITY (arbitrary order, no time
    structure) must converge to the same final per-type estimate as the
    single-batch run — the order-independence claim in the docstring,
    exercised against real cross-batch state."""
    import pyarrow.compute as pc

    from alexandria_pipeline_spark.registry import QUERIES

    sf2 = _staged_two_batch_sf(
        lambda t: pc.equal(pc.bit_wise_and(t.column("event_id"), 1), 0),
        lambda t: pc.equal(pc.bit_wise_and(t.column("event_id"), 1), 1),
        "kmv",
    )
    got = QUERIES["stream_kmv_distinct_users"](spark, sf2).collect()
    # est is monotone non-decreasing as elements merge in (h_k can only
    # shrink), so the final state row per type is the max (k_used, est)
    final = {}
    for r in got:
        key = r["event_type"]
        cand = (r["k_used"], r["est_distinct"])
        if key not in final or cand > final[key]:
            final[key] = cand
    want = {
        r["event_type"]: (r["k_used"], r["est_distinct"])
        for r in QUERIES["stream_kmv_distinct_users"](
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    assert final == want


def test_stream_holt_in_order_batches_match_single_batch(spark):
    """Holt's recurrence is order-defined; split at an exact HOUR
    boundary (no hour spans both batches) and the union of per-batch
    emissions must equal the single-batch series row-for-row."""
    import pyarrow.compute as pc

    from alexandria_pipeline_spark.registry import QUERIES

    import pyarrow.parquet as pq

    src = pq.read_table("/root/testdata/sf0.001/events.parquet")
    ts_sorted = sorted(src.column("ts").to_pylist())
    cut_wall = ts_sorted[len(ts_sorted) // 2].replace(
        minute=0, second=0, microsecond=0
    )
    sf2 = _staged_two_batch_sf(
        lambda t: pc.less(t.column("ts"), cut_wall),
        lambda t: pc.greater_equal(t.column("ts"), cut_wall),
        "holt",
    )
    key = lambda r: (r["event_type"], r["hour_s"])  # noqa: E731
    got = {
        key(r): (r["n_events"], r["forecast_prior"], r["spike_flag"])
        for r in QUERIES["stream_holt_trend_flags"](spark, sf2).collect()
    }
    want = {
        key(r): (r["n_events"], r["forecast_prior"], r["spike_flag"])
        for r in QUERIES["stream_holt_trend_flags"](
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    assert got == want


def test_decontam_cosine_flags_are_threshold_consistent(spark):
    """best_cos and n_contaminated must agree with the threshold:
    n > 0 iff best_match_id >= 0 iff best_cos >= DECONTAM_COS (up to
    the 1e-6 rounding of best_cos); eval ids are exactly the 1-in-97
    slice."""
    from alexandria_pipeline_spark.operators.curation import (
        DECONTAM_COS,
        DECONTAM_EVAL_MOD,
    )
    from alexandria_pipeline_spark.registry import QUERIES, register_all

    register_all()
    rows = QUERIES["decontam_embedding_cosine"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert rows, "eval slice is empty"
    assert all(r["eval_id"] % DECONTAM_EVAL_MOD == 0 for r in rows)
    for r in rows:
        if r["n_contaminated"] > 0:
            assert r["best_match_id"] >= 0
            assert r["best_cos"] >= DECONTAM_COS - 1e-6
        else:
            assert r["best_match_id"] == -1
            assert r["best_cos"] == 0.0


def test_mix_temperature_compresses_shares(spark):
    """Temperature alpha=0.5 must compress the share distribution:
    the largest-share language's boost <= 1000 (downweighted), the
    smallest's >= 1000 (upweighted), and temperature shares still sum
    to ~1e6 (truncation slack < n_langs)."""
    from alexandria_pipeline_spark.registry import QUERIES, register_all

    register_all()
    rows = QUERIES["corpus_mix_temperature"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert len(rows) >= 2
    hi = max(rows, key=lambda r: r["raw_share_ppm"])
    lo = min(rows, key=lambda r: r["raw_share_ppm"])
    assert hi["boost_e3"] <= 1000
    assert lo["boost_e3"] >= 1000
    s = sum(r["temp_share_ppm"] for r in rows)
    assert 1_000_000 - len(rows) <= s <= 1_000_000


def test_watermark_curve_is_monotone(spark):
    """More watermark delay can only drop FEWER events; W spans the
    candidate list; ppm is consistent with the raw count."""
    from alexandria_pipeline_spark.operators.events import (
        WATERMARK_CANDIDATES_S,
    )
    from alexandria_pipeline_spark.registry import QUERIES, register_all

    register_all()
    rows = (
        QUERIES["events_watermark_lateness_curve"](
            spark, "/root/testdata/sf0.001"
        )
        .orderBy("w_s")
        .collect()
    )
    assert [r["w_s"] for r in rows] == sorted(WATERMARK_CANDIDATES_S)
    lates = [r["n_late"] for r in rows]
    assert lates == sorted(lates, reverse=True)
    assert lates[0] > 0, "staged jitter must produce lateness at W=0"
    # W past the max staged delay (600s) must drop nothing
    from alexandria_pipeline_spark.operators.events import WM_MAX_DELAY_S

    for r in rows:
        if r["w_s"] >= WM_MAX_DELAY_S:
            assert r["n_late"] == 0, r


def test_vocab_overlap_bounds(spark):
    """Pairs are canonical (lang_a < lang_b), shared counts bounded by
    the top-k size, Jaccard consistent with the fixed-size union."""
    from alexandria_pipeline_spark.operators.text_analysis import (
        VOCAB_OVERLAP_K,
    )
    from alexandria_pipeline_spark.registry import QUERIES, register_all

    register_all()
    rows = QUERIES["tokenizer_vocab_overlap"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert rows
    for r in rows:
        assert r["lang_a"] < r["lang_b"]
        assert 0 < r["n_shared"] <= VOCAB_OVERLAP_K
        assert r["jaccard_ppm"] == r["n_shared"] * 1_000_000 // (
            2 * VOCAB_OVERLAP_K - r["n_shared"]
        )


def test_stitch_join_matches_bruteforce(spark):
    """Every stitch pair the query reports must be a TRUE suffix ==
    prefix match recomputed from the raw parquet, and brute force must
    find no pair the query missed (fingerprint blocking is lossless +
    collision-verified)."""
    import pyarrow.parquet as pq

    from alexandria_pipeline_spark.operators.text_analysis import STITCH_W
    from alexandria_pipeline_spark.registry import QUERIES, register_all

    register_all()
    sf = "/root/testdata/sf0.001"
    got = {
        (r["doc_a"], r["doc_b"]): r["overlap_text"]
        for r in QUERIES["text_chunk_stitch_join"](spark, sf).collect()
    }
    docs = pq.read_table(f"{sf}/documents.parquet").to_pylist()
    toks = {
        d["doc_id"]: d["text"].split(" ")
        for d in docs
        if len(d["text"].split(" ")) >= 2 * STITCH_W
    }
    want = {}
    sfx = {}
    for did, w in toks.items():
        sfx.setdefault(" ".join(w[-STITCH_W:]), []).append(did)
    for did, w in toks.items():
        key = " ".join(w[:STITCH_W])
        for a in sfx.get(key, []):
            if a != did:
                want[(a, did)] = key
    assert got == want


def test_rule_ablation_arithmetic(spark):
    """Dropping a rule can only let MORE docs through; marginal
    blocked is exactly the difference; all four rules present."""
    from alexandria_pipeline_spark.registry import QUERIES, register_all

    register_all()
    rows = QUERIES["curation_rule_ablation"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert {r["rule"] for r in rows} == {
        "lexical_diversity",
        "min_length",
        "mean_word_len",
        "digit_ratio",
    }
    for r in rows:
        assert r["n_pass_without"] >= r["n_pass_all"]
        assert r["n_marginal_blocked"] == r["n_pass_without"] - r["n_pass_all"]
        assert r["n_pass_without"] <= r["n_total"]


def test_epoch_plan_cap_and_shortfall(spark):
    """epochs respect the 4-epoch cap; shortfall is positive only at
    the cap (an uncapped source fills its target up to milli-epoch
    truncation)."""
    from alexandria_pipeline_spark.operators.packing import EPOCH_CAP_E3
    from alexandria_pipeline_spark.registry import QUERIES, register_all

    register_all()
    rows = QUERIES["corpus_epoch_repeat_plan"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert rows
    for r in rows:
        assert 0 < r["epochs_e3"] <= EPOCH_CAP_E3
        assert r["effective_tokens"] == r["src_tokens"] * r["epochs_e3"] // 1000
        if r["epochs_e3"] < EPOCH_CAP_E3:
            # truncation slack only: < 1 milli-epoch of this source
            assert r["shortfall_tokens"] <= r["src_tokens"] // 1000 + 1
        assert r["shortfall_tokens"] == max(
            0, r["target_tokens"] - r["effective_tokens"]
        )


def test_cohort_ltv_reconciles_to_total_revenue(spark):
    """Within a cohort the curve is non-decreasing, and the last point
    of every cohort sums to the corpus's total order revenue."""
    import duckdb

    from alexandria_pipeline_spark.registry import QUERIES, register_all

    register_all()
    sf = "/root/testdata/sf0.001"
    rows = (
        QUERIES["orders_cohort_ltv_curve"](spark, sf)
        .orderBy("cohort_month", "age_months")
        .collect()
    )
    last = {}
    prev = {}
    for r in rows:
        cm = r["cohort_month"]
        assert r["cum_rev_cents"] >= prev.get(cm, 0)
        prev[cm] = r["cum_rev_cents"]
        last[cm] = r["cum_rev_cents"]
    total = duckdb.sql(
        "SELECT CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)"
        f" FROM read_parquet('{sf}/orders.parquet')"
    ).fetchone()[0]
    assert sum(last.values()) == total


def test_text_formats_roundtrip_lossless(spark):
    """JSONL and CSV round-trips must be LOSSLESS on the real
    documents table (free text with punctuation/unicode) — the
    in-plan digest must match for both formats — and a malformed line
    must land in the dead-letter column, not kill the read."""
    import json as _json
    import tempfile

    from alexandria_pipeline_spark.catalog import load_table
    from alexandria_pipeline_spark.registry import QUERIES, register_all
    from alexandria_pipeline_spark.sources.text_formats import (
        CORRUPT_COL,
        read_jsonl,
    )

    register_all()
    rows = QUERIES["source_text_formats_roundtrip"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert {r["format"] for r in rows} == {"jsonl", "csv"}
    for r in rows:
        assert r["digest_matches"] == 1, r

    # dead-letter path: one good line, one broken line
    tmp = tempfile.mkdtemp(prefix="apspark_badjsonl_")
    with open(f"{tmp}/part-0000.json", "w") as f:
        f.write(_json.dumps({"doc_id": 1, "text": "ok"}) + "\n")
        f.write('{"doc_id": 2, "text": BROKEN\n')
    schema = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    ).schema
    got = read_jsonl(spark, tmp, schema).collect()
    good = [r for r in got if r[CORRUPT_COL] is None]
    bad = [r for r in got if r[CORRUPT_COL] is not None]
    assert len(good) == 1 and good[0]["doc_id"] == 1
    assert len(bad) == 1 and "BROKEN" in bad[0][CORRUPT_COL]


def test_transitivity_audit_reconciles_with_histogram(spark):
    """Direct + transitive pairs must equal s(s-1)/2 per size row, and
    the size histogram must agree with dedup_cluster_size_histogram."""
    from alexandria_pipeline_spark.registry import QUERIES, register_all

    register_all()
    sf = "/root/testdata/sf0.001"
    audit = QUERIES["dedup_transitivity_audit"](spark, sf).collect()
    hist = {
        r["cluster_size"]: r["n_clusters"]
        for r in QUERIES["dedup_cluster_size_histogram"](spark, sf).collect()
    }
    assert audit
    for r in audit:
        s = r["cluster_size"]
        implied = r["n_clusters"] * (s * (s - 1) // 2)
        assert r["n_direct_pairs"] + r["n_transitive_pairs"] == implied
        assert r["n_direct_pairs"] >= r["n_clusters"] * (s - 1)  # spanning
        assert hist[s] == r["n_clusters"]


def test_stream_closed_sessions_across_batches(spark):
    """Closed-session emission must be identical whether the stream
    arrives as one batch or split at an hour boundary — the trailing
    open session stays in state across the boundary and sessions
    spanning the split must NOT be cut in two."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from alexandria_pipeline_spark.registry import QUERIES, register_all

    register_all()
    src = pq.read_table("/root/testdata/sf0.001/events.parquet")
    ts_sorted = sorted(src.column("ts").to_pylist())
    cut_wall = ts_sorted[len(ts_sorted) // 2].replace(
        minute=0, second=0, microsecond=0
    )
    sf2 = _staged_two_batch_sf(
        lambda t: pc.less(t.column("ts"), cut_wall),
        lambda t: pc.greater_equal(t.column("ts"), cut_wall),
        "sess",
    )
    key = lambda r: (r["user_id"], r["session_start_s"])  # noqa: E731
    got = {
        key(r): (r["session_end_s"], r["n_events"])
        for r in QUERIES["stream_closed_sessions"](spark, sf2).collect()
    }
    want = {
        key(r): (r["session_end_s"], r["n_events"])
        for r in QUERIES["stream_closed_sessions"](
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    assert got == want
    assert want, "fixture produced no closed sessions"


def test_dau_stickiness_ordering_invariants(spark):
    """DAU <= WAU <= MAU on every day; stickiness consistent; the
    7-day horizon agrees with events_rolling_7d_distinct."""
    from alexandria_pipeline_spark.registry import QUERIES, register_all

    register_all()
    sf = "/root/testdata/sf0.001"
    rows = QUERIES["events_dau_stickiness"](spark, sf).collect()
    assert rows
    for r in rows:
        assert r["dau"] <= r["wau"] <= r["mau"]
        assert r["stickiness_ppm"] == r["dau"] * 1_000_000 // r["mau"]
    sevens = {
        r["day"]: r["active_7d"]
        for r in QUERIES["events_rolling_7d_distinct"](spark, sf).collect()
    }
    for r in rows:
        assert sevens[r["day"]] == r["wau"], r["day"]


def test_lexical_semantic_agreement_reconciles(spark):
    """The agreement buckets must partition the union of the two pair
    sets: both + lexical_only = |minhash pairs|, both + semantic_only
    = |cosine pairs|."""
    from alexandria_pipeline_spark.registry import QUERIES, register_all

    register_all()
    sf = "/root/testdata/sf0.001"
    agg = {
        r["agreement"]: r["n_pairs"]
        for r in QUERIES["dedup_lexical_semantic_agreement"](
            spark, sf
        ).collect()
    }
    n_lex = QUERIES["dedup_minhash_lsh"](spark, sf).count()
    n_sem = QUERIES["dedup_embedding_cosine"](spark, sf).count()
    both = agg.get("both", 0)
    assert both + agg.get("lexical_only", 0) == n_lex
    assert both + agg.get("semantic_only", 0) == n_sem


def test_slo_burn_page_policy(spark):
    """page_flag must equal the conjunction of both window thresholds
    and the 6h totals must cover at least the 1h totals."""
    from alexandria_pipeline_spark.operators.events import (
        BURN_1H_E3,
        BURN_6H_E3,
    )
    from alexandria_pipeline_spark.registry import QUERIES, register_all

    register_all()
    rows = QUERIES["events_slo_burn_rate"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert rows
    for r in rows:
        assert r["page_flag"] == int(
            r["burn_1h_e3"] > BURN_1H_E3 and r["burn_6h_e3"] > BURN_6H_E3
        )
        assert r["errors_1h"] <= r["total_1h"]


def test_markov_stationary_mass_and_freshness(spark):
    """pi3 mass must stay within truncation slack of 1e6 (each of the
    3 steps loses < types ppm), and freshness lags must include a
    zero-lag leader."""
    from alexandria_pipeline_spark.registry import QUERIES, register_all

    register_all()
    sf = "/root/testdata/sf0.001"
    rows = QUERIES["events_markov_stationary"](spark, sf).collect()
    k = len(rows)
    assert k >= 2
    m3 = sum(r["pi3_ppm"] for r in rows)
    assert 1_000_000 - 4 * k * (k + 1) <= m3 <= 1_000_000
    m0 = sum(r["pi0_ppm"] for r in rows)
    assert 1_000_000 - k <= m0 <= 1_000_000

    lags = QUERIES["dq_freshness_lag"](spark, sf).collect()
    assert min(r["lag_s"] for r in lags) == 0
    for r in lags:
        assert r["stale_flag"] == int(r["lag_s"] > 6 * 3600)


def test_edit_distance_position_tagged_index_exact(spark, tmp_path):
    """The position-tagged FastSS rewrite must be exact WITHOUT a
    levenshtein verify or a final distinct: substitutions join on
    (variant, k), indels on name == run-collapsed variant. TPC-H names
    are all equal-length, so this synthetic corpus covers what the
    oracle can't: insert/delete pairs, a transposition (lev=2, shares
    bare variants both ways — the classic FastSS over-generation) that
    must be EXCLUDED, repeated-run names (multiplicity-1 claim), and a
    duplicate name collapsing to its min-key representative."""
    from alexandria_pipeline_spark.operators.dedup import dedup_edit_distance

    rows = [
        (1, "abc"),
        (2, "abd"),
        (3, "ab"),
        (4, "ba"),   # lev("ab","ba")=2: transposition, must not pair
        (5, "abc"),  # duplicate name: collapses into custkey 1
        (6, "aab"),  # run: del pos1/pos2 both yield "ab"
        (7, "abb"),
    ]
    spark.createDataFrame(rows, "c_custkey long, c_name string").write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "customer.parquet"))

    out = dedup_edit_distance(spark, str(tmp_path)).collect()
    pairs = sorted((r["custkey_a"], r["custkey_b"]) for r in out)
    expected = sorted(
        [(1, 2), (1, 3), (2, 3), (3, 6), (3, 7), (6, 7), (1, 7), (2, 7)]
    )
    assert pairs == expected, pairs  # == also proves multiplicity 1
    assert all(r["dist"] == 1 for r in out)
    by_key = {(r["custkey_a"], r["custkey_b"]): r for r in out}
    assert by_key[(3, 6)]["name_a"] == "ab" and by_key[(3, 6)]["name_b"] == "aab"


def test_km_survival_curve_invariants(spark):
    """Kaplan-Meier: at-risk counts and survival are non-increasing in
    t, survival stays in (0, 1e6], and the first event time's survival
    equals (n-d)/n to within the micro-log rounding."""
    from alexandria_pipeline_spark.registry import QUERIES, register_all

    register_all()
    rows = QUERIES["events_user_survival_km"](spark, "/root/testdata/sf0.001").collect()
    assert rows, "empty survival curve"
    for prev, cur in zip(rows, rows[1:]):
        assert cur["t_hours"] > prev["t_hours"]
        assert cur["n_risk"] < prev["n_risk"] + prev["n_churned"] + 1
        assert cur["survival_ppm"] <= prev["survival_ppm"]
    for r in rows:
        assert 0 < r["survival_ppm"] <= 1_000_000
        assert 0 < r["n_churned"] < r["n_risk"]
    first = rows[0]
    expect = round(
        (first["n_risk"] - first["n_churned"]) / first["n_risk"] * 1_000_000
    )
    assert abs(first["survival_ppm"] - expect) <= 2


def test_transition_entropy_bounds(spark):
    """Per-type next-event entropy obeys 0 <= H <= log2(k) (+- the
    per-cell micro rounding slack) and the k=1 rows are exactly 0."""
    from alexandria_pipeline_spark.registry import QUERIES, register_all

    register_all()
    rows = QUERIES["events_transition_entropy"](spark, "/root/testdata/sf0.001").collect()
    assert rows
    for r in rows:
        slack = r["k_next"]  # one half-micro per rounded cell, doubled
        assert -slack <= r["entropy_micro_bits"] <= r["max_entropy_micro_bits"] + slack
        if r["k_next"] == 1:
            assert r["entropy_micro_bits"] == 0


def test_binseg_changepoint_is_argmax(spark):
    """The reported split must beat every other split on the exact
    integer gain (brute-force recheck over the per-day frame) and the
    variance-explained read-out must land in [0, 1e6]."""
    from alexandria_pipeline_spark.registry import QUERIES, register_all
    from alexandria_pipeline_spark.catalog import load_table
    from pyspark.sql import functions as F

    register_all()
    sf = "/root/testdata/sf0.001"
    row = QUERIES["events_changepoint_binseg"](spark, sf).collect()[0]
    assert 1 <= row["split_index"] < row["n_days"]
    assert 0 <= row["var_explained_ppm"] <= 1_000_000

    e = load_table(spark, sf, "events")
    per_day = (
        e.groupBy(
            F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date")).alias("d")
        )
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy("d")
        .collect()
    )
    cs = [r["c"] for r in per_day]
    n, s = len(cs), sum(cs)
    best_k, best_gain = None, None
    a = 0
    for k in range(1, n):
        a += cs[k - 1]
        b = s - a
        gain = (a * a * (n - k) + b * b * k) * 1_000_000 // (k * (n - k))
        if best_gain is None or gain > best_gain:
            best_gain, best_k = gain, k
    assert row["split_index"] == best_k
    assert row["n_days"] == n


def test_elasticity_covers_all_brands_and_reconciles(spark):
    """Every brand with >= 2 distinct prices gets a slope, and the
    per-brand n_items sum reconciles with the filtered fact count."""
    from alexandria_pipeline_spark.registry import QUERIES, register_all
    from alexandria_pipeline_spark.catalog import load_table
    from pyspark.sql import functions as F

    register_all()
    sf = "/root/testdata/sf0.001"
    rows = QUERIES["lineitem_price_elasticity_by_brand"](spark, sf).collect()
    assert rows
    li = load_table(spark, sf, "lineitem").filter(
        (F.col("l_quantity") > 0) & (F.col("l_extendedprice") > 0)
    )
    assert sum(r["n_items"] for r in rows) == li.count()


def test_fertility_reconciles_with_token_counts(spark):
    """Fertility totals must equal the text_token_counts re-aggregation
    (same TOKEN_RE, same corpus) and chars/token >= 1."""
    from alexandria_pipeline_spark.registry import QUERIES, register_all

    register_all()
    sf = "/root/testdata/sf0.001"
    fert = QUERIES["text_token_fertility_by_lang"](spark, sf).collect()
    tc = QUERIES["text_token_counts"](spark, sf).collect()
    assert sum(r["chars_total"] for r in fert) == sum(r["n_chars"] for r in tc)
    assert sum(r["tokens_total"] for r in fert) == sum(r["re_tokens"] for r in tc)
    for r in fert:
        assert r["fertility_milli"] >= 1000


def test_pareto_alpha_is_a_tail_exponent(spark):
    """alpha > 1 by construction (MLE adds n/sum-ln to 1) and the tail
    count is bounded by the corpus size."""
    from alexandria_pipeline_spark.registry import QUERIES, register_all
    from alexandria_pipeline_spark.catalog import load_table

    register_all()
    sf = "/root/testdata/sf0.001"
    rows = QUERIES["corpus_length_pareto_alpha"](spark, sf).collect()
    assert rows
    n_docs = load_table(spark, sf, "documents").count()
    assert sum(r["n_tail"] for r in rows) <= n_docs
    for r in rows:
        assert r["alpha_micro"] > 1_000_000
        assert r["sum_ln_micro"] > 0


def test_bench_gate_parser_survives_gate_artifacts():
    """BENCH_HOST_rN.json now carries a noise_retry dict whose 'queries'
    key holds a LIST of names; _per_query must skip it (not crash) and
    still find the nested bench record — gate artifacts are themselves
    future baselines."""
    import importlib.util
    import json
    import pathlib

    spec = importlib.util.spec_from_file_location(
        "gate", pathlib.Path(REPO) / "scripts" / "bench_regression_gate.py"
    )
    gate = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gate)

    doc = {
        "noise_retry": {"queries": ["q_a", "q_b"], "runs": 4},
        "bench": {"queries": {"q_a": 1.5, "q_b": 0.4}},
    }
    assert gate._per_query(doc) == {"q_a": 1.5, "q_b": 0.4}
    # and the real committed artifact parses to the full headline set
    real = json.loads((pathlib.Path(REPO) / "BENCH_HOST_r7.json").read_text())
    q = gate._per_query(real)
    assert len(q) >= 137 and all(isinstance(v, float) for v in q.values())


def test_threshold_sweep_reconciles_with_auc_inputs(spark):
    """The threshold table's bottom row must cover the whole corpus
    (recall exactly 1e6, pred_pos = n_docs from the AUC query), recall
    must be non-increasing in band, precision in (0, 1e6], and every
    row's f1 must satisfy the 2TP/(pred+actual) identity recomputed in
    Python."""
    from alexandria_pipeline_spark.registry import QUERIES, register_all

    register_all()
    sf = "/root/testdata/sf0.001"
    rows = QUERIES["curation_threshold_sweep"](spark, sf).collect()
    # the LOWEST PRESENT band (0 may be empty at tiny SF) covers everything
    assert rows
    auc = QUERIES["curation_quality_auc"](spark, sf).collect()[0]
    np_total = auc["n_pos"]
    assert rows[0]["pred_pos"] == auc["n_docs"]
    assert rows[0]["tp"] == np_total
    assert rows[0]["recall_ppm"] == 1_000_000
    for prev, cur in zip(rows, rows[1:]):
        assert cur["band"] > prev["band"]
        assert cur["recall_ppm"] <= prev["recall_ppm"]
        assert cur["pred_pos"] <= prev["pred_pos"]
    for r in rows:
        assert 0 < r["precision_ppm"] <= 1_000_000
        assert r["f1_ppm"] == 2 * r["tp"] * 1_000_000 // (r["pred_pos"] + np_total)


def test_bigram_cond_entropy_matches_bruteforce(spark):
    """Recompute H(next|word) per language in pure Python from the raw
    bigram counts (HALF_UP per-cell micro rounding, exact integer sum,
    one truncating division) and demand bit-equality with the query."""
    import math
    from collections import Counter, defaultdict

    import duckdb

    from alexandria_pipeline_spark.registry import QUERIES, register_all

    register_all()
    sf = "/root/testdata/sf0.001"
    con = duckdb.connect()
    docs = con.execute(
        f"SELECT lang, string_split(text, ' ') FROM "
        f"read_parquet('{sf}/documents.parquet')"
    ).fetchall()
    cells = Counter()
    for lang, t in docs:
        for a, b in zip(t, t[1:]):
            cells[(lang, a, b)] += 1
    ctx = defaultdict(int)
    for (lang, a, _), c in cells.items():
        ctx[(lang, a)] += c
    sums, ns, contexts = defaultdict(int), defaultdict(int), defaultdict(set)
    for (lang, a, _), c in cells.items():
        c1 = ctx[(lang, a)]
        term = int(c * math.log2(c1 / c) * 1_000_000 + 0.5)  # HALF_UP, >=0
        sums[lang] += term
        ns[lang] += c
        contexts[lang].add(a)

    rows = QUERIES["text_bigram_cond_entropy"](spark, sf).collect()
    assert rows
    for r in rows:
        lang = r["lang"]
        assert r["n_bigrams"] == ns[lang]
        assert r["n_contexts"] == len(contexts[lang])
        assert r["cond_entropy_micro_bits"] == sums[lang] // ns[lang], (
            lang, r["cond_entropy_micro_bits"], sums[lang] // ns[lang],
        )
        assert r["cond_entropy_micro_bits"] >= 0


def test_seasonality_strength_is_a_variance_share(spark):
    """Eta-squared lives in [0, 1e6] ppm (up to the per-slot truncation,
    which only ever shrinks the between-slot sum), and the per-type
    event totals reconcile with the Fano query's independent count."""
    from alexandria_pipeline_spark.registry import QUERIES, register_all

    register_all()
    sf = "/root/testdata/sf0.001"
    rows = QUERIES["events_seasonality_strength"](spark, sf).collect()
    assert rows
    fano = {
        r["event_type"]: r["n_events"]
        for r in QUERIES["events_burstiness_fano"](spark, sf).collect()
    }
    for r in rows:
        assert 0 <= r["seasonal_strength_ppm"] <= 1_000_000
        assert r["n_hours"] <= 30 * 24 * 7  # observed hours, span-bounded
        assert r["n_events"] == fano[r["event_type"]]


def test_spend_tier_migration_reconciles(spark):
    """The migration matrix must partition the customer base: cell
    counts sum to the number of distinct ordering customers, late_cents
    sums to the late-period revenue, and the -1/-1 cell cannot exist."""
    import duckdb

    from alexandria_pipeline_spark.registry import QUERIES, register_all

    register_all()
    sf = "/root/testdata/sf0.001"
    rows = QUERIES["orders_spend_tier_migration"](spark, sf).collect()
    assert rows
    con = duckdb.connect()
    n_cust, late_rev = con.execute(
        f"""
        SELECT count(DISTINCT o_custkey),
               coalesce(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                 FILTER (WHERE o_orderdate >= DATE '1998-01-01'), 0)
        FROM read_parquet('{sf}/orders.parquet')
        """
    ).fetchone()
    assert sum(r["n_customers"] for r in rows) == n_cust
    assert sum(r["late_cents"] for r in rows) == late_rev
    for r in rows:
        assert (r["tier_early"], r["tier_late"]) != (-1, -1)
        assert r["tier_early"] >= -1 and r["tier_late"] >= -1
        if r["tier_late"] == -1:
            assert r["late_cents"] == 0


def test_anomaly_run_lengths_reconcile_with_flag_count(spark):
    """sum(run_len * n_runs) must equal the number of flagged hours
    recomputed directly with the same integer z-test, and every run
    length is positive and span-bounded."""
    import duckdb

    from alexandria_pipeline_spark.registry import QUERIES, register_all

    register_all()
    sf = "/root/testdata/sf0.001"
    rows = QUERIES["events_anomaly_run_lengths"](spark, sf).collect()
    con = duckdb.connect()
    flagged = con.execute(
        f"""
        WITH per_hour AS (
          SELECT event_type, CAST(floor(epoch(ts) / 3600) AS BIGINT) h,
                 CAST(count(*) AS BIGINT) x
          FROM read_parquet('{sf}/events.parquet') GROUP BY 1, 2
        ),
        m AS (
          SELECT event_type, CAST(count(*) AS HUGEINT) n,
                 CAST(sum(x) AS HUGEINT) s,
                 CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) q
          FROM per_hour GROUP BY 1
        )
        SELECT count(*) FROM per_hour p JOIN m USING (event_type)
        WHERE (n * p.x - s) * (n * p.x - s) > 4 * n * (n * q - s * s)
        """
    ).fetchone()[0]
    assert sum(r["run_len"] * r["n_runs"] for r in rows) == flagged
    for r in rows:
        assert r["run_len"] >= 1 and r["n_runs"] >= 1
        assert r["run_len"] <= 30 * 24


def test_pack_capacity_curve_reconciles_with_single_capacity(spark):
    """The curve's capacity-512 row must agree with the standalone
    pack_sequences_contiguous output (same bins, same token total),
    total_tokens is capacity-invariant, and waste falls monotonically
    as docs-per-bin rises only in the regime where every doc fits."""
    from alexandria_pipeline_spark.registry import QUERIES, register_all

    register_all()
    sf = "/root/testdata/sf0.001"
    curve = {
        r["capacity"]: r
        for r in QUERIES["pack_capacity_curve"](spark, sf).collect()
    }
    assert set(curve) == {128, 256, 512, 1024, 2048}
    single = QUERIES["pack_sequences_contiguous"](spark, sf).collect()
    assert curve[512]["n_bins"] == len(single)
    assert curve[512]["total_tokens"] == sum(r["bin_tokens"] for r in single)
    totals = {r["total_tokens"] for r in curve.values()}
    assert len(totals) == 1  # packing never drops or duplicates tokens
    for r in curve.values():
        assert 0 <= r["waste_ppm"] <= 1_000_000
        assert 0 <= r["overflow_ppm"] <= 1_000_000


def test_partition_skew_report_invariants(spark):
    """min <= median <= max, the ratio is >= 1e6 by construction, hot
    partitions can never exceed the partition count, and total_rows
    equals the raw table count."""
    import duckdb

    from alexandria_pipeline_spark.registry import QUERIES, register_all

    register_all()
    sf = "/root/testdata/sf0.001"
    r = QUERIES["maintenance_partition_skew_report"](spark, sf).collect()[0]
    total = duckdb.connect().execute(
        f"SELECT count(*) FROM read_parquet('{sf}/events.parquet')"
    ).fetchone()[0]
    assert r["total_rows"] == total
    assert r["min_rows"] <= r["median_rows"] <= r["max_rows"]
    assert r["max_over_median_ppm"] >= 1_000_000
    assert 0 <= r["n_hot_partitions"] <= r["n_partitions"]


def test_referential_integrity_finds_planted_orphans(spark, tmp_path):
    """On a fixture with two dangling customer FKs and one NULL, the
    report must count exactly 3 orphans on that edge and 0 elsewhere
    (single-edge slice: nation->region stays clean)."""
    import shutil

    from alexandria_pipeline_spark.registry import QUERIES, register_all

    register_all()
    src = "/root/testdata/sf0.001"
    for t in (
        "region nation customer supplier part orders lineitem "
        "events documents embeddings"
    ).split():
        shutil.copy(f"{src}/{t}.parquet", tmp_path / f"{t}.parquet")
    import duckdb

    con = duckdb.connect()
    con.execute(
        f"""
        COPY (
          SELECT * REPLACE (
            CASE WHEN o_orderkey % 100 = 1 THEN 999999999
                 WHEN o_orderkey % 100 = 2 THEN NULL
                 ELSE o_custkey END AS o_custkey)
          FROM read_parquet('{src}/orders.parquet')
        ) TO '{tmp_path}/orders.parquet' (FORMAT parquet)
        """
    )
    n_bad = con.execute(
        f"SELECT count(*) FROM read_parquet('{tmp_path}/orders.parquet') "
        f"WHERE o_custkey IS NULL OR o_custkey = 999999999"
    ).fetchone()[0]
    rows = {
        r["fk_edge"]: r
        for r in QUERIES["dq_referential_integrity"](
            spark, str(tmp_path)
        ).collect()
    }
    assert rows["orders.o_custkey->customer"]["n_orphans"] == n_bad
    assert rows["nation.n_regionkey->region"]["n_orphans"] == 0
    assert all(
        r["n_orphans"] <= r["n_child_rows"] for r in rows.values()
    )


def test_unit_value_index_identity_and_reconciliation(spark):
    """UVI recomputed from the row's own four moments must equal the
    reported ppm (the algebraic rearrangement is what the query claims
    is exact), and the per-type revenue/quantity totals reconcile with
    a direct DuckDB aggregation."""
    import duckdb

    from alexandria_pipeline_spark.registry import QUERIES, register_all

    register_all()
    sf = "/root/testdata/sf0.001"
    rows = QUERIES["lineitem_unit_value_index"](spark, sf).collect()
    assert rows
    con = duckdb.connect()
    totals = {
        (t, late): (e, q)
        for t, late, e, q in con.execute(
            f"""
            SELECT p.p_type, CAST(year(l.l_shipdate) >= 1998 AS INT),
                   sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)),
                   sum(CAST(l.l_quantity AS BIGINT))
            FROM read_parquet('{sf}/lineitem.parquet') l
            JOIN read_parquet('{sf}/part.parquet') p
              ON p.p_partkey = l.l_partkey
            GROUP BY 1, 2
            """
        ).fetchall()
    }
    for r in rows:
        assert (r["early_cents"], r["early_qty"]) == totals[(r["ptype"], 0)]
        assert (r["late_cents"], r["late_qty"]) == totals[(r["ptype"], 1)]
        expect = (
            r["late_cents"] * r["early_qty"] * 1_000_000
            // (r["late_qty"] * r["early_cents"])
        )
        assert r["uvi_ppm"] == expect
        assert r["uvi_ppm"] > 0


def test_attribution_position_compare_reconciles(spark):
    """Both attribution models run over the SAME purchase population,
    so total cents and counts must match across the two columns AND
    match the standalone last-touch query exactly."""
    from alexandria_pipeline_spark.registry import QUERIES, register_all

    register_all()
    sf = "/root/testdata/sf0.001"
    rows = QUERIES["events_attribution_position_compare"](spark, sf).collect()
    assert rows
    assert sum(r["cents_last"] for r in rows) == sum(
        r["cents_first"] for r in rows
    )
    assert sum(r["n_last"] for r in rows) == sum(r["n_first"] for r in rows)
    last = {
        r["channel"]: (r["n_purchases"], r["attributed_cents"])
        for r in QUERIES["events_attribution_last_touch"](spark, sf).collect()
    }
    for r in rows:
        if r["n_last"] > 0:
            assert last[r["channel"]] == (r["n_last"], r["cents_last"])


def test_retention_half_life_invariants(spark):
    """Cohort sizes cover the full user base, fits need >= 2 ages with
    variance, and the half-life is positive exactly when the decay
    slope is negative (-1 sentinel otherwise — the all-retained
    fixture exercises the sentinel path)."""
    import duckdb

    from alexandria_pipeline_spark.registry import QUERIES, register_all

    register_all()
    sf = "/root/testdata/sf0.001"
    rows = QUERIES["events_retention_half_life"](spark, sf).collect()
    assert rows
    n_users = duckdb.connect().execute(
        f"SELECT count(DISTINCT user_id) FROM "
        f"read_parquet('{sf}/events.parquet')"
    ).fetchone()[0]
    assert sum(r["cohort_size"] for r in rows) <= n_users
    for r in rows:
        assert r["n_points"] >= 2
        if r["slope_micro"] < 0:
            assert r["half_life_milli_weeks"] > 0
        else:
            assert r["half_life_milli_weeks"] == -1


def test_hhi_by_type_bounds_and_floor(spark):
    """HHI lives in (0, 1e6]; with n suppliers the floor is 1e6/n (up
    to per-cell truncation), and a 1e6 reading requires exactly one
    supplier."""
    from alexandria_pipeline_spark.registry import QUERIES, register_all

    register_all()
    rows = QUERIES["supplier_hhi_by_part_type"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert rows
    for r in rows:
        assert 0 < r["hhi_ppm"] <= 1_000_000
        floor = 1_000_000 // r["n_suppliers"] - r["n_suppliers"]
        assert r["hhi_ppm"] >= floor
        if r["hhi_ppm"] == 1_000_000:
            assert r["n_suppliers"] == 1


def test_returns_rate_reconciles_with_q1_flags(spark):
    """Total returned lines across months must equal the direct
    l_returnflag='R' count, and every rate is a valid ppm."""
    import duckdb

    from alexandria_pipeline_spark.registry import QUERIES, register_all

    register_all()
    sf = "/root/testdata/sf0.001"
    rows = QUERIES["lineitem_returns_rate_monthly"](spark, sf).collect()
    want = duckdb.connect().execute(
        f"SELECT count(*) FILTER (WHERE l_returnflag = 'R'), count(*) "
        f"FROM read_parquet('{sf}/lineitem.parquet')"
    ).fetchone()
    assert sum(r["n_returned"] for r in rows) == want[0]
    assert sum(r["n_lines"] for r in rows) == want[1]
    for r in rows:
        assert 0 <= r["return_rate_ppm"] <= 1_000_000
