"""functions/banded.running_sums and the queries built on it.

The helper is checked against a plain global running sum computed in
Python on small generated frames; number_by_order against a frame whose
range partitions are deliberately uneven. The invariant tests of the
rewritten queries (Pareto coverage, decile budget, peak concurrency,
CCNet terciles, the Mann-Whitney AUC and the KS drift) live here too.
"""

from __future__ import annotations

import random
from collections import Counter, defaultdict

import pytest
from pyspark.sql import functions as F

from alexandria_pipeline_spark import QUERIES
from alexandria_pipeline_spark.catalog import load_table
from alexandria_pipeline_spark.functions.banded import running_sums
from alexandria_pipeline_spark.operators.curation import _ql_feats, _ql_z_e6
from alexandria_pipeline_spark.sources.parquet import number_by_order
from tests.conftest import SF_SMOKE, count_jobs

_SCHEMA = "id long, g int, x int, v int"


def _rows(n=400, seed=7):
    rnd = random.Random(seed)
    return [
        (i, rnd.randrange(3), rnd.randrange(1000), rnd.randrange(-50, 51))
        for i in range(n)
    ]


def _expected(rows, key, sums, by=lambda r: None):
    """id -> tuple of inclusive running sums, taken in key order per by."""
    groups = defaultdict(list)
    for r in rows:
        groups[by(r)].append(r)
    out = {}
    for g in groups.values():
        acc = [0] * len(sums)
        for r in sorted(g, key=key):
            acc = [a + f(r) for a, f in zip(acc, sums)]
            out[r[0]] = tuple(acc)
    return out


_ONE = lambda r: 1  # noqa: E731
_V = lambda r: r[3]  # noqa: E731


def _case(name):
    """(band expr, order, sums, by, python key, python sums, python by);
    built per call because Columns need the session."""
    asc = lambda r: (r[2], r[0])  # noqa: E731
    one, v = F.lit(1), F.col("v")
    return {
        "ascending": (
            "x div 100", ["x", "id"], {"rk": one}, (),
            asc, [_ONE], lambda r: None,
        ),
        "negated_band_descending": (
            "-(x div 100)", [F.desc("x"), "id"], {"cum": v}, (),
            lambda r: (-r[2], r[0]), [_V], lambda r: None,
        ),
        "by_key": (
            "x div 250", ["x", "id"], {"rk": one}, ["g"],
            asc, [_ONE], lambda r: r[1],
        ),
        "two_sums": (
            "x div 100", ["x", "id"], {"rk": one, "cum": v}, (),
            asc, [_ONE, _V], lambda r: None,
        ),
        "one_band": (
            "0", ["x", "id"], {"rk": one, "cum": v}, (),
            asc, [_ONE, _V], lambda r: None,
        ),
    }[name]


@pytest.mark.parametrize(
    "case",
    ["ascending", "negated_band_descending", "by_key", "two_sums", "one_band"],
)
def test_running_sums_match_global_window(spark, case):
    band, order, sums, by, key, py_sums, py_by = _case(case)
    rows = _rows()
    df = spark.createDataFrame(rows, _SCHEMA).withColumn("band", F.expr(band))
    out = running_sums(df, "band", order, sums, by=by)
    assert out.columns == [*df.columns, *sums]
    for name in sums:
        assert out.schema[name].dataType.simpleString() == "bigint"
    got = {r["id"]: tuple(r[n] for n in sums) for r in out.collect()}
    assert got == _expected(rows, key, py_sums, py_by)


def test_running_sums_on_empty_frame(spark):
    df = spark.createDataFrame([], _SCHEMA).withColumn("band", F.expr("x div 100"))
    out = running_sums(df, "band", ["x", "id"], {"rk": F.lit(1)}, by=["g"])
    assert out.columns == [*df.columns, "rk"]
    assert out.collect() == []


def test_number_by_order_over_uneven_range_partitions(spark):
    """300 rows share key 0, so range partitioning puts them in one
    partition and the rest spread thin; the offsets must still carry
    the numbering across partitions of very different sizes."""
    n_tied, n_unique = 300, 100
    keys = [0] * n_tied + list(range(1, n_unique + 1))
    random.Random(3).shuffle(keys)
    df = spark.createDataFrame([(k,) for k in keys], "k long").repartition(4)
    numbered, handle = number_by_order(df, "k")
    rows = numbered.select("k", "_rn").collect()
    sizes = [r["count"] for r in handle.groupBy("_pid").count().collect()]
    handle.unpersist()
    assert len(sizes) > 1 and max(sizes) >= 3 * min(sizes), sizes
    assert sorted(r["_rn"] for r in rows) == list(range(len(keys)))
    for r in rows:
        if r["k"] == 0:
            assert r["_rn"] < n_tied, r
        else:
            assert r["_rn"] == n_tied - 1 + r["k"], r


def test_number_by_order_builder_runs_no_job(spark):
    """The partition offsets are in-plan: building the numbered frame
    launches no Spark job (the numbering runs with the caller's action)."""
    df = load_table(spark, SF_SMOKE, "orders")
    (numbered, handle), jobs = count_jobs(
        spark, lambda: number_by_order(df, "o_orderkey")
    )
    handle.unpersist()
    assert jobs == 0


def test_pareto_coverage_guarantee(spark):
    row = QUERIES["orders_pareto_8020"](spark, SF_SMOKE).collect()[0]
    assert 0 < row["n_cust_for_80pct"] <= row["n_customers"]
    # taking the top n_cust_for_80pct customers must reach >= 80% revenue:
    import duckdb

    got = duckdb.sql(
        f"""
        WITH per_cust AS (
          SELECT o_custkey,
                 sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS rev
          FROM '{SF_SMOKE}/orders.parquet' GROUP BY 1
        ), tot AS (SELECT sum(rev) AS t FROM per_cust)
        SELECT sum(rev) FROM (
          SELECT rev FROM per_cust ORDER BY rev DESC, o_custkey
          LIMIT {row['n_cust_for_80pct']}
        ), tot GROUP BY t HAVING sum(rev) * 100 >= t * 80
        """
    ).fetchall()
    assert got, "top-k customers do not cover 80% of revenue"


def test_quality_decile_budget_partitions_corpus(spark):
    rows = QUERIES["curation_quality_decile_budget"](spark, SF_SMOKE).collect()
    n_docs = load_table(spark, SF_SMOKE, "documents").count()
    assert sum(r["n_docs"] for r in rows) == n_docs
    assert {r["decile"] for r in rows} <= set(range(10))
    share = sum(r["token_share_ppm"] for r in rows)
    assert 1_000_000 - len(rows) <= share <= 1_000_000
    # deciles are quality-ordered: max quality of decile d cannot
    # exceed min quality of decile d+2 (ties may straddle adjacent
    # deciles but not skip one)
    rows.sort(key=lambda r: r["decile"])
    for a, b in zip(rows, rows[2:]):
        assert a["max_quality_e6"] <= b["min_quality_e6"]


def test_peak_concurrency_bounds(spark):
    """Peak concurrency is at least the busiest second's session-start
    count and at most the total session count; starts and ends
    balance globally (every session emits exactly one +1 and one -1)."""
    rows = QUERIES["events_peak_concurrency_daily"](spark, SF_SMOKE).collect()
    assert rows
    total_starts = sum(r["n_starts"] for r in rows)
    total_ends = sum(r["n_ends"] for r in rows)
    assert total_starts == total_ends
    for r in rows:
        assert 0 <= r["peak_concurrent"] <= total_starts


def test_ccnet_terciles_are_balanced_and_ordered(spark):
    """Per language: bucket sizes differ by at most 1 (exact integer
    terciles), bucket surprisal ranges are non-overlapping up to ties,
    and doc counts reconcile with the corpus."""
    rows = QUERIES["corpus_ccnet_perplexity_buckets"](spark, SF_SMOKE).collect()
    by_lang: dict[str, list] = {}
    for r in rows:
        by_lang.setdefault(r["lang"], []).append(r)
    for lang, rs in by_lang.items():
        rs = sorted(rs, key=lambda r: r["bucket"])
        sizes = [r["n_docs"] for r in rs]
        assert max(sizes) - min(sizes) <= 1, (lang, sizes)
        for prev, cur in zip(rs, rs[1:]):
            assert cur["min_mbits"] >= prev["max_mbits"] - 0, (
                lang,
                prev,
                cur,
            )


def test_quality_auc_matches_bruteforce_mann_whitney(spark):
    """curation_quality_auc's banded rank-sum must equal the O(n_pos *
    n_neg) pairwise definition (ties count half) computed in numpy from
    the same scored frame."""
    import numpy as np

    d = load_table(spark, SF_SMOKE, "documents")
    rows = _ql_feats(d).select("lang", _ql_z_e6().alias("z")).collect()
    pos = np.array([r["z"] for r in rows if r["lang"] == "en"], dtype=np.int64)
    neg = np.array([r["z"] for r in rows if r["lang"] != "en"], dtype=np.int64)
    wins = (pos[:, None] > neg[None, :]).sum()
    ties = (pos[:, None] == neg[None, :]).sum()
    # doubled numerator keeps the half-tie credit integral
    expect_ppm = (2 * int(wins) + int(ties)) * 1_000_000 // (2 * len(pos) * len(neg))

    out = QUERIES["curation_quality_auc"](spark, SF_SMOKE).collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_pos"] == len(pos) and r["n_neg"] == len(neg)
    assert r["auc_ppm"] == expect_ppm, (r["auc_ppm"], expect_ppm)
    assert 0 <= r["auc_ppm"] <= 1_000_000


def test_score_ks_drift_matches_bruteforce_ecdf(spark):
    """corpus_score_ks_drift's banded max-gap must equal the direct
    ECDF scan over the same scored frame, including the earliest-score
    tie-break."""
    d = load_table(spark, SF_SMOKE, "documents")
    rows = (
        _ql_feats(d)
        .select((F.col("doc_id") % 2).alias("snap"), _ql_z_e6().alias("z"))
        .collect()
    )
    ca = Counter(r["z"] for r in rows if r["snap"] == 0)
    cb = Counter(r["z"] for r in rows if r["snap"] == 1)
    na, nb = sum(ca.values()), sum(cb.values())
    cum_a = cum_b = 0
    best_g, best_z = -1, None
    for z in sorted(set(ca) | set(cb)):
        cum_a += ca.get(z, 0)
        cum_b += cb.get(z, 0)
        g = abs(cum_a * nb - cum_b * na)
        if g > best_g:
            best_g, best_z = g, z

    out = QUERIES["corpus_score_ks_drift"](spark, SF_SMOKE).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["n_a"], r["n_b"]) == (na, nb)
    assert r["ks_gap_ppm"] == best_g * 1_000_000 // (na * nb)
    assert r["at_score_e6"] == best_z
    assert 0 <= r["ks_gap_ppm"] <= 1_000_000
