"""Round-6 invariants for the new retrieval / fuzzy-join / passage-dedup
/ quality-scorer queries — properties the oracle hash can't express
(completeness of blocked candidate generation, ranking monotonicity).
"""

from __future__ import annotations

import duckdb
import pytest

from alexandria_pipeline_spark import QUERIES

from tests.conftest import SF_SMOKE


def test_fuzzy_deletion_blocking_is_complete(spark):
    """Deletion-neighborhood blocking must find EVERY lev<=1 pair the
    naive all-pairs join finds (SymSpell's correctness theorem: two
    strings within one edit share a 1-deletion variant). Ground truth
    via brute-force O(n²) levenshtein in DuckDB on distinct names —
    feasible only at smoke scale, which is the point of the test."""
    got = {
        (r["mktsegment"], r["n_fuzzy_pairs"])
        for r in QUERIES["join_fuzzy_deletion_neighborhood"](
            spark, SF_SMOKE
        ).collect()
    }
    truth = duckdb.sql(
        f"""
        WITH c AS (SELECT * FROM '{SF_SMOKE}/customer.parquet'),
        reps AS (
          SELECT c_name, min(c_custkey) AS rep_key FROM c GROUP BY c_name
        ),
        seg AS (
          SELECT r.c_name, r.rep_key, x.c_mktsegment
          FROM reps r JOIN c x ON x.c_custkey = r.rep_key
        ),
        pairs AS (
          SELECT a.rep_key AS k1
          FROM seg a JOIN seg b
            ON a.rep_key < b.rep_key
           AND levenshtein(a.c_name, b.c_name) <= 1
        )
        SELECT s.c_mktsegment, CAST(count(*) AS BIGINT)
        FROM pairs p JOIN seg s ON s.rep_key = p.k1
        GROUP BY 1
        """
    ).fetchall()
    assert got == {(m, n) for m, n in truth}


def test_bm25_ranking_monotone(spark):
    rows = QUERIES["text_bm25_topk"](spark, SF_SMOKE).collect()
    by_q: dict[int, list] = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    assert set(by_q) == {1, 2, 3}
    for q, rs in by_q.items():
        rs.sort(key=lambda r: r["rnk"])
        assert [r["rnk"] for r in rs] == list(range(1, len(rs) + 1))
        scores = [r["score"] for r in rs]
        assert scores == sorted(scores, reverse=True)
        assert all(1 <= r["n_terms_matched"] <= 3 for r in rs)


def test_passage_dedup_accounting(spark):
    rows = QUERIES["dedup_passage_level"](spark, SF_SMOKE).collect()
    assert rows, "expected at least one source row"
    for r in rows:
        assert 0 <= r["n_dup_occurrences"] <= r["n_passages"]
        assert 0 <= r["dup_tokens"] <= r["total_tokens"]
        assert 0.0 <= r["dup_token_share"] <= 1.0


def test_quality_hist_partitions_corpus(spark):
    rows = QUERIES["corpus_quality_linear_hist"](spark, SF_SMOKE).collect()
    n_docs_total = sum(r["n_docs"] for r in rows)
    n_expected = duckdb.sql(
        f"SELECT count(*) FROM '{SF_SMOKE}/documents.parquet' WHERE len(string_split(text,' ')) > 0"
    ).fetchone()[0]
    assert n_docs_total == n_expected
    for r in rows:
        assert 0 <= r["band"] <= 9
        assert r["min_score"] <= r["max_score"]
    # bands are ordered and score ranges must not overlap across bands
    for a, b in zip(rows, rows[1:]):
        assert a["band"] < b["band"]
        assert a["max_score"] <= b["min_score"]
