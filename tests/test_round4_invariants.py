"""Invariant tests for the round-4 operators — properties the DuckDB
oracles can't express (they check equality, not internal consistency):
compaction bin-packing bounds, snapshot-diff partition algebra and
feature-matrix non-negativity. The Pareto coverage guarantee is in
test_banded.py."""

from __future__ import annotations

from alexandria_pipeline_spark import QUERIES, register_all
from tests.conftest import SF_SMOKE


def test_compaction_plan_bin_packing_bounds(spark):
    register_all()
    from alexandria_pipeline_spark.operators.maintenance import TARGET_BYTES

    rows = QUERIES["maintenance_compaction_plan"](spark, SF_SMOKE).collect()
    by_part: dict[str, list] = {}
    for r in rows:
        by_part.setdefault(r["part_key"], []).append(r)
    for part, groups in by_part.items():
        groups.sort(key=lambda r: r["group_id"])
        # greedy exclusive-cumsum packing: every group except possibly the
        # last must have been CLOSED by crossing the target, so its bytes
        # plus anything before it stays < target + its own last file; the
        # coarse invariant: all non-final groups reach >= some content and
        # group ids are contiguous from 0
        assert [g["group_id"] for g in groups] == list(range(len(groups))), part
        for g in groups[:-1]:
            # a non-final group ends because cumulative crossed a target
            # boundary: it can never be empty
            assert g["n_files"] >= 1 and g["group_bytes"] > 0
        # no group (except via one oversized file) wildly exceeds target
        for g in groups:
            max_file = TARGET_BYTES  # files are far smaller than target here
            assert g["group_bytes"] < TARGET_BYTES + max_file, (part, g)


def test_snapshot_diff_partition_algebra(spark):
    register_all()
    rows = {r["change_type"]: r for r in QUERIES["snapshot_diff"](spark, SF_SMOKE).collect()}
    import duckdb

    n_orders = duckdb.sql(
        f"select count(*), count(*) filter (where o_orderkey % 10 = 7),"
        f" count(*) filter (where o_orderkey % 10 = 4),"
        f" count(*) filter (where o_orderkey % 10 = 3)"
        f" from '{SF_SMOKE}/orders.parquet'"
    ).fetchone()
    total, k7, k4, k3 = n_orders
    assert rows["added"]["n"] == k7
    assert rows["deleted"]["n"] == k4
    assert rows["changed"]["n"] == k3
    assert rows["unchanged"]["n"] == total - k7 - k4 - k3


def test_feature_matrix_domains(spark):
    register_all()
    rows = QUERIES["events_user_feature_matrix"](spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert r["frequency"] > 0
        assert r["monetary_cents"] >= 0
        assert 1 <= r["n_types"] <= 5
        assert r["recency_days"] >= 0
        assert r["tenure_days"] >= 0
        assert 0 < r["active_days"] <= r["frequency"]
