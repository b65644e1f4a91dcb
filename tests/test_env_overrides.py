"""Measurement overrides read from SPARK_GRAFT_* env vars: a malformed
value falls back to the default with a stderr message instead of
failing the query that reads it, and an explicit argument beats the
env."""

from __future__ import annotations

from alexandria_pipeline_spark import registry
from alexandria_pipeline_spark.operators import graph


def test_malformed_persist_min_bytes_falls_back(spark, tmp_path, monkeypatch, capsys):
    df = spark.range(4)
    (tmp_path / "documents.parquet").write_bytes(b"x" * 1024)
    monkeypatch.setenv("SPARK_GRAFT_PERSIST_MIN_BYTES", "12x")
    out = registry.persist_if_source_large(df, str(tmp_path))
    assert out is df  # default 256 MiB gate: a 1 KiB source stays inline
    assert "SPARK_GRAFT_PERSIST_MIN_BYTES" in capsys.readouterr().err


def test_explicit_min_bytes_beats_env(spark, tmp_path, monkeypatch):
    df = spark.range(4)
    (tmp_path / "documents.parquet").write_bytes(b"x" * 1024)
    monkeypatch.setenv("SPARK_GRAFT_PERSIST_MIN_BYTES", "4096")
    out = registry.persist_if_source_large(df, str(tmp_path), min_bytes=512)
    assert out.storageLevel.useMemory is True
    assert registry.release_persisted() >= 1
    monkeypatch.setenv("SPARK_GRAFT_PERSIST_MIN_BYTES", "512")
    out = registry.persist_if_source_large(df, str(tmp_path), min_bytes=4096)
    assert out is df


def test_malformed_ra_adj_limit_falls_back(monkeypatch, capsys):
    monkeypatch.setenv("SPARK_GRAFT_RA_ADJ_LIMIT", "1.5e6")
    assert graph._ra_adj_limit() == graph.RA_ADJ_BROADCAST_LIMIT
    assert "SPARK_GRAFT_RA_ADJ_LIMIT" in capsys.readouterr().err
    monkeypatch.setenv("SPARK_GRAFT_RA_ADJ_LIMIT", "7")
    assert graph._ra_adj_limit() == 7


def test_env_flag_off_values(monkeypatch):
    """`0`, `false`, `no`, `off` and empty turn a flag off, so
    SPARK_GRAFT_SKETCH_DISABLE=0 does not disable the sketch."""
    monkeypatch.delenv("SPARK_GRAFT_TEST_FLAG", raising=False)
    assert registry.env_flag("SPARK_GRAFT_TEST_FLAG") is False
    for value, expected in (
        ("", False), ("0", False), ("false", False), ("NO", False),
        (" off ", False), ("1", True), ("true", True), ("yes", True),
    ):
        monkeypatch.setenv("SPARK_GRAFT_TEST_FLAG", value)
        assert registry.env_flag("SPARK_GRAFT_TEST_FLAG") is expected, value
