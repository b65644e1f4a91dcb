"""Settings read from SPARK_GRAFT_* env vars and their explicit-argument
seams: a flag's off values, and persist_if_source_large's min_bytes,
the one way to move its byte gate."""

from __future__ import annotations

from alexandria_pipeline_spark import registry


def test_explicit_min_bytes_beats_env(spark, tmp_path):
    df = spark.range(4)
    (tmp_path / "documents.parquet").write_bytes(b"x" * 1024)
    out = registry.persist_if_source_large(df, str(tmp_path), min_bytes=512)
    assert out.storageLevel.useMemory is True
    assert registry.release_persisted() >= 1
    out = registry.persist_if_source_large(df, str(tmp_path), min_bytes=4096)
    assert out is df


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
