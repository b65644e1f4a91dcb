"""Round-13 invariants: the bench per-query channel hardening (r12
verdict item #1). The forced-cold materialization contract (item #3)
is tested on materialize.bench_record in test_materialize.py.

The driver's tail capture holds only the last ~2000 characters of
bench.py's stdout; at 173 queries the sum of the query NAMES alone is
~3.8 KB, so no single per-query JSON line can survive it (PERF_r12:
per_query == {}). These tests pin the three replacement channels
without starting Spark."""

from __future__ import annotations

import json
import os
import pathlib
import sys

REPO = pathlib.Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

import bench  # noqa: E402 - repo-root import


def test_chunk_lines_fit_tail_and_merge_back():
    """Every chunk line must be a self-contained JSON object well under
    the ~2000-char tail budget, and the union of all chunks must be the
    full per-query map (2-decimal rounded), in headline order."""
    timings = {
        name: 0.1 + (i % 97) / 7.0 for i, name in enumerate(bench.HEADLINE)
    }
    chunks = bench.chunk_queries(bench.HEADLINE, timings)
    assert len(chunks) >= 4  # 173 names cannot fit fewer at this budget
    merged: dict[str, float] = {}
    for i, ch in enumerate(chunks):
        line = json.dumps(
            {
                "metric": "headline_queries_chunk",
                "chunk": i + 1,
                "n_chunks": len(chunks),
                "queries": ch,
            },
            separators=(",", ":"),
        )
        assert len(line) < 1600, f"chunk {i} line is {len(line)} bytes"
        assert not (set(merged) & set(ch))
        merged.update(ch)
    assert merged == {k: round(v, 2) for k, v in timings.items()}
    # headline order preserved across the concatenation
    assert list(merged) == [n for n in bench.HEADLINE if n in timings]


def test_chunk_queries_skips_failed_and_handles_empty():
    timings = {"q1_pricing_summary": 1.234}
    chunks = bench.chunk_queries(bench.HEADLINE, timings)
    assert chunks == [{"q1_pricing_summary": 1.23}]
    assert bench.chunk_queries(bench.HEADLINE, {}) == []


def test_full_per_query_line_cannot_fit_tail():
    """The premise of the channel fix, pinned so a future headline
    shrink doesn't silently obsolete it: 173 names alone exceed the
    driver's tail capture."""
    assert sum(len(n) for n in bench.HEADLINE) > 2000


def test_bench_source_emits_stable_self_record():
    """The stable-file channel (BENCH_SELF.json / BENCH_SELF_c<cpus>)
    and the per_query_file pointer on the final compact line."""
    src = (REPO / "bench.py").read_text()
    assert "BENCH_SELF" in src
    assert "per_query_file" in src
    # compact line still printed LAST (the tail-survivable total)
    assert src.rstrip().rindex("print(json.dumps(compact))") > src.rindex(
        "headline_queries_chunk"
    )


def test_persist_if_source_large_gates_on_bytes(tmp_path, monkeypatch):
    """verdict #7: the scale-gated persist must stay inline below the
    byte gate (the measured-better sf0.1 form), persist above it, and
    register the persisted frame for release_persisted()."""
    from alexandria_pipeline_spark import get_spark, registry

    spark = get_spark("r13-gate-test", cpus="2")
    df = spark.range(4)
    src = tmp_path / "documents.parquet"
    src.write_bytes(b"x" * 1024)

    out = registry.persist_if_source_large(df, str(tmp_path), min_bytes=4096)
    assert out is df and out.storageLevel.useMemory is False

    out = registry.persist_if_source_large(df, str(tmp_path), min_bytes=512)
    assert out.storageLevel.useMemory is True
    assert registry.release_persisted() >= 1
    # unstatable source: inline, never raises
    out = registry.persist_if_source_large(df, str(tmp_path / "nope"))
    assert out is df


def test_build_jobs_accept_force():
    from alexandria_pipeline_spark.operators.graph import (
        run_jaccard_sig_build_job,
    )
    from alexandria_pipeline_spark.sketch import run_sketch_build_job
    import inspect

    assert "force" in inspect.signature(run_sketch_build_job).parameters
    assert "force" in inspect.signature(run_jaccard_sig_build_job).parameters
