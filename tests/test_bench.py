"""bench.py's output contract and the package's import hygiene, checked
without starting Spark."""

from __future__ import annotations

import json
import os
import pathlib
import re
import subprocess
import sys

REPO = pathlib.Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

import bench  # noqa: E402 - repo-root import


def test_importing_bench_and_package_leaves_environ_unchanged():
    """Importing bench or any package module must not touch the
    process environment (a setdefault at import turned a later test's
    timezone warning into a raise), and must not fail on a malformed
    SPARK_GRAFT_* value: the probe runs once with none set and once
    with every name the package or bench reads set to "x". Run in a
    fresh interpreter: this process has imported everything already."""
    probe = """
import importlib, os, pkgutil, sys
sys.path.insert(0, sys.argv[1])
before = dict(os.environ)
import alexandria_pipeline_spark as pkg
import bench
for m in pkgutil.walk_packages(pkg.__path__, pkg.__name__ + "."):
    importlib.import_module(m.name)
after = dict(os.environ)
changed = sorted(k for k in before.keys() | after.keys() if before.get(k) != after.get(k))
print(changed)
"""
    clean = {
        k: v
        for k, v in os.environ.items()
        if not k.startswith("SPARK_GRAFT_")
    }
    sources = [REPO / "bench.py", *(REPO / "alexandria_pipeline_spark").rglob("*.py")]
    names = {
        n for f in sources for n in re.findall(r"SPARK_GRAFT_[A-Z0-9_]+", f.read_text())
    }
    assert names
    malformed = {**clean, **dict.fromkeys(names, "x")}
    for env in (clean, malformed):
        out = subprocess.run(
            [sys.executable, "-c", probe, str(REPO)],
            capture_output=True,
            text=True,
            env=env,
            timeout=300,
        )
        assert out.returncode == 0, out.stderr[-2000:]
        assert out.stdout.strip().splitlines()[-1] == "[]", out.stdout


def test_self_record_pointer_is_null_when_write_fails(tmp_path, capsys):
    out = {"metric": "headline_queries_total_sec", "value": 1.0}
    assert bench.write_self_record(out, "8", str(tmp_path / "missing")) is None
    assert "self-record write failed" in capsys.readouterr().err

    assert bench.write_self_record(out, "8", str(tmp_path)) == "BENCH_SELF_c8.json"
    for name in ("BENCH_SELF_c8.json", "BENCH_SELF.json"):
        assert json.loads((tmp_path / name).read_text()) == out
    assert bench.write_self_record(out, "", str(tmp_path)) == "BENCH_SELF.json"


def test_chunk_lines_stay_under_budget_for_huge_timings():
    """A pathological timing (above 99999 s) widens every value; each
    chunk must still serialize within the budget, and the chunks must
    merge back to the full map in headline order."""
    headline = [f"query_with_a_long_name_{i:03d}" for i in range(200)]
    timings = {name: 123456789.126 + i for i, name in enumerate(headline)}
    budget = 1200
    chunks = bench.chunk_queries(headline, timings, budget)
    assert len(chunks) > 1
    for ch in chunks:
        assert len(json.dumps(ch)) <= budget, len(json.dumps(ch))
        line = json.dumps(
            {"metric": "headline_queries_chunk", "chunk": 1, "n_chunks": 1, "queries": ch},
            separators=(",", ":"),
        )
        assert len(line) < 1600, len(line)
    merged = {k: v for ch in chunks for k, v in ch.items()}
    assert list(merged) == headline
    assert merged == {k: round(v, 2) for k, v in timings.items()}
