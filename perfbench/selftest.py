#!/usr/bin/env python3
"""Fast self-test of the benchmark at sf0.001.

    python3 perfbench/selftest.py

Checks, without running Spark, that every workload entry is a
registered query or a `jobs.py` entry point and that BENCHMARK.json
names exactly the metrics run.py emits, with the same units. Then runs
every workload once, traced, on sf0.001 tables and checks that each
record carries every end-to-end and per-layer metric with a unit, its
provenance, an all-correct oracle pass, and the layer split the
workloads were chosen for: Python-seam rows on pipeline and none on
relational, sketch bytes only where a sketch reader runs.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

from run import END_TO_END, PER_LAYER  # noqa: E402
from workloads import SKETCH_READERS, WARMUP_QUERY, WORKLOADS  # noqa: E402

PROVENANCE = [
    "run_id", "git_rev", "git_dirty", "source_sha", "workload", "seed",
    "sf", "cpus", "spark_graft_env", "materializations",
]


def check_static() -> None:
    from alexandria_pipeline_spark import QUERIES, register_all
    from alexandria_pipeline_spark.operators import jobs

    register_all()
    assert WARMUP_QUERY in QUERIES, WARMUP_QUERY
    for name, wl in WORKLOADS.items():
        unknown = [q for q in wl["queries"] if q not in QUERIES]
        assert not unknown, f"{name}: not registered queries: {unknown}"
        missing = [j for j in wl["jobs"] if not callable(getattr(jobs, j, None))]
        assert not missing, f"{name}: not jobs.py entry points: {missing}"
        assert set(wl["materialize"]) <= {"sketch", "jsig"}, wl["materialize"]
    path = os.path.join(ROOT, "BENCHMARK.json")
    if os.path.exists(path):
        with open(path) as f:
            spec = json.load(f)
        assert {w["name"] for w in spec["workloads"]} == set(WORKLOADS)
        assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
        assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER


def run_workload(name: str) -> tuple[dict, dict]:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", name,
         "--seed", "7", "--seconds", "1", "--trace", "1", "--sf", "0.001"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, f"{name}: exit {proc.returncode}\n{proc.stderr[-3000:]}"
    lines = proc.stdout.strip().splitlines()
    record, result = json.loads(lines[-2]), json.loads(lines[-1])
    return record, result


def check_record(name: str, record: dict, result: dict) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result.keys()
    assert result["correct"] is True, f"{name}: {record.get('oracle_mismatched')} {record.get('errors')}"
    assert result["attempted"] >= 1 and result["failed"] == 0
    for section, names in (("end_to_end", END_TO_END), ("per_layer", PER_LAYER)):
        got = record[section]
        for metric, unit in names.items():
            assert metric in got, f"{name}: {section} lacks {metric}"
            assert got[metric]["unit"] == unit, f"{name}: {metric} unit"
            assert isinstance(got[metric]["value"], (int, float)), f"{name}: {metric}"
    assert set(result["metrics"]) == set(PER_LAYER)
    for key in PROVENANCE:
        assert key in record, f"{name}: record lacks provenance {key}"
    assert record["source_sha"] and record["cpus"] >= 1 and record["sf"] == 0.001
    for rel, state in record["materializations"].items():
        assert state == "built", f"{name}: {rel} {state}"
    assert record["oracle_checked"] > 0 and record["oracle_fail_frac"] == 0


def main() -> int:
    check_static()
    print("static checks: ok", flush=True)
    layer = {}
    for name in WORKLOADS:
        record, result = run_workload(name)
        check_record(name, record, result)
        layer[name] = {k: v["value"] for k, v in record["per_layer"].items()}
        print(f"{name}: ok ({record['run_s']:.0f} s)", flush=True)
    assert layer["pipeline"]["python.rows"] > 0, "no Python-seam rows on pipeline"
    assert layer["relational"]["python.rows"] == 0, "Python-seam rows on relational"
    for name, wl in WORKLOADS.items():
        reads = bool(SKETCH_READERS & set(wl["queries"]))
        assert (layer[name]["sketch.bytes_written"] > 0) == reads, name
    print("selftest: ok")
    return 0


if __name__ == "__main__":
    sys.exit(main())
