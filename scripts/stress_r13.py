#!/usr/bin/env python
"""Round-13 scale validation — verdict items #5 and #6.

Phase E (sf1, verdict #6): the cached-edges read path, measured as the
cold-build / read / inline TRIPLE for the 8 graph-family consumers,
with the build cost in the same table:
  - build: materialize.build(JSIG, force=True) wall + per-phase meta;
  - read: min-of-RUNS per query with the fresh materialization;
  - inline: min-of-RUNS with SPARK_GRAFT_JACCARD_SIG_DISABLE=1.
  q1_pricing_summary rides every panel as the host-drift control.

Phase F (sf10, verdict #5): graph_local_clustering and
graph_resource_allocation ABOVE the gate in BOTH forms, inline
(materializations disabled so the literal plans are timed):
  - edge_rows: the shipped routing (_tri_edge_rows iterator);
  - forced_bcast: SPARK_GRAFT_RA_ADJ_LIMIT=200000000 forces the
    below-gate _tri_closed_bcast form at sf10 (|E| packed longs +
    degree frames broadcast).
Each phase writes/updates STRESS_r13.json after every row so an
interrupted run keeps its numbers. Fresh session per (phase, form):
the r12 lesson — long shared-session panels at sf1+ accumulate
cache/GC bleed that min-of-N does not cancel.

Usage: python scripts/stress_r13.py e|f [--runs N]
"""

from __future__ import annotations

import argparse
import json
import os
import pathlib
import subprocess
import sys
import time

REPO = pathlib.Path(__file__).resolve().parent.parent
OUT = REPO / "STRESS_r13.json"
SF1 = str(REPO / ".stress" / "sf1")
SF10 = str(REPO / ".stress" / "sf10")
CONTROL = "q1_pricing_summary"
GRAPH8 = [
    "graph_triangle_count",
    "graph_jaccard_neighbors",
    "graph_resource_allocation",
    "graph_local_clustering",
    "graph_kcore_summary",
    "graph_degree_assortativity",
    "graph_label_propagation",
    "graph_lpa_modularity",
]


def _record(key: str, value) -> None:
    doc = json.loads(OUT.read_text()) if OUT.exists() else {}
    doc[key] = value
    OUT.write_text(json.dumps(doc, indent=1))
    print(f"[stress_r13] {key} = {json.dumps(value)[:200]}", flush=True)


def _panel_child(sf_dir: str, queries: list[str], runs: int, env: dict) -> dict:
    """Run a fresh-session timing panel in a child process; returns
    {query: {runs: [...], min: x}}."""
    code = f"""
import json, sys, time
sys.path.insert(0, {str(REPO)!r})
from alexandria_pipeline_spark import QUERIES, get_spark, register_all
from alexandria_pipeline_spark.registry import release_persisted
register_all()
spark = get_spark("stress-r13")
spark.sparkContext.setLogLevel("ERROR")
queries = {queries!r}
runs = {runs}
out = {{q: [] for q in queries}}
spark.sparkContext.setJobDescription("stress_r13 warmup")
QUERIES[{CONTROL!r}](spark, {sf_dir!r}).write.format("noop").mode("overwrite").save()
release_persisted()
for r in range(runs):
    for q in queries:
        spark.sparkContext.setJobDescription(f"stress_r13 {{q}} pass {{r}}")
        t0 = time.monotonic()
        QUERIES[q](spark, {sf_dir!r}).write.format("noop").mode("overwrite").save()
        out[q].append(round(time.monotonic() - t0, 2))
        release_persisted()
        spark.catalog.clearCache()
print("STRESS_ROW " + json.dumps({{q: {{"runs": v, "min": min(v)}} for q, v in out.items()}}))
spark.stop()
"""
    child_env = dict(os.environ)
    child_env.update(env)
    child_env.setdefault("SPARK_GRAFT_CPUS", "32")
    proc = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True,
        text=True,
        env=child_env,
        cwd=REPO,
        check=False,
    )
    for line in proc.stdout.splitlines():
        if line.startswith("STRESS_ROW "):
            return json.loads(line[len("STRESS_ROW "):])
    raise SystemExit(
        f"panel failed:\n{proc.stdout[-2000:]}\n{proc.stderr[-3000:]}"
    )


def _build_job(sf_dir: str) -> dict:
    code = f"""
import json, sys, time
sys.path.insert(0, {str(REPO)!r})
from alexandria_pipeline_spark import get_spark, materialize, register_all
from alexandria_pipeline_spark.operators.graph import JSIG
register_all()
spark = get_spark("stress-r13-build")
spark.sparkContext.setLogLevel("ERROR")
t0 = time.monotonic()
materialize.build(JSIG, spark, {sf_dir!r}, force=True)
wall = round(time.monotonic() - t0, 2)
meta = materialize.fresh(JSIG, {sf_dir!r}) or {{}}
print("STRESS_ROW " + json.dumps({{
    "wall": wall,
    "below_gate": bool(meta.get("below_gate")),
    "phases": meta.get("build_sec"),
}}))
spark.stop()
"""
    env = dict(os.environ)
    env.setdefault("SPARK_GRAFT_CPUS", "32")
    proc = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True, text=True, env=env, cwd=REPO, check=False,
    )
    for line in proc.stdout.splitlines():
        if line.startswith("STRESS_ROW "):
            return json.loads(line[len("STRESS_ROW "):])
    raise SystemExit(f"build failed:\n{proc.stdout[-2000:]}\n{proc.stderr[-3000:]}")


def phase_e(runs: int) -> None:
    queries = [CONTROL] + GRAPH8
    # inline FIRST (no materialization present), then cold build, then read
    import shutil

    shutil.rmtree("/tmp/spark_graft_sketch_cache", ignore_errors=True)
    _record(
        "e_sf1_inline",
        _panel_child(SF1, queries, runs, {"SPARK_GRAFT_JACCARD_SIG_DISABLE": "1"}),
    )
    _record("e_sf1_build", _build_job(SF1))
    _record("e_sf1_read", _panel_child(SF1, queries, runs, {}))


def phase_f(runs: int) -> None:
    """Four single-run fresh-session panels in ABBA order (edge_rows,
    forced_bcast, forced_bcast, edge_rows): the comparison number per
    form is the min ACROSS sessions — sturdier against this host's
    burst noise than min-of-N inside one session at 400 s scale, for
    half the wall of per-panel min-of-2."""
    queries = [CONTROL, "graph_local_clustering", "graph_resource_allocation"]
    env_inline = {"SPARK_GRAFT_JACCARD_SIG_DISABLE": "1"}
    env_forced = {**env_inline, "SPARK_GRAFT_RA_ADJ_LIMIT": "200000000"}
    for key, env in (
        ("f_sf10_edge_rows_a", env_inline),
        ("f_sf10_forced_bcast_a", env_forced),
        ("f_sf10_forced_bcast_b", env_forced),
        ("f_sf10_edge_rows_b", env_inline),
    ):
        doc = json.loads(OUT.read_text()) if OUT.exists() else {}
        if key in doc:
            continue
        try:
            _record(key, _panel_child(SF10, queries, runs, env))
        except SystemExit as exc:
            _record(key, {"error": str(exc)[:2000]})


def phase_p() -> None:
    """Forced-path value parity at sf1 (verdict #5's oracle ask): at
    sf1 raw_pairs ≈ 12 M > RA_ADJ_BROADCAST_LIMIT, so the natural
    route is _tri_edge_rows (oracle-checked at small SFs since r11).
    Run LCC and RA once per form in one session and compare the full
    sorted row sets — the forced _tri_closed_bcast plan must be
    value-identical where it would normally never run."""
    code = f"""
import json, os, sys
sys.path.insert(0, {str(REPO)!r})
from alexandria_pipeline_spark import QUERIES, get_spark, register_all
from alexandria_pipeline_spark.registry import release_persisted
register_all()
spark = get_spark("stress-r13-parity")
spark.sparkContext.setLogLevel("ERROR")
out = {{}}
for q in ("graph_local_clustering", "graph_resource_allocation"):
    rows = {{}}
    for form, env in (("edge_rows", None), ("forced_bcast", "200000000")):
        if env is None:
            os.environ.pop("SPARK_GRAFT_RA_ADJ_LIMIT", None)
        else:
            os.environ["SPARK_GRAFT_RA_ADJ_LIMIT"] = env
        df = QUERIES[q](spark, {SF1!r})
        rows[form] = sorted(tuple(r) for r in df.collect())
        release_persisted()
        spark.catalog.clearCache()
    out[q] = {{
        "n_rows": len(rows["edge_rows"]),
        "identical": rows["edge_rows"] == rows["forced_bcast"],
    }}
print("STRESS_ROW " + json.dumps(out))
spark.stop()
"""
    env = dict(os.environ)
    env.setdefault("SPARK_GRAFT_CPUS", "32")
    env["SPARK_GRAFT_JACCARD_SIG_DISABLE"] = "1"
    proc = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True, text=True, env=env, cwd=REPO, check=False,
    )
    for line in proc.stdout.splitlines():
        if line.startswith("STRESS_ROW "):
            _record("p_sf1_forced_path_parity", json.loads(line[len("STRESS_ROW "):]))
            return
    raise SystemExit(f"parity failed:\n{proc.stdout[-2000:]}\n{proc.stderr[-3000:]}")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("phase", choices=["e", "f", "p"])
    ap.add_argument("--runs", type=int, default=3)
    args = ap.parse_args()
    if args.phase == "e":
        phase_e(args.runs)
    elif args.phase == "p":
        phase_p()
    else:
        phase_f(1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
