"""ONE-session graph-family stress measurement — round 12.

The r11 verdict's #1/#2: `graph_resource_allocation` shipped with no
sf10 row and an untimed above-gate fallback, and `graph_triangle_count`
(255.3 s inline sf10) was nominated for the written-once treatment.
Round 12 replaced RA's above-gate shuffle-equi-join fallback (sf1
250.4 s in STRESS_r11 — the suite's worst scaler) with the
degree-oriented triangle edge-iterator (_tri_edge_rows, packed-long
adjacency), and the build job now materializes `rascores` (exact RA
scores) and `ntri` (per-node triangle counts) next to `escores`. This
script produces every number the verdict asked for, in ONE fresh
session with the q1 control, interleaved min-of-RUNS:

  A0 sf0.1: control + RA(broadcast plan) + triangle + local_clustering
     (new query's scaling denominator), plus RA with
     SPARK_GRAFT_RA_FORCE_ITER=1 — the above-gate plan timed BELOW the
     gate (the 'force the fallback and time it' ask; its value parity
     is pytest + sweep-checked);
  A  sf1 + sf10 inline (jaccard materialization DISABLED): control,
     RA (above both gates -> the new iterator plan; sf1 directly
     comparable to STRESS_r11's 250.4 s fallback row), triangle
     (above-gate plan unchanged from r11 — its row is the control for
     the read-path delta), local_clustering;
  B  build jobs at sf1/sf10 (force=True), per-phase walls from the
     meta's build_sec (edges/escores/rascores/ntri);
  C  read paths min-of-RUNS at sf1/sf10: jaccard (escores), RA
     (rascores), triangle (ntri), local_clustering (ntri+edges).

Ordering bias note: phase C runs after A, so the page cache is warm
with lineitem; phase B rewrites the derived parquets, which C reads
for the first time — the first C run is the cold-ish read, the min is
steady-state. Writes STRESS_r12.json. Non-graph rows are NOT
re-measured: every other query's plan is unchanged from r11 (see
STRESS_r11.json / STRESS_r10.json).
"""

from __future__ import annotations

import json
import os
import pathlib
import sys
import time

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent))

from alexandria_pipeline_spark import QUERIES, get_spark, register_all
from alexandria_pipeline_spark.registry import release_persisted

RUNS = 3
# RA last: its above-gate exchange is the largest (2T+|E'| contribution
# rows); if it exhausts THIS BOX's disk at sf10 the failure is recorded
# per-query and the cheaper rows still land.
TARGETS = [
    "graph_triangle_count",
    "graph_local_clustering",
    "graph_resource_allocation",
]
READ_PATH = TARGETS + ["graph_jaccard_neighbors"]
CONTROL = "q1_pricing_summary"
SF_DIRS = [("sf1", ".stress/sf1"), ("sf10", ".stress/sf10")]
SF01 = ("sf0.1", "/root/testdata/sf0.1")
OUT = pathlib.Path(__file__).resolve().parent.parent / "STRESS_r12.json"


def timed(spark, name: str, sf_dir: str) -> float:
    t0 = time.monotonic()
    try:
        df = QUERIES[name](spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
    except Exception as exc:  # noqa: BLE001 - record, keep measuring the rest
        release_persisted()
        spark.catalog.clearCache()
        spark.sparkContext._jvm.System.gc()
        raise RuntimeError(f"{name} failed: {type(exc).__name__}") from exc
    dt = round(time.monotonic() - t0, 2)
    release_persisted()
    spark.catalog.clearCache()
    # Shuffle files of FINISHED jobs are reaped by the ContextCleaner
    # only after their RDD handles are garbage-collected; across a
    # dozen sf10 runs in one JVM the dead files accumulate to tens of
    # GB and the first r12 attempt filled the disk mid-phase. A GC
    # nudge per run keeps the local dirs bounded.
    spark.sparkContext._jvm.System.gc()
    return dt


def main() -> int:
    # Phase selection (r12 disk lesson): each phase+sf runs in its own
    # process — a fresh JVM frees the previous phase's shuffle dirs at
    # exit, which one long session never did. scripts/run_stress_r12.sh
    # drives the sequence; results merge into one STRESS_r12.json.
    sel = sys.argv[1] if len(sys.argv) > 1 else "all"
    register_all()
    spark = get_spark("graph-stress-session-r12", cpus="32")
    spark.sparkContext.setLogLevel("ERROR")
    doc = {
        "timings": {},
        "method": (
            "ONE fresh session, interleaved min-of-%d passes back-to-back "
            "(pass 1 runs every query, then pass 2, ...), control row %s; "
            "phase A times the literal inline plans with the jaccard/graph "
            "materialization DISABLED (comparable to STRESS_r11 rows), "
            "phase A0 adds the sf0.1 denominators and the forced "
            "above-gate RA iterator below the gate, phase C times the "
            "written-once read paths after the phase-B builds. All runs "
            "listed; min is the comparison number." % (RUNS, CONTROL)
        ),
        "phase_a0_sf01": {},
        "phase_a_inline": {},
        "phase_b_build": {},
        "phase_c_read": {},
    }

    if OUT.exists():  # merge over earlier phases' results
        prev = json.loads(OUT.read_text())
        for k, v in doc.items():
            if isinstance(v, dict):
                v.update(prev.get(k, {}))

    def flush():
        OUT.write_text(json.dumps(doc, indent=1))

    def phase_on(p: str, sf: str | None = None) -> bool:
        if sel == "all":
            return True
        want = sel.split(":")
        return want[0] == p and (len(want) < 2 or sf is None or want[1] == sf)

    os.environ["SPARK_GRAFT_JACCARD_SIG_DISABLE"] = "1"

    # ---- phase A0: sf0.1 denominators + forced iterator ----
    sf_label, sf_dir = SF01
    if not phase_on("a0"):
        rows = None
    else:
        timed(spark, CONTROL, sf_dir)  # warm-up, untimed
        rows = doc["phase_a0_sf01"]
    for p in range(RUNS if rows is not None else 0):
        for name in [CONTROL] + TARGETS:
            if rows.get(name, {}).get("failed"):
                continue
            try:
                dt = timed(spark, name, sf_dir)
            except RuntimeError as exc:
                rows.setdefault(name, {"runs": []})["failed"] = str(exc)
                print(f"A0 {sf_label} pass{p + 1} {name} FAILED: {exc}", flush=True)
                flush()
                continue
            rows.setdefault(name, {"runs": []})["runs"].append(dt)
            rows[name]["min"] = min(rows[name]["runs"])
            doc["timings"].setdefault(name, {})[sf_label] = rows[name]["min"]
            print(f"A0 {sf_label} pass{p + 1} {name:35s} {dt:9.2f}s", flush=True)
            flush()
        os.environ["SPARK_GRAFT_RA_FORCE_ITER"] = "1"
        dt = timed(spark, "graph_resource_allocation", sf_dir)
        del os.environ["SPARK_GRAFT_RA_FORCE_ITER"]
        k = "graph_resource_allocation[forced_iterator]"
        rows.setdefault(k, {"runs": []})["runs"].append(dt)
        rows[k]["min"] = min(rows[k]["runs"])
        print(f"A0 {sf_label} pass{p + 1} {k:35s} {dt:9.2f}s", flush=True)
        flush()

    # ---- phase A: inline sf1 + sf10 ----
    for sf_label, sf_dir in SF_DIRS:
        if not phase_on("a", sf_label):
            continue
        timed(spark, CONTROL, sf_dir)  # warm-up, untimed
        rows = doc["phase_a_inline"].setdefault(sf_label, {})
        for p in range(RUNS):
            for name in [CONTROL] + TARGETS:
                if rows.get(name, {}).get("failed"):
                    continue
                try:
                    dt = timed(spark, name, sf_dir)
                except RuntimeError as exc:
                    rows.setdefault(name, {"runs": []})["failed"] = str(exc)
                    print(
                        f"A {sf_label} pass{p + 1} {name} FAILED: {exc}",
                        flush=True,
                    )
                    flush()
                    continue
                rows.setdefault(name, {"runs": []})["runs"].append(dt)
                rows[name]["min"] = min(rows[name]["runs"])
                doc["timings"].setdefault(name, {})[sf_label] = rows[name]["min"]
                print(
                    f"A {sf_label} pass{p + 1} {name:35s} {dt:9.2f}s", flush=True
                )
                flush()
    del os.environ["SPARK_GRAFT_JACCARD_SIG_DISABLE"]

    # ---- phase B: builds (edges + escores + rascores + ntri) ----
    from alexandria_pipeline_spark import materialize
    from alexandria_pipeline_spark.operators.graph import JSIG

    for sf_label, sf_dir in SF_DIRS:
        if not phase_on("b", sf_label):
            continue
        t0 = time.monotonic()
        try:
            materialize.build(JSIG, spark, sf_dir, force=True)
        except Exception as exc:  # noqa: BLE001 - record, continue phases
            doc["phase_b_build"][sf_label] = {"failed": f"{type(exc).__name__}"}
            print(f"B {sf_label} build FAILED: {type(exc).__name__}", flush=True)
            flush()
            continue
        rec = {"total_sec": round(time.monotonic() - t0, 2)}
        meta = materialize.fresh(JSIG, sf_dir) or {}
        rec["phases_sec"] = meta.get("build_sec")
        doc["phase_b_build"][sf_label] = rec
        print(f"B {sf_label} build {rec}", flush=True)
        flush()

    # ---- phase C: written-once read paths ----
    for sf_label, sf_dir in SF_DIRS:
        if not phase_on("c", sf_label):
            continue
        rows = doc["phase_c_read"].setdefault(sf_label, {})
        for p in range(RUNS):
            for name in READ_PATH:
                if rows.get(name, {}).get("failed"):
                    continue
                try:
                    dt = timed(spark, name, sf_dir)
                except RuntimeError as exc:
                    rows.setdefault(name, {"runs": []})["failed"] = str(exc)
                    print(
                        f"C {sf_label} pass{p + 1} {name} FAILED: {exc}",
                        flush=True,
                    )
                    flush()
                    continue
                rows.setdefault(name, {"runs": []})["runs"].append(dt)
                rows[name]["min"] = min(rows[name]["runs"])
                print(
                    f"C {sf_label} pass{p + 1} {name:35s} {dt:9.2f}s", flush=True
                )
                flush()

    flush()
    print(f"wrote {OUT.name}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
