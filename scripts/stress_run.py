"""Time registered queries at two scale factors and fold the results
into STRESS_r4.json — the repeatable version of the ad-hoc stress runs.

Usage:
    python scripts/make_stress_sf.py              # once, builds .stress/sf1
    python scripts/stress_run.py q1 q2 ...        # time these queries
    python scripts/stress_run.py --all-new        # every query not yet in STRESS json

Method (matches the recorded runs): one warm-up action per sf_dir, then
a single timed noop-sink write per query (count() would let column
pruning drop the output expressions — it under-measured and masked the
orders_abc sf1 ANSI overflow entirely) — absolute sf1 wall is the
signal, sub-10x scaling vs sf0.1 is the pass bar.
"""

from __future__ import annotations

import json
import pathlib
import sys
import time

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent))

from alexandria_pipeline_spark import QUERIES, get_spark, register_all
from alexandria_pipeline_spark.registry import release_persisted

# r11: the graph family + quality_train were re-measured in ONE fresh
# session (STRESS_r11.json, which this file now appends to for
# --all-new additions); jaccard gained
# the written-once signature read path and quality_train the
# collect-per-step rewrite. Unchanged plans keep their STRESS_r10
# rows (same policy as the r8 -> r9 rollover).
STRESS_JSON = pathlib.Path(__file__).resolve().parent.parent / "STRESS_r11.json"
# Override the measured scale points with e.g.
#   SPARK_GRAFT_STRESS_DIRS="sf0.1=/root/testdata/sf0.1,sf3=.stress/sf3"
import os

_dirs_env = os.environ.get("SPARK_GRAFT_STRESS_DIRS", "")
SF_DIRS = (
    [tuple(p.split("=", 1)) for p in _dirs_env.split(",")]
    if _dirs_env
    else [("sf0.1", "/root/testdata/sf0.1"), ("sf1", ".stress/sf1")]
)


def main() -> int:
    register_all()
    args = sys.argv[1:]
    if not args:
        print(__doc__)
        return 2
    recorded = json.loads(STRESS_JSON.read_text()) if STRESS_JSON.exists() else {
        "timings": {}
    }
    if args == ["--all-new"]:
        names = sorted(
            n
            for n in QUERIES
            if n not in recorded["timings"] and not n.startswith("stream_")
        )
    else:
        names = [n for n in QUERIES if any(s in n for s in args)]
    if not names:
        print("no matching queries")
        return 2
    spark = get_spark("stress-run", cpus="32")
    out: dict[str, dict[str, float]] = {}
    for sf_label, sf_dir in SF_DIRS:
        QUERIES["q1_pricing_summary"](spark, sf_dir).collect()  # warm-up
        for name in names:
            t0 = time.monotonic()
            df = QUERIES[name](spark, sf_dir)
            # noop sink evaluates EVERY output column (count() lets
            # pruning drop final projections and mask runtime errors)
            df.write.format("noop").mode("overwrite").save()
            dt = round(time.monotonic() - t0, 2)
            out.setdefault(name, {})[sf_label] = dt
            print(f"{name:40s} {sf_label:6s} {dt:8.2f}s", flush=True)
            # queries persist frames their returned DataFrame still
            # references, so they cannot unpersist themselves; without
            # this, query N's timing includes query 1..N-1's leftover
            # storage thrash (measured: graph_triangle_count sf3 went
            # 39.6s solo -> 143.8s ninth-in-session)
            release_persisted()
            spark.catalog.clearCache()
            # persist INCREMENTALLY: a hung query (or a killed run)
            # must not lose every prior timing — the r7 sf1 sweep lost
            # 324 measurements to a write-at-exit design when
            # dedup_edit_distance hung. Merge per-SF rows so a partial
            # re-run never drops previously recorded scale points.
            recorded["timings"].setdefault(name, {})[sf_label] = dt
            STRESS_JSON.write_text(json.dumps(recorded, indent=1))
    print(f"recorded {len(out)} queries into {STRESS_JSON.name}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
