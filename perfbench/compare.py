#!/usr/bin/env python3
"""Compare two sets of benchmark runs.

    python3 perfbench/compare.py BEFORE AFTER [--layers]

BEFORE and AFTER are each a directory of records that run.py wrote
(.perfbench_work/results/*.json), a single record file, or a file of
captured run.py stdout. For every workload x end-to-end metric it
prints both sides' median and quartiles and a verdict under the bound
BENCHMARK.json fixes for that metric:

  worse       the median moved the wrong way by more than the bound
  better      the median improved by more than either side's spread
              (interquartile range over median)
  unchanged   neither, and both spreads are within the bound
  unresolved  a spread is wider than the bound and the runs overlap

From the traced records it then classifies each unit's change in median
time as a plan change (plan_fp differs), a data-movement change
(exec.shuffle_write_bytes or exec.input_bytes differs) or drift (same
plan, same bytes). Records of the same seed are compared pairwise; if
the two sets share no seed, the most common fingerprint and the median
byte counts are compared instead.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import statistics
import sys
from collections import Counter, defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MOVEMENT = ("exec.shuffle_write_bytes", "exec.input_bytes")


def load(path: str) -> list[dict]:
    files = sorted(glob.glob(os.path.join(path, "*.json"))) if os.path.isdir(path) else [path]
    records = []
    for f in files:
        with open(f) as fh:
            text = fh.read()
        for chunk in [text] + text.splitlines():
            try:
                rec = json.loads(chunk)
            except ValueError:
                continue
            if isinstance(rec, dict) and "run_id" in rec and "end_to_end" in rec:
                records.append(rec)
                break
    return records


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, statistics.median(values), q3


def verdict(a: list[float], b: list[float], bound: float, lower_better: bool) -> str:
    qa, qb = quartiles(a), quartiles(b)
    sign = 1 if lower_better else -1
    delta = sign * (qb[1] - qa[1]) / qa[1] if qa[1] else 0.0
    spread = max((q[2] - q[0]) / q[1] if q[1] else 0.0 for q in (qa, qb))
    all_better = all(sign * (x - y) < 0 for x in b for y in a)
    all_worse = all(sign * (x - y) > 0 for x in b for y in a)
    if spread > bound:
        return "better" if all_better else "worse" if all_worse else "unresolved"
    if delta > bound:
        return "worse"
    if delta < 0 and -delta > spread:
        return "better"
    return "unchanged"


def bounds() -> dict[str, tuple[float, bool]]:
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
    except (OSError, ValueError):
        return {}
    return {m["name"]: (m["bound"], m["better"] == "lower") for m in spec["end_to_end"]}


def unit_stats(records: list[dict]) -> dict:
    """unit -> {"t": [median window time per record], "seed": {seed:
    {"fp": plan_fp, bytes...}}} from one side's records."""
    out: dict = defaultdict(lambda: {"t": [], "seed": {}})
    for rec in records:
        times = defaultdict(list)
        for p in rec["passes"]:
            if p.get("window"):
                for u, t in p["times"].items():
                    times[u].append(t)
            elif p["traced"]:
                for u, layer in p.get("units", {}).items():
                    out[u]["seed"].setdefault(
                        rec["seed"],
                        {"fp": layer.get("plan_fp"), **{k: layer.get(k, 0) for k in MOVEMENT}},
                    )
        for u, ts in times.items():
            out[u]["t"].append(statistics.median(ts))
    return out


def classify(a: dict, b: dict) -> str:
    common = sorted(set(a["seed"]) & set(b["seed"]))
    if common:
        pairs = [(a["seed"][s], b["seed"][s]) for s in common]
        if any(x["fp"] != y["fp"] for x, y in pairs):
            return "plan"
        if any(x[k] != y[k] for x, y in pairs for k in MOVEMENT):
            return "data"
        return "drift"
    if not a["seed"] or not b["seed"]:
        return "untraced"

    def mode(side):
        return Counter(v["fp"] for v in side["seed"].values()).most_common(1)[0][0]

    if mode(a) != mode(b):
        return "plan"
    for k in MOVEMENT:
        ma = statistics.median(v[k] for v in a["seed"].values())
        mb = statistics.median(v[k] for v in b["seed"].values())
        if abs(mb - ma) > 0.01 * max(ma, mb, 1):
            return "data"
    return "drift"


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("before")
    ap.add_argument("after")
    ap.add_argument("--layers", action="store_true", help="also print per-layer medians")
    args = ap.parse_args()
    A, B = load(args.before), load(args.after)
    if not A or not B:
        print("no records found on one side", file=sys.stderr)
        return 2
    bnd = bounds()
    workloads = sorted({r["workload"] for r in A} & {r["workload"] for r in B})
    print(f"{'workload':12s} {'metric':14s} {'before med [q1,q3]':>30s} "
          f"{'after med [q1,q3]':>30s} {'delta':>7s}  verdict")
    for w in workloads:
        ra = [r for r in A if r["workload"] == w]
        rb = [r for r in B if r["workload"] == w]
        for m in sorted({k for r in ra + rb for k in r["end_to_end"]}):
            a = [r["end_to_end"][m]["value"] for r in ra if m in r["end_to_end"]]
            b = [r["end_to_end"][m]["value"] for r in rb if m in r["end_to_end"]]
            if not a or not b:
                continue
            bound, lower = bnd.get(m, (0.1, True))
            qa, qb = quartiles(a), quartiles(b)
            delta = (qb[1] - qa[1]) / qa[1] if qa[1] else 0.0
            print(
                f"{w:12s} {m:14s} {qa[1]:9.4g} [{qa[0]:8.4g},{qa[2]:8.4g}] "
                f"{qb[1]:9.4g} [{qb[0]:8.4g},{qb[2]:8.4g}] {delta:+7.1%}  "
                f"{verdict(a, b, bound, lower)} (n={len(a)}/{len(b)}, bound {bound:.0%})"
            )
        if args.layers:
            for m in sorted({k for r in ra + rb for k in r.get("per_layer", {})}):
                a = [r["per_layer"][m]["value"] for r in ra if m in r.get("per_layer", {})]
                b = [r["per_layer"][m]["value"] for r in rb if m in r.get("per_layer", {})]
                if a and b:
                    print(f"{w:12s}   {m:34s} {statistics.median(a):12.5g} -> "
                          f"{statistics.median(b):12.5g}")
        ua, ub = unit_stats(ra), unit_stats(rb)
        print(f"\n{w}: per-unit change (median seconds over window passes)")
        for u in sorted(set(ua) & set(ub)):
            if not ua[u]["t"] or not ub[u]["t"]:
                continue
            ta, tb = statistics.median(ua[u]["t"]), statistics.median(ub[u]["t"])
            print(f"  {u:45s} {ta:8.3f} -> {tb:8.3f} {(tb - ta) / ta:+7.1%}  "
                  f"{classify(ua[u], ub[u])}")
        print()
    return 0


if __name__ == "__main__":
    sys.exit(main())
