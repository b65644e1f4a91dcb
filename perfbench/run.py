#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 10 --trace 0

Generates the input tables from --seed, starts a fresh Spark process
(perfbench/worker.py) at local[<cpus>], checks every oracled query
against DuckDB, and prints two JSON lines: the full record (provenance,
every pass, every metric) and, last, the result
{"correct", "attempted", "failed", "metrics"} with the end-to-end
metrics (--trace 0) or the per-layer metrics (--trace 1). The full
record is also written under .perfbench_work/results/ for compare.py.

Everything the run writes stays under <repo>/.perfbench_work/; the
per-run directory (tables, Spark scratch, relation caches, job outputs)
is removed at the end.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
sys.path.insert(0, HERE)

from workloads import WORKLOADS  # noqa: E402

SF = 0.01  # scale factor of the generated tables (see README.md, Sizing)
DEADLINE_S = 170  # a run never outlives this, whatever --seconds says
DRIVER_MEM = "3g"

# Files the benchmark needs from the program; without them it refuses.
REQUIRED = [
    "alexandria_pipeline_spark/__init__.py",
    "tests/oracle.py",
    "scripts/shuffle_audit.py",
]

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "query_p50_s": "s",
    "query_tail_s": "s",
}

PER_LAYER = {
    "session.get_spark_s": "s",
    "registry.register_all_s": "s",
    "session.warmup_s": "s",
    "catalog.load_table_s": "s",
    "catalog.load_table_jobs": "count",
    "registry.build_s": "s",
    "registry.build_jobs": "count",
    "registry.build_share": "ratio",
    "plans.plan_s": "s",
    "plans.codegen_stages": "count",
    "exec.exec_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.input_bytes": "B",
    "exec.input_rows": "count",
    "exec.shuffle_write_bytes": "B",
    "exec.spill_bytes": "B",
    "exec.broadcast_bytes": "B",
    "exec.executor_run_s": "s",
    "exec.executor_cpu_s": "s",
    "exec.gc_s": "s",
    "exec.failed_tasks": "count",
    "exec.core_busy_frac": "ratio",
    "python.rows": "count",
    "python.bytes_in": "B",
    "python.bytes_out": "B",
    "python.udf_s": "s",
    "sketch.build_s": "s",
    "sketch.bytes_written": "B",
    "graph.jsig_build_s": "s",
    "graph.jsig_bytes_written": "B",
    "sources.write_sharded_s": "s",
    "sources.bytes_written": "B",
    "registry.release_s": "s",
    "registry.released_n": "count",
    "registry.persist_peak_bytes": "B",
    "trace.overhead_frac": "ratio",
}


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def cpus() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def provenance_rev() -> dict:
    """Git rev and dirty flag when the checkout is a git work tree, and
    always a hash of the program's and the benchmark's sources, so two
    records of different code can be told apart without git."""
    rev = dirty = None
    try:
        rev = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
            text=True, timeout=10,
        ).stdout.strip() or None
        if rev:
            dirty = bool(
                subprocess.run(
                    ["git", "status", "--porcelain", "--untracked-files=no"],
                    cwd=ROOT, capture_output=True, text=True, timeout=10,
                ).stdout.strip()
            )
    except (OSError, subprocess.SubprocessError):
        pass
    h = hashlib.sha256()
    for top in ("alexandria_pipeline_spark", "perfbench"):
        for root, dirs, files in os.walk(os.path.join(ROOT, top)):
            dirs[:] = sorted(d for d in dirs if d != "__pycache__")
            for name in sorted(files):
                if name.endswith(".py"):
                    path = os.path.join(root, name)
                    h.update(os.path.relpath(path, ROOT).encode())
                    with open(path, "rb") as f:
                        h.update(f.read())
    return {"git_rev": rev, "git_dirty": dirty, "source_sha": h.hexdigest()[:16]}


def run_child(argv: list[str], env: dict, log_path: str, deadline: float) -> dict:
    """Run one worker process in its own process group, wait for it and
    for everything it started (the Spark JVM), and parse its record."""
    with open(log_path, "ab") as err:
        proc = subprocess.Popen(
            argv, cwd=ROOT, env=env, stdout=subprocess.PIPE, stderr=err,
            start_new_session=True,
        )
        try:
            out, _ = proc.communicate(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            out = b""
            log("worker ran past the run's deadline; killing it")
        finally:
            reap_group(proc)
    if proc.returncode != 0 or not out.strip():
        with open(log_path, "rb") as f:
            tail = f.read()[-3000:].decode(errors="replace")
        raise RuntimeError(f"worker failed (exit {proc.returncode}):\n{tail}")
    return json.loads(out.decode().strip().splitlines()[-1])


def reap_group(proc: subprocess.Popen) -> None:
    pgid = proc.pid
    for sig, wait_s in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            break
        end = time.monotonic() + wait_s
        while time.monotonic() < end:
            if proc.poll() is not None:
                try:
                    os.killpg(pgid, 0)
                except ProcessLookupError:
                    break
            time.sleep(0.1)
    proc.wait()


def tail_percentile(samples: list[float]) -> tuple[float, float, int]:
    """The highest nearest-rank percentile with at least ten samples
    above it: (value, percentile, samples beyond). Below 20 samples that
    percentile would sit under the 50th, so the maximum is reported."""
    s = sorted(samples)
    n = len(s)
    if n < 20:
        return s[-1], 100.0, 0
    k = n - 10
    return s[k - 1], 100.0 * k / n, 10


def median_of(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def metrics_of(main: dict) -> tuple[dict, dict]:
    """(end-to-end values, details and per-layer values) from the
    worker's record. Each unit's time is its minimum over the window's
    passes, the estimator bench.py uses against host noise; wall_s is
    their sum."""
    window = [p for p in main["passes"] if p["window"]]
    traced = [p for p in main["passes"] if p["traced"]]
    reference = [p for p in main["passes"] if p.get("reference")]
    units = sorted({u for p in window for u in p["times"]})
    best = {u: min(p["times"][u] for p in window if u in p["times"]) for u in units}
    best_cpu = {u: min(p["cpu"][u] for p in window if u in p["cpu"]) for u in units}
    tail, pct, beyond = tail_percentile(list(best.values()))
    e2e = {
        "setup_s": main["setup"]["setup_s"],
        "wall_s": sum(best.values()),
        "query_p50_s": median_of(list(best.values())),
        "query_tail_s": tail,
    }
    e2e_info = {
        "cpu_s": sum(best_cpu.values()),
        "window_passes": len(window),
        "unit_min_s": best,
        "unit_min_cpu_s": best_cpu,
        "pass_wall_s": [sum(p["times"].values()) for p in window],
        "query_samples": len(best),
        "query_tail_percentile": pct,
        "query_tail_beyond": beyond,
    }

    layer: dict[str, float] = {}
    if traced:
        keys = {k for p in traced for k in p["layers"]}
        for k in keys:
            layer[k] = median_of([p["layers"].get(k, 0) for p in traced])
        shares = []
        for p in traced:
            lay = p["layers"]
            tot = sum(lay.get(k, 0) for k in ("registry.build_s", "plans.plan_s", "exec.exec_s"))
            shares.append(lay.get("registry.build_s", 0) / tot if tot else 0.0)
        layer["registry.build_share"] = median_of(shares)
        traced_wall = median_of([sum(p["times"].values()) for p in traced])
        ref_wall = median_of([sum(p["times"].values()) for p in reference])
        layer["trace.overhead_frac"] = traced_wall / ref_wall - 1 if ref_wall else 0.0
    for name, key in (
        ("session.get_spark_s", "get_spark_s"),
        ("registry.register_all_s", "register_all_s"),
        ("session.warmup_s", "warmup_s"),
    ):
        layer[name] = main["setup"][key]
    for rel, prefix in (("sketch", "sketch."), ("jsig", "graph.jsig_")):
        built = main["materializations"].get(rel, {})
        layer[prefix + "build_s"] = built.get("build_s", 0.0)
        layer[prefix + "bytes_written"] = built.get("bytes_written", 0)
    return e2e, {**e2e_info, "layer": layer}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=SF)
    args = ap.parse_args()
    t_start = time.monotonic()
    deadline = t_start + DEADLINE_S

    missing = [p for p in REQUIRED if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        log(f"not inside the program's checkout: missing {', '.join(missing)}")
        return 2

    run_id = uuid.uuid4().hex[:12]
    work = os.path.join(WORK_ROOT, f"run-{run_id}")
    data = os.path.join(work, "data")
    tmp = os.path.join(work, "tmp")
    for d in (data, tmp, os.path.join(work, "spark-local"), os.path.join(work, "jobs")):
        os.makedirs(d, exist_ok=True)
    results_dir = os.path.join(WORK_ROOT, "results")
    os.makedirs(results_dir, exist_ok=True)
    log_path = os.path.join(work, "worker.log")

    env = dict(os.environ)
    env.update(
        {
            "TMPDIR": tmp,
            "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
            "SPARK_GRAFT_SKETCH_CACHE": os.path.join(work, "relations"),
            "SPARK_GRAFT_CPUS": str(cpus()),
            "SPARK_GRAFT_REQUIRE_UTC": "1",
            "SPARK_GRAFT_DRIVER_MEM": env.get("SPARK_GRAFT_DRIVER_MEM", DRIVER_MEM),
            "SPARK_GRAFT_EXTRA_CONF": ";".join(
                c for c in (
                    env.get("SPARK_GRAFT_EXTRA_CONF", ""),
                    f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp}",
                ) if c
            ),
        }
    )
    env.pop("SPARK_GRAFT_MASTER", None)

    phases = {}
    try:
        import datagen

        datagen.generate(data, args.seed, args.sf)
        worker = [sys.executable, os.path.join(HERE, "worker.py"),
                  "--workload", args.workload, "--data", data,
                  "--work", os.path.join(work, "jobs")]
        t0 = time.monotonic()
        phases["datagen_s"] = t0 - t_start
        main_rec = run_child(
            worker + ["--seed", str(args.seed), "--seconds", str(args.seconds),
                      "--trace", str(args.trace), "--t0", str(t0)],
            env, log_path, deadline,
        )
        phases["main_worker_s"] = time.monotonic() - t0
        phases["checked_pass_s"] = main_rec["checked_pass_s"]
        phases["window_s"] = main_rec["window_s"]
    except Exception as exc:  # noqa: BLE001 - no result line on failure
        log(f"run failed: {exc}")
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)

    e2e, info = metrics_of(main_rec)
    oracle = main_rec["oracle"]
    untraced = [p for p in main_rec["passes"] if p["window"]]
    complete = all(len(p["times"]) == len(main_rec["passes"][0]["times"]) for p in main_rec["passes"])
    attempted = main_rec["attempted"]
    failed = main_rec["failed"]
    oracle_fail_frac = len(oracle["mismatched"]) / oracle["checked"] if oracle["checked"] else 1.0
    correct = failed == 0 and not oracle["mismatched"] and oracle["checked"] > 0 and complete and bool(untraced)
    if oracle["mismatched"]:
        log(f"ORACLE MISMATCH: {json.dumps(oracle['mismatched'])[:3000]}")

    record = {
        "run_id": run_id,
        **provenance_rev(),
        "workload": args.workload,
        "seed": args.seed,
        "sf": args.sf,
        "cpus": main_rec["cores"],
        "seconds": args.seconds,
        "trace": args.trace,
        "spark_graft_env": main_rec["spark_graft_env"],
        "materializations": {
            rel: m["state"] for rel, m in main_rec["materializations"].items()
        },
        "run_s": time.monotonic() - t_start,
        "phases": phases,
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "failed_frac": failed / attempted if attempted else 1.0,
        "oracle_checked": oracle["checked"],
        "oracle_fail_frac": oracle_fail_frac,
        "oracle_mismatched": oracle["mismatched"],
        "errors": main_rec["errors"],
        "end_to_end": {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()},
        "end_to_end_detail": {k: v for k, v in info.items() if k != "layer"},
        "per_layer": {
            k: {"value": info["layer"].get(k, 0.0), "unit": u} for k, u in PER_LAYER.items()
        } if args.trace else {},
        "setup": main_rec["setup"],
        "materialization_detail": main_rec["materializations"],
        "passes": main_rec["passes"],
    }
    path = os.path.join(results_dir, f"{args.workload}-s{args.seed}-t{args.trace}-{run_id}.json")
    with open(path, "w") as f:
        json.dump(record, f, indent=1)
    print(json.dumps(record, separators=(",", ":")))
    metrics = record["per_layer"] if args.trace else record["end_to_end"]
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
