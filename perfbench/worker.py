"""Spark side of the benchmark: one fresh process that sets up a
session and runs one workload.

Started by run.py, which owns the generated input tables, the scratch
directories and the environment (TMPDIR, SPARK_LOCAL_DIRS, the sketch
cache). Prints one JSON record as the last line of its stdout.

A workload run is: set-up (get_spark, register_all, one warm-up query,
forced-cold builds of the written-once relations the workload reads),
one checked pass that compares every oracled query with DuckDB and also
warms the JIT, then timed passes until --seconds have elapsed. Every
pass runs each unit (query or job) once, in an order drawn from --seed.
With --trace 1 the second half of the window runs traced passes, which
record the per-layer metrics and cost the tracing overhead.
"""

from __future__ import annotations

import time

T_START = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)

import layers  # noqa: E402
from workloads import WARMUP_QUERY, WORKLOADS  # noqa: E402

JOBS = "jobs"  # the unit that runs the workload's job entry points in order


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def materialize(spark, sf_dir: str, names: list[str]) -> dict:
    """Forced-cold build of each written-once relation, timed, with the
    bytes it wrote. State is always `built`: nothing is served warm."""
    out = {}
    for name in names:
        if name == "sketch":
            from alexandria_pipeline_spark.sketch import (
                run_sketch_build_job as build,
                sketch_location as location,
            )
        else:
            from alexandria_pipeline_spark.operators.graph import (
                jaccard_sig_location as location,
                run_jaccard_sig_build_job as build,
            )
        t0 = time.perf_counter()
        build(spark, sf_dir, force=True)
        dt = time.perf_counter() - t0
        out[name] = {
            "state": "built",
            "forced_cold": True,
            "build_s": dt,
            "bytes_written": layers.dir_bytes(location(sf_dir)),
        }
    return out


def set_up(workload: str, sf_dir: str, t0: float):
    spans = {}
    a = time.monotonic()
    from alexandria_pipeline_spark import QUERIES, get_spark, register_all

    b = time.monotonic()
    spans["import_s"] = b - a
    spark = get_spark(f"perfbench-{workload}")
    spark.sparkContext.setLogLevel("ERROR")
    c = time.monotonic()
    spans["get_spark_s"] = c - b
    register_all()
    d = time.monotonic()
    spans["register_all_s"] = d - c
    force(QUERIES[WARMUP_QUERY](spark, sf_dir))
    spans["warmup_s"] = time.monotonic() - d
    mats = materialize(spark, sf_dir, WORKLOADS[workload]["materialize"])
    spans["setup_s"] = time.monotonic() - t0
    return spark, spans, mats


class Runner:
    def __init__(self, spark, sf_dir: str, work_dir: str) -> None:
        from alexandria_pipeline_spark import ORACLES, QUERIES
        from alexandria_pipeline_spark.operators import jobs
        from alexandria_pipeline_spark.registry import release_persisted

        self.spark = spark
        self.sf_dir = sf_dir
        self.work_dir = work_dir
        self.queries = QUERIES
        self.oracles = ORACLES
        self.jobs = jobs
        self.release = release_persisted
        self.attempted = 0
        self.failed = 0
        self.errors: dict[str, str] = {}
        self.group = ""
        self.cores = spark.sparkContext.defaultParallelism

    def _jobs_block(self, on_job) -> dict:
        """The three reference jobs in dependency order: the embedding job
        on the Arrow-UDF path, the chunked job, and the consolidation of
        their two outputs. `on_job(name, call)` runs and times each."""
        j = self.jobs
        emb_dir = os.path.join(self.work_dir, "job_embedding")
        chk_dir = os.path.join(self.work_dir, "job_chunked")
        con_dir = os.path.join(self.work_dir, "job_consolidated")
        outs = {
            "run_embedding_job": on_job(
                "run_embedding_job",
                lambda: j.run_embedding_job(
                    self.spark, self.sf_dir, emb_dir, use_pandas_udf=True
                ),
            ),
            "run_chunked_embedding_job": on_job(
                "run_chunked_embedding_job",
                lambda: j.run_chunked_embedding_job(self.spark, self.sf_dir, chk_dir),
            ),
        }

        def consolidate():
            titles = self.spark.read.parquet(emb_dir).select("id", "embedding")
            abstracts = self.spark.read.parquet(chk_dir).withColumnRenamed(
                "doc_id", "id"
            )
            return j.run_consolidation_job(self.spark, titles, abstracts, con_dir)

        outs["run_consolidation_job"] = on_job("run_consolidation_job", consolidate)
        for d in (emb_dir, chk_dir, con_dir):
            shutil.rmtree(d, ignore_errors=True)
        return outs

    def _fail(self, name: str, exc: BaseException) -> None:
        self.failed += 1
        self.errors.setdefault(name, f"{type(exc).__name__}: {exc}"[:400])
        print(f"perfbench: {name} failed: {exc!r}"[:2000], file=sys.stderr)

    def timed_pass(self, order: list[str]) -> dict[str, float]:
        """Untraced: each query from the builder call through its noop
        sink; scoped persists are released outside the timing. Returns
        each unit's wall seconds and the CPU seconds its processes used."""
        times: dict[str, float] = {}
        cpu: dict[str, float] = {}

        def run(name, call):
            self.attempted += 1
            c0 = layers.group_cpu_s()
            t0 = time.perf_counter()
            try:
                call()
                times[name] = time.perf_counter() - t0
                cpu[name] = layers.group_cpu_s() - c0
            except Exception as exc:  # noqa: BLE001 - count and go on
                self._fail(name, exc)

        for name in order:
            if name == JOBS:
                self._jobs_block(run)
                continue
            run(name, lambda: force(self.queries[name](self.spark, self.sf_dir)))
            self.release()
        return times, cpu

    def checked_pass(self, order: list[str], oracle_mod) -> tuple[dict, dict]:
        """The first pass after set-up, timed like the others, that also
        checks the outputs. An oracled query's sink here is a collect of
        its rows, compared with DuckDB after its timing; other queries go
        through the noop sink; each job's output is counted after the
        job's timing and must hold one row per document."""
        con = oracle_mod.duck_connection(self.sf_dir)
        n_docs = con.sql("SELECT count(*) FROM documents").fetchone()[0]
        times: dict[str, float] = {}
        checked, mismatched = 0, {}

        def job_rows(name, call):
            self.attempted += 1
            t0 = time.perf_counter()
            try:
                out = call()
                times[name] = time.perf_counter() - t0
                return out.count()
            except Exception as exc:  # noqa: BLE001 - count and go on
                self._fail(name, exc)
                return None

        for name in order:
            if name == JOBS:
                for jname, rows in self._jobs_block(job_rows).items():
                    if rows is not None:
                        checked += 1
                        if rows != n_docs:
                            mismatched[jname] = f"{rows} rows, expected {n_docs}"
                continue
            self.attempted += 1
            t0 = time.perf_counter()
            try:
                df = self.queries[name](self.spark, self.sf_dir)
                if name in self.oracles:
                    rows = [tuple(r) for r in df.collect()]
                    times[name] = time.perf_counter() - t0
                    checked += 1
                    try:
                        oracle_mod.compare(
                            df, con, self.oracles[name], name,
                            collected=(list(df.columns), rows),
                        )
                    except AssertionError as exc:
                        mismatched[name] = str(exc)[:400]
                else:
                    force(df)
                    times[name] = time.perf_counter() - t0
            except Exception as exc:  # noqa: BLE001 - count and go on
                self._fail(name, exc)
            self.release()
        con.close()
        return times, {"checked": checked, "mismatched": mismatched}

    def traced_pass(self, order: list[str]) -> tuple[dict, dict, dict]:
        """Per unit: its own job group, the builder / planning /
        execution split, stage deltas from the status store, Python-node
        SQL metrics, UDF profiler time and the plan fingerprint. Returns
        (unit wall times, per-layer totals, per-unit records)."""
        from alexandria_pipeline_spark.catalog import load_table
        from alexandria_pipeline_spark.sources.parquet import write_sharded

        spark = self.spark
        load_c, sink_c = layers.Counter(), layers.Counter()
        patches = layers.Patches()
        patches.wrap(load_table, layers.timed_with_jobs(load_c, spark, self))
        patches.wrap(
            write_sharded,
            layers.timed_with_jobs(
                sink_c, spark, self, lambda _df, path, *a, **k: layers.dir_bytes(path)
            ),
        )
        spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
        times: dict[str, float] = {}
        per_unit: dict[str, dict] = {}
        exec_run_s = 0.0

        def udf_seconds() -> float:
            try:
                res = spark._profiler_collector._perf_profile_results
                s = sum(st.total_tt for st in res.values())
                spark.profile.clear(type="perf")
                return s
            except Exception:  # noqa: BLE001 - profiler absent: no attribution
                return 0.0

        def begin(name: str) -> tuple[int, int]:
            self.attempted += 1
            self.group = name
            spark.sparkContext.setJobGroup(name, name)
            return layers.group_jobs(spark, name), layers.stage_floor(spark)

        def finish(name: str, rec: dict, jobs0: int, floor0: int, floor1: int) -> None:
            """Stage deltas and the release, after the unit's timing."""
            nonlocal exec_run_s
            stages = layers.stages_since(spark, floor0)
            rec.update(layers.stage_sums(stages))
            rec["exec.jobs"] = layers.group_jobs(spark, name) - jobs0
            exec_run_s += 1e-3 * sum(
                s.get("executorRunTime", 0) for s in stages if s["stageId"] > floor1
            )
            rec["python.udf_s"] = udf_seconds()
            rec["registry.persist_peak_bytes"] = layers.storage_bytes(spark)
            t0 = time.perf_counter()
            rec["registry.released_n"] = self.release()
            rec["registry.release_s"] = time.perf_counter() - t0
            per_unit[name] = rec

        def traced_job(jname, call):
            jobs0, floor0 = begin(jname)
            t0 = time.perf_counter()
            try:
                call()
            except Exception as exc:  # noqa: BLE001 - count and go on
                self._fail(jname, exc)
                return
            times[jname] = time.perf_counter() - t0
            finish(jname, {"exec.exec_s": times[jname]}, jobs0, floor0, floor0)

        try:
            for name in order:
                if name == JOBS:
                    self._jobs_block(traced_job)
                    continue
                jobs0, floor0 = begin(name)
                try:
                    t0 = time.perf_counter()
                    df = self.queries[name](spark, self.sf_dir)
                    t1 = time.perf_counter()
                    build_jobs = layers.group_jobs(spark, name) - jobs0
                    plan = df._jdf.queryExecution().executedPlan()
                    t2 = time.perf_counter()
                    floor1 = layers.stage_floor(spark)
                    t3 = time.perf_counter()
                    plan.execute().count()
                    t4 = time.perf_counter()
                except Exception as exc:  # noqa: BLE001 - count and go on
                    self._fail(name, exc)
                    self.release()
                    continue
                times[name] = (t2 - t0) + (t4 - t3)
                rec = {
                    "registry.build_s": t1 - t0,
                    "registry.build_jobs": build_jobs,
                    "plans.plan_s": t2 - t1,
                    "exec.exec_s": t4 - t3,
                    "exec.broadcast_bytes": layers.audit._broadcast_bytes(plan),
                    # the run's directory holds its tables, relations and job outputs
                    "plan_fp": layers.plan_fp(df, os.path.dirname(self.sf_dir)),
                }
                rec.update(layers.plan_metrics(plan))
                finish(name, rec, jobs0, floor0, floor1)
        finally:
            patches.restore()
            spark.conf.unset("spark.sql.pyspark.udf.profiler")
            spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)

        totals: dict[str, float] = {}
        for rec in per_unit.values():
            for k, v in rec.items():
                if k != "plan_fp" and k != "registry.persist_peak_bytes":
                    totals[k] = totals.get(k, 0) + v
        totals["registry.persist_peak_bytes"] = max(
            (r["registry.persist_peak_bytes"] for r in per_unit.values()), default=0
        )
        totals["catalog.load_table_s"] = load_c.seconds
        totals["catalog.load_table_jobs"] = load_c.jobs
        totals["catalog.load_table_calls"] = load_c.calls
        totals["sources.write_sharded_s"] = sink_c.seconds
        totals["sources.bytes_written"] = sink_c.bytes
        exec_s = totals.get("exec.exec_s", 0.0)
        totals["exec.core_busy_frac"] = (
            exec_run_s / (exec_s * self.cores) if exec_s else 0.0
        )
        return times, totals, per_unit


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--data", required=True, help="directory of generated tables")
    ap.add_argument("--work", required=True, help="scratch directory for job outputs")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--t0", type=float, default=T_START, help="spawn time (monotonic)")
    args = ap.parse_args()

    spark, spans, mats = set_up(args.workload, args.data, args.t0)
    record: dict = {"setup": spans, "materializations": mats}

    wl = WORKLOADS[args.workload]
    units = list(wl["queries"]) + ([JOBS] if wl["jobs"] else [])
    rng = random.Random(args.seed)
    runner = Runner(spark, args.data, args.work)
    oracle_mod = layers.load_repo_module("perfbench_oracle", "tests/oracle.py")

    # The checked pass warms the JIT and is kept out of the metrics; the
    # measured window is the untraced passes that follow it, at least
    # two, until --seconds have elapsed.
    t0 = time.monotonic()
    times, record["oracle"] = runner.checked_pass(rng.sample(units, len(units)), oracle_mod)
    passes = [{"traced": False, "window": False, "checked": True, "times": times}]
    start = time.monotonic()
    record["checked_pass_s"] = start - t0
    while len(passes) < 3 or time.monotonic() - start < args.seconds:
        times, cpu = runner.timed_pass(rng.sample(units, len(units)))
        passes.append({"traced": False, "window": True, "times": times, "cpu": cpu})
    record["window_s"] = time.monotonic() - start
    # Traced run: after the window, warm passes in the order untraced,
    # traced, traced, untraced, so that the JIT still warming up between
    # passes weighs on both sides of trace.overhead_frac alike.
    for traced in (False, True, True, False) if args.trace else ():
        order = rng.sample(units, len(units))
        if traced:
            times, totals, per_unit = runner.traced_pass(order)
            passes.append(
                {"traced": True, "window": False, "times": times,
                 "layers": totals, "units": per_unit}
            )
        else:
            times, _ = runner.timed_pass(order)
            passes.append(
                {"traced": False, "window": False, "reference": True, "times": times}
            )
    spark.stop()
    record.update(
        {
            "passes": passes,
            "units": units,
            "attempted": runner.attempted,
            "failed": runner.failed,
            "errors": runner.errors,
            "cores": runner.cores,
            "spark_graft_env": {
                k: v for k, v in sorted(os.environ.items()) if k.startswith("SPARK_GRAFT_")
            },
        }
    )
    print(json.dumps(record))
    return 0


if __name__ == "__main__":
    sys.exit(main())
