"""Per-layer instrumentation for the traced run, applied from outside
the package: wrappers around layer entry points, Spark status-store
stage deltas, plan walks and the plan fingerprint.

Nothing here changes the package. A wrapper is swapped into every
`alexandria_pipeline_spark` module that bound the original function by
name, and swapped back out after the traced pass, so untraced passes
run the package's own code.
"""

from __future__ import annotations

import functools
import hashlib
import importlib.util
import os
import re
import sys
import time

PKG = "alexandria_pipeline_spark"
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def load_repo_module(name: str, rel_path: str):
    """Import a repo file that is not part of the package (the oracle
    helper under tests/, the stage-delta helpers under scripts/)."""
    spec = importlib.util.spec_from_file_location(name, os.path.join(ROOT, rel_path))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


# The status-store and broadcast-size logic of the shuffle audit script,
# reused as is: _stages/_settle read stage attempts over the UI's REST
# API and _broadcast_bytes walks the executed plan.
audit = load_repo_module("perfbench_shuffle_audit", "scripts/shuffle_audit.py")

# Stage fields summed into exec.* metrics: (metric, field, scale).
STAGE_SUMS = [
    ("exec.tasks", "numCompleteTasks", 1),
    ("exec.failed_tasks", "numFailedTasks", 1),
    ("exec.input_bytes", "inputBytes", 1),
    ("exec.input_rows", "inputRecords", 1),
    ("exec.shuffle_write_bytes", "shuffleWriteBytes", 1),
    ("exec.spill_bytes", "diskBytesSpilled", 1),
    ("exec.executor_run_s", "executorRunTime", 1e-3),
    ("exec.executor_cpu_s", "executorCpuTime", 1e-9),
    ("exec.gc_s", "jvmGcTime", 1e-3),
]

# SQL metrics of the Python exec nodes (mapInPandas, applyInPandas,
# Arrow-evaluated pandas UDFs).
PYTHON_METRICS = {
    "pythonNumRowsReceived": "python.rows",
    "pythonDataSent": "python.bytes_in",
    "pythonDataReceived": "python.bytes_out",
}


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def group_cpu_s() -> float:
    """CPU seconds used so far by every process of this process group:
    the worker, its JVM and the JVM's Python workers, with the children
    they reaped. Unlike wall time it does not grow when the host gives
    the CPUs to someone else."""
    pgid = os.getpgrp()
    ticks = 0
    for entry in os.scandir("/proc"):
        if not entry.name.isdigit():
            continue
        try:
            with open(f"/proc/{entry.name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2 :].split()
        if int(fields[2]) == pgid:
            ticks += sum(int(x) for x in fields[11:15])
    return ticks / os.sysconf("SC_CLK_TCK")


def stage_floor(spark) -> int:
    return max((s["stageId"] for s in audit._stages(spark)), default=-1)


def stages_since(spark, floor: int) -> list[dict]:
    return [s for s in audit._settle(spark, floor) if s["stageId"] > floor]


def stage_sums(stages: list[dict]) -> dict[str, float]:
    out = {m: sum(s.get(f, 0) for s in stages) * k for m, f, k in STAGE_SUMS}
    out["exec.stages"] = sum(1 for s in stages if s["status"] != "SKIPPED")
    return out


def group_jobs(spark, group: str) -> int:
    return len(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def _walk(node, visit, seen: set) -> None:
    """Every operator of an executed plan: through AQE wrappers, query
    stages and the cached plans under in-memory scans, each once."""
    cn = node.getClass().getName()
    if "AdaptiveSparkPlan" in cn:
        _walk(node.executedPlan(), visit, seen)
        return
    if "QueryStage" in cn:
        _walk(node.plan(), visit, seen)
        return
    if node.id() in seen:
        return
    seen.add(node.id())
    visit(node)
    if cn.endswith("InMemoryTableScanExec"):
        _walk(node.relation().cachedPlan(), visit, seen)
    ch = node.children()
    for i in range(ch.length()):
        _walk(ch.apply(i), visit, seen)


def plan_metrics(plan) -> dict[str, int]:
    """SQL metrics of the Python exec nodes, and the number of
    whole-stage-codegen stages, over the whole executed plan."""
    out = dict.fromkeys(PYTHON_METRICS.values(), 0)
    out["plans.codegen_stages"] = 0

    def visit(node):
        if node.getClass().getName().endswith("WholeStageCodegenExec"):
            out["plans.codegen_stages"] += 1
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            name = PYTHON_METRICS.get(kv._1())
            if name:
                out[name] += kv._2().value()

    _walk(plan, visit, set())
    return out


_PLAN_NOISE = re.compile(
    r"#\d+L?"  # expression ids
    r"|plan_id=\d+"
    r"|\[id=#?\d+\]"
    r"|\b[0-9a-f]{24}\b"  # digest-keyed materialization directories
    r"|@[0-9a-f]{4,}\b"  # JVM object hashes
)


def plan_fp(df, *paths: str) -> str:
    """Hash of the optimized plan with expression ids, object hashes and
    the run's own directories stripped, so two runs of one plan agree."""
    text = df._jdf.queryExecution().optimizedPlan().toString()
    for p in paths:
        text = text.replace(p, "<dir>")
    return hashlib.sha256(_PLAN_NOISE.sub("", text).encode()).hexdigest()[:16]


def storage_bytes(spark) -> int:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos)


class Counter:
    """Time, calls, Spark jobs and bytes spent inside one wrapped layer
    entry point. `group` is the job group of the unit being traced."""

    def __init__(self) -> None:
        self.seconds = 0.0
        self.calls = 0
        self.jobs = 0
        self.bytes = 0


class Patches:
    """Swap timing wrappers into the package modules, and back out."""

    def __init__(self) -> None:
        self._swaps: list[tuple[object, str, object]] = []

    def wrap(self, orig, make_wrapper) -> None:
        wrapper = make_wrapper(orig)
        functools.update_wrapper(wrapper, orig)
        for name, mod in list(sys.modules.items()):
            if mod is None or not (name == PKG or name.startswith(PKG + ".")):
                continue
            for attr, val in list(vars(mod).items()):
                if val is orig:
                    setattr(mod, attr, wrapper)
                    self._swaps.append((mod, attr, orig))

    def restore(self) -> None:
        while self._swaps:
            mod, attr, orig = self._swaps.pop()
            setattr(mod, attr, orig)


def timed_with_jobs(counter: Counter, spark, tracer, measure_bytes=None):
    """Wrapper factory: adds the call's wall time, the jobs it launched
    in the current job group, and optionally the bytes it wrote."""

    def make(orig):
        def wrapper(*args, **kwargs):
            j0 = group_jobs(spark, tracer.group)
            t0 = time.perf_counter()
            try:
                return orig(*args, **kwargs)
            finally:
                counter.seconds += time.perf_counter() - t0
                counter.calls += 1
                counter.jobs += group_jobs(spark, tracer.group) - j0
                if measure_bytes is not None:
                    counter.bytes += measure_bytes(*args, **kwargs)

        return wrapper

    return make
