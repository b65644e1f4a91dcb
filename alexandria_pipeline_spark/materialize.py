"""Written-once relations: a derived relation that is expensive to
compute, written to parquet once, and read by every later consumer.

Reference analog: the reference writes its expensive intermediate
(embeddings) to shard files exactly once and every later pass reads
those shards (`run.py:64-67`, `process.py:26-44`). A relation here is
a `Relation` registration; this module is the only code that knows the
contract every registration shares:

- **Stat-digest freshness.** A relation is keyed by the
  `catalog.stat_digest` of its source table (path, size and mtime_ns
  of every part file) and lives at `<cache>/<name>-<digest>`, with the
  cache root from SPARK_GRAFT_SKETCH_CACHE (default
  `<tmpdir>/spark_graft_sketch_cache`, outside the read-only testdata
  tree). Freshness never re-reads the source: at 100 TB that would
  cost as much as the build, and parquet writers never mutate part
  files in place, so a regenerated source always has a new digest.
- **Format stamp.** The meta records the relation's format string;
  a different stamp reads as absent, so a change to the expression or
  the schema a build writes invalidates warm caches instead of
  serving pre-change values.
- **Meta committed last.** `build` clears the location, runs the
  relation's build, and only then writes `_<name>_meta.json`. The
  source digest is taken before the build runs, so a source rewritten
  during the build leaves the relation stale, and a crash mid-build
  leaves a location without meta, which reads as absent.
- **Inline fallback.** A consumer calls `serve`; on None it computes
  the relation inline. Each build writes exactly its inline frames,
  so the two paths are value-identical.
- **Disable env.** A relation's disable env var (see
  `registry.env_flag`) makes `serve` return None. It affects reads
  only: `build` still writes the relation when called (the bench
  skips calling it and records the relation as `disabled`).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import SparkSession

from alexandria_pipeline_spark.catalog import stat_digest
from alexandria_pipeline_spark.registry import env_flag


@dataclass(frozen=True)
class Relation:
    """One written-once relation. `build(spark, sf_dir, loc)` writes
    the relation's parquet under `loc` and returns the extra fields
    its meta records."""

    name: str
    source: str  # the table under sf_dir whose stat digest keys the relation
    format: str
    disable_env: str
    build: Callable[[SparkSession, str, str], dict]


REGISTRY: dict[str, Relation] = {}


def register(rel: Relation) -> Relation:
    REGISTRY[rel.name] = rel
    return rel


def _locate(rel: Relation, sf_dir: str) -> tuple[str, str]:
    """(source digest, location). Raises OSError when the source
    cannot be stat'ed."""
    digest = stat_digest(os.path.join(sf_dir, f"{rel.source}.parquet"))
    root = os.environ.get(
        "SPARK_GRAFT_SKETCH_CACHE",
        os.path.join(tempfile.gettempdir(), "spark_graft_sketch_cache"),
    )
    return digest, os.path.join(root, f"{rel.name}-{digest}")


def _meta_path(rel: Relation, loc: str) -> str:
    return os.path.join(loc, f"_{rel.name}_meta.json")


def location(rel: Relation, sf_dir: str) -> str:
    return _locate(rel, sf_dir)[1]


def fresh(rel: Relation, sf_dir: str) -> dict | None:
    """The fresh materialization's meta with its location as `loc`,
    else None: meta missing or unreadable, digest or format differs,
    or the source cannot be stat'ed."""
    try:
        digest, loc = _locate(rel, sf_dir)
        with open(_meta_path(rel, loc)) as f:
            meta = json.load(f)
    except (OSError, ValueError):
        return None
    if (
        not isinstance(meta, dict)
        or meta.get("digest") != digest
        or meta.get("format") != rel.format
    ):
        return None
    meta["loc"] = loc
    return meta


def _disabled(rel: Relation) -> bool:
    return env_flag(rel.disable_env)


def serve(rel: Relation, sf_dir: str) -> dict | None:
    """What consumers call: `fresh`, or None when the relation's
    disable env is set. None means compute inline."""
    return None if _disabled(rel) else fresh(rel, sf_dir)


def build(
    rel: Relation, spark: SparkSession, sf_dir: str, force: bool = False
) -> str:
    """Write the relation for sf_dir unless it is already fresh (or
    `force`), then commit its meta. Returns the location."""
    if not force:
        meta = fresh(rel, sf_dir)
        if meta is not None:
            return meta["loc"]
    digest, loc = _locate(rel, sf_dir)
    # A full rebuild: no subdirectory of an earlier layout survives,
    # and readers see no meta here until the new one commits.
    shutil.rmtree(loc, ignore_errors=True)
    extra = rel.build(spark, sf_dir, loc)
    os.makedirs(loc, exist_ok=True)
    doc = {
        "digest": digest,
        "format": rel.format,
        "source": os.path.abspath(sf_dir),
        **extra,
    }
    with open(_meta_path(rel, loc), "w") as f:
        json.dump(doc, f)
    return loc


def bench_record(
    rel: Relation, spark: SparkSession, sf_dir: str, allow_warm: bool
) -> dict:
    """Build the relation for a bench run and return its provenance
    record: {digest, state, build_sec, forced_cold}. state is `hit`
    (a fresh cache served; only when allow_warm), `built`, `disabled`
    (consumers read inline; nothing is built) or `failed` (with the
    error; consumers read inline). Without allow_warm the build is
    forced, so a bench number never rests on a cache from another run.
    A relation whose meta records per-phase build walls (`build_sec`)
    also reports them as `phases`, with its `below_gate` flag."""
    try:
        rec: dict = {"digest": _locate(rel, sf_dir)[0]}
        if _disabled(rel):
            rec["state"], rec["build_sec"] = "disabled", None
            return rec
        hit = allow_warm and fresh(rel, sf_dir) is not None
        t0 = time.perf_counter()
        build(rel, spark, sf_dir, force=not allow_warm)
        rec["state"] = "hit" if hit else "built"
        rec["build_sec"] = round(time.perf_counter() - t0, 3)
        rec["forced_cold"] = not allow_warm
        meta = fresh(rel, sf_dir) or {}
        if meta.get("build_sec"):
            rec["below_gate"] = bool(meta.get("below_gate"))
            rec["phases"] = meta["build_sec"]
        return rec
    except Exception as exc:  # noqa: BLE001 - consumers fall back inline
        print(f"{rel.name} build failed (inline fallback): {exc!r}", file=sys.stderr)
        return {"state": "failed", "error": repr(exc)}
