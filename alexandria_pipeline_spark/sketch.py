"""Written-once shingle-sketch relation — the production layout the
dedup family's docstrings describe (dedup.py: "the (doc_id, codes)
sketch table is WRITTEN once and every dedup pass reads it").

Reference analog: the reference persists its expensive intermediate
(embeddings) to shard files exactly once and every later pass reads
them (`run.py:64-67`, `process.py:26-44`); recomputing them per
consumer would be absurd at its scale. The trigram-shingle sketch is
the same economics: at 100 TB the tokenize+shingle pass over the raw
text dominates every dedup/decontam/leakage query, and production
writes the ~1 KB/doc sketch ONCE, content-addressed to its source.

This module provides:
  - run_sketch_build_job(spark, sf_dir): compute the sketch for one
    testdata scale dir and write it as parquet next to a _meta.json
    carrying a digest of the SOURCE file stats (path/size/mtime of
    every part of documents.parquet);
  - shingle_sketch(spark, sf_dir): the catalog hook every consumer
    calls. Returns a lazy parquet scan of the materialization when it
    exists AND its recorded digest still matches the source (so a
    regenerated documents.parquet can never be served a stale sketch),
    else falls back to the inline shingle_codes() expression — bitwise
    the same values, since the build job writes exactly that
    expression's output.

Freshness is stat-based (size + mtime_ns per part file), not content
hashing: at 100 TB you cannot afford to re-read the corpus to decide
whether the sketch is fresh, and parquet writers never mutate part
files in place. SPARK_GRAFT_SKETCH_DISABLE=1 forces the inline path
(A/B measurement, tests).

The cache lives OUTSIDE the read-only testdata tree
(SPARK_GRAFT_SKETCH_CACHE, default <tmpdir>/spark_graft_sketch_cache),
keyed by the source digest itself so distinct generations of the same
sf_dir occupy distinct directories and a half-written build can never
alias a fresh one (the meta sidecar is written only after the parquet
commit succeeds).
"""

from __future__ import annotations

import json
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession, functions as F

from alexandria_pipeline_spark.catalog import load_table, read_parquet, stat_digest
from alexandria_pipeline_spark.functions.text import shingle_codes

SKETCH_MIN_TOKS = 3  # shingle_codes needs >= 3 tokens; all consumers filter so

_META_NAME = "_sketch_meta.json"
# Format stamp (ADVICE r11, same rule as graph._JSIG_FORMAT):
# freshness is source digest AND format, so a change to the shingle
# expression or the output schema invalidates warm caches instead of
# silently serving pre-change codes. Bump the version on any change to
# shingle_codes' hashing/windowing that the string can't encode.
_SKETCH_FORMAT = f"v1:min_toks{SKETCH_MIN_TOKS}:cols(doc_id,lang,n_toks,codes):trigram-xxhash"


def sketch_cache_root() -> str:
    return os.environ.get(
        "SPARK_GRAFT_SKETCH_CACHE",
        os.path.join(tempfile.gettempdir(), "spark_graft_sketch_cache"),
    )


def source_digest(sf_dir: str, table: str = "documents") -> str:
    """catalog.stat_digest of a source table's parquet. `table`
    defaults to documents (the shingle sketch); the jaccard signature
    relation digests lineitem the same way."""
    return stat_digest(os.path.join(sf_dir, f"{table}.parquet"))


def sketch_location(sf_dir: str) -> str:
    return os.path.join(sketch_cache_root(), source_digest(sf_dir))


def _inline_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical sketch expression — the build job writes exactly
    this frame, so materialized and inline paths are value-identical."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    return d.filter(F.size(toks) >= SKETCH_MIN_TOKS).select(
        "doc_id",
        "lang",
        F.size(toks).alias("n_toks"),
        shingle_codes(toks).alias("codes"),
    )


def sketch_is_fresh(sf_dir: str) -> bool:
    loc = sketch_location(sf_dir)
    meta = os.path.join(loc, _META_NAME)
    if not os.path.exists(meta):
        return False
    try:
        with open(meta) as f:
            recorded = json.load(f)
    except (OSError, ValueError):
        return False
    return (
        recorded.get("digest") == source_digest(sf_dir)
        and recorded.get("format") == _SKETCH_FORMAT
    )


def run_sketch_build_job(
    spark: SparkSession, sf_dir: str, force: bool = False
) -> str:
    """Build-once job: write the (doc_id, lang, n_toks, codes) sketch
    parquet for sf_dir's documents table, content-addressed by source
    digest. No-op when a fresh materialization already exists (unless
    force). Returns the materialization path.

    The meta sidecar commits AFTER the parquet write: a crash mid-write
    leaves a digest-named directory without meta, which sketch_is_fresh
    treats as absent and the next build overwrites."""
    loc = sketch_location(sf_dir)
    if not force and sketch_is_fresh(sf_dir):
        return loc
    digest = source_digest(sf_dir)
    _inline_sketch(spark, sf_dir).write.mode("overwrite").parquet(loc)
    with open(os.path.join(loc, _META_NAME), "w") as f:
        json.dump(
            {
                "digest": digest,
                "format": _SKETCH_FORMAT,
                "source": os.path.abspath(sf_dir),
            },
            f,
        )
    return loc


def shingle_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog hook for every shingle consumer (MinHash LSH, SimHash,
    n-gram Jaccard/containment, incremental MinHash, decontamination,
    leakage audit, recall eval): lazy scan of the fresh materialization
    when present, inline compute otherwise. Columns beyond (doc_id,
    codes) are pruned by the parquet reader for consumers that don't
    select them."""
    if os.environ.get("SPARK_GRAFT_SKETCH_DISABLE"):
        return _inline_sketch(spark, sf_dir)
    if sketch_is_fresh(sf_dir):
        return read_parquet(spark, sketch_location(sf_dir)).select(
            "doc_id", "lang", "n_toks", "codes"
        )
    return _inline_sketch(spark, sf_dir)
