"""The trigram-shingle sketch: (doc_id, lang, n_toks, codes) for every
document of at least SKETCH_MIN_TOKS tokens — the input of every
shingle consumer (MinHash LSH, SimHash, n-gram Jaccard/containment,
incremental MinHash, decontamination, leakage audit, recall eval).

It is a written-once relation (materialize.py) keyed by the documents
table: at 100 TB the tokenize+shingle pass over the raw text dominates
every consumer, so production writes the ~1 KB/doc sketch once. The
build writes exactly `_inline_sketch`'s frame, so the materialized and
inline paths are value-identical. `DUCK_SKETCH` is its DuckDB twin: the
one sketch definition every consumer's oracle SQL selects from.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, SparkSession, functions as F

from alexandria_pipeline_spark import materialize
from alexandria_pipeline_spark.catalog import load_table, read_parquet
from alexandria_pipeline_spark.functions.text import duck_shingle_codes, shingle_codes

SKETCH_MIN_TOKS = 3  # shingle_codes needs >= 3 tokens; all consumers filter so

# Format stamp: the string encodes the token floor and the columns;
# bump the version on any change to shingle_codes' hashing/windowing
# that it can't encode, so warm caches never serve pre-change codes.
_SKETCH_FORMAT = f"v1:min_toks{SKETCH_MIN_TOKS}:cols(doc_id,lang,n_toks,codes):trigram-xxhash"


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


# DuckDB twin of _inline_sketch: the oracle SQL of every shingle
# consumer selects from it.
_DUCK_TOKS = "string_split(text, ' ')"
DUCK_SKETCH = f"""
      SELECT doc_id, lang, len({_DUCK_TOKS}) AS n_toks,
             {duck_shingle_codes(_DUCK_TOKS)} AS codes
      FROM documents
      WHERE len({_DUCK_TOKS}) >= {SKETCH_MIN_TOKS}
"""


def _build_sketch(spark: SparkSession, sf_dir: str, loc: str) -> dict:
    _inline_sketch(spark, sf_dir).write.mode("overwrite").parquet(loc)
    return {}


SKETCH = materialize.register(
    materialize.Relation(
        "sketch", "documents", _SKETCH_FORMAT, "SPARK_GRAFT_SKETCH_DISABLE",
        _build_sketch,
    )
)
run_sketch_build_job = functools.partial(materialize.build, SKETCH)
sketch_location = functools.partial(materialize.location, SKETCH)


def shingle_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog hook for every shingle consumer: lazy scan of the fresh
    materialization when served, inline compute otherwise. Columns
    beyond (doc_id, codes) are pruned by the parquet reader for
    consumers that don't select them."""
    meta = materialize.serve(SKETCH, sf_dir)
    if meta is None:
        return _inline_sketch(spark, sf_dir)
    return read_parquet(spark, meta["loc"]).select(
        "doc_id", "lang", "n_toks", "codes"
    )
