"""Round-8 invariants: the M3 sentence-splitter round-trip and the
priority-sampling guarantees, beyond what the DuckDB oracle hash
already proves at sf0.01.
"""

from __future__ import annotations

import pyspark.sql.functions as F

from alexandria_pipeline_spark import QUERIES, register_all

from tests.conftest import SF_SMOKE

register_all()

# packing reads sibling modules' ORACLES at import time, so it must be
# imported only after register_all() has pulled in the whole registry.
from alexandria_pipeline_spark.operators.packing import (  # noqa: E402
    PRIORITY_HASH_MOD,
    PRIORITY_HASH_MULT,
    PRIORITY_SAMPLE_K,
    PRIORITY_SCALE,
)


def test_sentence_split_roundtrip_counts(spark):
    """The punctuated construction must be lossless: summed sentence
    tokens per doc == the tokens that went in (first 40), and the
    number of sentences == ceil(n/m) for m = 4 + doc_id % 5 — i.e.
    the splitter recovered exactly the chunks the constructor built,
    no merged or dropped boundaries."""
    from alexandria_pipeline_spark.catalog import load_table
    from alexandria_pipeline_spark.functions.text import sentences

    d = load_table(spark, SF_SMOKE, "documents")
    toks = F.slice(F.split("text", " "), 1, 40)
    n = F.size(toks).cast("long")
    m = (F.col("doc_id") % 5 + 4).cast("long")
    marks = F.array(F.lit("."), F.lit("!"), F.lit("?"))
    n_chunks = F.expr("CAST((n + m - 1) div m AS BIGINT)")
    punct = F.array_join(
        F.transform(
            F.sequence(F.lit(0).cast("long"), F.col("n_chunks") - 1),
            lambda i: F.concat(
                F.array_join(
                    F.slice(toks, (i * F.col("m") + 1).cast("int"), F.col("m").cast("int")),
                    " ",
                ),
                F.element_at(marks, (i % 3).cast("int") + 1),
            ),
        ),
        " ",
    )
    checked = (
        d.select("doc_id", n.alias("n"), m.alias("m"))
        .withColumn("n_chunks", n_chunks)
        .join(d.select("doc_id", "text"), "doc_id")
        .withColumn("sents", sentences(punct))
        .select(
            "doc_id",
            "n",
            "n_chunks",
            F.size("sents").cast("long").alias("got_sentences"),
            F.aggregate(
                F.transform("sents", lambda s: F.size(F.split(s, " ")).cast("long")),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ).alias("got_tokens"),
        )
    )
    bad = checked.filter(
        (F.col("got_sentences") != F.col("n_chunks"))
        | (F.col("got_tokens") != F.col("n"))
    ).count()
    assert bad == 0


def test_priority_sample_is_weight_monotone_per_uniform(spark):
    """Priority q = w * SCALE // u is non-decreasing in w for fixed u
    and the integer hash u is in [1, 2^31 - 1]: both facts follow
    from the formula, so check them on the REAL sampled frame (the
    top-k output carries w and the recomputable u)."""
    rows = QUERIES["sample_priority_weighted"](spark, SF_SMOKE).collect()
    assert 0 < len(rows) <= PRIORITY_SAMPLE_K
    for r in rows:
        u = (
            (r["o_orderkey"] % PRIORITY_SCALE) * PRIORITY_HASH_MULT
        ) % PRIORITY_HASH_MOD + 1
        assert 1 <= u <= PRIORITY_HASH_MOD
        assert r["priority"] == r["w_cents"] * PRIORITY_SCALE // u
    # descending priority with the documented tiebreaker
    keys = [(-r["priority"], r["o_orderkey"]) for r in rows]
    assert keys == sorted(keys)


def test_priority_sample_plan_is_map_only_takeordered(spark):
    """The 100-TB contract: scoring is map-only (no Exchange anywhere
    in the plan) and the global structure is a single TakeOrdered."""
    df = QUERIES["sample_priority_weighted"](spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan
    assert "Exchange" not in plan, plan


def test_boilerplate_spans_shuffles_codes_only(spark):
    """The corpus-scale aggregation must shuffle span CODES, never
    span text: no string-typed span column may appear upstream of the
    top-k (pass 2 reconstructs text from the <=20 winner docs). The
    read-out is TakeOrdered, and the output carries the span text."""
    df = QUERIES["text_boilerplate_spans"](spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the RETURNED plan is pass 2 only (the corpus-scale TakeOrdered
    # ran during the build-time collect): winner docs filtered by
    # doc_id joined to the <=20-row literal stats frame (ExistingRDD),
    # broadcast — nothing corpus-sized may remain here
    assert "Scan ExistingRDD" in plan, plan[:800]
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    rows = df.collect()
    assert 0 < len(rows) <= 20
    for r in rows:
        assert len(r["span_text"].split(" ")) == 10
        assert r["n_occurrences"] >= r["n_docs"] >= 1
