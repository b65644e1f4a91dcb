"""Unit tests for the functions layer: the pandas-UDF featurizer must
agree exactly with the codegen featurize() expression (they are two
faces of one contract — M7's model slot), and vector ops must match
numpy ground truth.
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from alexandria_pipeline_spark.catalog import load_table
from alexandria_pipeline_spark.functions import vectors
from alexandria_pipeline_spark.functions.featurizer import embed_pandas_udf, featurize

from tests.conftest import SF_SMOKE


def test_pandas_udf_matches_builtin_featurizer(spark):
    d = load_table(spark, SF_SMOKE, "documents").limit(100)
    both = d.select(
        featurize("text").alias("builtin"),
        embed_pandas_udf("text").alias("udf"),
    ).collect()
    for row in both:
        assert row["builtin"] == row["udf"], (row["builtin"], row["udf"])


def test_dot_and_norm_match_numpy(spark):
    import numpy as np

    e = load_table(spark, SF_SMOKE, "embeddings").limit(20)
    rows = e.select(
        "vec_id",
        "embedding",
        vectors.dot("embedding", "embedding").alias("self_dot"),
        vectors.l2_norm("embedding").alias("norm"),
    ).collect()
    for r in rows:
        v = np.array(r["embedding"], dtype=np.float64)
        assert math.isclose(r["self_dot"], float(v @ v), rel_tol=1e-9)
        assert math.isclose(r["norm"], float(np.linalg.norm(v)), rel_tol=1e-9)


def test_weighted_concat_dims_and_scaling(spark):
    e = load_table(spark, SF_SMOKE, "embeddings").limit(5)
    rows = e.select(
        "embedding",
        vectors.weighted_concat("embedding", "embedding", 0.2, 0.8).alias("merged"),
    ).collect()
    for r in rows:
        assert len(r["merged"]) == 2 * len(r["embedding"])
        # M9 semantics: first half scaled by 0.2, second by 0.8
        assert math.isclose(
            r["merged"][0], float(r["embedding"][0]) * 0.2, rel_tol=1e-6
        )
        assert math.isclose(
            r["merged"][len(r["embedding"])],
            float(r["embedding"][0]) * 0.8,
            rel_tol=1e-6,
        )


def test_cosine_of_unit_vectors_bounded(spark):
    e = load_table(spark, SF_SMOKE, "embeddings").limit(10)
    a = e.select(F.col("vec_id").alias("ia"), F.col("embedding").alias("ea"))
    b = e.select(F.col("vec_id").alias("ib"), F.col("embedding").alias("eb"))
    rows = (
        a.crossJoin(b)
        .select(vectors.cosine("ea", "eb").alias("cos"), "ia", "ib")
        .collect()
    )
    for r in rows:
        assert -1.0 - 1e-9 <= r["cos"] <= 1.0 + 1e-9
        if r["ia"] == r["ib"]:
            assert math.isclose(r["cos"], 1.0, rel_tol=1e-9)


def test_chunk_udtf_matches_explode_chunking(spark):
    """§2.10 UDTF: the Python UDTF chunker must agree with the
    codegen array+explode chunking used by chunk_embed_pool."""
    from pyspark.sql import functions as F

    from alexandria_pipeline_spark.functions.text import make_chunk_udtf

    chunk_udtf = make_chunk_udtf()
    spark.udtf.register("chunk_text_udtf", chunk_udtf)
    d = load_table(spark, SF_SMOKE, "documents").limit(30)
    d.createOrReplaceTempView("docs_udtf_t")
    via_udtf = spark.sql(
        """
        SELECT doc_id, c.chunk_idx, c.chunk_text, c.chunk_len
        FROM docs_udtf_t, LATERAL chunk_text_udtf(text, 16) AS c
        """
    ).collect()

    toks = F.split("text", " ")
    n_chunks = F.ceil(F.size(toks) / F.lit(16.0)).cast("int")
    via_explode = (
        d.select(
            "doc_id",
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), n_chunks - 1),
                    lambda i: F.array_join(F.slice(toks, i * 16 + 1, 16), " "),
                )
            ).alias("chunk_idx", "chunk_text"),
        )
        .withColumn("chunk_len", F.size(F.split("chunk_text", " ")))
        .collect()
    )
    norm = lambda rows: sorted(  # noqa: E731
        (r["doc_id"], r["chunk_idx"], r["chunk_text"], r["chunk_len"]) for r in rows
    )
    assert norm(via_udtf) == norm(via_explode)


def test_sentence_segmentation(spark):
    from alexandria_pipeline_spark.functions.text import sentences

    df = spark.createDataFrame(
        [
            (1, "One sentence."),
            (2, "First here. Second there! Third?  Fourth trailing"),
            (3, "No punctuation at all"),
        ],
        "id long, text string",
    )
    got = {r["id"]: r["s"] for r in df.select("id", sentences("text").alias("s")).collect()}
    assert got[1] == ["One sentence."]
    assert got[2] == ["First here.", "Second there!", "Third?", "Fourth trailing"]
    assert got[3] == ["No punctuation at all"]


def test_int_div_exact_past_2_53(spark):
    """int_div must stay exact beyond double's 53-bit mantissa and on
    negative operands — cross-checked against DuckDB's `//`, the oracle
    operator every exactness contract in this repo compiles to."""
    import duckdb

    from pyspark.sql import functions as F

    from alexandria_pipeline_spark.functions.exact import int_div

    cases = [
        (9007199254740995, 3),   # 2^53 + 3: double division rounds this
        (-9007199254740995, 3),
        (9223372036854775807, 7),  # long max
        (-7, 2),                   # truncation, not floor: expect -3
        (7, -2),
        (123456789012345678, 1_000_000),
    ]
    df = spark.createDataFrame(cases, "a long, b long")
    got = [
        r["q"]
        for r in df.select(int_div(F.col("a"), F.col("b")).alias("q")).collect()
    ]
    want = [
        duckdb.sql(f"SELECT CAST({a} AS BIGINT) // CAST({b} AS BIGINT)").fetchone()[0]
        for a, b in cases
    ]
    assert got == want, (got, want)


def test_sentences_pandas_udf_parity(spark):
    """The nltk-seam segmenter must agree with the codegen regex face
    on punctuated text (they share the fallback rule when nltk is
    absent; with nltk installed the seam is strictly better and this
    fixture stays within the shared behavior)."""
    from pyspark.sql import functions as F

    from alexandria_pipeline_spark.functions.text import (
        make_sentences_pandas_udf,
        sentences,
    )

    df = spark.createDataFrame(
        [
            (1, "One sentence."),
            (2, "First here. Second there! Third?  Fourth trailing"),
            (3, "No punctuation at all"),
            (4, None),
        ],
        "id long, text string",
    )
    seg = make_sentences_pandas_udf()
    rows = df.select(
        "id",
        sentences("text").alias("regex_s"),
        seg("text").alias("udf_s"),
    ).collect()
    for r in rows:
        if r["regex_s"] is None:
            assert r["udf_s"] in (None, []), r
        else:
            assert r["regex_s"] == r["udf_s"], r


def test_predict_batch_udf_matches_featurizer(spark):
    """predict_batch_udf face of the embedding model must be value-
    identical to the codegen featurize() and the iterator pandas UDF —
    three interchangeable faces of M7."""
    from pyspark.sql import functions as F

    from alexandria_pipeline_spark.catalog import load_table
    from alexandria_pipeline_spark.functions.featurizer import (
        embed_pandas_udf,
        featurize,
        make_predict_batch_udf,
    )
    from tests.conftest import SF_SMOKE

    d = load_table(spark, SF_SMOKE, "documents").limit(100)
    pbu = make_predict_batch_udf(batch_size=32)
    rows = d.select(
        featurize("text").alias("codegen"),
        embed_pandas_udf("text").alias("iterator"),
        pbu("text").alias("pbu"),
    ).collect()
    assert len(rows) == 100
    for r in rows:
        assert r["codegen"] == r["iterator"] == r["pbu"], r


def test_featurize_split_identity_on_adversarial_strings(spark):
    """featurize() computes the token-length sum as
    length(text) - (n_tokens - 1) — the single-char-delimiter split
    identity — instead of an interpreted aggregate HOF. Lock the
    identity (and the keyword-count array_remove rewrite) against the
    direct HOF formulation on the inputs where split() semantics get
    weird: empty string, lone/leading/trailing/repeated spaces, and
    keyword-only strings."""
    from pyspark.sql import functions as F

    from alexandria_pipeline_spark.functions.featurizer import featurize

    rows = [
        (0, ""), (1, " "), (2, "  "), (3, "a"), (4, " a"), (5, "a "),
        (6, "a  b"), (7, "spark spark the the"), (8, "the"),
        (9, "x " * 50 + "join"), (10, "data  data   data"),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    toks = F.split("text", " ")

    # NB: a 2-parameter lambda means (element, index) to PySpark HOFs,
    # so bind the keyword via a factory, not a default arg
    def _eq(kw):
        return lambda t: t == F.lit(kw)

    ref = df.select(
        "id",
        F.aggregate(
            F.transform(toks, lambda t: F.length(t).cast("long")),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("len_sum"),
        *[
            F.size(F.filter(toks, _eq(k))).alias(f"kw_{k}")
            for k in ("spark", "join", "data", "the")
        ],
    )
    got = df.select(
        "id",
        (F.length("text") - (F.size(toks) - F.lit(1))).cast("long").alias("len_sum"),
        *[
            (F.size(toks) - F.size(F.array_remove(toks, k))).alias(f"kw_{k}")
            for k in ("spark", "join", "data", "the")
        ],
    )
    assert sorted(map(tuple, ref.collect())) == sorted(map(tuple, got.collect()))
    # and the full featurize() runs clean on every adversarial row
    assert df.select(featurize("text")).count() == len(rows)
