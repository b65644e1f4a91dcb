"""Text analysis over the documents table — north-star ops:
language-ID heuristic, quality scoring, token counting, document
fingerprinting. All pure-builtin column expressions (narrow, no
shuffle, embarrassingly parallel at any scale) with exact DuckDB twins.

Reference parity: token counting generalizes M2 (script512.py:21); the
rest are the LLM-data-pipeline additions from BASELINE.json.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from alexandria_pipeline_spark.catalog import load_table, spread_to_cores
from alexandria_pipeline_spark.functions.exact import int_div
from alexandria_pipeline_spark.functions.text import (
    duck_rolling_fingerprint,
    duck_word_code,
    rolling_fingerprint,
    sentences,
    word_code,
)
from alexandria_pipeline_spark.sketch import DUCK_SKETCH, shingle_sketch
from alexandria_pipeline_spark.registry import (
    ORACLES,
    QUERIES,
    persist_if_source_large,
    query,
    scoped_persist,
)

STOPWORDS = ["the", "a", "of", "and", "is"]
TOKEN_RE = "[a-zA-Z]+|[0-9]+"


@query(
    "text_token_counts",
    oracle=f"""
    SELECT
      doc_id,
      len(string_split(text, ' '))                         AS ws_tokens,
      CAST(len(regexp_extract_all(text, '{TOKEN_RE}')) AS INT) AS re_tokens,
      CAST(length(text) AS BIGINT)                         AS n_chars
    FROM documents
    """,
)
def text_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace split (M2 analog) and a
    BPE-ish regex tokenizer ([a-zA-Z]+|[0-9]+). Both run in codegen;
    the HF-tokenizer flavor (needs the transformers lib, not in this
    container) would drop into functions.featurizer.embed_pandas_udf's
    iterator slot with identical plan shape."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.split("text", " ")).alias("ws_tokens"),
        F.size(F.regexp_extract_all("text", F.lit(TOKEN_RE), F.lit(0)))
        .cast("int")
        .alias("re_tokens"),
        F.length("text").cast("long").alias("n_chars"),
    )


@query(
    "text_quality_scores",
    oracle=f"""
    WITH t AS (
      SELECT
        doc_id,
        string_split(text, ' ') AS toks,
        CAST(length(text) AS BIGINT) AS n_chars
      FROM documents
    ),
    e6 AS (
      SELECT
        doc_id,
        CAST(len(toks) AS BIGINT) AS n,
        CAST(len(list_distinct(toks)) AS BIGINT) * 1000000 // len(toks) AS uniq_e6,
        CAST(len(list_filter(toks, w -> list_contains({STOPWORDS!r}, w))) AS BIGINT) * 1000000 // len(toks) AS stop_e6,
        n_chars * 1000000 // len(toks) AS avg_len_e6
      FROM t
    )
    SELECT
      doc_id,
      CAST(n AS INT) AS n_tokens,
      CAST(uniq_e6 AS BIGINT) / 1000000.0 AS uniq_ratio,
      CAST(stop_e6 AS BIGINT) / 1000000.0 AS stop_ratio,
      CAST(avg_len_e6 AS BIGINT) / 1000000.0 AS avg_tok_len,
      CAST((4 * uniq_e6 + 3 * (1000000 - stop_e6) + 3 * least(n * 10000, 1000000)) // 10 AS BIGINT) / 1000000.0 AS quality
    FROM e6
    """,
)
def text_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: lexical diversity, stopword density, length
    saturation — the standard pre-training filter features (C4/Gopher
    rules family), combined into one bounded score
    quality = 0.4*uniq + 0.3*(1-stop) + 0.3*min(n/100, 1).

    All ratios are computed in scaled int64 with truncating division
    (functions.exact): rounded-then-combined floats land exactly on
    round-half boundaries, where Spark's and DuckDB's round() disagree
    at the last ulp — integer arithmetic is bit-identical everywhere."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n = F.size(toks).cast("long")
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    uniq_e6 = int_div(F.size(F.array_distinct(toks)).cast("long") * 1_000_000, n)
    stop_e6 = int_div(
        F.size(F.filter(toks, lambda w: F.array_contains(stop_arr, w))).cast("long")
        * 1_000_000,
        n,
    )
    avg_len_e6 = int_div(F.length("text").cast("long") * 1_000_000, n)
    quality_e6 = int_div(
        4 * uniq_e6
        + 3 * (F.lit(1_000_000) - stop_e6)
        + 3 * F.least(n * 10_000, F.lit(1_000_000).cast("long")),
        F.lit(10),
    )
    return d.select(
        "doc_id",
        n.cast("int").alias("n_tokens"),
        (uniq_e6 / 1_000_000.0).alias("uniq_ratio"),
        (stop_e6 / 1_000_000.0).alias("stop_ratio"),
        (avg_len_e6 / 1_000_000.0).alias("avg_tok_len"),
        (quality_e6 / 1_000_000.0).alias("quality"),
    )


@query(
    "text_lang_id",
    oracle="""
    WITH t AS (
      SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents
    ),
    scored AS (
      SELECT
        doc_id, lang,
        len(list_filter(toks, w -> w = 'the' OR w = 'a'))       AS en_hits,
        len(list_filter(toks, w -> w = 'data' OR w = 'table'))  AS tech_hits,
        len(toks)                                               AS n
      FROM t
    )
    SELECT
      doc_id, lang,
      CASE
        WHEN en_hits * 20 >= n THEN 'en'
        WHEN tech_hits * 25 >= n THEN 'tech'
        ELSE 'other'
      END AS predicted
    FROM scored
    """,
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic: classify by marker-token density — the
    n-gram-profile approach (Cavnar & Trenkle '94) reduced to a
    codegen-able rule set. A real fastText/langid model would slot into
    the pandas-UDF seam; the plan shape (narrow map over the scan) is
    identical."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    en_hits = F.size(F.filter(toks, lambda w: (w == "the") | (w == "a")))
    tech_hits = F.size(F.filter(toks, lambda w: (w == "data") | (w == "table")))
    n = F.size(toks)
    predicted = (
        F.when(en_hits * 20 >= n, "en")
        .when(tech_hits * 25 >= n, "tech")
        .otherwise("other")
    )
    return d.select("doc_id", "lang", predicted.alias("predicted"))


@query(
    "text_fingerprint",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    )
    SELECT
      doc_id,
      {duck_rolling_fingerprint('toks')} AS fingerprint,
      md5(array_to_string(toks, ' '))    AS content_md5
    FROM t
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: order-sensitive polynomial rolling hash
    (winnowing-family primitive, Schleimer '03) + md5 content hash.
    Both are 8-16 bytes/doc — the reduction that makes exact dedup of a
    100 TB corpus a small-shuffle problem."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    return d.select(
        "doc_id",
        rolling_fingerprint(toks).alias("fingerprint"),
        F.md5(F.col("text").cast("binary")).alias("content_md5"),
    )


@query(
    "sample_stratified_docs",
    oracle="""
    WITH sampled AS (
      SELECT doc_id, lang FROM documents WHERE doc_id % 5 = 0
    )
    SELECT
      d.lang,
      count(*)                                   AS n_total,
      (SELECT count(*) FROM sampled s WHERE s.lang = d.lang) AS n_sampled
    FROM documents d
    GROUP BY d.lang
    """,
)
def sample_stratified_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling — the training-data staple
    (downsample a stratum without a seed lottery): membership is a
    pure key function (doc_id % 5 = 0 -> 20%), so the sample is
    reproducible across runs/engines/retries, unlike rand()-based
    df.sample. For hash-uniform sampling on non-uniform keys, replace
    the mod with a key-derived code (functions.text.word_code family).
    Output reports per-stratum totals vs sampled counts."""
    d = load_table(spark, sf_dir, "documents")
    totals = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n_total"))
    sampled = (
        d.filter(F.col("doc_id") % 5 == 0)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_sampled"))
    )
    return totals.join(sampled, "lang", "left").select(
        "lang", "n_total", F.coalesce("n_sampled", F.lit(0)).alias("n_sampled")
    )


@query(
    "text_top_bigrams",
    oracle="""
    WITH toks AS (
      SELECT lang, string_split(text, ' ') AS t FROM documents
    ),
    bi AS (
      SELECT lang,
             unnest(list_transform(range(1, len(t)),
                                   i -> t[i] || ' ' || t[i+1])) AS bigram
      FROM toks WHERE len(t) >= 2
    ),
    cnt AS (
      SELECT lang, bigram, CAST(count(*) AS BIGINT) AS n
      FROM bi GROUP BY lang, bigram
    )
    SELECT lang, bigram, n, rk FROM (
      SELECT lang, bigram, n,
             CAST(row_number() OVER (PARTITION BY lang
                                     ORDER BY n DESC, bigram) AS INT) AS rk
      FROM cnt
    ) ranked
    WHERE rk <= 5
    """,
)
def text_top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 word bigrams per language — the corpus n-gram profile
    every training-data pipeline runs before filtering. Bigrams are
    built by exploding arrays_zip of two shifted slices and concat'ing
    AFTER the explode — arrays_zip/slice/concat are all codegen,
    whereas the prior zip_with(concat) lambda was CodegenFallback
    (interpreted per element, the r8 bigram-entropy finding; the
    indexed transform(sequence, i -> t[i]) form is worse still: it
    re-inlines split() per access, O(n²)/doc). Exploded, counted, and
    ranked with a deterministic (count DESC, bigram) tiebreak so
    top-k is unique cross-engine."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n = F.size(toks)
    pairs = F.arrays_zip(
        F.slice(toks, 1, n - 1).alias("w1"),
        F.slice(toks, 2, n - 1).alias("w2"),
    )
    cnt = (
        d.filter(n >= 2)
        .select("lang", F.explode(pairs).alias("p"))
        .select("lang", F.concat("p.w1", F.lit(" "), "p.w2").alias("bigram"))
        .groupBy("lang", "bigram")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("lang").orderBy(F.desc("n"), "bigram")
    return (
        cnt.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select("lang", "bigram", "n", "rk")
    )


@query(
    "text_clean_normalize",
    oracle="""
    WITH cleaned AS (
      SELECT doc_id,
             regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS clean
      FROM documents
    )
    SELECT doc_id,
           substring(regexp_replace(clean, '[0-9]+', '<num>', 'g'), 1, 80)
             AS clean_prefix,
           CAST(len(string_split(clean, ' ')) AS INT) AS n_words,
           CAST(length(clean) AS INT)                 AS n_chars
    FROM cleaned
    """,
)
def text_clean_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text normalization pass every pretraining pipeline runs before
    dedup/quality: lowercase, trim, collapse whitespace runs, mask
    digit runs. All regexp_replace — JVM codegen, no Python. On a real
    corpus the same pass adds URL/PII masking patterns; the operator
    shape (chained global regex over one scan) is identical."""
    d = load_table(spark, sf_dir, "documents")
    clean = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    return d.select(
        "doc_id",
        F.substring(F.regexp_replace(clean, "[0-9]+", "<num>"), 1, 80).alias(
            "clean_prefix"
        ),
        F.size(F.split(clean, " ")).alias("n_words"),
        F.length(clean).cast("int").alias("n_chars"),
    )


# --------------------------------------------------------------------------
# Count-min sketch heavy hitters. The sketch's hash rows reuse the
# cross-engine affine-mix family (code * (2d+3) + (5d+7) mod P), so the
# ENTIRE sketch — not just its output — is reproducible in ANSI SQL and
# the oracle checks the estimates bit-for-bit. Exact counts ride along
# to exhibit the one-sided error (est >= exact always).
# --------------------------------------------------------------------------
CM_DEPTH = 4  # hash rows
CM_WIDTH = 8192  # buckets per row
CM_TOPK = 20
_CM_P = 2_147_483_647  # mix modulus (Mersenne 2^31-1, same family as MinHash)


def _cm_bucket(code, d: int):
    return F.pmod(F.pmod(code * (2 * d + 3) + (5 * d + 7), _CM_P), CM_WIDTH)


def _duck_cm_bucket(code: str, d: str) -> str:
    return f"((({code}) * (2 * {d} + 3) + (5 * {d} + 7)) % {_CM_P}) % {CM_WIDTH}"


@query(
    "text_heavy_hitters_countmin",
    oracle=f"""
    WITH occ AS (
      SELECT w, {duck_word_code('w')} AS code
      FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
    ),
    sketch AS (
      SELECT CAST(d AS INT) AS d, {_duck_cm_bucket('code', 'd')} AS bucket,
             CAST(count(*) AS BIGINT) AS c
      FROM occ CROSS JOIN LATERAL (SELECT unnest(range(0, {CM_DEPTH})) AS d)
      GROUP BY 1, 2
    ),
    words AS (
      SELECT w, any_value(code) AS code, CAST(count(*) AS BIGINT) AS exact
      FROM occ GROUP BY w
    ),
    est AS (
      SELECT words.w, words.exact, min(s.c) AS est
      FROM words
      CROSS JOIN LATERAL (SELECT unnest(range(0, {CM_DEPTH})) AS dd)
      JOIN sketch s
        ON s.d = CAST(dd AS INT) AND s.bucket = {_duck_cm_bucket('code', 'dd')}
      GROUP BY words.w, words.exact
    )
    SELECT w AS word, est, exact
    FROM est
    ORDER BY est DESC, w
    LIMIT {CM_TOPK}
    """,
)
def text_heavy_hitters_countmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters via a COUNT-MIN SKETCH (Cormode-Muthukrishnan '05):
    every token occurrence increments one bucket per hash row; a
    word's estimate is the MIN of its row buckets — one-sided error
    (est >= exact, overshoot <= N/width per row whp).

    Why a sketch when the exact groupBy also appears in this plan? The
    exact counts here are the AUDIT column: at 100 TB the sketch is
    the object you'd actually ship — it is mergeable (bucket-wise sum
    across partitions/days: the groupBy(d, bucket) partial aggregate
    IS the merge), fixed-size (depth × width counters regardless of
    vocabulary), and queryable without rescanning the corpus. The
    oracle reproduces sketch construction AND estimation exactly, so
    this is a correctness-checked sketch, not a rows-only one (cf. the
    engine-specific HLL/t-digest sketches, which can only be
    bounds-checked)."""
    d = load_table(spark, sf_dir, "documents")
    occ = d.select(F.explode(F.split("text", " ")).alias("w")).select(
        "w", word_code(F.col("w")).alias("code")
    )
    buckets = occ.select(
        F.posexplode(
            F.array(*[_cm_bucket(F.col("code"), i) for i in range(CM_DEPTH)])
        ).alias("d", "bucket")
    )
    sketch = buckets.groupBy("d", "bucket").agg(F.count(F.lit(1)).alias("c"))

    words = occ.groupBy("w").agg(
        F.any_value("code").alias("code"), F.count(F.lit(1)).alias("exact")
    )
    probes = words.select(
        "w",
        "exact",
        F.posexplode(
            F.array(*[_cm_bucket(F.col("code"), i) for i in range(CM_DEPTH)])
        ).alias("d", "bucket"),
    )
    est = (
        probes.join(F.broadcast(sketch), ["d", "bucket"])
        .groupBy("w", "exact")
        .agg(F.min("c").alias("est"))
    )
    return (
        est.select(F.col("w").alias("word"), "est", "exact")
        .orderBy(F.col("est").desc(), "word")
        .limit(CM_TOPK)
    )


# --------------------------------------------------------------------------
NGRAM_TOPK = 15


@query(
    "text_ngram_lm_counts",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    grams AS (
      SELECT 1 AS n, unnest(t) AS gram FROM toks
      UNION ALL
      SELECT 2, t[i] || ' ' || t[i+1]
      FROM toks CROSS JOIN LATERAL (SELECT unnest(range(1, len(t))) AS i)
      UNION ALL
      SELECT 3, t[i] || ' ' || t[i+1] || ' ' || t[i+2]
      FROM toks CROSS JOIN LATERAL (SELECT unnest(range(1, len(t) - 1)) AS i)
    ),
    counted AS (
      SELECT n, gram, CAST(count(*) AS BIGINT) AS c FROM grams GROUP BY 1, 2
    ),
    ranked AS (
      SELECT n, gram, c,
             row_number() OVER (PARTITION BY n ORDER BY c DESC, gram) AS rk
      FROM counted
    )
    SELECT n, gram, c FROM ranked WHERE rk <= {NGRAM_TOPK}
    """,
)
def text_ngram_lm_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram language-model count collection (KenLM-style prep):
    unigram/bigram/trigram counts over the corpus, top-15 per order
    for the bounded output. The token stream is posexploded once and
    n-grams come from lead() windows over (doc, position) — every
    expression stays in whole-stage codegen. (The first cut built
    grams with transform() lambdas over index sequences: higher-order
    functions evaluate INTERPRETED in Spark, and the map-only 'fast
    path' ran 6 s at sf0.1 vs <1 s for this window form — measured,
    and the reason SCALE.md's audit treats HOFs in hot loops as a
    smell.) Counting is a single groupBy(n, gram) — the
    map-side-combine workload par excellence; the top-k per order is
    a bounded window over the count table, not the corpus."""
    d = load_table(spark, sf_dir, "documents")
    ex = d.select(
        "doc_id",
        F.posexplode(F.split("text", " ")).alias("pos", "w"),
    )
    wdoc = Window.partitionBy("doc_id").orderBy("pos")
    seq = ex.select(
        "w",
        F.lead("w", 1).over(wdoc).alias("w2"),
        F.lead("w", 2).over(wdoc).alias("w3"),
    )
    grams = seq.selectExpr(
        """stack(3,
             1, w,
             2, CASE WHEN w2 IS NOT NULL THEN concat(w, ' ', w2) END,
             3, CASE WHEN w3 IS NOT NULL THEN concat(w, ' ', w2, ' ', w3) END
           ) AS (n, gram)"""
    ).filter(F.col("gram").isNotNull())
    counted = grams.groupBy("n", "gram").agg(F.count(F.lit(1)).alias("c"))
    w = Window.partitionBy("n").orderBy(F.col("c").desc(), "gram")
    return (
        counted.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= NGRAM_TOPK)
        .select("n", "gram", "c")
    )


@query(
    "text_ngram_novelty",
    oracle=f"""
    WITH sh AS (SELECT doc_id, lang, codes FROM ({DUCK_SKETCH})),
    ex AS (
      SELECT doc_id, lang, unnest(codes) AS code FROM sh
    ),
    firstseen AS (
      SELECT lang, code, min(doc_id) AS first_doc
      FROM ex GROUP BY lang, code
    ),
    scored AS (
      SELECT e.doc_id,
             count(*) AS n_codes,
             sum(CASE WHEN f.first_doc = e.doc_id THEN 1 ELSE 0 END) AS n_novel
      FROM ex e JOIN firstseen f ON e.lang = f.lang AND e.code = f.code
      GROUP BY e.doc_id
    )
    SELECT doc_id, CAST(n_codes AS BIGINT) AS n_codes,
           CAST(n_novel AS BIGINT) AS n_novel,
           CAST(n_novel * 1000000 // n_codes AS BIGINT) / 1000000.0
             AS novelty
    FROM scored
    """,
)
def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram NOVELTY in corpus order: the fraction of a
    doc's trigram shingles whose FIRST occurrence (min doc_id per
    (lang, code)) is this doc — the streaming-ingest curation metric
    that separates fresh content from recombinations of what the
    corpus already holds (near-zero novelty ≈ template/boilerplate).

    Scale shape: explode distinct shingles (map-only), ONE groupBy on
    (lang, code) for global first-seen, join back on the SAME key (the
    exchange is reused — first-seen is one row per distinct shingle,
    never df² like a pair join), then a doc_id aggregate. No window,
    no skew hazard: the join is index-sized on both sides. Novelty is
    integer-division exact (functions.exact convention) so both
    engines emit identical decimals."""
    sh = shingle_sketch(spark, sf_dir).select("doc_id", "lang", "codes")
    # JOIN-FREE attribution: reduce occurrences to (doc, code) counts
    # once, take first-seen as min(struct(doc_id, occ)) — which carries
    # the occurrence count of the code IN its first document along for
    # free — and roll novelty up by that first doc. This removes the
    # code-level ex |><| firstseen join (which re-evaluated the explode
    # subtree on both sides) entirely; every shuffle after the first
    # carries aggregated rows. Measured 4.1s -> 3.0s at sf0.1,
    # identical output.
    cnt = (
        sh.select("doc_id", "lang", F.explode("codes").alias("code"))
        .groupBy("doc_id", "lang", "code")
        .agg(F.count(F.lit(1)).alias("occ"))
    )
    # n_codes is just the shingle-array length — MAP-SIDE, not a
    # second aggregation over the exploded stream (which would either
    # re-run the explode or hope for ReusedExchange); cnt now has a
    # single consumer.
    per_doc = sh.select("doc_id", F.size("codes").cast("long").alias("n_codes"))
    firstseen = cnt.groupBy("lang", "code").agg(
        F.min(F.struct("doc_id", "occ")).alias("m")
    )
    novel = firstseen.groupBy(F.col("m.doc_id").alias("doc_id")).agg(
        F.sum("m.occ").alias("n_novel")
    )
    joined = per_doc.join(novel, "doc_id", "left").select(
        "doc_id",
        F.col("n_codes").cast("long").alias("n_codes"),
        F.coalesce("n_novel", F.lit(0)).cast("long").alias("n_novel"),
    )
    return joined.select(
        "doc_id",
        "n_codes",
        "n_novel",
        (int_div(F.col("n_novel") * 1_000_000, F.col("n_codes")) / 1_000_000.0)
        .alias("novelty"),
    )


VOCAB_GROWTH_BUCKETS = 20


@query(
    "corpus_vocab_growth",
    oracle=f"""
    WITH mx AS (SELECT max(doc_id) AS max_id FROM documents),
    firstseen AS (
      SELECT w, min(doc_id) AS first_doc
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
      GROUP BY w
    ),
    bucketed AS (
      SELECT least({VOCAB_GROWTH_BUCKETS - 1},
                   first_doc * {VOCAB_GROWTH_BUCKETS} // (max_id + 1)) AS bucket,
             count(*) AS new_words
      FROM firstseen, mx
      GROUP BY 1
    )
    SELECT CAST(a.bucket AS INT) AS bucket,
           CAST(a.new_words AS BIGINT) AS new_words,
           CAST(sum(b.new_words) AS BIGINT) AS cum_words
    FROM bucketed a JOIN bucketed b ON b.bucket <= a.bucket
    GROUP BY a.bucket, a.new_words
    """,
)
def corpus_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-growth (Heaps' law) curve in corpus-ingest order:
    how many distinct word types exist after each twentieth of the
    doc-id range — the saturation diagnostic that tells a data-mixing
    job whether a source still contributes novel vocabulary or has
    gone asymptotic (stop ingesting) and feeds tokenizer-vocab sizing.

    Scale shape: explode words (map-only; partial agg collapses
    repeats per partition), ONE groupBy on word for global first-seen
    (the only corpus-sized shuffle; common words are exactly the ones
    partial aggregation collapses, so the word-frequency skew never
    reaches the exchange), bucket by a 1-row max broadcast, then the
    cumulative sum runs as a triangular join over the B=20-row bucket
    aggregate — constant-size, no window at all (the
    window_distribution_funcs convention)."""
    d = load_table(spark, sf_dir, "documents")
    mx = d.agg(F.max("doc_id").alias("max_id"))
    firstseen = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
        .groupBy("w")
        .agg(F.min("doc_id").alias("first_doc"))
    )
    bucket = F.least(
        F.lit(VOCAB_GROWTH_BUCKETS - 1),
        F.expr(f"first_doc * {VOCAB_GROWTH_BUCKETS} div (max_id + 1)"),
    )
    bucketed = (
        firstseen.join(F.broadcast(mx))
        .groupBy(bucket.alias("bucket"))
        .agg(F.count(F.lit(1)).alias("new_words"))
    )
    prior = bucketed.select(
        F.col("bucket").alias("pb"), F.col("new_words").alias("pn")
    )
    return (
        bucketed.join(prior, F.col("pb") <= F.col("bucket"))
        .groupBy("bucket", "new_words")
        .agg(F.sum("pn").alias("cum_words"))
        .select(
            F.col("bucket").cast("int"),
            F.col("new_words").cast("long"),
            F.col("cum_words").cast("long"),
        )
    )


PMI_MIN_COUNT = 5  # bigrams rarer than this are noise, not collocations
PMI_TOP_N = 40


@query(
    "text_pmi_bigrams",
    oracle=f"""
    WITH toks AS (
      SELECT string_split(text, ' ') AS t FROM documents
    ),
    uni AS (
      SELECT word, CAST(count(*) AS BIGINT) AS n_w
      FROM (SELECT unnest(t) AS word FROM toks)
      GROUP BY word
    ),
    tot AS (SELECT sum(n_w) AS n_tokens FROM uni),
    bi AS (
      SELECT bigram, CAST(count(*) AS BIGINT) AS n_ab
      FROM (
        SELECT unnest(list_transform(range(1, len(t)),
                                     i -> t[i] || ' ' || t[i+1])) AS bigram
        FROM toks WHERE len(t) >= 2
      )
      GROUP BY bigram
      HAVING count(*) >= {PMI_MIN_COUNT}
    )
    SELECT bigram, n_ab, a.n_w AS n_a, b.n_w AS n_b,
           CAST(n_ab * n_tokens * 1000 // (a.n_w * b.n_w) AS BIGINT)
             AS lift_milli
    FROM bi
    JOIN uni a ON a.word = string_split(bigram, ' ')[1]
    JOIN uni b ON b.word = string_split(bigram, ' ')[2]
    CROSS JOIN tot
    ORDER BY lift_milli DESC, bigram
    LIMIT {PMI_TOP_N}
    """,
)
def text_pmi_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: top bigrams by (integer-scaled) PMI lift
    P(ab)/(P(a)P(b)) — how corpora surface multi-word expressions
    worth protecting from tokenizer splits. Unigram and bigram counts
    are two map-side-combined shuffles on word keys (the unigram table
    grows with VOCABULARY, not corpus, so these stay shuffle joins —
    never broadcast); the grand total is a 1-row broadcast. The top-N
    is orderBy+limit, which Spark executes as TakeOrderedAndProject —
    per-partition heaps, no single-partition sort. Lift is exact
    int64 (n_ab * n_tokens * 1000 div n_a*n_b) so the hash carries no
    float noise; the (lift, bigram) tiebreak makes the cut unique."""
    from pyspark.sql import Window  # noqa: F401  (parity with siblings)

    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n = F.size(toks)
    uni = (
        d.select(F.explode(toks).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n_w"))
    )
    tot = uni.agg(F.sum("n_w").alias("n_tokens"))
    # pair formation: explode arrays_zip of shifted slices and group
    # by the two WORDS — no per-token interpreted lambda (zip_with is
    # CodegenFallback) and no data-sized string concat; the bigram
    # string is rebuilt AFTER the count filter (vocabulary-sized
    # rows). Tokens cannot contain spaces (split on ' '), so
    # (wa, wb) <-> bigram is bijective and oracle semantics are
    # unchanged.
    pairs = F.arrays_zip(
        F.slice(toks, 1, n - 1).alias("w1"),
        F.slice(toks, 2, n - 1).alias("w2"),
    )
    bi = (
        d.filter(n >= 2)
        .select(F.explode(pairs).alias("p"))
        .groupBy(F.col("p.w1").alias("wa"), F.col("p.w2").alias("wb"))
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .filter(F.col("n_ab") >= PMI_MIN_COUNT)
    )
    a = uni.select(F.col("word").alias("wa"), F.col("n_w").alias("n_a"))
    b = uni.select(F.col("word").alias("wb"), F.col("n_w").alias("n_b"))
    joined = (
        bi.join(a, "wa")
        .join(b, "wb")
        .crossJoin(F.broadcast(tot))
        .withColumn("bigram", F.concat("wa", F.lit(" "), "wb"))
    )
    return (
        joined.select(
            "bigram",
            "n_ab",
            "n_a",
            "n_b",
            F.expr("n_ab * n_tokens * 1000 div (n_a * n_b)").alias(
                "lift_milli"
            ),
        )
        .orderBy(F.desc("lift_milli"), "bigram")
        .limit(PMI_TOP_N)
    )


def _register_lang_id_confusion() -> None:
    lang_oracle = ORACLES["text_lang_id"]

    @query(
        "text_lang_id_confusion",
        oracle=f"""
        WITH pred AS ({lang_oracle}),
        cells AS (
          SELECT lang AS actual, predicted,
                 CAST(count(*) AS BIGINT) AS n
          FROM pred GROUP BY lang, predicted
        ),
        tot AS (SELECT sum(n) AS total FROM cells)
        SELECT actual, predicted, n,
               CAST(n * 1000000 // total AS BIGINT) AS cell_ppm
        FROM cells, tot
        """,
    )
    def text_lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Classifier evaluation as a query: the confusion matrix of
        the language-ID heuristic against the labeled lang column —
        the accuracy audit run before trusting any classifier-driven
        corpus filter. Composes the registered text_lang_id plan (the
        oracle nests its SQL), adds one |langs x classes|-bounded
        aggregate and a 1-row total broadcast. The same composition
        shape evaluates any future model slotted into the pandas-UDF
        seam."""
        pred = QUERIES["text_lang_id"](spark, sf_dir)
        cells = pred.groupBy(
            F.col("lang").alias("actual"), "predicted"
        ).agg(F.count(F.lit(1)).alias("n"))
        tot = cells.agg(F.sum("n").alias("total"))
        return cells.crossJoin(F.broadcast(tot)).select(
            "actual",
            "predicted",
            "n",
            F.expr("n * 1000000 div total").alias("cell_ppm"),
        )


_register_lang_id_confusion()


@query(
    "text_readability_flesch",
    oracle="""
    WITH per_doc AS (
      SELECT
        doc_id, lang,
        CAST(len(string_split(text, ' ')) AS BIGINT)                        AS w,
        CAST(greatest(1, len(regexp_extract_all(text, '[.!?]+'))) AS BIGINT) AS s,
        CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT)   AS sy
      FROM documents
    ),
    scored AS (
      SELECT lang, w, sy,
             206835 - (1015 * w) // s - (84600 * sy) // w AS fre_milli
      FROM per_doc
    )
    SELECT lang,
           CAST(count(*) AS BIGINT)                  AS n_docs,
           CAST(sum(fre_milli) // count(*) AS BIGINT) AS avg_fre_milli,
           CAST(sum(w) // count(*) AS BIGINT)         AS avg_words,
           CAST(sum(sy * 1000) // sum(w) AS BIGINT)   AS syllables_per_word_milli
    FROM scored
    GROUP BY lang
    ORDER BY lang
    """,
)
def text_readability_flesch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease per language in exact milli-points:
    FRE = 206.835 − 1.015·(words/sentences) − 84.6·(syllables/word),
    with syllables approximated by vowel-group runs ([aeiouy]+) — the
    standard heuristic when no pronunciation dictionary is available
    (the dictionary slot is the same pandas-UDF seam as the nltk
    sentence splitter). Scaled to milli-units BEFORE the truncating
    divisions so both engines make identical rounding decisions; a
    doc with no terminal punctuation counts as one sentence. Shape:
    the three counts are codegen regex scans (map-only, pushed
    projections), then ONE bounded-key groupBy(lang) — per-corpus
    cost is a single scan regardless of SF."""
    d = load_table(spark, sf_dir, "documents")
    per_doc = d.select(
        "lang",
        F.size(F.split(F.col("text"), " ", -1)).cast("long").alias("w"),
        F.greatest(
            F.lit(1).cast("long"),
            F.size(F.regexp_extract_all(F.col("text"), F.lit("[.!?]+"), 0)).cast(
                "long"
            ),
        ).alias("s"),
        F.size(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit("[aeiouy]+"), 0)
        )
        .cast("long")
        .alias("sy"),
    )
    scored = per_doc.select(
        "lang",
        "w",
        "sy",
        F.expr("206835 - (1015 * w) div s - (84600 * sy) div w").alias("fre_milli"),
    )
    return (
        scored.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.expr("sum(fre_milli) div count(*)").alias("avg_fre_milli"),
            F.expr("sum(w) div count(*)").alias("avg_words"),
            F.expr("sum(sy * 1000) div sum(w)").alias("syllables_per_word_milli"),
        )
        .select(
            "lang",
            F.col("n_docs").cast("long").alias("n_docs"),
            F.col("avg_fre_milli").cast("long").alias("avg_fre_milli"),
            F.col("avg_words").cast("long").alias("avg_words"),
            F.col("syllables_per_word_milli")
            .cast("long")
            .alias("syllables_per_word_milli"),
        )
        .orderBy("lang")
    )


@query(
    "text_hapax_ratio",
    oracle="""
    WITH wc AS (
      SELECT lang, w, CAST(count(*) AS BIGINT) AS n
      FROM (SELECT lang, unnest(string_split(text, ' ')) AS w FROM documents)
      GROUP BY lang, w
    )
    SELECT lang,
           CAST(count(*) AS BIGINT)                                   AS vocab_size,
           CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT)     AS n_hapax,
           CAST(sum(n) AS BIGINT)                                     AS n_tokens,
           CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) * 1000000
                // count(*) AS BIGINT)                                AS hapax_ppm
    FROM wc
    GROUP BY lang
    ORDER BY lang
    """,
)
def text_hapax_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hapax-legomena ratio per language: the share of vocabulary
    occurring exactly once — the classic corpus-linguistics signal
    for OCR noise / tokenizer damage (healthy natural corpora sit
    near 40-60%; a spike means junk tokens, a collapse means heavy
    duplication). Shape: explode words, ONE (lang, word) groupBy with
    map-side combine — the same single-shuffle profile as
    text_top_bigrams — then a bounded-key groupBy(lang) read-out;
    ratios in truncating-int ppm so the hash can't drift."""
    d = load_table(spark, sf_dir, "documents")
    wc = (
        d.select("lang", F.explode(F.split("text", " ")).alias("w"))
        .groupBy("lang", "w")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        wc.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("vocab_size"),
            F.sum((F.col("n") == 1).cast("long")).alias("n_hapax"),
            F.sum("n").alias("n_tokens"),
        )
        .select(
            "lang",
            F.col("vocab_size").cast("long").alias("vocab_size"),
            F.col("n_hapax").cast("long").alias("n_hapax"),
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.expr("CAST(n_hapax * 1000000 div vocab_size AS BIGINT)").alias(
                "hapax_ppm"
            ),
        )
        .orderBy("lang")
    )


ZIPF_TOP_N = 50


@query(
    "text_zipf_rank_frequency",
    oracle=f"""
    WITH tok AS (
      SELECT unnest(string_split(text, ' ')) AS token FROM documents
    ),
    cnt AS (
      SELECT token, CAST(count(*) AS BIGINT) AS n FROM tok GROUP BY token
    ),
    top AS (
      SELECT token, n FROM cnt ORDER BY n DESC, token LIMIT {ZIPF_TOP_N}
    )
    SELECT
      CAST(row_number() OVER (ORDER BY n DESC, token) AS BIGINT) AS rank,
      token, n,
      CAST(row_number() OVER (ORDER BY n DESC, token) * n AS BIGINT) AS rank_x_freq
    FROM top
    ORDER BY rank
    """,
)
def text_zipf_rank_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf rank-frequency read-out: the top-50 tokens with their
    rank·frequency product — flat rank·freq is the Zipf signature a
    natural corpus shows and synthetic/boilerplate-heavy corpora
    break, so this is the 60-second corpus-health check before
    training. Shape: one token groupBy (map-side partial aggregation
    kills frequency skew), then TakeOrdered to the top-50 CONSTANT
    frame — the rank window runs over 50 rows post-limit, never over
    the vocabulary (which at 100 TB is itself fact-sized)."""
    d = load_table(spark, sf_dir, "documents")
    cnt = (
        d.select(F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    top = cnt.orderBy(F.desc("n"), F.asc("token")).limit(ZIPF_TOP_N)
    w = Window.orderBy(F.desc("n"), F.asc("token"))
    return top.select(
        F.row_number().over(w).cast("long").alias("rank"),
        "token",
        F.col("n").cast("long").alias("n"),
        (F.row_number().over(w) * F.col("n")).cast("long").alias("rank_x_freq"),
    ).orderBy("rank")


@query(
    "text_token_diversity",
    oracle="""
    WITH tok AS (
      SELECT lang, unnest(string_split(text, ' ')) AS token FROM documents
    ),
    cnt AS (
      SELECT lang, token, CAST(count(*) AS HUGEINT) AS c
      FROM tok GROUP BY lang, token
    )
    SELECT
      lang,
      CAST(count(*) AS BIGINT)   AS vocab,
      CAST(sum(c) AS BIGINT)     AS n_tokens,
      CAST(sum(c * (c - 1)) * 1000000 // (sum(c) * (sum(c) - 1)) AS BIGINT)
                                 AS simpson_ppm,
      CAST(count(*) * 1000000 // sum(c) AS BIGINT) AS ttr_ppm
    FROM cnt
    GROUP BY lang
    ORDER BY lang
    """,
)
def text_token_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical diversity per language: Simpson concentration
    λ = Σc(c−1)/(N(N−1)) (the probability two random tokens coincide —
    high λ = repetitive corpus) and the type-token ratio, both in
    exact truncating ppm. The events_user_diversity_simpson recipe
    lifted to tokens: one (lang, token) groupBy with map-side combine,
    then a lang-cardinality aggregate; Σc(c−1) runs in decimal(38,0)/
    HUGEINT because the pair count is O(N²) in the worst (single-token)
    corpus. No window, two bounded shuffles; scale-proof."""
    d = load_table(spark, sf_dir, "documents")
    cnt = (
        d.select("lang", F.explode(F.split("text", " ")).alias("token"))
        .groupBy("lang", "token")
        .agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("c"))
    )
    return (
        cnt.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("vocab"),
            F.sum("c").alias("nt"),
            F.sum(F.col("c") * (F.col("c") - 1)).alias("pairs"),
        )
        .select(
            "lang",
            F.col("vocab").cast("long").alias("vocab"),
            F.col("nt").cast("long").alias("n_tokens"),
            F.expr(
                "CAST(pairs * 1000000 div (nt * (nt - 1)) AS BIGINT)"
            ).alias("simpson_ppm"),
            F.expr("CAST(vocab * 1000000 div nt AS BIGINT)").alias("ttr_ppm"),
        )
        .orderBy("lang")
    )


# A domain dictionary for tag-style routing: which docs mention which
# concept family. Chosen from the synthetic corpus vocabulary so the
# query exercises real hit paths at every SF.
KEYWORD_TAGS = {
    "join": "relational",
    "hash": "relational",
    "scan": "storage",
    "batch": "execution",
    "stream": "execution",
    "vector": "execution",
    "window": "analytics",
    "spark": "engine",
}
_TAG_CASE = "CASE token " + " ".join(
    f"WHEN '{k}' THEN '{v}'" for k, v in KEYWORD_TAGS.items()
) + " END"


@query(
    "text_keyword_tagging",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    ),
    hits AS (
      SELECT doc_id, token, {_TAG_CASE} AS tag
      FROM tok
      WHERE token IN ({", ".join(f"'{k}'" for k in KEYWORD_TAGS)})
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents)
    SELECT
      tag,
      token,
      CAST(count(*) AS BIGINT)                    AS n_hits,
      CAST(count(DISTINCT doc_id) AS BIGINT)      AS doc_freq,
      CAST(count(DISTINCT doc_id) * 1000000 // min(n_docs) AS BIGINT)
                                                  AS doc_share_ppm
    FROM hits, tot
    GROUP BY tag, token
    ORDER BY tag, token
    """,
)
def text_keyword_tagging(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dictionary-based keyword tagging — the routing/labeling pass
    every curation pipeline runs before expensive model scoring (tag →
    sample weights, tag → domain mixing). The dictionary is a
    plan-time literal IN filter plus a CASE map, so the scan stays
    map-only (predicate pushed into the exploded token stream, no join
    against a dictionary table needed below thousands of keywords —
    above that, swap the CASE for a broadcast join without touching
    the rest of the plan). One aggregate keyed by (tag, token) —
    dictionary-bounded; doc_freq is an exact distinct on the already-
    filtered hit stream."""
    d = load_table(spark, sf_dir, "documents")
    tot = d.agg(F.count(F.lit(1)).alias("n_docs"))
    hits = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
        .filter(F.col("token").isin(*KEYWORD_TAGS))
        .select("doc_id", "token", F.expr(_TAG_CASE).alias("tag"))
    )
    return (
        hits.crossJoin(F.broadcast(tot))
        .groupBy("tag", "token")
        .agg(
            F.count(F.lit(1)).alias("n_hits"),
            F.count_distinct("doc_id").alias("doc_freq"),
            F.expr(
                "CAST(count(DISTINCT doc_id) * 1000000 div min(n_docs) AS BIGINT)"
            ).alias("doc_share_ppm"),
        )
        .select(
            "tag",
            "token",
            F.col("n_hits").cast("long").alias("n_hits"),
            F.col("doc_freq").cast("long").alias("doc_freq"),
            "doc_share_ppm",
        )
        .orderBy("tag", "token")
    )


CHAR_TRIGRAM_TOP_N = 10


@query(
    "text_char_trigram_signature",
    oracle=f"""
    WITH grams AS (
      SELECT lang, substr(text, i, 3) AS g
      FROM (SELECT lang, text FROM documents),
           LATERAL (SELECT unnest(range(1, length(text) - 1)) AS i)
    ),
    cnt AS (
      SELECT lang, g, CAST(count(*) AS BIGINT) AS n
      FROM grams GROUP BY lang, g
    ),
    ranked AS (
      SELECT lang, g, n,
             row_number() OVER (PARTITION BY lang ORDER BY n DESC, g) AS rk
      FROM cnt
    )
    SELECT lang, CAST(rk AS INT) AS rk, g AS trigram, n
    FROM ranked WHERE rk <= {CHAR_TRIGRAM_TOP_N}
    ORDER BY lang, rk
    """,
)
def text_char_trigram_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language top-10 character trigrams — the classic
    language-ID feature profile (char n-gram frequencies beat word
    lists for short/noisy text; this is the training side of the
    text_lang_id heuristic). Shape: the trigram explode is map-side
    (sequence + substring, codegen); one (lang, gram) groupBy with
    map-side combine — the gram space is charset³-bounded, so both the
    shuffle and the per-lang ranking window run over a
    vocabulary-bounded frame, not the corpus. Spark substring and
    DuckDB substr agree on 1-based indexing and short tails by
    construction (the range stops at length-2)."""
    d = load_table(spark, sf_dir, "documents")
    # length >= 3 guard: Spark's sequence(1, n) with n < 1 counts DOWN
    # (step defaults to -1), emitting bogus descending indices for
    # short texts, while DuckDB's range(1, length-1) yields nothing
    # (ADVICE r5, medium). Filtering first makes both frames empty.
    grams = (
        d.filter(F.length("text") >= 3)
        .select(
            "lang",
            F.explode(F.sequence(F.lit(1), F.length("text") - 2)).alias("i"),
            "text",
        )
        .select("lang", F.expr("substring(text, i, 3)").alias("g"))
    )
    cnt = grams.groupBy("lang", "g").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("lang").orderBy(F.desc("n"), F.asc("g"))
    return (
        cnt.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= CHAR_TRIGRAM_TOP_N)
        .select(
            "lang",
            F.col("rk").cast("int").alias("rk"),
            F.col("g").alias("trigram"),
            F.col("n").cast("long").alias("n"),
        )
        .orderBy("lang", "rk")
    )


CM_TARGET_RANK = 100  # size the sketch to resolve the top-100 tokens
CM_DEPTH = 5


@query(
    "diagnose_countmin_advisor",
    oracle=f"""
    WITH cnt AS (
      SELECT token, CAST(count(*) AS BIGINT) AS c
      FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
      GROUP BY token
    ),
    tot AS (
      SELECT CAST(sum(c) AS BIGINT) AS n_tokens,
             CAST(count(*) AS BIGINT) AS vocab
      FROM cnt
    ),
    thr AS (
      SELECT c AS rank_count FROM cnt
      ORDER BY c DESC, token LIMIT 1 OFFSET {CM_TARGET_RANK - 1}
    )
    SELECT
      n_tokens, vocab,
      CAST(coalesce((SELECT rank_count FROM thr), 1) AS BIGINT)
        AS rank{CM_TARGET_RANK}_count,
      CAST((3 * n_tokens + coalesce((SELECT rank_count FROM thr), 1) - 1)
           // coalesce((SELECT rank_count FROM thr), 1) AS BIGINT)
        AS recommended_width,
      CAST({CM_DEPTH} AS BIGINT) AS recommended_depth,
      CAST((3 * n_tokens + coalesce((SELECT rank_count FROM thr), 1) - 1)
           // coalesce((SELECT rank_count FROM thr), 1) * {CM_DEPTH} * 8
           AS BIGINT) AS sketch_bytes
    FROM tot
    """,
)
def diagnose_countmin_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch sizing advisor: to RESOLVE the top-{CM_TARGET_RANK}
    tokens, the additive error bound e·N/width must stay below the
    rank-{CM_TARGET_RANK} count, so width ≈ ⌈e·N / c_rank⌉ (e rounded
    UP to 3 — keeps the arithmetic pure ceil-div integers, both
    engines identical) with the usual depth {CM_DEPTH} for the union
    bound — and sketch_bytes is what that costs per executor. This is
    the pre-flight for text_heavy_hitters_countmin at a NEW corpus
    scale: the answer the docstring rule-of-thumb hand-waves, computed
    from the actual frequency head. Shape: one token groupBy (the only
    fact exchange), a 1-row total, and a TakeOrdered probe for the
    rank count."""
    d = load_table(spark, sf_dir, "documents")
    cnt = (
        d.select(F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tot = cnt.agg(
        F.sum("c").alias("n_tokens"), F.count(F.lit(1)).alias("vocab")
    )
    # min over the top-N frame IS the rank-N count — but only when a
    # full N rows exist (this corpus's vocab can be smaller than the
    # target rank; the oracle's OFFSET then returns nothing and both
    # engines fall back to 1 via coalesce)
    thr = (
        cnt.orderBy(F.desc("c"), F.asc("token"))
        .limit(CM_TARGET_RANK)
        .agg(
            F.when(F.count(F.lit(1)) == CM_TARGET_RANK, F.min("c")).alias(
                "rank_count"
            )
        )
    )
    return (
        tot.crossJoin(F.broadcast(thr))
        .select(
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.col("vocab").cast("long").alias("vocab"),
            F.coalesce(F.col("rank_count"), F.lit(1))
            .cast("long")
            .alias(f"rank{CM_TARGET_RANK}_count"),
            F.expr(
                "CAST((3 * n_tokens + coalesce(rank_count, 1) - 1)"
                " div coalesce(rank_count, 1) AS BIGINT)"
            ).alias("recommended_width"),
            F.lit(CM_DEPTH).cast("long").alias("recommended_depth"),
            F.expr(
                "CAST((3 * n_tokens + coalesce(rank_count, 1) - 1)"
                f" div coalesce(rank_count, 1) * {CM_DEPTH} * 8 AS BIGINT)"
            ).alias("sketch_bytes"),
        )
    )


VOCAB_COVERAGE_KS = (100, 1000, 10000)


@query(
    "text_vocab_coverage_curve",
    oracle=f"""
    WITH cnt AS (
      SELECT token, CAST(count(*) AS BIGINT) AS c
      FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
      GROUP BY token
    ),
    by_count AS (
      SELECT c, CAST(count(*) AS BIGINT) AS n_tok FROM cnt GROUP BY c
    ),
    cum AS (
      SELECT c, n_tok,
             CAST(coalesce(sum(n_tok) OVER (ORDER BY c DESC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               AS toks_before,
             CAST(coalesce(sum(n_tok * c) OVER (ORDER BY c DESC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               AS mass_before
      FROM by_count
    ),
    tot AS (
      SELECT CAST(count(*) AS BIGINT) AS vocab,
             CAST(sum(c) AS BIGINT) AS total_mass
      FROM cnt
    ),
    ks AS (SELECT unnest(ARRAY{list(VOCAB_COVERAGE_KS)}) AS k0)
    SELECT
      CAST(k0 AS BIGINT) AS vocab_size,
      CAST(k AS BIGINT)  AS k_effective,
      CAST(covered AS BIGINT) AS covered_mass,
      CAST(CAST(covered AS HUGEINT) * 1000000 // total_mass AS BIGINT)
        AS coverage_ppm
    FROM (
      SELECT k0, total_mass,
             LEAST(k0, vocab) AS k,
             (SELECT min(mass_before + (LEAST(k0, vocab) - toks_before) * c)
              FROM cum
              WHERE toks_before < LEAST(k0, vocab)
                AND toks_before + n_tok >= LEAST(k0, vocab)) AS covered
      FROM ks, tot
    )
    ORDER BY vocab_size
    """,
)
def text_vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-truncation loss table: what fraction of corpus token
    MASS does a top-k vocabulary cover for k in {VOCAB_COVERAGE_KS} —
    the first table a tokenizer design reads (everything outside the
    chosen vocab becomes UNK/bytes, and this is exactly how much).
    The events_power_user_curve machinery on token counts: group by
    COUNT VALUE (cardinality = max token frequency, not vocab),
    cumulative windows over that bounded frame, exact tie-group
    resolution at each cut, k clipped to the actual vocabulary. One
    token groupBy is the only fact-sized exchange."""
    d = load_table(spark, sf_dir, "documents")
    cnt = (
        d.select(F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    by_count = cnt.groupBy("c").agg(F.count(F.lit(1)).alias("n_tok"))
    w = Window.orderBy(F.desc("c")).rowsBetween(Window.unboundedPreceding, -1)
    cum = by_count.select(
        "c",
        "n_tok",
        F.coalesce(F.sum("n_tok").over(w), F.lit(0)).alias("toks_before"),
        F.coalesce(F.sum(F.col("n_tok") * F.col("c")).over(w), F.lit(0)).alias(
            "mass_before"
        ),
    )
    tot = cnt.agg(
        F.count(F.lit(1)).alias("vocab"), F.sum("c").alias("total_mass")
    )
    ks = tot.select(
        F.explode(F.array(*[F.lit(k) for k in VOCAB_COVERAGE_KS])).alias("k0"),
        "vocab",
        "total_mass",
    ).withColumn("k", F.least("k0", "vocab"))
    joined = ks.join(
        F.broadcast(cum),
        (F.col("toks_before") < F.col("k"))
        & (F.col("toks_before") + F.col("n_tok") >= F.col("k")),
    )
    return (
        joined.groupBy("k0", "k", "total_mass")
        .agg(
            F.min(
                F.col("mass_before") + (F.col("k") - F.col("toks_before")) * F.col("c")
            ).alias("covered")
        )
        .select(
            F.col("k0").cast("long").alias("vocab_size"),
            F.col("k").cast("long").alias("k_effective"),
            F.col("covered").cast("long").alias("covered_mass"),
            F.expr(
                "CAST(CAST(covered AS decimal(38,0)) * 1000000"
                " div total_mass AS BIGINT)"
            ).alias("coverage_ppm"),
        )
        .orderBy("vocab_size")
    )


SURPRISAL_TOP_N = 20


@query(
    "text_unigram_surprisal",
    oracle=f"""
    WITH occ AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    tf AS (
      SELECT tok, CAST(count(*) AS BIGINT) AS tf FROM occ GROUP BY tok
    ),
    tot AS (SELECT CAST(sum(tf) AS BIGINT) AS n FROM tf),
    bits AS (
      SELECT tok, CAST(length(bin(n // tf)) - 1 AS BIGINT) AS sbits
      FROM tf CROSS JOIN tot
    ),
    per_doc AS (
      SELECT o.doc_id,
             CAST(count(*) AS BIGINT) AS n_toks,
             CAST(sum(b.sbits) AS BIGINT) AS sum_bits
      FROM occ o JOIN bits b USING (tok)
      GROUP BY o.doc_id
    ),
    ranked AS (
      SELECT doc_id, n_toks,
             sum_bits * 1000 // n_toks AS avg_surprisal_mbits,
             row_number() OVER (ORDER BY sum_bits * 1000 // n_toks DESC,
                                doc_id) AS rnk
      FROM per_doc
    )
    SELECT CAST(rnk AS INT) AS rnk, doc_id, n_toks,
           CAST(avg_surprisal_mbits AS BIGINT) AS avg_surprisal_mbits
    FROM ranked WHERE rnk <= {SURPRISAL_TOP_N}
    """,
)
def text_unigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-exact Shannon surprisal scoring against the corpus's own
    unigram LM — the cheap perplexity proxy used to surface OOD /
    junk documents for curation review (high average surprisal = the
    corpus LM finds the document improbable). The log2 is EXACT
    integer: surprisal(tok) = floor(log2(N / tf)) computed as
    length(bin(N // tf)) - 1, identical in Spark and DuckDB, so the
    whole statistic is oracle-hashable with no float anywhere. Plan:
    one explode feeds the global tf aggregate (map-side combined); the
    corpus total is a 1-row broadcast; per-token bits join back onto
    the occurrence stream on the token key (vocabulary-sized build
    side — broadcastable in practice, left to AQE since vocab grows
    with corpus); per-doc sum + global top-20 is TakeOrdered, not a
    sort."""
    d = load_table(spark, sf_dir, "documents")
    occ = d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    tf = occ.groupBy("tok").agg(F.count(F.lit(1)).alias("tf"))
    tot = tf.agg(F.sum("tf").alias("n"))
    bits = tf.crossJoin(F.broadcast(tot)).select(
        "tok",
        (F.length(F.expr("bin(n div tf)")) - 1).cast("long").alias("sbits"),
    )
    per_doc = occ.join(bits, "tok").groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_toks"),
        F.sum("sbits").cast("long").alias("sum_bits"),
    )
    ranked = per_doc.select(
        "doc_id",
        "n_toks",
        int_div(F.col("sum_bits") * 1000, F.col("n_toks")).alias(
            "avg_surprisal_mbits"
        ),
    )
    # TakeOrdered first (orderBy+limit never global-sorts), THEN rank:
    # the row_number window sees only the 20 surviving rows, so its
    # single partition is constant-sized at any SF.
    top = ranked.orderBy(
        F.col("avg_surprisal_mbits").desc(), F.col("doc_id")
    ).limit(SURPRISAL_TOP_N)
    w = Window.orderBy(F.col("avg_surprisal_mbits").desc(), F.col("doc_id"))
    return (
        top.withColumn("rnk", F.row_number().over(w))
        .select(
            F.col("rnk").cast("int").alias("rnk"),
            "doc_id",
            "n_toks",
            "avg_surprisal_mbits",
        )
    )


BPE_TOP_K = 20


@query(
    "text_bpe_pair_counts",
    oracle=f"""
    WITH w AS (
      SELECT unnest(string_split(text, ' ')) AS w FROM documents
    ),
    p AS (
      SELECT unnest(list_transform(range(1, length(w)),
                                   i -> substr(w, i, 2))) AS pair
      FROM w WHERE length(w) >= 2
    )
    SELECT pair, CAST(count(*) AS BIGINT) AS n_occurrences
    FROM p GROUP BY pair
    ORDER BY n_occurrences DESC, pair
    LIMIT {BPE_TOP_K}
    """,
)
def text_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First BPE merge iteration over the corpus: count every adjacent
    character pair within words and rank the top-{BPE_TOP_K} merge
    candidates (Sennrich et al. 2016 — the highest-count pair is the
    first merge a tokenizer trainer would learn). This is the
    corpus-scale kernel of tokenizer training: each further merge
    round is the same aggregate over a re-paired corpus.

    Plan at 100 TB: pair extraction is transform(sequence) over each
    word — linear per word, no join — and the count is ONE aggregate
    whose key space is bounded by |alphabet|² (a few thousand keys
    even with CJK), so map-side partial aggregation collapses each
    partition to its local pair histogram before a tiny shuffle;
    top-k is TakeOrdered. The explode multiplies rows by average word
    length, but those rows never shuffle — they die in the partial
    aggregate. Reference analog: the reference tokenizes with a
    pretrained HF vocab (script512.py:21); this is the op that BUILDS
    such a vocab. The scan is spread_to_cores'd (r10): the per-word
    pair explode is CPU-per-row work and the single-row-group fixture
    scans as one task; on multi-file inputs the spread no-ops."""
    d = spread_to_cores(load_table(spark, sf_dir, "documents"))
    words = d.select(F.explode(F.split("text", " ")).alias("w")).filter(
        F.length("w") >= 2
    )
    pairs = words.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("w") - 1),
                lambda i: F.col("w").substr(i, F.lit(2)),
            )
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).cast("long").alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), "pair")
        .limit(BPE_TOP_K)
    )


# Tokenizer-design input: how much top-of-vocabulary is SHARED between
# language pairs (shared subword inventory -> smaller joint vocab).
VOCAB_OVERLAP_K = 200


@query(
    "tokenizer_vocab_overlap",
    oracle=f"""
    WITH occ AS (
      SELECT lang, unnest(string_split(text, ' ')) AS w FROM documents
    ),
    cnt AS (
      SELECT lang, w, CAST(count(*) AS BIGINT) AS c
      FROM occ GROUP BY lang, w
    ),
    topk AS (
      SELECT lang, w FROM (
        SELECT lang, w,
               row_number() OVER (PARTITION BY lang
                                  ORDER BY c DESC, w) AS rk
        FROM cnt)
      WHERE rk <= {VOCAB_OVERLAP_K}
    ),
    pairs AS (
      SELECT a.lang AS lang_a, b.lang AS lang_b,
             CAST(count(*) AS BIGINT) AS n_shared
      FROM topk a JOIN topk b ON a.w = b.w AND a.lang < b.lang
      GROUP BY 1, 2
    )
    SELECT lang_a, lang_b, n_shared,
           CAST(n_shared * 1000000
                // (2 * {VOCAB_OVERLAP_K} - n_shared) AS BIGINT)
             AS jaccard_ppm
    FROM pairs ORDER BY lang_a, lang_b
    """,
)
def tokenizer_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-language VOCABULARY overlap over each language's top-K
    (K = VOCAB_OVERLAP_K = 200)
    word list — the sizing input for a shared multilingual tokenizer
    (high overlap between related languages means a joint vocabulary
    costs fewer slots than the sum of monolingual ones; near-zero
    overlap argues for script-partitioned vocab budgets, the analysis
    behind XLM-R's 250k joint vocab). Jaccard is exact ppm over the
    fixed-size top lists (|A|=|B|=K, so the union is 2K - inter —
    no second aggregate needed).

    Plan: one (lang, word) count aggregate (map-side combined — the
    only data-sized shuffle), a per-lang rank over VOCABULARY-sized
    frames (bounded by distinct words per language, not corpus rows),
    then a self-equi-join on word over two VOCAB_OVERLAP_K(=200)-row-
    per-lang frames and a lang-pair aggregate whose output is
    C(n_langs, 2) rows. Both top-k legs broadcast in practice."""
    d = load_table(spark, sf_dir, "documents")
    cnt = (
        d.select("lang", F.explode(F.split("text", " ")).alias("w"))
        .groupBy("lang", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w_rank = Window.partitionBy("lang").orderBy(F.desc("c"), "w")
    topk = (
        cnt.withColumn("rk", F.row_number().over(w_rank))
        .filter(F.col("rk") <= VOCAB_OVERLAP_K)
        .select("lang", "w")
    )
    a = topk.select(F.col("lang").alias("lang_a"), "w")
    b = topk.select(F.col("lang").alias("lang_b"), "w")
    pairs = (
        a.join(b, "w")
        .filter(F.col("lang_a") < F.col("lang_b"))
        .groupBy("lang_a", "lang_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
    )
    return pairs.select(
        "lang_a",
        "lang_b",
        "n_shared",
        int_div(
            F.col("n_shared") * 1_000_000,
            2 * VOCAB_OVERLAP_K - F.col("n_shared"),
        ).alias("jaccard_ppm"),
    ).orderBy("lang_a", "lang_b")


# Chunk-stitch artifact detection: window width for the suffix/prefix
# fingerprints (a crawler or splitter that cuts one document into two
# leaves B starting exactly where A stopped).
STITCH_W = 4


@query(
    "text_chunk_stitch_join",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
      WHERE len(string_split(text, ' ')) >= {2 * STITCH_W}
    ),
    sfx AS (
      SELECT doc_id AS doc_a,
             {duck_rolling_fingerprint(f"w[-{STITCH_W}:]")} AS fp,
             array_to_string(w[-{STITCH_W}:], ' ') AS s
      FROM t
    ),
    pfx AS (
      SELECT doc_id AS doc_b,
             {duck_rolling_fingerprint(f"w[1:{STITCH_W}]")} AS fp,
             array_to_string(w[1:{STITCH_W}], ' ') AS s
      FROM t
    )
    SELECT doc_a, doc_b, sfx.s AS overlap_text
    FROM sfx JOIN pfx
      ON sfx.fp = pfx.fp AND sfx.s = pfx.s AND doc_a <> doc_b
    ORDER BY doc_a, doc_b
    """,
)
def text_chunk_stitch_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-STITCH detection: pairs (A, B) where A's last STITCH_W(=4)
    words are exactly B's first 4 — the signature a document splitter or
    crawler pagination leaves when one source document lands in the
    corpus as two halves (the continuation's opening repeats the
    cut-point window). Whole-doc dedup can't see these (the halves
    share no full-document hash) and containment only catches them if
    one half swallows the other; this is the join that finds
    re-stitchable fragments so a curation pass can merge instead of
    double-count them.

    Plan: one scan builds constant-width suffix/prefix windows (the
    full text never leaves the scan — only STITCH_W(=4)-word strings
    plus a 64-bit rolling fingerprint), then ONE fingerprint equi-join
    (the banded-candidate discipline: hash keys first, verify the
    actual window string on the joined pairs to kill collisions). Join
    sides are corpus-row-sized but constant-WIDTH; output is
    artifact-sized. The scan is spread_to_cores'd (r10): the window +
    fingerprint build is per-row CPU on a single-row-group fixture
    scan; no-op on multi-file inputs."""
    d = spread_to_cores(load_table(spark, sf_dir, "documents"))
    toks = F.split("text", " ")
    t = d.filter(F.size(toks) >= 2 * STITCH_W).select(
        "doc_id",
        F.slice(toks, 1, STITCH_W).alias("pre"),
        F.slice(toks, -STITCH_W, STITCH_W).alias("suf"),
    )
    sfx = t.select(
        F.col("doc_id").alias("doc_a"),
        rolling_fingerprint(F.col("suf")).alias("fp"),
        F.array_join("suf", " ").alias("s_a"),
    )
    pfx = t.select(
        F.col("doc_id").alias("doc_b"),
        rolling_fingerprint(F.col("pre")).alias("fp"),
        F.array_join("pre", " ").alias("s_b"),
    )
    return (
        sfx.join(pfx, "fp")
        .filter((F.col("doc_a") != F.col("doc_b")) & (F.col("s_a") == F.col("s_b")))
        .select("doc_a", "doc_b", F.col("s_a").alias("overlap_text"))
        .orderBy("doc_a", "doc_b")
    )


PARETO_XMIN = 200  # tail threshold (chars); the fit is over docs >= xmin


@query(
    "text_token_fertility_by_lang",
    oracle=f"""
    WITH t AS (
      SELECT lang,
             CAST(length(text) AS BIGINT) AS chars,
             CAST(len(regexp_extract_all(text, '{TOKEN_RE}')) AS BIGINT)
               AS toks
      FROM documents
    )
    SELECT lang,
           CAST(count(*) AS BIGINT)  AS n_docs,
           CAST(sum(chars) AS BIGINT) AS chars_total,
           CAST(sum(toks) AS BIGINT)  AS tokens_total,
           CAST(sum(chars) * 1000 // sum(toks) AS BIGINT) AS fertility_milli
    FROM t
    GROUP BY lang
    ORDER BY lang
    """,
)
def text_token_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility (characters per token, exact milli) by
    language — the standard diagnostic for how expensively a tokenizer
    encodes each language slice of a corpus (high fertility = more
    tokens per unit text = that language pays more compute per char).
    Uses the same BPE-ish TOKEN_RE as text_token_counts so the two
    read-outs reconcile. Shape: map-only per-doc counting in codegen,
    one partial-aggregated shuffle on the ~|langs| key, exact integer
    milli via truncating div — no floats anywhere."""
    d = load_table(spark, sf_dir, "documents")
    t = d.select(
        "lang",
        F.length("text").cast("long").alias("chars"),
        F.size(F.regexp_extract_all("text", F.lit(TOKEN_RE), F.lit(0)))
        .cast("long")
        .alias("toks"),
    )
    return (
        t.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("chars").cast("long").alias("chars_total"),
            F.sum("toks").cast("long").alias("tokens_total"),
            (F.expr("sum(chars) * 1000 div sum(toks)"))
            .cast("long")
            .alias("fertility_milli"),
        )
        .orderBy("lang")
    )


@query(
    "corpus_length_pareto_alpha",
    oracle=f"""
    WITH tail AS (
      SELECT source,
             CAST(round(ln(CAST(n_chars AS DOUBLE) / {PARETO_XMIN})
                        * 1000000) AS BIGINT) AS l_micro
      FROM documents WHERE n_chars >= {PARETO_XMIN}
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_tail,
           CAST(sum(l_micro) AS BIGINT) AS sum_ln_micro,
           CAST(1000000 + count(*) * 1000000000000 // sum(l_micro)
                AS BIGINT) AS alpha_micro
    FROM tail
    GROUP BY source
    HAVING sum(l_micro) > 0
    ORDER BY source
    """,
)
def corpus_length_pareto_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-law tail fit of the document-length distribution, per
    source: the Hill / maximum-likelihood estimator
    alpha = 1 + n / sum(ln(x/xmin)) over docs with n_chars >= xmin
    (Clauset-Shalizi-Newman's discrete-tail workhorse). A corpus whose
    alpha drifts down is growing a heavy tail of very long documents —
    the thing length-capped training pipelines need to see coming.
    Determinism contract: ln is rounded to integer MICRO per document
    BEFORE summing (the curation_dsir_importance precedent), so the
    aggregate is an exact integer in both engines and no float sum
    order can flip the hash; the final alpha is a truncating integer
    div widened against overflow. Shape: map-only filter+project, one
    shuffle on the ~|sources| key."""
    d = load_table(spark, sf_dir, "documents")
    tail = d.filter(F.col("n_chars") >= PARETO_XMIN).select(
        "source",
        F.round(
            F.log(F.col("n_chars").cast("double") / F.lit(float(PARETO_XMIN)))
            * 1_000_000
        )
        .cast("long")
        .alias("l_micro"),
    )
    return (
        tail.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tail"),
            F.sum("l_micro").cast("long").alias("sum_ln_micro"),
            F.expr(
                "CAST(1000000 + CAST(count(*) AS decimal(38,0)) * 1000000000000 "
                "div sum(l_micro) AS BIGINT)"
            ).alias("alpha_micro"),
        )
        .filter(F.col("sum_ln_micro") > 0)
        .orderBy("source")
    )


@query(
    "text_bigram_cond_entropy",
    oracle="""
    WITH toks AS (
      SELECT lang, string_split(text, ' ') AS t FROM documents
      WHERE len(string_split(text, ' ')) >= 2
    ),
    cells AS (
      SELECT lang, bigram, CAST(count(*) AS BIGINT) AS c
      FROM (
        SELECT lang, unnest(list_transform(range(1, len(t)),
                                           i -> t[i] || ' ' || t[i+1]))
                 AS bigram
        FROM toks
      )
      GROUP BY lang, bigram
    ),
    ctx AS (
      SELECT lang, string_split(bigram, ' ')[1] AS w1, c,
             CAST(sum(c) OVER (PARTITION BY lang, string_split(bigram, ' ')[1])
                  AS BIGINT) AS c1
      FROM cells
    ),
    terms AS (
      SELECT lang, w1, c,
             CAST(round(CAST(c AS DOUBLE)
                        * log2(CAST(c1 AS DOUBLE) / c) * 1000000)
                  AS BIGINT) AS term
      FROM ctx
    )
    SELECT lang,
           CAST(sum(c) AS BIGINT) AS n_bigrams,
           CAST(count(DISTINCT w1) AS BIGINT) AS n_contexts,
           CAST(CAST(sum(CAST(term AS HUGEINT)) AS HUGEINT)
                // sum(c) AS BIGINT) AS cond_entropy_micro_bits
    FROM terms
    GROUP BY lang
    ORDER BY lang
    """,
)
def text_bigram_cond_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language bigram conditional entropy H(next word | word) in
    micro-bits — the classic LM-difficulty proxy (Shannon's estimate of
    printed-language entropy): low means the corpus is template/
    boilerplate-predictable, high means diverse combinable vocabulary;
    compared ACROSS languages it flags which slices will dominate
    perplexity during training. N·H decomposes as Σ_cells c·log2(c1/c)
    (c = bigram count, c1 = its first-word context total), so the
    determinism contract is the events_transition_entropy one: each
    cell's term is rounded to integer MICRO on exact integer inputs
    identical in both engines, summed exactly (decimal(38,0)/HUGEINT —
    the sum is O(N·log V)·1e6), and divided ONCE per language. Word
    and bigram formation follow the text_pmi_bigrams conventions, but
    pairing uses arrays_zip + explode of the two shifted slices and
    groups by the two WORDS — never a per-bigram concat: zip_with is
    CodegenFallback (interpreted per element, the r8 knn-fold lesson),
    and at sf10 the 26.6M interpreted concats dominated the 38.7 s
    wall (the cells table is only 93k rows; measured 38.7 -> 21.4 s,
    sf1->sf10 now 4.2x for 10x data).
    Shape: one (lang, w1, w2) groupBy with map-side combine
    (vocabulary-bounded output), a (lang, w1)-partitioned window sum
    (never single-partition), one bounded-key read-out."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n = F.size(toks)
    pairs = F.arrays_zip(
        F.slice(toks, 1, n - 1).alias("w1"),
        F.slice(toks, 2, n - 1).alias("w2"),
    )
    cells = (
        d.filter(n >= 2)
        .select("lang", F.explode(pairs).alias("p"))
        .groupBy("lang", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    w_ctx = Window.partitionBy("lang", "w1")
    ctx = cells.withColumn("c1", F.sum("c").over(w_ctx).cast("long"))
    terms = ctx.select(
        "lang",
        "w1",
        "c",
        F.round(
            F.col("c").cast("double")
            * F.log2(F.col("c1").cast("double") / F.col("c"))
            * 1_000_000
        )
        .cast("long")
        .alias("term"),
    )
    # r13 negative result (kept as a note, change reverted): a manual
    # two-level rewrite of the countDistinct(w1) aggregate produced a
    # BIT-IDENTICAL physical plan (plans/r13/text_bigram_cond_entropy_
    # {before,after}.txt — 19 nodes each, no Expand anywhere): Spark
    # 4's AggUtils already plans a single-distinct aggregate as the
    # two-phase form with no Expand. The boilerplate-spans Expand
    # lesson applies to MULTIPLE distinct groups, not this shape.
    return (
        terms.groupBy("lang")
        .agg(
            F.sum("c").cast("long").alias("n_bigrams"),
            F.countDistinct("w1").cast("long").alias("n_contexts"),
            F.expr(
                "CAST(sum(CAST(term AS decimal(38,0))) div sum(c) AS BIGINT)"
            ).alias("cond_entropy_micro_bits"),
        )
        .orderBy("lang")
    )


@query(
    "text_sentence_split_stats",
    oracle=r"""
    WITH t AS (
      SELECT
        doc_id,
        lang,
        string_split(text, ' ')[1:40] AS toks,
        CAST(doc_id % 5 + 4 AS BIGINT) AS m
      FROM documents
    ),
    b AS (
      SELECT
        doc_id,
        lang,
        array_to_string(
          list_transform(
            generate_series(0, (len(toks) + m - 1) // m - 1),
            i -> array_to_string(toks[(i * m + 1):((i + 1) * m)], ' ')
                 || (CASE i % 3 WHEN 0 THEN '.' WHEN 1 THEN '!' ELSE '?' END)
          ),
          ' ') AS punct
      FROM t
    ),
    s AS (
      SELECT
        doc_id,
        lang,
        unnest(string_split(
          regexp_replace(punct, '([.!?]) ', '\1|', 'g'), '|')) AS sent
      FROM b
    )
    SELECT
      lang,
      CAST(count(DISTINCT doc_id) AS BIGINT)              AS n_docs,
      CAST(count(*) AS BIGINT)                            AS n_sentences,
      CAST(sum(len(string_split(sent, ' '))) AS BIGINT)   AS sum_tokens,
      CAST(sum(len(string_split(sent, ' '))) * 1000 // count(*) AS BIGINT)
                                                          AS avg_sent_tokens_milli,
      CAST(sum(CASE WHEN sent LIKE '%!' THEN 1 ELSE 0 END) AS BIGINT) AS n_exclaim,
      CAST(sum(CASE WHEN sent LIKE '%?' THEN 1 ELSE 0 END) AS BIGINT) AS n_question
    FROM s
    GROUP BY lang
    ORDER BY lang
    """,
)
def text_sentence_split_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M3 sentence segmentation exercised END-TO-END (run_extra.py:61
    nltk.sent_tokenize analog): the driver testdata carries no
    punctuation (every doc is one sentence), so until now the
    `sentences()` splitter was covered only by unit tests. This query
    builds a punctuated corpus DERIVED from documents deterministically
    in BOTH engines — the first 40 tokens are grouped into sentence
    chunks of length m = 4 + doc_id % 5 and each chunk gets a terminal
    mark cycling . ! ? by chunk index — then runs the REAL splitter
    over the rebuilt text (Spark: the codegen lookbehind regex in
    functions.text.sentences; DuckDB RE2 has no lookbehind, so the
    oracle marks boundaries with regexp_replace '([.!?]) ' -> '\\1|'
    and string-splits, which is equivalent on this corpus because
    tokens contain no punctuation or '|'), explodes to per-sentence
    rows, and aggregates per-language sentence stats in exact integer
    arithmetic (functions.exact conventions). The construction is
    per-row bounded (<= 40 tokens, <= 10 chunks), so the interpreted
    higher-order transform costs O(1) per doc and the whole plan is
    map-only until the single vocabulary-of-langs groupBy. Closes r7
    verdict #8."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.slice(F.split("text", " "), 1, 40)
    m = (F.col("doc_id") % 5 + 4).cast("long")
    marks = F.array(F.lit("."), F.lit("!"), F.lit("?"))

    # LET-BINDING (r9): the chunking lambda references `toks`, and
    # Catalyst inlines the producing expression into every reference —
    # so split() re-ran once per chunk (up to 10x per doc; the same
    # inlining tax the boilerplate rewrite removed). Wrapping the
    # token array in a one-element transform binds it to a lambda
    # VARIABLE, evaluated exactly once per row; everything inside
    # references the variable. Measured sf1: ~2x.
    def _punct(t):
        n = F.size(t).cast("long")
        n_chunks = int_div(n + m - 1, m)
        return F.array_join(
            F.transform(
                F.sequence(F.lit(0).cast("long"), n_chunks - 1),
                lambda i: F.concat(
                    F.array_join(
                        F.slice(t, (i * m + 1).cast("int"), m.cast("int")), " "
                    ),
                    F.element_at(marks, (i % 3).cast("int") + 1),
                ),
            ),
            " ",
        )

    punct = F.element_at(F.transform(F.array(toks), _punct), 1)
    s = d.select(
        "doc_id", "lang", F.explode(sentences(punct)).alias("sent")
    ).select(
        "doc_id",
        "lang",
        "sent",
        F.size(F.split("sent", " ")).cast("long").alias("n_toks"),
    )
    return (
        # r13 negative result (same as text_bigram_cond_entropy): the
        # manual two-level countDistinct rewrite planned bit-identical
        # — Spark 4 plans one-distinct aggregates two-phase, no Expand.
        s.groupBy("lang")
        .agg(
            F.countDistinct("doc_id").cast("long").alias("n_docs"),
            F.count(F.lit(1)).cast("long").alias("n_sentences"),
            F.sum("n_toks").cast("long").alias("sum_tokens"),
            int_div(F.sum("n_toks") * 1000, F.count(F.lit(1))).alias(
                "avg_sent_tokens_milli"
            ),
            F.sum(F.col("sent").endswith("!").cast("long"))
            .cast("long")
            .alias("n_exclaim"),
            F.sum(F.col("sent").endswith("?").cast("long"))
            .cast("long")
            .alias("n_question"),
        )
        .orderBy("lang")
    )


# MATTR window width / stride / per-doc token cap: 17 windows max per
# doc, so the higher-order transform is O(1) per row.
MATTR_W = 25
MATTR_STRIDE = 5
MATTR_CAP = 105


@query(
    "text_mattr_lexical_diversity",
    oracle=f"""
    WITH t AS (
      SELECT lang,
             string_split(text, ' ')[1:{MATTR_CAP}] AS toks
      FROM documents
    ),
    d AS (
      SELECT lang,
             len(toks) AS n,
             list_sum(list_transform(
               generate_series(0, (len(toks) - {MATTR_W}) // {MATTR_STRIDE}),
               i -> len(list_distinct(
                      toks[(i * {MATTR_STRIDE} + 1):(i * {MATTR_STRIDE} + {MATTR_W})]))
             )) AS sum_distinct,
             (len(toks) - {MATTR_W}) // {MATTR_STRIDE} + 1 AS n_windows
      FROM t WHERE len(toks) >= {MATTR_W}
    ),
    per_doc AS (
      SELECT lang,
             CAST(sum_distinct * 1000 // (n_windows * {MATTR_W}) AS BIGINT)
               AS mattr_milli
      FROM d
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(mattr_milli) // count(*) AS BIGINT) AS avg_mattr_milli
    FROM per_doc
    GROUP BY lang
    ORDER BY lang
    """,
)
def text_mattr_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATTR (moving-average type-token ratio, Covington & McFall
    2010): the standard length-robust lexical-diversity score — a
    plain type-token ratio falls with document length, so quality
    filters use the MEAN distinct-ratio over fixed 25-token sliding
    windows (stride 5, first 105 tokens) instead. Exact integer
    read-out: per-doc mattr_milli = sum(distinct_w) * 1000 //
    (n_windows * W), averaged per language with truncating division.
    The per-window distinct counts run in a higher-order transform —
    interpreted, but bounded at <= 17 windows x 25 tokens per ROW
    (the per-document-bounded fold class from SCALE.md r8 notes, not
    the per-candidate-pair class the r8 rewrites removed). Shape:
    map-only scoring, one vocabulary-of-langs groupBy."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.slice(F.split("text", " "), 1, MATTR_CAP)

    # LET-BINDING (r9): the window lambda referenced `toks` 17+ times
    # and Catalyst inlines the producing split() into every reference
    # — the corpus was being re-split once per window per doc. The
    # one-element transform binds the token array to a lambda variable
    # evaluated once per row. Measured sf1: 7.3 -> 3.4 s, identical
    # values.
    def _mattr(t):
        n = F.size(t)
        n_windows = int_div(
            (n - MATTR_W).cast("long"), F.lit(MATTR_STRIDE).cast("long")
        ) + F.lit(1).cast("long")
        sum_distinct = F.aggregate(
            F.transform(
                F.sequence(
                    F.lit(0).cast("long"),
                    int_div(
                        (n - MATTR_W).cast("long"),
                        F.lit(MATTR_STRIDE).cast("long"),
                    ),
                ),
                lambda i: F.size(
                    F.array_distinct(
                        F.slice(t, (i * MATTR_STRIDE + 1).cast("int"), MATTR_W)
                    )
                ).cast("long"),
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        return F.struct(
            n.alias("n"), n_windows.alias("nw"), sum_distinct.alias("sd")
        )

    bound = F.element_at(F.transform(F.array(toks), _mattr), 1)
    per_doc = (
        d.select("lang", bound.alias("b"))
        .filter(F.col("b.n") >= MATTR_W)
        .select(
            "lang",
            int_div(F.col("b.sd") * 1000, F.col("b.nw") * MATTR_W).alias(
                "mattr_milli"
            ),
        )
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            int_div(F.sum("mattr_milli"), F.count(F.lit(1))).alias(
                "avg_mattr_milli"
            ),
        )
        .orderBy("lang")
    )


# Boilerplate span detection: 10-token windows, polynomial-hash span
# codes in [0, FP_MOD) — a ~1e9 universe, so code collisions (two
# different spans sharing a bucket) are ~0.02% at sf0.1 span volume
# and the report is explicitly hash-bucketed (min() picks the
# deterministic representative text per bucket in BOTH engines).
SPAN_N = 10
SPAN_TOP = 20
# Representative-span packing: rep = doc_id * SPAN_REP_MULT + pos, one
# int64 whose min IS the lexicographic (doc_id, pos) arg-min in both
# engines. 2^32 bounds the encoding explicitly (ADVICE r8): positions
# are exact for docs up to 2^32 tokens (no real document) and doc_ids
# up to 2^31 (2.1e9 docs); beyond that a production corpus keys docs
# by a 64-bit hash and switches rep to min(struct(doc_id, pos)) on the
# Spark side — the packed form exists only for oracle parity.
SPAN_REP_MULT = 2**32


def _duck_span_code() -> str:
    from alexandria_pipeline_spark.functions.text import duck_word_code

    code = duck_word_code("toks[i]")
    for j in range(1, SPAN_N):
        code = (
            f"(({code}) * {SHINGLE_MULT} + "
            f"{duck_word_code(f'toks[i+{j}]')}) % {FP_MOD}"
        )
    return code


from alexandria_pipeline_spark.functions.text import (  # noqa: E402
    FP_MOD,
    SHINGLE_MULT,
)


@query(
    "text_boilerplate_spans",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks
      FROM documents WHERE len(string_split(text, ' ')) >= {SPAN_N}
    ),
    s AS (
      SELECT doc_id,
             unnest(list_transform(
               generate_series(1, len(toks) - {SPAN_N - 1}),
               i -> {{'code': {{CODE}}, 'i': i}}
             )) AS z
      FROM t
    ),
    c AS (
      SELECT z.code AS code,
             CAST(count(*) AS BIGINT) AS n_occurrences,
             CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
             min(doc_id * {SPAN_REP_MULT} + z.i) AS rep
      FROM s GROUP BY 1
    ),
    top AS (
      SELECT * FROM c ORDER BY n_occurrences DESC, code LIMIT {SPAN_TOP}
    )
    SELECT array_to_string(
             t.toks[(top.rep % {SPAN_REP_MULT}):(top.rep % {SPAN_REP_MULT} + {SPAN_N - 1})],
             ' ') AS span_text,
           top.n_occurrences, top.n_docs, top.code
    FROM top JOIN t ON t.doc_id = top.rep // {SPAN_REP_MULT}
    ORDER BY n_occurrences DESC, code
    """.replace("{CODE}", _duck_span_code()),
)
def text_boilerplate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate detection: the {SPAN_TOP} most-repeated 10-token
    spans across the corpus with occurrence and distinct-document
    counts — the standard curation report for templated headers,
    license blocks, and navigation chrome that repetition filters and
    span-level dedup act on (C4's repeated-line rule generalized to
    sliding windows).

    ONE corpus pass, strings never shuffled and never re-scanned:
    pass 1 posexplodes tokens to rows, word-codes each token ONCE
    (codegen scalars — see the inline r9 note for why the sliced
    array form was {SPAN_N}x that cost), folds the polynomial span
    code from {SPAN_N - 1} lead()s over one per-doc window, and
    aggregates count/distinct-docs in two stages (count +
    countDistinct in one agg makes Catalyst EXPAND every input row
    twice — measured 69 s at sf1) while ALSO carrying an arg-min
    representative (doc_id * SPAN_REP_MULT + position) per code. The span TEXT is then
    reconstructed from just the {SPAN_TOP} winner documents — an
    earlier draft re-scanned and re-hashed the whole corpus to
    recover the strings, which doubled the wall for a constant-size
    read-out. At 100 TB the corpus-scale exchanges are the (doc_id,
    idx, wc) window sort and the span aggregate — token-count x ~24 B
    each, the n-gram-novelty class — and pass 2 touches {SPAN_TOP}
    rows.

    CONTRACT NOTE (registry deviation, documented per ADVICE r8): this
    query is EAGER — building the returned DataFrame executes pass 1
    (top.collect() of {SPAN_TOP} winner rows), because pass 2's doc_id
    pushdown filter is constructed from pass 1's winners. A plan-only
    consumer (EXPLAIN, plan-shape tests) therefore pays the corpus
    aggregate; bench's timing window includes it. Every other
    registered query stays lazy."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n = F.size(toks)
    from alexandria_pipeline_spark.functions.text import word_code

    # Span hashing is ROW-BASED (r9): the r8 form built arrays_zip over
    # {SPAN_N} shifted slices of transform(toks, word_code) — but
    # Catalyst inlines the producing expression into every slice, so
    # split() AND the interpreted (CodegenFallback) transform() were
    # re-evaluated {SPAN_N} times per document; measured 24 s of the
    # 28 s sf1 pass-1 wall was that map work (the shuffle itself was
    # ~4 s). Here every token is coded ONCE on exploded rows (pure
    # codegen scalars) and the {SPAN_N}-token window comes from
    # {SPAN_N - 1} lead()s over ONE (doc_id, idx) window — a single
    # narrow sort-shuffle of (doc_id, idx, wc) rows, every expression
    # whole-stage-codegen. Measured sf1 pass-1: 28.1 -> 7.3 s,
    # identical winners. lead() past the document end is null, which
    # nulls the polynomial -> the isNotNull filter keeps exactly the
    # n - {SPAN_N - 1} spans per doc the sliced form produced.
    tok = (
        d.filter(n >= SPAN_N)
        .select("doc_id", F.posexplode(toks).alias("idx", "w"))
        .select("doc_id", "idx", word_code(F.col("w")).alias("wc"))
    )
    win = Window.partitionBy("doc_id").orderBy("idx")
    code = F.col("wc")
    for j in range(1, SPAN_N):
        code = (code * SHINGLE_MULT + F.lead("wc", j).over(win)) % FP_MOD
    rows = tok.select("doc_id", "idx", code.alias("code")).filter(
        F.col("code").isNotNull()
    )
    # rep key = doc_id * SPAN_REP_MULT + 1-based span position (bounds
    # documented at the constant): one long whose min IS the
    # lexicographic (doc_id, pos) arg-min in both engines.
    top = (
        rows.select(
            "doc_id",
            "code",
            (F.col("doc_id") * SPAN_REP_MULT + F.col("idx") + 1).alias("rep"),
        )
        .groupBy("code", "doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("c"),
            F.min("rep").alias("rep"),
        )
        .groupBy("code")
        .agg(
            F.sum("c").cast("long").alias("n_occurrences"),
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.min("rep").alias("rep"),
        )
        .orderBy(F.desc("n_occurrences"), F.asc("code"))
        .limit(SPAN_TOP)
    )
    winners = top.collect()
    if not winners:
        return top.select(
            F.lit("").alias("span_text"), "n_occurrences", "n_docs", "code"
        )
    rep_rows = spark.createDataFrame(
        [
            (r["code"], r["n_occurrences"], r["n_docs"], r["rep"])
            for r in winners
        ],
        "code long, n_occurrences long, n_docs long, rep long",
    )
    doc_ids = [r["rep"] // SPAN_REP_MULT for r in winners]
    return (
        d.filter(F.col("doc_id").isin(doc_ids))
        .join(
            F.broadcast(rep_rows),
            F.col("doc_id") == F.expr(f"rep div {SPAN_REP_MULT}"),
        )
        .select(
            F.array_join(
                F.slice(
                    F.split("text", " "),
                    (F.col("rep") % SPAN_REP_MULT).cast("int"),
                    SPAN_N,
                ),
                " ",
            ).alias("span_text"),
            "n_occurrences",
            "n_docs",
            "code",
        )
        .orderBy(F.desc("n_occurrences"), F.asc("code"))
    )


# RAKE keyphrase extraction: max phrase width kept (longer stopword-free
# runs are discarded, bounding every later phrase payload).
RAKE_MAX_PLEN = 3
RAKE_TOP = 20


@query(
    "text_keyphrase_rake",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text,' ')) AS w,
             generate_subscripts(string_split(text,' '), 1) AS i
      FROM documents
    ),
    g AS (
      SELECT doc_id, w, i,
             CASE WHEN w IN {tuple(STOPWORDS)} THEN 1 ELSE 0 END AS is_stop,
             sum(CASE WHEN w IN {tuple(STOPWORDS)} THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY i) AS grp
      FROM tok
    ),
    ph AS (
      SELECT doc_id, grp,
             string_agg(w, ' ' ORDER BY i) AS phrase,
             CAST(count(*) AS BIGINT) AS plen
      FROM g WHERE is_stop = 0
      GROUP BY doc_id, grp
      HAVING count(*) <= {RAKE_MAX_PLEN}
    ),
    occ AS (
      SELECT phrase, CAST(count(*) AS BIGINT) AS n_occurrences
      FROM ph GROUP BY 1
    ),
    wpo AS (
      SELECT plen, unnest(string_split(phrase,' ')) AS w FROM ph
    ),
    ws AS (
      SELECT w, CAST(count(*) AS BIGINT) AS freq,
             CAST(sum(plen) AS BIGINT) AS deg
      FROM wpo GROUP BY w
    ),
    wpp AS (
      SELECT phrase, unnest(string_split(phrase,' ')) AS w FROM occ
    ),
    scored AS (
      SELECT wpp.phrase,
             CAST(sum(CAST(ws.deg AS HUGEINT) * 1000000 // ws.freq)
               AS BIGINT) AS phrase_score_micro
      FROM wpp JOIN ws USING (w) GROUP BY 1
    )
    SELECT occ.phrase, occ.n_occurrences, scored.phrase_score_micro
    FROM occ JOIN scored USING (phrase)
    ORDER BY phrase_score_micro DESC, phrase
    LIMIT {RAKE_TOP}
    """,
)
def text_keyphrase_rake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyphrase extraction (Rose et al. 2010) — the classic
    unsupervised topic-tagging pass a curation pipeline runs to label
    documents: candidate phrases are maximal stopword-free token runs
    (kept at <= {RAKE_MAX_PLEN} words), each word scores
    deg(w)/freq(w) over all phrase occurrences (deg = summed length
    of phrases containing w — co-occurrence degree; freq = raw
    count), and a phrase scores the sum of its words' ratios. All
    scoring in exact truncating micro-units (functions.exact), so the
    cross-engine top-{RAKE_TOP} cannot flip on a float ulp.
    Shape at 100 TB: token posexplode, ONE per-document keyed window
    (never unpartitioned) for the stopword-run ids, a (doc, run)
    keyed phrase assembly, then everything downstream runs on
    phrase/vocabulary-bounded aggregates — the word-stats frame is
    language-vocabulary-sized and broadcast (the BM25 term-broadcast
    precedent), and the read-out is TakeOrdered({RAKE_TOP})."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("i", "w")
    )
    is_stop = F.col("w").isin(STOPWORDS).cast("int")
    wdoc = Window.partitionBy("doc_id").orderBy("i")
    g = tok.select(
        "doc_id",
        "w",
        "i",
        is_stop.alias("is_stop"),
        F.sum(is_stop).over(wdoc).alias("grp"),
    )
    # r12: occ is read twice (wpp + the final join) and each read
    # replanned a full corpus pass — persisting the phrase-vocabulary-
    # sized occ cuts the three corpus passes to two. Persisting ph
    # itself (corpus-sized) measured +0.5 s at sf0.1 (cache barrier >
    # parallel replay, the ccnet/r8 rule) and stays out.
    # r13: the r12 unconditional occ persist itself REGRESSED at bench
    # scale (same-host cold ABBA r11 -> r12: 1.08 -> 1.81 s; flat on
    # the r12 builder's host, slower in both driver runs) — the same
    # barrier-vs-replay economics. Now gated on source size like
    # bm25/ccnet/markov: inline below, cached above, where the saved
    # corpus tokenize pass is the term that grows.
    ph = (
        g.filter(F.col("is_stop") == 0)
        .groupBy("doc_id", "grp")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("i", "w"))),
                    lambda x: x["w"],
                ),
                " ",
            ).alias("phrase"),
            F.count(F.lit(1)).cast("long").alias("plen"),
        )
        .filter(F.col("plen") <= RAKE_MAX_PLEN)
    )
    occ = persist_if_source_large(
        ph.groupBy("phrase").agg(
            F.count(F.lit(1)).cast("long").alias("n_occurrences")
        ),
        sf_dir,
    )
    wpo = ph.select("plen", F.explode(F.split("phrase", " ")).alias("w"))
    ws = wpo.groupBy("w").agg(
        F.count(F.lit(1)).cast("long").alias("freq"),
        F.sum("plen").cast("long").alias("deg"),
    )
    wpp = occ.select("phrase", F.explode(F.split("phrase", " ")).alias("w"))
    scored = (
        wpp.join(F.broadcast(ws), "w")
        .groupBy("phrase")
        .agg(
            # deg*1e6 is widened past int64 in BOTH engines (ADVICE
            # r8): a word whose summed phrase-length degree exceeds
            # ~9.2e12 would overflow — DuckDB raises on BIGINT, non-
            # ANSI Spark silently wraps, a divergence small-SF sweeps
            # can't surface. DECIMAL(38,0) here, HUGEINT in the oracle
            # (DuckDB's DECIMAL // routes through DOUBLE and loses
            # low digits; HUGEINT // is exact — verified).
            F.sum(
                F.expr(
                    "CAST(CAST(deg AS DECIMAL(38,0)) * 1000000 div freq"
                    " AS BIGINT)"
                )
            )
            .cast("long")
            .alias("phrase_score_micro")
        )
    )
    return (
        occ.join(scored, "phrase")
        .select("phrase", "n_occurrences", "phrase_score_micro")
        .orderBy(F.desc("phrase_score_micro"), F.asc("phrase"))
        .limit(RAKE_TOP)
    )
