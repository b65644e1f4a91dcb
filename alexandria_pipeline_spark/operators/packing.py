"""Training-batch construction operators — sequence packing, corpus
mixing weights, content-hash train/eval splits, length-bucketed
batching.

The reference pipeline embeds documents one shard at a time
(run.py:31-48) and never decides HOW documents become training
batches; these operators add that missing stage for a 100 TB
pretraining corpus: pack variable-length documents into fixed
token-capacity sequences, compute per-language resampling weights for
a target mixture, split train/val/test by CONTENT hash (so byte-dup
documents can never leak across splits), and bucket by length for
padding-efficient inference batches. Every ratio in the hash contract
is truncating-integer ppm arithmetic (functions.exact) so DuckDB
reproduces each value bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from alexandria_pipeline_spark.catalog import load_table
from alexandria_pipeline_spark.functions.banded import running_sums
from alexandria_pipeline_spark.functions.exact import int_div
from alexandria_pipeline_spark.functions.text import (
    duck_rolling_fingerprint,
    rolling_fingerprint,
)
from alexandria_pipeline_spark.registry import query, scoped_persist

# Token capacity of one packed training sequence. Real pipelines use
# 2k-128k; 512 keeps the testdata (~25 whitespace tokens/doc) at ~20
# docs per bin so bin boundaries are actually exercised.
PACK_CAPACITY = 512
# Sub-buckets bound every packing window: the window partition key is
# (lang, doc_id % PACK_BUCKETS), so no partition ever exceeds
# corpus/PACK_BUCKETS rows regardless of how skewed languages are.
# At 100 TB this is the knob to raise (each bucket packs
# independently; bins are named per-bucket so results don't change).
PACK_BUCKETS = 8

# Length-bucket width in tokens for padding-efficient batching.
BUCKET_W = 8

# Content-hash split: fingerprint % 100 → [0,90) train / [90,95) val /
# [95,100) test.
TRAIN_CUT = 90
VAL_CUT = 95


def _n_tok(text_col) -> F.Column:
    return F.size(F.split(text_col, " ")).cast("long")


@query(
    "pack_sequences_contiguous",
    oracle=f"""
    WITH docs AS (
      SELECT doc_id, lang, doc_id % {PACK_BUCKETS} AS bucket,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
      FROM documents
    ),
    placed AS (
      SELECT lang, bucket, n_tok,
             coalesce(sum(n_tok) OVER (
               PARTITION BY lang, bucket ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               // {PACK_CAPACITY} AS bin_id
      FROM docs
    )
    SELECT lang, bucket, CAST(bin_id AS BIGINT) AS bin_id,
           CAST(count(*) AS BIGINT)  AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS bin_tokens,
           CAST(sum(n_tok) * 1000000 // {PACK_CAPACITY} AS BIGINT)
             AS fill_ppm
    FROM placed
    GROUP BY lang, bucket, bin_id
    """,
)
def pack_sequences_contiguous(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pack documents into fixed-capacity training sequences by
    contiguous fill: within each (lang, bucket) stream ordered by
    doc_id, a document lands in bin = floor(prefix_tokens / capacity)
    where prefix_tokens counts only PRECEDING documents. One window +
    one groupBy, both keyed by (lang, bucket, ...) — a single shuffle,
    and every window partition is bounded by corpus/PACK_BUCKETS rows
    (the bucket key exists purely to cap partition size; raise
    PACK_BUCKETS at scale and each bucket still packs independently
    and deterministically). fill_ppm > 1e6 marks bins whose last
    document overflowed capacity — contiguous packing accepts the
    overflow rather than splitting a document (the reference's chunker
    run_extra.py:61-74 handles intra-document splitting upstream)."""
    d = load_table(spark, sf_dir, "documents")
    docs = d.select(
        "doc_id",
        "lang",
        (F.col("doc_id") % PACK_BUCKETS).alias("bucket"),
        _n_tok("text").alias("n_tok"),
    )
    w = (
        Window.partitionBy("lang", "bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    placed = docs.select(
        "lang",
        "bucket",
        "n_tok",
        int_div(
            F.coalesce(F.sum("n_tok").over(w), F.lit(0)),
            F.lit(PACK_CAPACITY),
        ).alias("bin_id"),
    )
    bin_tokens = F.sum("n_tok").cast("long")
    return placed.groupBy("lang", "bucket", "bin_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        bin_tokens.alias("bin_tokens"),
        int_div(bin_tokens * 1_000_000, F.lit(PACK_CAPACITY)).alias("fill_ppm"),
    )


# T5-style span corruption accounting (r11 verdict #6b): mask rate and
# mean span length are the standard 15% / 3 (Raffel et al. 2020 §3.1.4
# defaults); counts are derived deterministically per document in
# integer arithmetic so both engines agree bitwise.
SPAN_MASK_PCT = 15
SPAN_MEAN_LEN = 3


@query(
    "pack_span_corruption_stats",
    oracle=f"""
    WITH docs AS (
      SELECT doc_id, lang, doc_id % {PACK_BUCKETS} AS bucket,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
      FROM documents
    ),
    placed AS (
      SELECT lang, bucket, n_tok,
             n_tok * {SPAN_MASK_PCT} // 100 AS masked,
             (n_tok * {SPAN_MASK_PCT} // 100 + {SPAN_MEAN_LEN} - 1)
               // {SPAN_MEAN_LEN} AS spans,
             coalesce(sum(n_tok) OVER (
               PARTITION BY lang, bucket ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               // {PACK_CAPACITY} AS bin_id
      FROM docs
    )
    SELECT lang, bucket, CAST(bin_id AS BIGINT) AS bin_id,
           CAST(count(*) AS BIGINT)      AS n_docs,
           CAST(sum(n_tok) AS BIGINT)    AS bin_tokens,
           CAST(sum(masked) AS BIGINT)   AS masked_tokens,
           CAST(sum(spans) AS BIGINT)    AS n_spans,
           CAST(sum(n_tok) - sum(masked) + sum(spans) AS BIGINT)
             AS enc_tokens,
           CAST(sum(masked) + sum(spans) AS BIGINT) AS tgt_tokens,
           CAST(sum(masked) * 1000000 // sum(n_tok) AS BIGINT) AS mask_ppm,
           CAST(count(*) - 1 AS BIGINT)  AS n_boundaries
    FROM placed
    GROUP BY lang, bucket, bin_id
    """,
)
def pack_span_corruption_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Loss-mask token accounting per packed sequence under T5-style
    span corruption (r11 verdict #6b — the companion report
    pack_sequences_contiguous was missing): each document contributes
    masked = n_tok·{SPAN_MASK_PCT}//100 corrupted tokens grouped into
    ceil(masked/{SPAN_MEAN_LEN}) spans, each span collapsing to one
    sentinel, so per bin the ENCODER sees bin_tokens − masked + spans
    tokens and the DECODER trains on masked + spans target tokens —
    the two numbers a packing-aware batch scheduler actually budgets
    (padding the encoder to capacity while the target stream runs
    ~{SPAN_MASK_PCT}%·(1+1/{SPAN_MEAN_LEN}) of it). n_boundaries =
    n_docs − 1 counts the intra-bin document joints where the
    attention mask must block cross-document attention — the
    boundary-mask budget per sequence. Same single (lang, bucket)
    shuffle as the packing query: the span arithmetic is per-row
    codegen on the already-placed stream, the aggregate adds columns,
    not exchanges. All counts are exact integer — no sampling, no
    RNG: the deterministic mask BUDGET is what capacity planning
    needs, and it is what makes the report oracle-checkable."""
    d = load_table(spark, sf_dir, "documents")
    docs = d.select(
        "doc_id",
        "lang",
        (F.col("doc_id") % PACK_BUCKETS).alias("bucket"),
        _n_tok("text").alias("n_tok"),
    )
    w = (
        Window.partitionBy("lang", "bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    masked = int_div(F.col("n_tok") * SPAN_MASK_PCT, F.lit(100))
    placed = docs.select(
        "lang",
        "bucket",
        "n_tok",
        masked.alias("masked"),
        int_div(masked + (SPAN_MEAN_LEN - 1), F.lit(SPAN_MEAN_LEN)).alias(
            "spans"
        ),
        int_div(
            F.coalesce(F.sum("n_tok").over(w), F.lit(0)),
            F.lit(PACK_CAPACITY),
        ).alias("bin_id"),
    )
    return placed.groupBy("lang", "bucket", "bin_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("bin_tokens"),
        F.sum("masked").cast("long").alias("masked_tokens"),
        F.sum("spans").cast("long").alias("n_spans"),
        (F.sum("n_tok") - F.sum("masked") + F.sum("spans"))
        .cast("long")
        .alias("enc_tokens"),
        (F.sum("masked") + F.sum("spans")).cast("long").alias("tgt_tokens"),
        int_div(F.sum("masked") * 1_000_000, F.sum("n_tok"))
        .cast("long")
        .alias("mask_ppm"),
        (F.count(F.lit(1)) - 1).cast("long").alias("n_boundaries"),
    )


@query(
    "corpus_mix_weights",
    oracle="""
    WITH per_lang AS (
      SELECT lang,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS lang_tokens
      FROM documents GROUP BY lang
    ),
    tot AS (
      SELECT CAST(sum(lang_tokens) AS BIGINT) AS total_tokens,
             CAST(count(*) AS BIGINT)         AS n_langs
      FROM per_lang
    )
    SELECT lang, n_docs, lang_tokens,
           CAST(lang_tokens * 1000000 // total_tokens AS BIGINT) AS share_ppm,
           CAST(total_tokens * 1000000 // (n_langs * lang_tokens) AS BIGINT)
             AS weight_ppm
    FROM per_lang, tot
    """,
)
def corpus_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language resampling weights for a uniform target mixture:
    weight = target_share / actual_share, in exact ppm integers
    (weight_ppm > 1e6 → upsample, < 1e6 → downsample). The plan is one
    token-count aggregation keyed by lang (the only shuffle that
    scales with data) and a 1-row totals aggregate broadcast back via
    cross join — per-group-vs-global, the mixture-balancing idiom
    (Xie et al. 2023 DoReMi computes fancier weights over exactly
    these per-domain token totals). Integer range: lang_tokens * 1e6
    stays in int64 up to ~9.2e12 tokens per language; past that, cast
    the products to decimal(38,0) — same plan, same truncation."""
    d = load_table(spark, sf_dir, "documents")
    per_lang = d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(_n_tok("text")).alias("lang_tokens"),
    )
    tot = per_lang.agg(
        F.sum("lang_tokens").alias("total_tokens"),
        F.count(F.lit(1)).alias("n_langs"),
    )
    return per_lang.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_docs",
        "lang_tokens",
        int_div(F.col("lang_tokens") * 1_000_000, F.col("total_tokens")).alias(
            "share_ppm"
        ),
        int_div(
            F.col("total_tokens") * 1_000_000,
            F.col("n_langs") * F.col("lang_tokens"),
        ).alias("weight_ppm"),
    )


@query(
    "corpus_mix_apply",
    oracle=f"""
    WITH per_lang AS (
      SELECT lang,
             CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS lang_tokens
      FROM documents GROUP BY lang
    ),
    tot AS (
      SELECT CAST(sum(lang_tokens) AS BIGINT) AS total_tokens,
             CAST(count(*) AS BIGINT)         AS n_langs
      FROM per_lang
    ),
    w AS (
      SELECT lang,
             least(CAST(total_tokens * 1000000
                        // (n_langs * lang_tokens) AS BIGINT), 1000000)
               AS keep_ppm
      FROM per_lang, tot
    ),
    tagged AS (
      SELECT d.lang, w.keep_ppm,
             CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tok,
             {duck_rolling_fingerprint("string_split(d.text, ' ')")} % 1000000
               AS slot
      FROM documents d JOIN w USING (lang)
    )
    SELECT lang, keep_ppm,
           CAST(count(*) AS BIGINT)                          AS orig_docs,
           CAST(sum(CASE WHEN slot < keep_ppm THEN 1 ELSE 0 END) AS BIGINT)
             AS kept_docs,
           CAST(sum(CASE WHEN slot < keep_ppm THEN n_tok ELSE 0 END) AS BIGINT)
             AS kept_tokens
    FROM tagged
    GROUP BY lang, keep_ppm
    """,
)
def corpus_mix_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the uniform-mixture weights as a DETERMINISTIC downsample:
    keep a document iff its content fingerprint mod 1e6 falls under
    the language's keep_ppm (weights > 1e6 — languages that would need
    upsampling — are capped at keep-everything; replication is a
    separate explode stage). Hash-threshold sampling gives every
    engine, every run, every cluster size the same kept set — the
    property `df.sample()` cannot offer — and composes with
    [split_train_eval_hash]: both decisions are pure functions of the
    text. Plan: one lang-keyed token aggregate, weights broadcast back
    onto the fact scan (map-side tag + filterable), one final bounded
    groupBy."""
    d = load_table(spark, sf_dir, "documents")
    per_lang = d.groupBy("lang").agg(F.sum(_n_tok("text")).alias("lang_tokens"))
    tot = per_lang.agg(
        F.sum("lang_tokens").alias("total_tokens"),
        F.count(F.lit(1)).alias("n_langs"),
    )
    weights = per_lang.crossJoin(F.broadcast(tot)).select(
        "lang",
        F.least(
            int_div(
                F.col("total_tokens") * 1_000_000,
                F.col("n_langs") * F.col("lang_tokens"),
            ),
            F.lit(1_000_000).cast("long"),
        ).alias("keep_ppm"),
    )
    slot = rolling_fingerprint(F.split("text", " ")) % 1_000_000
    tagged = d.join(F.broadcast(weights), "lang").select(
        "lang",
        "keep_ppm",
        _n_tok("text").alias("n_tok"),
        slot.alias("slot"),
    )
    keep = F.col("slot") < F.col("keep_ppm")
    return tagged.groupBy("lang", "keep_ppm").agg(
        F.count(F.lit(1)).alias("orig_docs"),
        F.sum(keep.cast("long")).alias("kept_docs"),
        F.sum(F.when(keep, F.col("n_tok")).otherwise(0)).alias("kept_tokens"),
    )


@query(
    "split_train_eval_hash",
    oracle=f"""
    WITH tagged AS (
      SELECT lang,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
             {duck_rolling_fingerprint("string_split(text, ' ')")} % 100
               AS slot
      FROM documents
    )
    SELECT CASE WHEN slot < {TRAIN_CUT} THEN 'train'
                WHEN slot < {VAL_CUT}   THEN 'val'
                ELSE 'test' END AS split,
           lang,
           CAST(count(*) AS BIGINT)   AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS split_tokens
    FROM tagged
    GROUP BY 1, 2
    """,
)
def split_train_eval_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val/test assignment by CONTENT hash, not doc_id: the
    rolling token fingerprint mod 100 decides the split, so two
    byte-identical documents can never land in different splits — the
    leakage mode a row-number or random split invites on a corpus
    with duplicates. Map-only tagging (the fingerprint is a codegen'd
    aggregate over the token array, no shuffle) followed by one
    groupBy — and the assignment is reproducible from the text alone,
    shard order and cluster size irrelevant. Trade-off vs the
    reference's positional sharding (run.py:31-36, filename order):
    deterministic under re-sharding, at the cost of hashing every
    document once."""
    d = load_table(spark, sf_dir, "documents")
    slot = rolling_fingerprint(F.split("text", " ")) % 100
    tagged = d.select(
        "lang",
        _n_tok("text").alias("n_tok"),
        F.when(slot < TRAIN_CUT, "train")
        .when(slot < VAL_CUT, "val")
        .otherwise("test")
        .alias("split"),
    )
    return tagged.groupBy("split", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("split_tokens"),
    )


@query(
    "batch_length_buckets",
    oracle=f"""
    WITH docs AS (
      SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
      FROM documents
    )
    SELECT CAST((n_tok // {BUCKET_W}) * {BUCKET_W} AS BIGINT) AS bucket_start,
           CAST(count(*) AS BIGINT)   AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS bucket_tokens,
           CAST(max(n_tok) AS BIGINT) AS max_tok,
           CAST((max(n_tok) * count(*) - sum(n_tok)) * 1000000
                 // (max(n_tok) * count(*)) AS BIGINT) AS pad_waste_ppm
    FROM docs
    GROUP BY 1
    """,
)
def batch_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batching for inference: group documents into
    token-length buckets of width BUCKET_W and report the padding a
    batch padded to the bucket max would waste (ppm, exact integers).
    This is the batching stage the reference runs implicitly by
    slicing 512 docs at a time regardless of length
    (script512.py:16-24, worst-case padding); bucketing first is the
    standard fix. One groupBy on a derived integer key — a single
    bounded shuffle (at most max_len/BUCKET_W groups exist)."""
    d = load_table(spark, sf_dir, "documents")
    docs = d.select(_n_tok("text").alias("n_tok"))
    bucket = int_div(F.col("n_tok"), F.lit(BUCKET_W))
    padded = F.max("n_tok") * F.count(F.lit(1))
    return (
        docs.groupBy((bucket * BUCKET_W).alias("bucket_start"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("bucket_tokens"),
            F.max("n_tok").alias("max_tok"),
            int_div(
                (padded - F.sum("n_tok")) * 1_000_000, padded
            ).alias("pad_waste_ppm"),
        )
    )


# Per-stratum sample size for sample_stratified_hash.
STRATA_N = 25


@query(
    "sample_stratified_hash",
    oracle=f"""
    WITH hashed AS (
      SELECT doc_id, lang,
             {duck_rolling_fingerprint("string_split(text, ' ')")} AS fp
      FROM documents
    ),
    ranked AS (
      SELECT doc_id, lang, fp,
             row_number() OVER (PARTITION BY lang ORDER BY fp, doc_id) AS rn
      FROM hashed
    )
    SELECT lang, doc_id, fp AS sample_key
    FROM ranked WHERE rn <= {STRATA_N}
    """,
)
def sample_stratified_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: exactly min(N, |stratum|)
    documents per language, chosen as the N smallest CONTENT-hash
    values (rolling fingerprint, doc_id tiebreak). Hash-ordered
    selection makes the sample (a) reproducible across runs and
    engines, (b) stable under corpus growth — a document's membership
    changes only if a new document hashes below it, never because
    input order changed — and (c) leakage-consistent with the
    content-hash split (byte-identical docs always sample together).

    Plan: one window (single shuffle on lang); rank truncation is
    TopK-per-group, the same shape as window_rank_topn_per_group. At
    100 TB with few strata, per-stratum heaps via AQE skew handling
    keep hot languages bounded."""
    d = load_table(spark, sf_dir, "documents")
    fp = rolling_fingerprint(F.split("text", " "))
    w = Window.partitionBy("lang").orderBy("fp", "doc_id")
    return (
        d.select("doc_id", "lang", fp.alias("fp"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= STRATA_N)
        .select("lang", "doc_id", F.col("fp").alias("sample_key"))
    )


# Hash-range buckets for running_sums; bounds the only unpartitioned
# window at B rows regardless of corpus size.
SHUFFLE_BUCKETS = 64


@query(
    "corpus_shuffle_rank",
    oracle=f"""
    WITH hashed AS (
      SELECT doc_id,
             {duck_rolling_fingerprint("string_split(text, ' ')")} AS h
      FROM documents
    )
    SELECT doc_id,
           row_number() OVER (ORDER BY h, doc_id) - 1 AS shuffle_pos
    FROM hashed
    """,
)
def corpus_shuffle_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic GLOBAL training-order shuffle: every document
    gets a total-order position by content-hash (ties by doc_id) —
    the 'shuffle the corpus once per epoch' primitive, reproducible
    across runs and engines.

    A naive row_number over the whole corpus is a single-partition
    sort. Instead the position is functions/banded.running_sums over
    B=64 equal-width hash-range buckets (order-preserving, so bucket
    order is hash order; doc_id breaks hash ties)."""
    d = load_table(spark, sf_dir, "documents")
    h = rolling_fingerprint(F.split("text", " "))
    # FP_MOD-sized hash space split into equal-width buckets;
    # bucket id is monotone in h, so bucket order = hash order.
    from alexandria_pipeline_spark.functions.text import FP_MOD

    width = FP_MOD // SHUFFLE_BUCKETS + 1
    hashed = d.select("doc_id", h.alias("h")).withColumn(
        "bucket", (F.col("h") / width).cast("long")
    )
    return running_sums(
        hashed, "bucket", ["h", "doc_id"], {"pos": F.lit(1)}
    ).select("doc_id", (F.col("pos") - 1).alias("shuffle_pos"))


# --------------------------------------------------------------------------
NEG_SAMPLES_K = 4
NEG_MULT_A = 1_000_003
NEG_MULT_B = 10_007
NEG_OFFSET_C = 7


@query(
    "training_negative_pairs",
    oracle=f"""
    WITH n AS (SELECT count(*) AS n_docs FROM documents),
    cand AS (
      SELECT a.doc_id, k,
             (a.doc_id * {NEG_MULT_A} + k * {NEG_MULT_B} + {NEG_OFFSET_C})
               % n_docs AS neg_key
      FROM documents a, n
      CROSS JOIN LATERAL (SELECT unnest(range(0, {NEG_SAMPLES_K})) AS k)
    )
    SELECT c.doc_id, CAST(c.k AS INT) AS k, d.doc_id AS neg_id
    FROM cand c JOIN documents d ON d.doc_id = c.neg_key
    WHERE c.neg_key <> c.doc_id
    """,
)
def training_negative_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative sampling for contrastive training: each
    anchor doc gets K pseudo-random negatives via a fixed affine hash
    mod corpus size — reproducible across runs, engines, and epochs
    (seed the constants per epoch for fresh negatives). The candidate
    key joins back to documents, so only EXISTING docs are emitted
    (no density assumption on the id space) and self-pairs are
    filtered. Scale shape: a K-way explode (map-only), a 1-row count
    broadcast, and ONE equi-join shuffle on the negative key whose
    volume is exactly K rows per anchor — no sampling-by-sort, no
    per-partition RNG state, no collect. The affine products stay
    < 2^63 for doc_id up to ~9e12 (constants are ~1e6)."""
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    ks = F.explode(F.array(*[F.lit(k) for k in range(NEG_SAMPLES_K)])).alias("k")
    cand = (
        d.join(F.broadcast(n))
        .select("doc_id", "n_docs", ks)
        .withColumn(
            "neg_key",
            (
                F.col("doc_id") * NEG_MULT_A
                + F.col("k") * NEG_MULT_B
                + NEG_OFFSET_C
            )
            % F.col("n_docs"),
        )
        .filter(F.col("neg_key") != F.col("doc_id"))
    )
    negs = d.select(F.col("doc_id").alias("neg_id"))
    return cand.join(
        negs, cand.neg_key == negs.neg_id
    ).select("doc_id", F.col("k").cast("int").alias("k"), "neg_id")


E2E_MIN_TOK = 10
E2E_MIN_CHARS = 80


@query(
    "corpus_e2e_training_prep",
    oracle=f"""
    WITH gated AS (
      SELECT doc_id, lang, text, n_chars,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
      FROM documents
      WHERE len(string_split(text, ' ')) >= {E2E_MIN_TOK}
        AND n_chars >= {E2E_MIN_CHARS}
    ),
    deduped AS (
      SELECT doc_id, lang, text, n_tok
      FROM (
        SELECT *, md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS h
        FROM gated
      )
      QUALIFY row_number() OVER (
        PARTITION BY h ORDER BY n_chars DESC, doc_id
      ) = 1
    ),
    tagged AS (
      SELECT lang, n_tok,
             CASE WHEN slot < {TRAIN_CUT} THEN 'train'
                  WHEN slot < {VAL_CUT}   THEN 'val'
                  ELSE 'test' END AS split
      FROM (
        SELECT lang, n_tok,
               {{FP}} % 100 AS slot
        FROM deduped
      )
    ),
    tot AS (SELECT sum(n_tok) AS all_tokens FROM tagged)
    SELECT split, lang,
           CAST(count(*) AS BIGINT)   AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS split_tokens,
           CAST(sum(n_tok) * 1000000 // all_tokens AS BIGINT)
             AS share_ppm
    FROM tagged, tot
    GROUP BY split, lang, all_tokens
    """.replace("{FP}", duck_rolling_fingerprint("string_split(text, ' ')")),
)
def corpus_e2e_training_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The training-data pipeline END-TO-END as one declarative plan:
    quality gate -> exact dedup keeping the best copy -> leakage-proof
    content-hash split -> per-(split, lang) token budget with corpus
    share. Composing the stages in one DataFrame lets Catalyst fuse
    the gate into the scan and pipeline the dedup shuffle straight
    into the split tagging — the reason to build ETL as queries, not
    scripts (the reference runs these as separate pandas passes,
    run.py:20-44). Shuffle inventory: ONE wide exchange on the
    normalized-text hash (map-side combine sends at most one candidate
    struct per group per partition — the struct carries the kept text
    forward), then a bounded (split, lang) aggregate; the grand total
    is a 1-row broadcast."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    gated = d.filter(
        (F.size(toks) >= E2E_MIN_TOK) & (F.col("n_chars") >= E2E_MIN_CHARS)
    ).select("doc_id", "lang", "text", "n_chars")
    h = F.md5(F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " "))
    deduped = (
        gated.select("doc_id", "lang", "text", "n_chars", h.alias("h"))
        .groupBy("h")
        .agg(
            F.max(
                F.struct(
                    "n_chars",
                    (-F.col("doc_id")).alias("neg_id"),
                    "lang",
                    "text",
                )
            ).alias("m")
        )
        .select(F.col("m.lang").alias("lang"), F.col("m.text").alias("text"))
    )
    slot = rolling_fingerprint(F.split("text", " ")) % 100
    tagged = deduped.select(
        "lang",
        _n_tok("text").alias("n_tok"),
        F.when(slot < TRAIN_CUT, "train")
        .when(slot < VAL_CUT, "val")
        .otherwise("test")
        .alias("split"),
    )
    tot = tagged.agg(F.sum("n_tok").alias("all_tokens"))
    return (
        tagged.crossJoin(F.broadcast(tot))
        .groupBy("split", "lang", "all_tokens")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("split_tokens"),
        )
        .select(
            "split",
            "lang",
            "n_docs",
            "split_tokens",
            F.expr("split_tokens * 1000000 div all_tokens").alias("share_ppm"),
        )
    )


from alexandria_pipeline_spark.registry import ORACLES, QUERIES  # noqa: E402

_PACK_ORACLE = ORACLES["pack_sequences_contiguous"]
UNDERFULL_PPM = 500_000  # < 50% filled


@query(
    "packing_efficiency_report",
    oracle=f"""
    WITH bins AS ({_PACK_ORACLE})
    SELECT
      lang,
      CAST(count(*) AS BIGINT)         AS n_bins,
      CAST(sum(n_docs) AS BIGINT)      AS n_docs,
      CAST(sum(bin_tokens) AS BIGINT)  AS total_tokens,
      CAST(sum(bin_tokens) * 1000000 // (count(*) * {PACK_CAPACITY}) AS BIGINT)
                                       AS mean_fill_ppm,
      CAST(sum(CASE WHEN fill_ppm > 1000000 THEN 1 ELSE 0 END) AS BIGINT)
                                       AS n_overflow_bins,
      CAST(sum(CASE WHEN fill_ppm < {UNDERFULL_PPM} THEN 1 ELSE 0 END) AS BIGINT)
                                       AS n_underfull_bins
    FROM bins
    GROUP BY lang
    ORDER BY lang
    """,
)
def packing_efficiency_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing-quality scorecard over pack_sequences_contiguous' bins:
    mean fill ratio, overflow bins (the contiguous packer accepts the
    last document's spill rather than splitting it), and underfull
    bins (< 50% — wasted accelerator steps) per language. THE number a
    training-infra team watches: mean_fill_ppm is the fraction of paid
    FLOPs doing useful work. Composition: the nested packing plan is a
    single shuffle; this adds one lang-cardinality aggregate. The
    oracle nests the packing oracle verbatim, so the pipeline is
    hash-checked end-to-end (the ann_eval_recall convention)."""
    bins = QUERIES["pack_sequences_contiguous"](spark, sf_dir)
    return (
        bins.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_bins"),
            F.sum("n_docs").alias("n_docs"),
            F.sum("bin_tokens").alias("total_tokens"),
            # decimal(38,0): Σtokens·1e6 passes int64 around 1e13
            # corpus tokens (DuckDB's sum is already HUGEINT)
            F.expr(
                f"CAST(CAST(sum(bin_tokens) AS decimal(38,0)) * 1000000"
                f" div (count(1) * {PACK_CAPACITY}) AS BIGINT)"
            ).alias("mean_fill_ppm"),
            F.sum((F.col("fill_ppm") > 1_000_000).cast("long")).alias(
                "n_overflow_bins"
            ),
            F.sum((F.col("fill_ppm") < UNDERFULL_PPM).cast("long")).alias(
                "n_underfull_bins"
            ),
        )
        .select(
            "lang",
            F.col("n_bins").cast("long").alias("n_bins"),
            F.col("n_docs").cast("long").alias("n_docs"),
            F.col("total_tokens").cast("long").alias("total_tokens"),
            "mean_fill_ppm",
            F.col("n_overflow_bins").cast("long").alias("n_overflow_bins"),
            F.col("n_underfull_bins").cast("long").alias("n_underfull_bins"),
        )
        .orderBy("lang")
    )


_MINHASH_ORACLE_FOR_LEAK = ORACLES["dedup_minhash_lsh"]


@query(
    "split_leakage_audit",
    oracle=f"""
    WITH pairs AS ({_MINHASH_ORACLE_FOR_LEAK}),
    tagged AS (
      SELECT doc_id,
             CASE WHEN {duck_rolling_fingerprint("string_split(text, ' ')")} % 100
                       < {TRAIN_CUT} THEN 'train'
                  WHEN {duck_rolling_fingerprint("string_split(text, ' ')")} % 100
                       < {VAL_CUT} THEN 'val'
                  ELSE 'test' END AS split
      FROM documents
    ),
    classified AS (
      SELECT LEAST(ta.split, tb.split) AS split_a,
             GREATEST(ta.split, tb.split) AS split_b
      FROM pairs p
      JOIN tagged ta ON ta.doc_id = p.doc_a
      JOIN tagged tb ON tb.doc_id = p.doc_b
    )
    SELECT split_a, split_b,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(CASE WHEN split_a <> split_b THEN 1 ELSE 0 END AS BIGINT)
             AS is_leak
    FROM classified
    GROUP BY split_a, split_b
    ORDER BY split_a, split_b
    """,
)
def split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-split NEAR-dup leakage audit: the content-hash split
    guarantees byte-identical docs share a split, but near-duplicates
    can still straddle the train/eval boundary — and a validation doc
    whose near-twin sits in train inflates every eval metric. This
    query classifies the verified MinHash pair graph by the split
    assignment of each endpoint: same-split pairs are benign
    (dedup's problem), cross-split pairs are LEAKS to remove or
    re-home before training. Composition: pair graph (ids only) joins
    the map-only split tags twice; read-out is ≤ 6 split-pair rows.
    The oracle nests the minhash oracle + the fingerprint tagging, so
    the audit is hash-checked end-to-end."""
    pairs = QUERIES["dedup_minhash_lsh"](spark, sf_dir).select("doc_a", "doc_b")
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    slot = rolling_fingerprint(toks) % 100
    # r12: both endpoint joins probe tagged — without a persist each
    # side replans the full documents scan + rolling-fingerprint
    # tokenize (the query's only text-sized pass, run twice). The
    # cached frame is doc_id + 5-char split, far narrower than its
    # build pass.
    tagged = scoped_persist(
        d.select(
            "doc_id",
            F.when(slot < TRAIN_CUT, F.lit("train"))
            .when(slot < VAL_CUT, F.lit("val"))
            .otherwise(F.lit("test"))
            .alias("split"),
        )
    )
    ta = tagged.select(F.col("doc_id").alias("doc_a"), F.col("split").alias("sa"))
    tb = tagged.select(F.col("doc_id").alias("doc_b"), F.col("split").alias("sb"))
    return (
        pairs.join(ta, "doc_a")
        .join(tb, "doc_b")
        .select(
            F.least("sa", "sb").alias("split_a"),
            F.greatest("sa", "sb").alias("split_b"),
        )
        .groupBy("split_a", "split_b")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .select(
            "split_a",
            "split_b",
            F.col("n_pairs").cast("long").alias("n_pairs"),
            (F.col("split_a") != F.col("split_b")).cast("long").alias("is_leak"),
        )
        .orderBy("split_a", "split_b")
    )


# Cluster-safe split hash: the KMV family's wrapping double-LCG over
# the cluster ROOT id (not the doc id), so every member of a near-dup
# cluster lands in the same split by construction.
from alexandria_pipeline_spark.operators.dedup import (  # noqa: E402
    connected_components_from_pairs,
)
from alexandria_pipeline_spark.operators.relational_ext import (  # noqa: E402
    _KMV_A,
    _KMV_B,
    _KMV_M,
)


@query(
    "corpus_split_cluster_safe",
    oracle=f"""
    WITH RECURSIVE pairs AS ({ORACLES["dedup_minhash_lsh"]}),
    edges AS (
      SELECT doc_a AS u, doc_b AS v FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs
    ),
    nodes AS (SELECT DISTINCT u AS node FROM edges),
    reach AS (
      SELECT node, node AS lab FROM nodes
      UNION
      SELECT e.v AS node, r.lab FROM reach r JOIN edges e ON e.u = r.node
    ),
    comp AS (SELECT node, min(lab) AS root FROM reach GROUP BY node),
    assigned AS (
      SELECT d.doc_id, coalesce(c.root, d.doc_id) AS root
      FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
    ),
    tagged AS (
      SELECT doc_id, root,
             CASE WHEN ((root * {_KMV_A} + {_KMV_B}) % {_KMV_M} * {_KMV_A}
                        + {_KMV_B}) % {_KMV_M} % 100 < {TRAIN_CUT} THEN 'train'
                  WHEN ((root * {_KMV_A} + {_KMV_B}) % {_KMV_M} * {_KMV_A}
                        + {_KMV_B}) % {_KMV_M} % 100 < {VAL_CUT} THEN 'val'
                  ELSE 'test' END AS split
      FROM assigned
    ),
    leaks AS (
      SELECT CAST(count(*) AS BIGINT) AS n_leak_pairs
      FROM pairs p
      JOIN tagged a ON a.doc_id = p.doc_a
      JOIN tagged b ON b.doc_id = p.doc_b
      WHERE a.split <> b.split
    )
    SELECT split,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT root) AS BIGINT) AS n_clusters,
           (SELECT n_leak_pairs FROM leaks) AS n_leak_pairs
    FROM tagged GROUP BY split ORDER BY split
    """,
)
def corpus_split_cluster_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe split ASSIGNMENT — the fix for what
    split_leakage_audit detects: hash the near-dup CLUSTER ROOT (min
    doc_id of each connected component of the verified MinHash pair
    graph; singletons root at themselves), not the document, so a
    near-dup pair can never straddle train/eval. The read-out carries
    the audit IN-QUERY: n_leak_pairs joins the pair graph against the
    final assignment and must be 0 — a value the oracle hash actually
    proves, not a claim. This is the split discipline real LLM data
    pipelines adopt after their first contaminated eval.

    Composition at scale: pair graph (ids only — text never moves) →
    the shared min-label-propagation CC core (per-round cost bounded
    by the pair graph, not the corpus) → a map-only split tag on the
    full corpus via a LEFT join against the component labels (labels
    frame is pair-graph-sized, broadcastable in practice) → one
    split-cardinality aggregate + a pair-graph-sized audit join. The
    oracle nests the minhash SQL inside a recursive closure and
    replays the same LCG split hash, hash-checking pair gen →
    clustering → assignment → audit end-to-end."""
    pairs = QUERIES["dedup_minhash_lsh"](spark, sf_dir).select("doc_a", "doc_b")
    labels = connected_components_from_pairs(pairs, "doc_a", "doc_b")
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    assigned = d.join(
        labels.select(F.col("node").alias("doc_id"), F.col("lab")),
        "doc_id",
        "left",
    ).select("doc_id", F.coalesce("lab", "doc_id").alias("root"))
    slot = (
        (F.col("root") * _KMV_A + _KMV_B) % _KMV_M * _KMV_A + _KMV_B
    ) % _KMV_M % 100
    tagged = assigned.select(
        "doc_id",
        "root",
        F.when(slot < TRAIN_CUT, F.lit("train"))
        .when(slot < VAL_CUT, F.lit("val"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )
    ta = tagged.select(F.col("doc_id").alias("doc_a"), F.col("split").alias("sa"))
    tb = tagged.select(F.col("doc_id").alias("doc_b"), F.col("split").alias("sb"))
    leaks = (
        pairs.join(ta, "doc_a")
        .join(tb, "doc_b")
        .filter(F.col("sa") != F.col("sb"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_leak_pairs"))
    )
    return (
        tagged.groupBy("split")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.count_distinct("root").cast("long").alias("n_clusters"),
        )
        .crossJoin(F.broadcast(leaks))
        .select("split", "n_docs", "n_clusters", "n_leak_pairs")
        .orderBy("split")
    )


@query(
    "corpus_mix_temperature",
    oracle="""
    WITH per_lang AS (
      SELECT lang,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS lang_tokens
      FROM documents GROUP BY lang
    ),
    w AS (
      SELECT lang, n_docs, lang_tokens,
             CAST(floor(sqrt(CAST(lang_tokens AS DOUBLE))) AS BIGINT) AS tw
      FROM per_lang
    ),
    tot AS (
      SELECT CAST(sum(lang_tokens) AS BIGINT) AS total_tokens,
             CAST(sum(tw) AS BIGINT) AS total_tw
      FROM w
    )
    SELECT lang, n_docs, lang_tokens,
           CAST(lang_tokens * 1000000 // total_tokens AS BIGINT)
             AS raw_share_ppm,
           CAST(tw * 1000000 // total_tw AS BIGINT) AS temp_share_ppm,
           CAST((tw * 1000000 // total_tw) * 1000
                // (lang_tokens * 1000000 // total_tokens) AS BIGINT)
             AS boost_e3
    FROM w, tot
    ORDER BY lang
    """,
)
def corpus_mix_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-balanced language sampling shares (the mT5 / XLM-R
    scheme, Xue et al. 2021 §3.1 with alpha = 0.5): sampling weight
    proportional to (lang_tokens)^alpha, i.e. an integer floor(sqrt),
    so low-resource languages are upsampled relative to their raw
    token share without letting the head language dominate — the knob
    between corpus_mix_weights' uniform target (alpha = 0) and
    natural sampling (alpha = 1). boost_e3 > 1000 marks languages the
    temperature boosts. All shares are exact truncating ppm; sqrt runs
    on an integer < 2^53 whose double image is exact, and floor(sqrt)
    is then engine-identical.

    Plan at 100 TB: identical to corpus_mix_weights — ONE token-count
    aggregate keyed by lang (the only data-sized shuffle, map-side
    combined), a 1-row totals aggregate broadcast back, map-only
    arithmetic after that. Languages are the group key, so the output
    is bounded by the language inventory at any corpus size."""
    d = load_table(spark, sf_dir, "documents")
    per_lang = d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(_n_tok("text")).alias("lang_tokens"),
    )
    w = per_lang.withColumn(
        "tw", F.floor(F.sqrt(F.col("lang_tokens").cast("double"))).cast("long")
    )
    tot = w.agg(
        F.sum("lang_tokens").alias("total_tokens"),
        F.sum("tw").alias("total_tw"),
    )
    raw_share = int_div(F.col("lang_tokens") * 1_000_000, F.col("total_tokens"))
    temp_share = int_div(F.col("tw") * 1_000_000, F.col("total_tw"))
    return (
        w.crossJoin(F.broadcast(tot))
        .select(
            "lang",
            "n_docs",
            "lang_tokens",
            raw_share.alias("raw_share_ppm"),
            temp_share.alias("temp_share_ppm"),
            int_div(temp_share * 1_000, raw_share).alias("boost_e3"),
        )
        .orderBy("lang")
    )


# Data-constrained scaling plan: token budget as a multiple of the
# corpus, per-source repeat cap of 4 epochs (Muennighoff et al. 2023:
# up to ~4 epochs of repeated data is nearly as good as fresh).
EPOCH_BUDGET_MULT = 2
EPOCH_CAP_E3 = 4_000


@query(
    "corpus_epoch_repeat_plan",
    oracle=f"""
    WITH per_src AS (
      SELECT source,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS src_tokens
      FROM documents GROUP BY source
    ),
    tot AS (
      SELECT CAST(sum(src_tokens) AS BIGINT) AS total_tokens,
             CAST(count(*) AS BIGINT) AS n_sources
      FROM per_src
    ),
    plan AS (
      SELECT source, n_docs, src_tokens,
             total_tokens * {EPOCH_BUDGET_MULT} // n_sources AS target_tokens,
             least(CAST({EPOCH_CAP_E3} AS BIGINT),
                   (total_tokens * {EPOCH_BUDGET_MULT} // n_sources)
                     * 1000 // src_tokens) AS epochs_e3
      FROM per_src, tot
    )
    SELECT source, n_docs, src_tokens, target_tokens, epochs_e3,
           CAST(src_tokens * epochs_e3 // 1000 AS BIGINT)
             AS effective_tokens,
           CAST(greatest(CAST(0 AS BIGINT),
                target_tokens - src_tokens * epochs_e3 // 1000) AS BIGINT)
             AS shortfall_tokens
    FROM plan ORDER BY source
    """,
)
def corpus_epoch_repeat_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DATA-CONSTRAINED training plan (Muennighoff et al. 2023): given
    a token budget of EPOCH_BUDGET_MULT(=2)x the corpus split uniformly
    across sources, how many EPOCHS of each source fill its allocation
    — capped at 4
    (epochs_e3 <= EPOCH_CAP_E3=4000: past ~4 repeats, repeated tokens stop buying
    loss). shortfall_tokens > 0 names the sources that cannot fill
    their share even at the cap — the scaling-plan gap you must cover
    with new collection or by re-weighting toward data-rich sources
    (the knob corpus_mix_temperature tunes). All exact truncating
    integer arithmetic in milli-epochs.

    Plan: one source-keyed token aggregate (the only data-sized
    shuffle, map-side combined), a 1-row totals broadcast, map-only
    arithmetic — output bounded by the source inventory at any
    scale."""
    d = load_table(spark, sf_dir, "documents")
    per_src = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(_n_tok("text")).cast("long").alias("src_tokens"),
    )
    tot = per_src.agg(
        F.sum("src_tokens").alias("total_tokens"),
        F.count(F.lit(1)).alias("n_sources"),
    )
    target = int_div(
        F.col("total_tokens") * EPOCH_BUDGET_MULT, F.col("n_sources")
    )
    plan = per_src.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "src_tokens",
        target.alias("target_tokens"),
        F.least(
            F.lit(EPOCH_CAP_E3).cast("long"),
            int_div(target * 1_000, F.col("src_tokens")),
        ).alias("epochs_e3"),
    )
    eff = int_div(F.col("src_tokens") * F.col("epochs_e3"), F.lit(1_000))
    return plan.select(
        "source",
        "n_docs",
        "src_tokens",
        "target_tokens",
        "epochs_e3",
        eff.alias("effective_tokens"),
        F.greatest(F.lit(0).cast("long"), F.col("target_tokens") - eff).alias(
            "shortfall_tokens"
        ),
    ).orderBy("source")


# Candidate capacities for the max_len tuning curve; the fixture's
# docs run 10-99 tokens, so the grid brackets the interesting regime
# (docs-per-bin from ~2 to ~40) the way a real 512-8192 grid would.
PACK_CAPACITY_GRID = (128, 256, 512, 1024, 2048)


@query(
    "pack_capacity_curve",
    oracle=f"""
    WITH docs AS (
      SELECT doc_id, lang, doc_id % {PACK_BUCKETS} AS bucket,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
      FROM documents
    ),
    pfx AS (
      SELECT lang, bucket, n_tok,
             coalesce(sum(n_tok) OVER (
               PARTITION BY lang, bucket ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pre
      FROM docs
    ),
    caps AS (SELECT unnest(ARRAY{list(PACK_CAPACITY_GRID)}) AS cap),
    placed AS (
      SELECT cap, lang, bucket, pre // cap AS bin_id,
             CAST(sum(n_tok) AS BIGINT) AS bin_tokens
      FROM pfx CROSS JOIN caps
      GROUP BY cap, lang, bucket, pre // cap
    )
    SELECT CAST(cap AS BIGINT) AS capacity,
           CAST(count(*) AS BIGINT) AS n_bins,
           CAST(sum(bin_tokens) AS BIGINT) AS total_tokens,
           CAST(sum(CASE WHEN bin_tokens < cap THEN cap - bin_tokens
                         ELSE 0 END) * 1000000
                // (count(*) * cap) AS BIGINT) AS waste_ppm,
           CAST(sum(CASE WHEN bin_tokens > cap THEN bin_tokens - cap
                         ELSE 0 END) * 1000000
                // sum(bin_tokens) AS BIGINT) AS overflow_ppm
    FROM placed
    GROUP BY cap
    ORDER BY capacity
    """,
)
def pack_capacity_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The max_len TUNING CURVE for sequence packing: for each
    candidate capacity, how much of the padded batch is waste (short
    bins padded up) and how much of the corpus overflows its bin (long
    tails the contiguous packer accepts rather than splitting) — the
    two costs a training team trades when picking sequence length.
    pack_sequences_contiguous is this table's single-capacity slice;
    the prefix sums are computed ONCE (they don't depend on capacity)
    and the 5-candidate grid rides a literal cross join — 5x map-side
    rows into one partially-aggregated (cap, lang, bucket, bin)
    shuffle, never 5 window passes. All arithmetic is exact integers;
    the two ppm read-outs are one truncating division each. Window
    partitions stay (lang, bucket)-bounded (the PACK_BUCKETS
    discipline)."""
    d = load_table(spark, sf_dir, "documents")
    docs = d.select(
        "doc_id",
        "lang",
        (F.col("doc_id") % PACK_BUCKETS).alias("bucket"),
        _n_tok("text").alias("n_tok"),
    )
    w = (
        Window.partitionBy("lang", "bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    pfx = docs.select(
        "lang",
        "bucket",
        "n_tok",
        F.coalesce(F.sum("n_tok").over(w), F.lit(0)).alias("pre"),
    )
    caps = spark.createDataFrame(
        [(c,) for c in PACK_CAPACITY_GRID], "cap long"
    )
    placed = (
        pfx.crossJoin(F.broadcast(caps))
        .groupBy("cap", "lang", "bucket", F.expr("pre div cap").alias("bin_id"))
        .agg(F.sum("n_tok").cast("long").alias("bin_tokens"))
    )
    return (
        placed.groupBy("cap")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bins"),
            F.sum("bin_tokens").cast("long").alias("total_tokens"),
            F.expr(
                "CAST(sum(CASE WHEN bin_tokens < cap "
                "THEN cap - bin_tokens ELSE 0 END) * 1000000 "
                "div (count(1) * cap) AS BIGINT)"
            ).alias("waste_ppm"),
            F.expr(
                "CAST(sum(CASE WHEN bin_tokens > cap "
                "THEN bin_tokens - cap ELSE 0 END) * 1000000 "
                "div sum(bin_tokens) AS BIGINT)"
            ).alias("overflow_ppm"),
        )
        .withColumnRenamed("cap", "capacity")
        .orderBy("capacity")
    )


# Priority sampling: sample size and the two integer constants of the
# deterministic uniform — a Weyl-style multiplicative hash of the
# order key into [1, 2^31-1] (the prime modulus avoids the zero/
# low-bit structure a power-of-two modulus leaks from sequential
# keys), and the 2^31 scale that keeps priority = w/u in exact int64:
# max w_cents ~ 5e7 times 2^31 ~ 1.1e17 < 2^63.
PRIORITY_SAMPLE_K = 50
PRIORITY_HASH_MULT = 2654435761  # Knuth's 2^32 / golden ratio
PRIORITY_HASH_MOD = 2147483647  # 2^31 - 1 (prime)
PRIORITY_SCALE = 2147483648  # 2^31


@query(
    "sample_priority_weighted",
    oracle=f"""
    WITH w AS (
      SELECT o_orderkey,
             CAST(round(o_totalprice * 100) AS BIGINT) AS w_cents,
             ((o_orderkey % {PRIORITY_SCALE}) * {PRIORITY_HASH_MULT})
               % {PRIORITY_HASH_MOD} + 1 AS u_int
      FROM orders
    )
    SELECT o_orderkey,
           w_cents,
           CAST(w_cents AS HUGEINT) * {PRIORITY_SCALE} // u_int AS priority
    FROM w
    ORDER BY priority DESC, o_orderkey
    LIMIT {PRIORITY_SAMPLE_K}
    """,
)
def sample_priority_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement via PRIORITY SAMPLING
    (Duffield/Lund/Thorup, JACM 2007): each row gets priority
    q = w / u with u uniform on (0,1]; the k highest-priority rows
    form a sample whose subset-sum estimates are unbiased with
    near-optimal variance — the standard way to keep a budget-bounded
    weighted subset of a 100 TB fact stream (top spenders by revenue
    weight here). u comes from a deterministic multiplicative hash of
    the key, so the sample is reproducible across runs, engines, and
    re-shards — same property as the content-hash split — and the
    whole computation stays in exact int64 (w in cents, u as an
    integer in [1, 2^31-1], priority = w_cents * 2^31 // u in
    decimal(38,0)/HUGEINT so extreme price magnitudes cannot overflow
    the product): no float division whose last-ulp could flip the
    cross-engine ranking.
    Plan: map-only scoring (no shuffle) + TakeOrdered(k) with the key
    as tiebreaker — at any scale the only global structure is the
    k-row heap merge. A per-stratum variant is sample_stratified_hash
    with the same window shape as window_rank_topn_per_group."""
    o = load_table(spark, sf_dir, "orders")
    w_cents = F.round(F.col("o_totalprice") * 100).cast("long")
    u_int = (
        (F.col("o_orderkey") % PRIORITY_SCALE) * PRIORITY_HASH_MULT
    ) % PRIORITY_HASH_MOD + 1
    return (
        o.select(
            "o_orderkey",
            w_cents.alias("w_cents"),
            u_int.alias("u_int"),
        )
        .select(
            "o_orderkey",
            "w_cents",
            F.expr(
                f"CAST(CAST(w_cents AS DECIMAL(38,0)) * {PRIORITY_SCALE}"
                " div u_int AS DECIMAL(38,0))"
            ).alias("priority"),
        )
        .orderBy(F.desc("priority"), F.asc("o_orderkey"))
        .limit(PRIORITY_SAMPLE_K)
    )
