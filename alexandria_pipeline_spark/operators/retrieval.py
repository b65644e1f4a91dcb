"""Ranked retrieval and fuzzy-matching operators — BM25 top-k search
and a deletion-neighborhood (SymSpell-style) fuzzy self-join.

Beyond the reference's scope (run.py embeds documents but never ranks
or links them): these are the lexical-retrieval and entity-resolution
passes a training-data pipeline runs to pick in-context exemplars and
to collapse near-identical entities before building a corpus.

Exactness contract: all scoring is scaled-integer (e6) rational
arithmetic so the DuckDB oracle hash-matches bit for bit. BM25's
log-idf is replaced by the rational idf (N-df)·1e6 // (df+1) — the
same deliberate trade tfidf_top_terms documents: log() is monotone, so
RANKINGS are unaffected within a query, and dropping it buys
cross-engine integer identity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from alexandria_pipeline_spark.catalog import load_table
from alexandria_pipeline_spark.functions.exact import int_div
from alexandria_pipeline_spark.registry import (
    persist_if_source_large,
    query,
    scoped_persist,
)

# Fixed query workload: three multi-term queries over the synthetic
# vocabulary. A real pipeline would read these from a query table; the
# literal set keeps the oracle expressible on the documents table
# alone.
BM25_QUERIES: list[tuple[int, str]] = [
    (1, "spark"),
    (1, "join"),
    (1, "table"),
    (2, "hash"),
    (2, "merge"),
    (2, "batch"),
    (3, "vector"),
    (3, "scan"),
    (3, "filter"),
]
BM25_K = 10
# k1=1.2, b=0.75 in e6 fixed point.
BM25_K1_E6 = 1_200_000
BM25_B_NORM_CONST_E6 = 250_000  # (1-b) * 1e6
BM25_B_E6 = 750_000

_TERM_VALUES = ", ".join(f"({qid}, '{t}')" for qid, t in BM25_QUERIES)


def _bm25_tokens():
    """The BM25 tokenizer — the oracle's string_split(text, ' '). Both
    the tf token stream and the doc length derive from this one
    expression, so they can never tokenize differently."""
    return F.split("text", " ")


@query(
    "text_bm25_topk",
    oracle=f"""
    WITH terms(query_id, tok) AS (VALUES {_TERM_VALUES}),
    toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    dl AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM toks GROUP BY doc_id
    ),
    stats AS (
      SELECT CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(dl) AS BIGINT) AS total_toks
      FROM dl
    ),
    tf AS (
      SELECT t.query_id, t.tok, k.doc_id, CAST(count(*) AS BIGINT) AS tf
      FROM toks k JOIN terms t USING (tok)
      GROUP BY 1, 2, 3
    ),
    df AS (
      SELECT tok, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
      FROM tf GROUP BY tok
    ),
    scored AS (
      SELECT tf.query_id, tf.doc_id,
             ((s.n_docs - df.df) * 1000000 // (df.df + 1))
             * ((tf.tf * 2200000 * 1000000)
                // (tf.tf * 1000000
                    + 12 * ({BM25_B_NORM_CONST_E6}
                            + ({BM25_B_E6} * dl.dl * s.n_docs) // s.total_toks)
                      // 10))
             // 1000000 AS term_score_e6
      FROM tf
      JOIN df USING (tok)
      JOIN dl USING (doc_id)
      CROSS JOIN stats s
    ),
    agg AS (
      SELECT query_id, doc_id,
             CAST(sum(term_score_e6) AS BIGINT) AS score_e6,
             CAST(count(*) AS BIGINT) AS n_terms_matched
      FROM scored GROUP BY 1, 2
    ),
    ranked AS (
      SELECT query_id, doc_id, score_e6, n_terms_matched,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY score_e6 DESC, doc_id) AS rnk
      FROM agg
    )
    SELECT CAST(query_id AS INT) AS query_id, CAST(rnk AS INT) AS rnk,
           doc_id, score_e6 / 1000000.0 AS score, n_terms_matched
    FROM ranked WHERE rnk <= {BM25_K}
    """,
)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 lexical retrieval for a fixed 3-query workload
    (k1=1.2, b=0.75; rational idf — see module docstring). Plan: ONE
    explode of the corpus feeds the query-term tf counts, while the
    per-doc length is a map-only size(split) projection (r13 — see
    the inline note); the 9-row term table broadcasts onto the token
    stream BEFORE the tf groupBy, so only matching tokens ever
    shuffle; df is a 9-row aggregate over tf; corpus stats (N, Σdl)
    ride a 1-row broadcast cross join; and the final top-k is a
    row_number window partitioned by query_id — 3 partitions of
    candidate docs, never a global sort. At 100 TB the only fact-sized
    exchanges are the term-filtered tf groupBy (map-side combined)
    and the dl-attach join's |docs|-row narrow side; everything
    query-shaped is broadcast.
    Scoring overflow headroom: idf_e6 ≤ N·1e6 (~5e11 at sf10) times
    tf-saturation ≤ 2.2e6 stays under 2^63 through sf100."""
    d = load_table(spark, sf_dir, "documents")
    terms = spark.createDataFrame(BM25_QUERIES, "query_id int, tok string")
    toks = d.select("doc_id", F.explode(_bm25_tokens()).alias("tok"))
    # r12 negative result (kept out): persisting the dl and tf
    # collapse points (each feeds two consumers, so the corpus is
    # tokenized 4x in this plan) measured +0.7 s at sf0.1 in the full
    # bench — the replays overlap in parallel branches for less than
    # the two cache barriers cost (the ccnet/r8 rule).
    # r13 (guide §2.4: remove shuffles outright): dl is size(split) —
    # a MAP-ONLY projection — not count-over-explode; the former
    # corpus-sized dl exchange (|tokens| rows hashed onto doc_id, one
    # of this plan's two fact-sized shuffles) disappears at every
    # scale, and the 1-row stats aggregate now rides a shuffle-free
    # subtree. size(split(text)) ≡ count(*) per exploded doc_id for
    # every non-null text (split('') = [''], size 1, matching the
    # one-row explode; null text yields no token rows in the old plan
    # and is filtered here), so values are bit-identical. This also
    # supersedes the r12 revert note's "written-once dl relation at
    # 100 TB" design: a zero-shuffle in-plan derivation beats reading
    # ANY materialization of it.
    # Above the size gate (verdict #7's at-scale twin, executable):
    # dl feeds two consumers (stats, the scored join) and tf feeds two
    # (df, scored) — unpersisted, each consumer replans a full corpus
    # pass. persist_if_source_large caches the narrow collapse points
    # only when the corpus is big enough that the replay costs more
    # than the cache barrier (below it, the measured-better inline
    # form from the r12 revert is unchanged).
    dl = persist_if_source_large(
        d.filter(F.col("text").isNotNull()).select(
            "doc_id",
            F.size(_bm25_tokens()).cast("long").alias("dl"),
        ),
        sf_dir,
    )
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("total_toks")
    )
    tf = persist_if_source_large(
        toks.join(F.broadcast(terms), "tok")
        .groupBy("query_id", "tok", "doc_id")
        .agg(F.count(F.lit(1)).alias("tf")),
        sf_dir,
    )
    df = tf.groupBy("tok").agg(F.countDistinct("doc_id").alias("df"))
    norm_e6 = F.lit(BM25_B_NORM_CONST_E6) + int_div(
        F.lit(BM25_B_E6) * F.col("dl") * F.col("n_docs"), F.col("total_toks")
    )
    denom_e6 = F.col("tf") * F.lit(1_000_000) + int_div(
        F.lit(12) * norm_e6, F.lit(10)
    )
    idf_e6 = int_div(
        (F.col("n_docs") - F.col("df")) * F.lit(1_000_000), F.col("df") + 1
    )
    tsat_e6 = int_div(F.col("tf") * F.lit(2_200_000) * F.lit(1_000_000), denom_e6)
    scored = (
        tf.join(F.broadcast(df), "tok")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "query_id",
            "doc_id",
            int_div(idf_e6 * tsat_e6, F.lit(1_000_000)).alias("term_score_e6"),
        )
    )
    agg = scored.groupBy("query_id", "doc_id").agg(
        F.sum("term_score_e6").cast("long").alias("score_e6"),
        F.count(F.lit(1)).cast("long").alias("n_terms_matched"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score_e6").desc(), F.col("doc_id")
    )
    return (
        agg.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= BM25_K)
        .select(
            F.col("query_id").cast("int").alias("query_id"),
            F.col("rnk").cast("int").alias("rnk"),
            "doc_id",
            (F.col("score_e6") / 1_000_000.0).alias("score"),
            "n_terms_matched",
        )
    )


@query(
    "join_fuzzy_deletion_neighborhood",
    oracle="""
    WITH reps AS (
      -- exact-duplicate names collapse to one representative BEFORE
      -- any fuzzy work (replicated fixtures would otherwise square)
      SELECT c_name,
             min(c_custkey) AS rep_key,
             CAST(count(*) AS BIGINT) AS n_dups
      FROM customer GROUP BY c_name
    ),
    seg AS (
      SELECT r.c_name, r.rep_key, r.n_dups, c.c_mktsegment
      FROM reps r JOIN customer c ON c.c_custkey = r.rep_key
    ),
    variants AS (
      SELECT rep_key, c_name,
             CASE WHEN i = 0 THEN c_name
                  ELSE substring(c_name, 1, i - 1)
                       || substring(c_name, i + 1)
             END AS v
      FROM seg, unnest(range(0, length(c_name) + 1)) AS t(i)
    ),
    cand AS (
      SELECT DISTINCT a.rep_key AS k1, b.rep_key AS k2,
             a.c_name AS n1, b.c_name AS n2
      FROM variants a JOIN variants b USING (v)
      WHERE a.rep_key < b.rep_key
    ),
    pairs AS (
      SELECT k1, k2 FROM cand WHERE levenshtein(n1, n2) <= 1
    )
    SELECT s.c_mktsegment AS mktsegment,
           CAST(count(*) AS BIGINT) AS n_fuzzy_pairs,
           CAST(count(DISTINCT p.k1) AS BIGINT) AS n_left_customers
    FROM pairs p JOIN seg s ON s.rep_key = p.k1
    GROUP BY 1 ORDER BY 1
    """,
)
def join_fuzzy_deletion_neighborhood(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Fuzzy self-join at edit distance ≤ 1 via the POSITION-TAGGED
    deletion neighborhood (SymSpell blocking made exact — same rewrite
    as dedup_edit_distance, see the proof in its docstring): for
    distinct names, substitution pairs share a deletion variant at the
    SAME position k (and at no other), and indel pairs match the
    shorter name itself against the longer's run-collapsed deletion
    variants — so the (variant, k) / (name = variant) equi-joins emit
    exactly the lev≤1 pairs with multiplicity 1, and the classic
    pipeline's levenshtein verify over every candidate occurrence plus
    the candidate-distinct both disappear. The oracle intentionally
    keeps the naive generate-verify formulation: two independent
    derivations of the same semantics. Exact-duplicate names still
    collapse to a min-custkey representative FIRST (a linear groupBy)
    — entity-resolution semantics, and replicated fixtures would
    otherwise square inside a variant group. Scale shape: ~|s| variant
    rows per distinct name (~19 here), two equi-joins whose group
    sizes are alphabet-bounded, then one per-segment aggregate —
    linear in names, vs the O(n²) naive fuzzy join. Output:
    per-mktsegment verified pair counts."""
    c = load_table(spark, sf_dir, "customer")
    reps = c.groupBy("c_name").agg(
        F.min("c_custkey").alias("rep_key"),
        F.count(F.lit(1)).cast("long").alias("n_dups"),
    )
    # r12: seg feeds FOUR consumers (both variant explodes, the indel
    # short side, and the final segment join) and deletions feeds both
    # sides of the substitution self-join — Catalyst replans the
    # customer scan + rep groupBy per consumer (no cross-consumer CSE).
    # Persist the |distinct names|-row frames once; every downstream
    # branch reads the cache.
    seg = scoped_persist(
        reps.join(
            c.select(F.col("c_custkey").alias("rep_key"), "c_mktsegment"),
            "rep_key",
        )
    )
    deletions = scoped_persist(
        seg.select(
            "rep_key",
            F.explode(
                F.expr(
                    "transform(sequence(1, length(c_name)), k -> "
                    "struct(concat(substring(c_name, 1, k - 1), "
                    "substring(c_name, k + 1, length(c_name))) AS v, k AS k))"
                )
            ).alias("d"),
        ).select("rep_key", F.col("d.v").alias("v"), F.col("d.k").alias("k"))
    )
    substitutions = (
        deletions.select(F.col("rep_key").alias("k1"), "v", "k")
        .join(deletions.select(F.col("rep_key").alias("k2"), "v", "k"), ["v", "k"])
        .filter(F.col("k1") < F.col("k2"))
        .select("k1", "k2")
    )
    del_distinct = seg.select(
        "rep_key",
        F.explode(
            F.array_distinct(
                F.expr(
                    "transform(sequence(1, length(c_name)), k -> "
                    "concat(substring(c_name, 1, k - 1), "
                    "substring(c_name, k + 1, length(c_name))))"
                )
            )
        ).alias("v"),
    )
    indels = (
        seg.select(F.col("rep_key").alias("ks"), F.col("c_name").alias("v"))
        .join(del_distinct.select(F.col("rep_key").alias("kl"), "v"), "v")
        .select(
            F.least("ks", "kl").alias("k1"), F.greatest("ks", "kl").alias("k2")
        )
    )
    pairs = substitutions.unionByName(indels)
    return (
        pairs.join(
            seg.select(F.col("rep_key").alias("k1"), "c_mktsegment"), "k1"
        )
        .groupBy(F.col("c_mktsegment").alias("mktsegment"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_fuzzy_pairs"),
            F.countDistinct("k1").cast("long").alias("n_left_customers"),
        )
        .orderBy("mktsegment")
    )
