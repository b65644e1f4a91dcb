"""Deduplication suite over the documents/embeddings tables — the
north-star LLM-data-pipeline operators (BASELINE.json): exact,
MinHash+LSH, SimHash, n-gram Jaccard, and embedding-cosine near-dup.

Cross-engine note: every sketch uses the explicit word-code arithmetic
from functions.text (Spark's and DuckDB's builtin hash() disagree), so
all candidate generation AND verification is oracle-checkable — rare
for LSH pipelines and deliberately so here.

Scale shape (the part that matters at 100 TB):
  - candidate generation is always a *blocked* self-join — equality on
    a band/bucket key, never a cross join. That's one shuffle on the
    band key; AQE splits hot buckets (a degenerate band value is the
    classic LSH skew hazard).
  - verification (exact Jaccard / cosine) runs only on candidate
    pairs, so its cost is output-bound, not corpus-bound.
  - keep-first selection is a window row_number, one shuffle on the
    dedup key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F
from pyspark.storagelevel import StorageLevel

from alexandria_pipeline_spark.catalog import load_table, spread_to_cores
from alexandria_pipeline_spark.functions.checkpoints import (
    local_checkpoint,
    unpersist_rdd_ids,
)
from alexandria_pipeline_spark.functions.exact import int_div
from alexandria_pipeline_spark.functions.text import (
    MINHASH_P,
    MIX_A,
    MIX_MOD,
    duck_rolling_fingerprint,
)
from alexandria_pipeline_spark.sketch import DUCK_SKETCH, shingle_sketch
from alexandria_pipeline_spark.registry import (
    ORACLES,
    QUERIES,
    query,
    scoped_persist,
    scoped_release,
)

# MinHash band layout. The oracle SQL is generated from these same
# constants, so both engines always band identically. BANDS is the
# corpus-size lever (SCALE.md): band-bucket occupancy falls
# exponentially with rows-per-band x log2(bands); 4 is sized for the
# ~5k-doc testdata, production corpora want 16+.
BANDS = 4
# Rows per band is the precision lever: candidates require ALL r rows
# of a band to match, so the false-candidate rate falls ~P^-(r-1) per
# band. Measured on the 500k-doc/40-word-vocab probe: r=2 -> 13.5M
# candidates (min-collisions dominate on the small shingle universe),
# r=3 cuts that by orders of magnitude. r <= 3 so base-P band packing
# stays in int64 (P^3 ~ 1e15).
ROWS_PER_BAND = 2
assert ROWS_PER_BAND in (2, 3), "band packing supports r in {2, 3}"
NUM_HASHES = ROWS_PER_BAND * BANDS
SIMHASH_BITS = 32
SIMHASH_MAX_HAMMING = 3
JACCARD_THRESHOLD = 0.5
COSINE_THRESHOLD = 0.35

# Deterministic "random" hyperplanes for embedding LSH: integer entries
# in [-6, 6] from a fixed affine formula — exactly representable, so
# both engines compute identical projections. The plane count is the
# bucket-granularity knob (2^planes buckets): in-bucket pair volume is
# ~n²/2^planes, so planes MUST grow with the corpus. The DEFAULT is now
# derived from a plan-time corpus count in BOTH engines with the same
# pure-integer formula (no float log2 — bit_length is exact and
# identical cross-engine):
#
#     planes = clamp(bit_length(n - 1) - 7, min=4, max=40)
#
# i.e. planes ≈ ceil(log2(n)) - 7, which pins expected in-bucket pair
# volume at ~n²/2^planes ≈ 128·n — LINEAR in the corpus up to
# n ≈ 2^47 vectors (cap 40 + 7), far past any 100-TB corpus. The
# sf1 stress measured the cost of a fixed default: 4 planes = 16
# buckets went quadratic (123 s at 20k vectors); this formula picks 8
# planes there (the setting measured linear-ish, 19.4 s) while leaving
# sf0.01/sf0.1 at 4 planes, so oracle hashes are unchanged. The
# formula is the only plane count: planes scale as ~log2 n, and the
# oracle SQL computes the same integers (_DUCK_PLANES_CTE).
#
# Plane table (r7): the original affine formula ((p*31 + d*17) % 13)
# was PERIODIC in p with period 13 (31 ≡ 5 mod 13), so planes 13..23
# silently duplicated planes 0..10 — bucket granularity stopped
# growing at 2^13 and the 128·n bound quietly became n²/2^13 past
# n ≈ 2^20 vectors. Planes 0..12 are kept bit-identical (every
# measured scale uses ≤ 13 planes, so all recorded behavior and
# recall measurements stand); p ≥ 13 now comes from a Knuth
# multiplicative hash, and distinctness of the WHOLE table is
# asserted at import so a regression can't slip back in.
LSH_MAX_PLANES = 40
EMBED_DIM = 64


def _plane_entry(p: int, d: int) -> int:
    if p < 13:
        return ((p * 31 + d * 17) % 13) - 6
    return (((p * 1_000_003 + d) * 2_654_435_761) % 2**31) % 13 - 6


_planes = [
    [_plane_entry(p, d) for d in range(EMBED_DIM)] for p in range(LSH_MAX_PLANES)
]
assert len({tuple(pl) for pl in _planes}) == LSH_MAX_PLANES, "duplicate LSH planes"


def lsh_planes_for(n_vectors: int) -> int:
    """Auto-scaled hyperplane count: clamp(bit_length(n-1) - 7, 4, 40).

    bit_length(n-1) == ceil(log2(n)) for n >= 2, computed in exact
    integer arithmetic so Spark (Python int.bit_length) and the DuckDB
    oracle (length(bin(n-1))) can never disagree on a borderline float.
    """
    return max(4, min(LSH_MAX_PLANES, (max(n_vectors, 2) - 1).bit_length() - 7))


def lsh_bucket(emb_col: str, n_planes: int):
    """Random-hyperplane bucket id (sign pattern of the first n_planes
    integer hyperplane projections) as a codegen Column — shared by
    dedup_embedding_cosine and the above-gate ANN candidate
    generators."""
    from pyspark.sql import functions as F

    def proj(p: int):
        plane = F.array(*[F.lit(float(v)) for v in _planes[p]])
        return F.aggregate(
            F.zip_with(F.col(emb_col), plane, lambda x, h: x.cast("double") * h),
            F.lit(0.0),
            lambda a, x: a + x,
        )

    bucket = None
    for p in range(n_planes):
        term = F.when(proj(p) > 0, F.lit(1 << p)).otherwise(F.lit(0))
        bucket = term if bucket is None else bucket + term
    return bucket


# --------------------------------------------------------------------------
@query(
    "dedup_exact_keep_first",
    oracle="""
    SELECT doc_id, lang, prefix_key
    FROM (
      SELECT
        doc_id, lang,
        array_to_string(string_split(text, ' ')[1:10], ' ') AS prefix_key,
        row_number() OVER (
          PARTITION BY array_to_string(string_split(text, ' ')[1:10], ' ')
          ORDER BY doc_id
        ) AS rn
      FROM documents
    )
    WHERE rn = 1
    """,
)
def dedup_exact_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on a normalized content key (first-10-token prefix —
    the testdata's near-dup groups share it), keep-first by doc_id.
    This is hash-groupBy dedup: one shuffle on the key; at 100 TB the
    key would be a full-content md5 (see multimodal_binary_meta) so the
    shuffle carries 16-byte keys, not documents."""
    d = load_table(spark, sf_dir, "documents")
    prefix = F.array_join(F.slice(F.split("text", " "), 1, 10), " ")
    w = Window.partitionBy("prefix_key").orderBy("doc_id")
    return (
        d.select("doc_id", "lang", prefix.alias("prefix_key"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


# --------------------------------------------------------------------------
def _sig_cols():
    """8 MinHash aggregates over exploded shingle codes: min((a_i*c + b_i) % p)."""
    return [
        F.min((F.col("code") * (2 * i + 3) + (5 * i + 7)) % MINHASH_P).alias(f"m{i}")
        for i in range(NUM_HASHES)
    ]


def _lsh_bands(sigs: DataFrame) -> DataFrame:
    """(doc_id, band, band_val): each band's ROWS_PER_BAND signature
    values packed base-MINHASH_P into one int64."""
    band_vals = F.array(
        *[
            sum(
                F.col(f"m{b * ROWS_PER_BAND + j}")
                * (MINHASH_P ** (ROWS_PER_BAND - 1 - j))
                for j in range(ROWS_PER_BAND)
            )
            for b in range(BANDS)
        ]
    )
    return sigs.select("doc_id", F.posexplode(band_vals).alias("band", "band_val"))


def _band_pairs(bands: DataFrame) -> DataFrame:
    """Distinct candidate pairs (doc_a, doc_b), doc_a < doc_b, that
    share a band value — the blocked band self-join, ids only."""
    a = bands.select(F.col("doc_id").alias("doc_a"), "band", "band_val")
    b = bands.select(F.col("doc_id").alias("doc_b"), "band", "band_val")
    return (
        a.join(b, ["band", "band_val"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def _band_val_sql(b_idx: int) -> str:
    r = ROWS_PER_BAND
    terms = [
        f"m{b_idx * r + j} * {MINHASH_P ** (r - 1 - j)}" for j in range(r)
    ]
    return " + ".join(terms)


def _duck_band_case(b: str) -> str:
    whens = " ".join(
        f"WHEN {i} THEN {_band_val_sql(i)}" for i in range(BANDS - 1)
    )
    return f"CASE {b} {whens} ELSE {_band_val_sql(BANDS - 1)} END"


def _duck_sig_cols(code: str) -> str:
    return ", ".join(
        f"min(({code} * {2 * i + 3} + {5 * i + 7}) % {MINHASH_P}) AS m{i}"
        for i in range(NUM_HASHES)
    )


# DuckDB twins of the Spark MinHash path: `sigs` (_sig_cols) and
# `bands` (_lsh_bands) over a `docs` (doc_id, codes) CTE, and the
# undirected candidate pairs `cand` (_band_pairs).
_DUCK_LSH_BANDS = f"""sigs AS (
      SELECT doc_id, {_duck_sig_cols('code')}
      FROM (SELECT doc_id, unnest(codes) AS code FROM docs)
      GROUP BY doc_id
    ),
    bands AS (
      SELECT doc_id, CAST(b AS INT) AS band,
             ({_duck_band_case('b')}) AS band_val
      FROM sigs CROSS JOIN LATERAL (SELECT unnest(range(0, {BANDS})) AS b)
    )"""
_DUCK_BAND_PAIRS = """cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_val = b.band_val AND a.doc_id < b.doc_id
    )"""


@query(
    "dedup_minhash_lsh",
    oracle=f"""
    WITH docs AS (SELECT doc_id, codes FROM ({DUCK_SKETCH})),
    {_DUCK_LSH_BANDS},
    {_DUCK_BAND_PAIRS}
    SELECT
      c.doc_a, c.doc_b,
      CAST(CAST(len(list_intersect(x.codes, y.codes)) AS BIGINT) * 1000000
           // len(list_distinct(list_concat(x.codes, y.codes))) AS BIGINT) / 1000000.0 AS jaccard
    FROM cand c
    JOIN docs x ON x.doc_id = c.doc_a
    JOIN docs y ON y.doc_id = c.doc_b
    WHERE CAST(len(list_intersect(x.codes, y.codes)) AS DOUBLE)
          / len(list_distinct(list_concat(x.codes, y.codes))) >= {JACCARD_THRESHOLD}
    """,
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + banded LSH near-dup (Broder '97 / MMDS ch.3) over
    trigram-shingle codes: 8 permutations, 4 bands x 2 rows; candidates
    share a band value; verified with exact shingle-set Jaccard >= 0.5.

    Scale shape: shingling/explode is narrow; signatures are one
    partial+final agg on doc_id (8 mins); the band self-join carries
    (doc_id, band, band_val) ONLY — token/shingle payloads never enter
    the shuffle. Verification rejoins the shingle sets for just the
    candidate pairs, so its cost is bounded by LSH selectivity (3.1k of
    12.5M possible pairs at sf0.1), not corpus size. Unigram-token
    sketches are deliberately NOT used: on a low-entropy vocabulary
    they mark everything similar (measured 10.4M candidates)."""
    # Sketch source: the written-once (doc_id, codes) relation
    # (sketch.shingle_sketch) — a lazy parquet scan when the build job
    # has materialized it fresh, the inline shingle_codes expression
    # otherwise (value-identical by construction). The persist stays
    # because this plan references `docs` from three branches
    # (signature computation + both verification sides) and Spark
    # re-evaluates the subtree per branch — measured 3x ~50s at 500k
    # docs on the inline path; ~1KB/doc, MEMORY_AND_DISK spills safely.
    docs = scoped_persist(
        shingle_sketch(spark, sf_dir).select("doc_id", "codes"),
        StorageLevel.MEMORY_AND_DISK,
    )
    exploded = docs.select("doc_id", F.explode("codes").alias("code"))
    sigs = scoped_persist(
        exploded.groupBy("doc_id").agg(*_sig_cols()),
        StorageLevel.MEMORY_AND_DISK,
    )
    cand = _band_pairs(_lsh_bands(sigs))
    x = docs.select(F.col("doc_id").alias("doc_a"), F.col("codes").alias("codes_a"))
    y = docs.select(F.col("doc_id").alias("doc_b"), F.col("codes").alias("codes_b"))
    jaccard = F.size(F.array_intersect("codes_a", "codes_b")).cast("double") / F.size(
        F.array_union("codes_a", "codes_b")
    )
    jaccard_e6 = int_div(
        F.size(F.array_intersect("codes_a", "codes_b")).cast("long") * 1_000_000,
        F.size(F.array_union("codes_a", "codes_b")).cast("long"),
    )
    return (
        cand.join(x, "doc_a")
        .join(y, "doc_b")
        .withColumn("jaccard_raw", jaccard)
        .filter(F.col("jaccard_raw") >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", (jaccard_e6 / 1_000_000.0).alias("jaccard"))
    )

# --------------------------------------------------------------------------
def _mixed(code):
    """Lehmer-LCG bit spread of a shingle code (both engines, exact)."""
    return (code * MIX_A) % MIX_MOD


def _duck_simhash_votes() -> str:
    return ", ".join(
        f"sum(2 * (((code * {MIX_A}) % {MIX_MOD} >> {b}) & 1) - 1) AS v{b}"
        for b in range(SIMHASH_BITS)
    )


def _duck_simhash_from_votes() -> str:
    return (
        "("
        + " + ".join(
            f"(CASE WHEN v{b} > 0 THEN CAST({1 << b} AS BIGINT) ELSE 0 END)"
            for b in range(SIMHASH_BITS)
        )
        + ")"
    )


@query(
    "dedup_simhash",
    oracle=f"""
    WITH docs AS (SELECT doc_id, codes FROM ({DUCK_SKETCH})),
    votes AS (
      SELECT doc_id, {_duck_simhash_votes()}
      FROM (SELECT doc_id, unnest(codes) AS code FROM docs)
      GROUP BY doc_id
    ),
    hashed AS (
      SELECT doc_id, CAST({_duck_simhash_from_votes()} AS BIGINT) AS simhash
      FROM votes
    ),
    bands AS (
      SELECT doc_id, simhash, CAST(b AS INT) AS band,
             (simhash >> (b * 8)) & 255 AS nib
      FROM hashed CROSS JOIN LATERAL (SELECT unnest(range(0, 4)) AS b)
    )
    SELECT DISTINCT
      a.doc_id AS doc_a, b.doc_id AS doc_b,
      CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.nib = b.nib AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {SIMHASH_MAX_HAMMING}
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup (Charikar '02 / Manku '07 web-dedup shape):
    32-bit signature from +-1 votes per bit of Lehmer-mixed trigram
    shingle codes; candidates share one of four 8-bit bands
    (pigeonhole: hamming <= 3 over 4 bands => one band intact), then
    exact hamming <= 3 verification via bit_count(xor).

    Scale: votes are a partial+final agg over exploded shingles (32
    integer sums — exact in any order); after that the corpus is
    (id, int32) — 2 shuffles of minimal width. The signature is wide
    enough (32 bits) that band buckets stay small; 16-bit signatures
    measured 2.9M candidate pairs at sf0.1 vs 253k here."""
    docs = shingle_sketch(spark, sf_dir).select("doc_id", "codes")
    exploded = docs.select("doc_id", F.explode("codes").alias("code"))
    mixed = _mixed(F.col("code"))
    votes = exploded.groupBy("doc_id").agg(
        *[
            F.sum(
                F.shiftright(mixed, b).bitwiseAND(F.lit(1)) * 2 - 1
            ).alias(f"v{b}")
            for b in range(SIMHASH_BITS)
        ]
    )
    simhash = None
    for b in range(SIMHASH_BITS):
        term = F.when(F.col(f"v{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        simhash = term if simhash is None else simhash + term
    # 16 bytes/doc — persisting avoids recomputing codes+32 votes for
    # both self-join sides (same recompute trap as dedup_minhash_lsh).
    hashed = scoped_persist(
        votes.select("doc_id", simhash.cast("long").alias("simhash")),
        StorageLevel.MEMORY_AND_DISK,
    )
    band_vals = F.array(
        *[
            F.shiftright(F.col("simhash"), b * 8).bitwiseAND(F.lit(255))
            for b in range(4)
        ]
    )
    bands = hashed.select(
        "doc_id", "simhash", F.posexplode(band_vals).alias("band", "nib")
    )
    a = bands.select(
        F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sim_a"), "band", "nib"
    )
    b2 = bands.select(
        F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sim_b"), "band", "nib"
    )
    hamming = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    return (
        a.join(b2, ["band", "nib"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", hamming.cast("int").alias("hamming"))
        .filter(F.col("hamming") <= SIMHASH_MAX_HAMMING)
        .distinct()
    )

# --------------------------------------------------------------------------
# Stop-shingle valve sizing: a shingle present in more than this
# fraction of the corpus carries ~zero discriminating power (it matches
# everything) but emits df² join rows — the inverted index's only
# failure mode at scale. 5% is far above any real near-dup signal; the
# floor keeps tiny corpora from capping legitimate shingles.
JACCARD_DF_CAP_FRACTION = 0.05
JACCARD_DF_CAP_FLOOR = 64


def jaccard_exploded_codes(sh: DataFrame, df_cap: int | None = None) -> DataFrame:
    """Explode per-doc shingle-code sets into index rows
    (doc_id, lang, n_toks, n_codes, code) for the inverted-index join.

    The df cap is the Σdf² skew valve: a shingle appearing in d
    documents emits d² join rows downstream, so one stop-shingle in
    10^6 docs is 10^12 rows. Codes with df > cap are dropped BEFORE
    the join, and n_codes is recomputed over the surviving codes so
    the downstream Jaccard is the self-consistent df-capped Jaccard
    (both |A∩B| and |A∪B| see the same universe).

    The cap DEFAULTS ON, derived in-plan from the corpus size
    (greatest(64, ceil(0.05 · n_docs)) — no collect, the one-row cap
    aggregate is broadcast), so the default plan is the scale-safe
    one. An explicit df_cap argument overrides: a positive value fixes
    the cap, 0/negative disables it (exact Jaccard). The oracle SQL
    mirrors the same derived cap, so correctness checks exercise the
    capped semantics end-to-end.
    """
    if df_cap is not None and df_cap <= 0:
        return sh.select(
            "doc_id",
            "lang",
            "n_toks",
            F.size("codes").alias("n_codes"),
            F.explode("codes").alias("code"),
        )
    # df per (lang, code) via groupBy: map-side partial aggregation
    # collapses duplicate codes before the exchange. (The previous form
    # — a count window over the raw exploded rows — sort-shuffled every
    # exploded row twice, once for df and once for n_codes, and was the
    # measured bottleneck of the whole jaccard plan: ~5s of its 4-6s at
    # sf0.1 was index construction, not the candidate join.)
    #
    # sh is referenced by BOTH the df-count branch and the array_except
    # branch below; without persist the shingle_codes expression — the
    # most expensive map work in the plan — is evaluated twice per run.
    # (Measurement hygiene note: persist() registers in the session
    # CacheManager keyed by the logical plan, so re-running the
    # IDENTICAL query reuses the cache — time this operator single-shot
    # in a fresh plan, or the second run measures the cache.)
    sh = scoped_persist(sh, StorageLevel.MEMORY_AND_DISK)
    dfc = (
        sh.select("lang", F.explode("codes").alias("code"))
        .groupBy("lang", "code")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    if df_cap is None:
        cap = sh.agg(
            F.greatest(
                F.lit(JACCARD_DF_CAP_FLOOR),
                F.ceil(F.count(F.lit(1)) * JACCARD_DF_CAP_FRACTION),
            )
            .cast("long")
            .alias("df_cap")
        )
        stop = (
            dfc.join(F.broadcast(cap))  # 1-row broadcast, no shuffle
            .filter(F.col("df") > F.col("df_cap"))
        )
    else:
        stop = dfc.filter(F.col("df") > F.lit(df_cap))
    # Stop codes grouped into per-lang arrays and broadcast BACK to the
    # document sets: with the derived cap, at most Σdf / (0.05·n_docs)
    # ≈ 20 · avg_codes_per_doc codes can exceed it — bounded regardless
    # of corpus size, so the broadcast is scale-safe. (An explicit LOW
    # df_cap override can make this set large; that path is a
    # test/debug valve, not the default.) Subtracting the stop set with
    # array_except BEFORE the explode makes the index build map-only —
    # no window, no doc_id shuffle — and n_codes is simply the size of
    # the surviving set, so the downstream capped-Jaccard semantics are
    # unchanged.
    stop_arrs = stop.groupBy("lang").agg(
        F.collect_list("code").alias("stop_codes")
    )
    kept = sh.join(F.broadcast(stop_arrs), "lang", "left").withColumn(
        "kept_codes",
        F.when(F.col("stop_codes").isNull(), F.col("codes")).otherwise(
            F.array_except("codes", "stop_codes")
        ),
    )
    return kept.select(
        "doc_id",
        "lang",
        "n_toks",
        F.size("kept_codes").alias("n_codes"),
        F.explode("kept_codes").alias("code"),
    )


@query(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH shingled AS ({DUCK_SKETCH}),
    cap AS (
      SELECT GREATEST({JACCARD_DF_CAP_FLOOR},
                      CAST(ceil({JACCARD_DF_CAP_FRACTION} * count(*)) AS BIGINT))
             AS df_cap
      FROM shingled
    ),
    ex AS (
      SELECT doc_id, lang, n_toks, unnest(codes) AS code FROM shingled
    ),
    flagged AS (
      SELECT doc_id, lang, n_toks, code,
             count(*) OVER (PARTITION BY lang, code) AS df
      FROM ex
    ),
    sized AS (
      SELECT doc_id, lang, n_toks, code,
             count(*) OVER (PARTITION BY doc_id) AS n_codes
      FROM flagged, cap
      WHERE df <= df_cap
    ),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.n_codes AS nc_a, b.n_codes AS nc_b,
             count(*) AS n_inter
      FROM sized a JOIN sized b
        ON a.lang = b.lang AND a.code = b.code
       AND a.doc_id < b.doc_id
       AND abs(a.n_toks - b.n_toks) <= 8
      GROUP BY 1, 2, 3, 4
    )
    SELECT doc_a, doc_b,
           CAST(n_inter * 1000000 // (nc_a + nc_b - n_inter) AS BIGINT)
             / 1000000.0 AS jaccard
    FROM inter
    WHERE CAST(n_inter AS DOUBLE) / (nc_a + nc_b - n_inter)
          >= {JACCARD_THRESHOLD}
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-trigram Jaccard near-dup via an INVERTED INDEX: explode
    each document's distinct shingle codes, equi-join on (lang, code),
    and count shared codes per pair — the count IS |A ∩ B| because the
    code lists are sets, and |A ∪ B| = |A| + |B| - |A ∩ B|. Pairs
    sharing zero shingles (Jaccard 0) never materialize at all.

    This replaced a blocked self-join + per-pair array_intersect that
    evaluated interpreted array HOFs on every candidate pair (~62s at
    sf0.1); the index form is shuffles of scalar rows, fully
    whole-stage-codegen (~3s). At 100 TB the one hazard is shingle-
    frequency skew (a code shared by d docs emits d² join rows), so
    the stop-shingle valve DEFAULTS ON: codes with df above
    greatest(64, 5% of corpus) are dropped before the join and the
    Jaccard is the self-consistent df-capped measure — see
    jaccard_exploded_codes. The oracle SQL computes the identical
    capped Jaccard (same derived cap, same window arithmetic), so the
    scale-safe default plan is the oracle-checked one. Length
    blocking (|Δtokens| <= 8) rides along in the join residual so no
    new pair survives that the verifier formulation wouldn't."""
    sh = shingle_sketch(spark, sf_dir).select(
        "doc_id", "lang", "n_toks", "codes"
    )
    # Persist the capped index: the self-join references it from both
    # sides and Spark re-evaluates the explode + df-cap windows per
    # branch (same re-evaluation minhash's sketch hit). ~24 bytes/code
    # row, MEMORY_AND_DISK spills safely; production would WRITE the
    # index once and read it twice.
    ex = scoped_persist(jaccard_exploded_codes(sh), StorageLevel.MEMORY_AND_DISK)
    a = ex.select(
        F.col("doc_id").alias("doc_a"),
        "lang",
        F.col("n_toks").alias("nt_a"),
        F.col("n_codes").alias("nc_a"),
        "code",
    )
    b = ex.select(
        F.col("doc_id").alias("doc_b"),
        F.col("lang").alias("lang_b"),
        F.col("n_toks").alias("nt_b"),
        F.col("n_codes").alias("nc_b"),
        F.col("code").alias("code_b"),
    )
    inter = (
        a.join(
            b,
            (F.col("lang") == F.col("lang_b"))
            & (F.col("code") == F.col("code_b"))
            & (F.col("doc_a") < F.col("doc_b"))
            & (F.abs(F.col("nt_a") - F.col("nt_b")) <= 8),
        )
        .groupBy("doc_a", "doc_b", "nc_a", "nc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    union = F.col("nc_a") + F.col("nc_b") - F.col("n_inter")
    return (
        inter.filter(
            F.col("n_inter").cast("double") / union >= F.lit(JACCARD_THRESHOLD)
        )
        .select(
            "doc_a",
            "doc_b",
            (int_div(F.col("n_inter") * 1_000_000, union) / 1_000_000.0).alias(
                "jaccard"
            ),
        )
    )


# --------------------------------------------------------------------------
def _duck_plane(p: int) -> str:
    return "[" + ", ".join(str(v) for v in _planes[p]) + "]"


def _duck_bucket(emb: str) -> str:
    """Bucket expression with every plane term GATED on np.planes (the
    auto-scaled count CTE) so the oracle uses exactly the planes the
    Spark plan picked — the outer CASE keeps gated-out projections from
    contributing."""
    terms = []
    for p in range(LSH_MAX_PLANES):
        proj = (
            f"list_reduce(list_transform(range(1, {EMBED_DIM} + 1), "
            f"i -> CAST({emb}[i] AS DOUBLE) * ({_duck_plane(p)})[i]), (a, x) -> a + x)"
        )
        terms.append(
            f"(CASE WHEN {p} < np.planes THEN "
            f"(CASE WHEN {proj} > 0 THEN {1 << p} ELSE 0 END) ELSE 0 END)"
        )
    return "(" + " + ".join(terms) + ")"


# The oracle's plane count: the SAME pure-integer formula as
# lsh_planes_for, in SQL.
_DUCK_PLANES_CTE = (
    f"SELECT GREATEST(4, LEAST({LSH_MAX_PLANES}, "
    "length(bin(GREATEST(count(*), 2) - 1)) - 7)) AS planes FROM embeddings"
)


@query(
    "dedup_embedding_cosine",
    oracle=f"""
    WITH np AS ({_DUCK_PLANES_CTE}),
    bucketed AS (
      SELECT vec_id, embedding, {_duck_bucket('embedding')} AS bucket
      FROM embeddings, np
    ),
    pairs AS (
      SELECT
        a.vec_id AS vec_a, b.vec_id AS vec_b,
        list_reduce(list_transform(range(1, {EMBED_DIM} + 1),
          i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)),
          (x, y) -> x + y) AS dotp
      FROM bucketed a JOIN bucketed b
        ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    )
    SELECT vec_a, vec_b, round(dotp, 6) AS cos_sim
    FROM pairs WHERE dotp >= {COSINE_THRESHOLD}
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup via random-hyperplane LSH (SimHash for
    vectors, Charikar '02): bucket = sign pattern of fixed integer
    hyperplane projections; pairs within a bucket verified by exact
    cosine (= dot product — testdata vectors are unit-norm) ≥ 0.35.

    Scale: buckets cut the pair space 2^planes-fold, and the plane
    count is AUTO-SCALED from a plan-time corpus count (lsh_planes_for:
    clamp(ceil(log2 n) - 7, 4, 40)) so expected in-bucket pair volume
    stays ~128·n — linear — at any corpus size; the sf1 stress showed
    the fixed-4-plane default going quadratic (123 s at 20k vectors)
    where this formula's 8 planes measured 19.4 s. The oracle computes
    the SAME integer formula in SQL (np CTE), so parity holds at every
    SF without pinning. The plan-time count() is the BROADCAST_EDGE_LIMIT
    gate pattern: one columnless scan, footer-count cheap.

    Bucketing and verification both run in Arrow/pandas kernels
    (functions/bucketed.py, r7 verdict #3): lsh_bucket_pandas computes
    the sign pattern with the bit-identical left fold in one
    vectorized pass, and pairs_above_threshold ships each vector once
    per bucket, forms the in-bucket score block in numpy (same exact
    per-element rounding as the JVM fold), and emits only pairs
    >= the threshold. This replaced the bucket self-join whose
    interpreted per-pair fold was the measured sf10 cost (54.9 s ->
    the r8 stress row; the sf1->sf10 'super-linearity' was fold CPU on
    the sawtooth pair volume, not a plan defect)."""
    from alexandria_pipeline_spark.functions.bucketed import (
        lsh_bucket_pandas,
        pairs_above_threshold,
    )

    e = load_table(spark, sf_dir, "embeddings")
    n_planes = lsh_planes_for(e.count())
    bucketed = lsh_bucket_pandas(
        e.select("vec_id", "embedding"), _planes[:n_planes]
    )
    return (
        pairs_above_threshold(bucketed, COSINE_THRESHOLD)
        .select("vec_a", "vec_b", F.round("dotp", 6).alias("cos_sim"))
    )


# --------------------------------------------------------------------------
def _minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The verified near-dup pair graph from dedup_minhash_lsh."""
    return QUERIES["dedup_minhash_lsh"](spark, sf_dir).select("doc_a", "doc_b")


@query(
    "dedup_connected_components",
    oracle=f"""
    WITH RECURSIVE
    docs AS (SELECT doc_id, codes FROM ({DUCK_SKETCH})),
    {_DUCK_LSH_BANDS},
    {_DUCK_BAND_PAIRS},
    pairs AS (
      SELECT c.doc_a, c.doc_b
      FROM cand c
      JOIN docs x ON x.doc_id = c.doc_a
      JOIN docs y ON y.doc_id = c.doc_b
      WHERE CAST(len(list_intersect(x.codes, y.codes)) AS DOUBLE)
            / len(list_distinct(list_concat(x.codes, y.codes))) >= {JACCARD_THRESHOLD}
    ),
    edges AS (
      SELECT doc_a AS u, doc_b AS v FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs
    ),
    nodes AS (SELECT DISTINCT u AS node FROM edges),
    reach AS (
      SELECT node, node AS lab FROM nodes
      UNION
      SELECT e.v AS node, r.lab
      FROM reach r JOIN edges e ON e.u = r.node
    )
    SELECT node AS doc_id, min(lab) AS component
    FROM reach GROUP BY node
    """,
)
def dedup_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup endgame: verified near-dup PAIRS -> connected
    COMPONENTS -> one canonical representative (min doc_id) per
    cluster. Pairs alone over-count (a 5-dup cluster is 10 pairs);
    components give the keep/drop decision.

    Spark side is iterative min-label propagation (Pregel-lite):
    broadcast-join labels to neighbors, take the min, repeat until a
    fixpoint — O(component diameter) rounds, each one shuffle. The
    driver-side loop is bounded and convergence-checked; at 100 TB this
    is exactly GraphX/GraphFrames' connectedComponents shape (hash-min
    algorithm), kept dependency-free here. Each iteration
    localCheckpoints its labels: without lineage truncation an N-round
    loop builds an N-deep plan whose re-evaluation (task retry, AQE
    re-plan) recomputes every prior round, and the superseded round's
    cache is unpersisted as soon as the new one lands — the pair of
    leaks that kill long iterative jobs at scale. Oracle: DuckDB
    recursive CTE computes the same min-reachable-label closure."""
    pairs = _minhash_pairs(spark, sf_dir)
    labels = connected_components_from_pairs(pairs, "doc_a", "doc_b")
    return labels.select(
        F.col("node").alias("doc_id"), F.col("lab").alias("component")
    )


# Below this verified-pair count the component labels are computed by
# a driver-side union-find over ONE bounded collect instead of the
# iterative hash-min loop. Rationale (r11, sweep attribution): the
# loop costs ~2 s of fixed scheduling overhead PER ITERATION on
# local[32] regardless of data size (each round is a join + groupBy +
# eager localCheckpoint + a convergence-count job), so a 704-edge
# graph took ~18 s; 1M pairs is 16 MB over Arrow (two primitive int64
# columns — the collect is toPandas, never Row objects; ADVICE r11) —
# the same size class as the plan-time broadcast gates — and union-find is
# exact at any diameter, where hash-min's 20-round bound could exit
# unconverged on a pathological chain. Verified near-dup pair graphs
# are sparse by construction (pairs ≈ dup rate × corpus, not corpus²);
# above the gate the iterative loop takes over unchanged.
CC_DRIVER_PAIR_LIMIT = 1_000_000


def connected_components_from_pairs(
    pairs: DataFrame, col_a: str, col_b: str
) -> DataFrame:
    """Min-label connected components over an undirected pair list —
    the shared CC core for every dedup family (shingle pairs, embedding
    pairs). Returns (node, lab) where lab is the component's minimum
    node id. Below CC_DRIVER_PAIR_LIMIT verified pairs: driver
    union-find (exact at any diameter, one bounded collect). Above:
    iterative min-label propagation (Pregel-lite hash-min); see
    dedup_connected_components for the scale/lineage discussion."""
    spark = pairs.sparkSession
    half = pairs.select(F.col(col_a).alias("u"), F.col(col_b).alias("v"))
    half = half.persist(StorageLevel.MEMORY_AND_DISK)
    n_pairs = half.count()
    if n_pairs <= CC_DRIVER_PAIR_LIMIT:
        # Arrow-batched primitive transfer (ADVICE r11): .collect()
        # would materialize ~n_pairs PySpark Row objects — hundreds of
        # MB of Python-object overhead at the gate, far above the
        # 16-MB raw-long estimate the limit was sized from. toPandas
        # ships two primitive int64 columns over Arrow and the loop
        # reads bulk-converted plain ints.
        pdf = half.toPandas()
        half.unpersist()
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:  # path compression
                parent[x], x = root, parent[x]
            return root

        for u, v in zip(pdf["u"].tolist(), pdf["v"].tolist()):
            parent.setdefault(u, u)
            parent.setdefault(v, v)
            ru, rv = find(u), find(v)
            if ru != rv:
                parent[ru] = rv
        comp_min: dict[int, int] = {}
        for node in parent:
            r = find(node)
            comp_min[r] = min(comp_min.get(r, node), node)
        out = [(node, comp_min[find(node)]) for node in parent]
        return spark.createDataFrame(out, "node long, lab long")
    edges = half.union(
        half.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).toDF("u", "v")
    edges = edges.persist(StorageLevel.MEMORY_AND_DISK)
    half.unpersist()
    labels = edges.select(F.col("u").alias("node")).distinct().withColumn(
        "lab", F.col("node")
    )
    # Checkpoint rotation is BY RDD ID (functions/checkpoints.py): a
    # localCheckpoint's blocks live in an internal RDD that
    # DataFrame.unpersist can't reach, so rotating by DataFrame handle
    # only freed rounds via eventual GC — the last two rounds' blocks
    # survived every call (caught by test_persist_lifecycle).
    prev_ckpt_ids: set[int] = set()
    # Run to CONVERGENCE, not to a fixed round count: the pre-r11 code
    # stopped after 20 rounds and silently returned unconverged labels
    # on any component with diameter > 20 (hash-min propagates one hop
    # per round) — caught by the r11 union-find parity test's 51-node
    # chain. The ceiling below is a runaway backstop only, far above
    # any real near-dup cluster diameter; hitting it raises instead of
    # returning wrong labels.
    CC_MAX_ROUNDS = 10_000
    for rnd in range(CC_MAX_ROUNDS + 1):
        if rnd == CC_MAX_ROUNDS:
            raise RuntimeError(
                f"connected components did not converge in {CC_MAX_ROUNDS} rounds"
            )
        neighbor_min = (
            edges.join(labels, edges.u == labels.node)
            .groupBy(F.col("v").alias("node2"))
            .agg(F.min("lab").alias("nlab"))
        )
        # eager localCheckpoint = persist + lineage cut in one step
        new_labels, new_ids = local_checkpoint(
            labels.join(neighbor_min, labels.node == neighbor_min.node2, "left")
            .select(
                "node",
                F.least(
                    F.col("lab"), F.coalesce(F.col("nlab"), F.col("lab"))
                ).alias("lab"),
            )
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.lab") != F.col("o.lab"))
            .count()
        )
        # the changed-count above was this round's last read of the
        # superseded labels — free its blocks now, by id
        unpersist_rdd_ids(spark, prev_ckpt_ids)
        prev_ckpt_ids = new_ids
        labels = new_labels
        if changed == 0:
            break
    edges.unpersist()
    # the RETURNED frame references the final checkpoint, so its blocks
    # must outlive this call; register their release with the registry
    # scope — the materializing caller frees them after its action.
    scoped_release(lambda ids=frozenset(prev_ckpt_ids): unpersist_rdd_ids(spark, set(ids)))
    return labels


@query(
    "dedup_edit_distance",
    oracle="""
    WITH reps AS (
      SELECT c_name, CAST(min(c_custkey) AS BIGINT) AS c_custkey
      FROM customer GROUP BY c_name
    ),
    v AS (
      SELECT DISTINCT c_custkey, c_name,
             CASE WHEN k = 0 THEN c_name
                  ELSE substr(c_name, 1, k - 1) || substr(c_name, k + 1)
             END AS variant
      FROM reps
      CROSS JOIN LATERAL (SELECT unnest(range(0, length(c_name) + 1)) AS k)
    )
    SELECT DISTINCT
      a.c_custkey                              AS custkey_a,
      b.c_custkey                              AS custkey_b,
      a.c_name                                 AS name_a,
      b.c_name                                 AS name_b,
      CAST(levenshtein(a.c_name, b.c_name) AS INT) AS dist
    FROM v a JOIN v b
      ON a.variant = b.variant AND a.c_custkey < b.c_custkey
    WHERE levenshtein(a.c_name, b.c_name) <= 1
    """,
)
def dedup_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance-≤1 similarity join via a POSITION-TAGGED FastSS
    deletion index (Bocek et al. 2007), verification-free.

    The classic FastSS join on bare variant strings over-generates
    (any two strings whose one-char deletions collide are candidates,
    which includes distance-2 pairs like transpositions) and then pays
    an exact levenshtein over every candidate occurrence — profiled at
    ~4µs/pair × ~1M occurrences = the whole 8-10s wall of the r1-r7
    implementation, plus a 1M-row distinct to collapse multiplicity.

    Tagging each variant with its deletion position k makes the index
    EXACT for distinct names, so both the verify and the distinct
    disappear:
      - substitution (equal lengths): a,b differ at exactly position i
        ⟺ deleting i from both yields the same string ⟺ they share
        (variant, k=i). They share it for NO other k (deleting j≠i
        leaves the position-i difference in place), so the (variant,k)
        equi-join emits each substitution pair exactly once.
      - insert/delete (lengths differ by 1): the shorter name IS a
        deletion variant of the longer ⟺ the shorter's k=0 row equals
        one of the longer's array_distinct'ed variants (distinct'ing
        collapses repeated-run deletions — 'Customer#000...' yields the
        same variant for every zero in the run — so this branch too is
        multiplicity-1).
    The two branches are disjoint (equal vs unequal lengths) and
    exhaustive for lev ≤ 1, so their union is the answer with no
    post-processing. Every surviving pair has distinct names within
    one edit, hence dist ≡ 1 — emitted as a literal the oracle's
    levenshtein necessarily agrees with.

    Exact-duplicate names still collapse to a min-key representative
    FIRST (a replicated corpus otherwise squares inside each variant
    group), and that groupBy lands the index on shuffle-width
    partitions so the probe parallelizes. Scale shape: ~(len+1)
    variants per distinct name, two equi-joins keyed on (variant,
    position) / variant strings, zero re-verification — group sizes
    are bounded by the alphabet (≤|Σ| names can pairwise differ at one
    position), so output is linear in matches, never Σdf²."""
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    # r12: reps feeds four consumers (both substitution sides, the
    # indel short side, del_distinct) and deletions both sides of its
    # self-join — each replanned the customer scan + rep groupBy
    # (8 parquet scans in the before-plan). Persist both |distinct
    # names|-bounded frames.
    reps = scoped_persist(
        c.groupBy("c_name").agg(F.min("c_custkey").alias("c_custkey"))
    )
    # (variant, k) for k >= 1: one row per deletion POSITION (runs kept
    # — equal variants at different k are different join keys, so runs
    # don't inflate the substitution branch).
    deletions = reps.select(
        "c_custkey",
        "c_name",
        F.explode(
            F.expr(
                "transform(sequence(1, length(c_name)), k -> "
                "struct(concat(substring(c_name, 1, k - 1), "
                "substring(c_name, k + 1, length(c_name))) AS v, "
                "k AS k))"
            )
        ).alias("d"),
    ).select("c_custkey", "c_name", F.col("d.v").alias("variant"), F.col("d.k").alias("k"))
    deletions = scoped_persist(deletions)
    # run-collapsed variant strings for the indel branch (k irrelevant)
    del_distinct = reps.select(
        "c_custkey",
        "c_name",
        F.explode(
            F.array_distinct(
                F.expr(
                    "transform(sequence(1, length(c_name)), k -> "
                    "concat(substring(c_name, 1, k - 1), "
                    "substring(c_name, k + 1, length(c_name))))"
                )
            )
        ).alias("variant"),
    )

    a, b = deletions.alias("a"), deletions.alias("b")
    substitutions = a.join(
        b,
        (F.col("a.variant") == F.col("b.variant"))
        & (F.col("a.k") == F.col("b.k"))
        & (F.col("a.c_custkey") < F.col("b.c_custkey")),
    ).select(
        F.col("a.c_custkey").alias("custkey_a"),
        F.col("b.c_custkey").alias("custkey_b"),
        F.col("a.c_name").alias("name_a"),
        F.col("b.c_name").alias("name_b"),
    )

    s, l = reps.alias("s"), del_distinct.alias("l")
    indels = (
        s.join(l, F.col("s.c_name") == F.col("l.variant"))
        .select(
            F.least(F.col("s.c_custkey"), F.col("l.c_custkey")).alias("key_lo"),
            F.greatest(F.col("s.c_custkey"), F.col("l.c_custkey")).alias("key_hi"),
            F.col("s.c_custkey").alias("sk"),
            F.col("s.c_name").alias("sn"),
            F.col("l.c_name").alias("ln"),
        )
        .select(
            F.col("key_lo").alias("custkey_a"),
            F.col("key_hi").alias("custkey_b"),
            F.when(F.col("key_lo") == F.col("sk"), F.col("sn"))
            .otherwise(F.col("ln"))
            .alias("name_a"),
            F.when(F.col("key_lo") == F.col("sk"), F.col("ln"))
            .otherwise(F.col("sn"))
            .alias("name_b"),
        )
    )

    return substitutions.unionByName(indels).withColumn("dist", F.lit(1).cast("int"))


# --------------------------------------------------------------------------
# Incremental dedup: the shape every production corpus pipeline
# actually runs — yesterday's corpus is already deduped and fingerprinted;
# today's batch must be deduped (a) against history and (b) within
# itself, WITHOUT rescanning history's documents.
# --------------------------------------------------------------------------
INCREMENTAL_CUTOFF_PCT = 80  # first 80% of doc_ids play the "historical" corpus


@query(
    "dedup_incremental_antijoin",
    oracle=f"""
    WITH cut AS (
      SELECT max(doc_id) * {INCREMENTAL_CUTOFF_PCT} // 100
             AS cutoff
      FROM documents
    ),
    keyed AS (
      SELECT doc_id,
             array_to_string(string_split(text, ' ')[1:10], ' ') AS content_key
      FROM documents
    ),
    hist AS (
      SELECT DISTINCT content_key FROM keyed, cut WHERE doc_id <= cutoff
    ),
    batch AS (
      SELECT doc_id, content_key FROM keyed, cut WHERE doc_id > cutoff
    ),
    vs_hist AS (
      SELECT b.doc_id, b.content_key FROM batch b
      ANTI JOIN hist h ON b.content_key = h.content_key
    )
    SELECT content_key, min(doc_id) AS doc_id
    FROM vs_hist GROUP BY content_key
    """,
)
def dedup_incremental_antijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL dedup of a new batch against an already-deduped
    historical corpus: history is represented ONLY by its content-key
    set (what a production pipeline persists between runs), the new
    batch anti-joins against it, then dedups within itself by
    keep-min-doc_id. Two shuffles on the content key, both sized by
    the BATCH, not the corpus — history contributes just its key set,
    which is the entire point: at 100 TB of history + 1 TB/day of new
    data, the daily job touches ~1% of the bytes. The keys here are
    the 10-token prefix (the testdata's near-dup structure); swap md5
    of the full text at production scale (same plan shape)."""
    d = load_table(spark, sf_dir, "documents")
    prefix = F.array_join(F.slice(F.split("text", " "), 1, 10), " ")
    keyed = d.select("doc_id", prefix.alias("content_key"))
    # Integer floor division on BOTH sides: Spark's cast('long') of a double
    # truncates while DuckDB's CAST(... AS BIGINT) rounds to nearest, so the
    # cutoffs diverge whenever max(doc_id) % 5 ∈ {1, 2}. `div` / `//` floor
    # identically in both engines for non-negative ids.
    cutoff = keyed.agg(
        F.expr(f"max(doc_id) * {INCREMENTAL_CUTOFF_PCT} div 100").alias("cutoff")
    )
    keyed = keyed.join(F.broadcast(cutoff))  # 1-row broadcast
    hist = (
        keyed.filter(F.col("doc_id") <= F.col("cutoff"))
        .select("content_key")
        .distinct()
    )
    batch = keyed.filter(F.col("doc_id") > F.col("cutoff")).select(
        "doc_id", "content_key"
    )
    fresh = batch.join(hist, "content_key", "left_anti")
    return fresh.groupBy("content_key").agg(F.min("doc_id").alias("doc_id"))


# --------------------------------------------------------------------------
CONTAINMENT_THRESHOLD = 0.8
CONTAINMENT_MIN_CODES = 5


@query(
    "dedup_containment",
    oracle=f"""
    WITH shingled AS ({DUCK_SKETCH}),
    ex AS (
      SELECT doc_id, lang, len(codes) AS n_codes, unnest(codes) AS code
      FROM shingled
    ),
    inter AS (
      SELECT a.doc_id AS doc_small, b.doc_id AS doc_big,
             a.n_codes AS nc_small, count(*) AS n_inter
      FROM ex a JOIN ex b
        ON a.lang = b.lang AND a.code = b.code
       AND a.doc_id <> b.doc_id
      WHERE a.n_codes >= {CONTAINMENT_MIN_CODES}
      GROUP BY 1, 2, 3
    )
    SELECT doc_small, doc_big,
           CAST(n_inter * 1000000 // nc_small AS BIGINT) / 1000000.0
             AS containment
    FROM inter
    WHERE CAST(n_inter AS DOUBLE) / nc_small >= {CONTAINMENT_THRESHOLD}
    """,
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DIRECTED near-dup: shingle containment C(A→B) = |A∩B| / |A|
    (Broder's containment, the measure Jaccard hides — an excerpt
    quoted inside a 100× larger document has tiny Jaccard but
    containment ≈ 1). Same inverted-index shape as
    dedup_ngram_jaccard: explode codes, equi-join on (lang, code),
    count shared codes per ORDERED pair, normalize by the contained
    side's code count. The min-codes floor keeps trivial shingle sets
    out. Σdf² scale hazard and remedy are identical to the jaccard
    query (this one runs UNCAPPED so the oracle is plain set
    arithmetic; production corpora flip the same df-cap valve)."""
    sh = shingle_sketch(spark, sf_dir).select("doc_id", "lang", "codes")
    # The exploded index feeds BOTH sides of the self-join below; without
    # persist, the explode + shingle_codes subtree (the costliest part of
    # the plan) is evaluated twice — same rationale as dedup_ngram_jaccard.
    ex = scoped_persist(
        sh.select(
            "doc_id", "lang", F.size("codes").alias("n_codes"),
            F.explode("codes").alias("code"),
        ),
        StorageLevel.MEMORY_AND_DISK,
    )
    a = ex.filter(F.col("n_codes") >= CONTAINMENT_MIN_CODES).select(
        F.col("doc_id").alias("doc_small"),
        "lang",
        F.col("n_codes").alias("nc_small"),
        "code",
    )
    b = ex.select(
        F.col("doc_id").alias("doc_big"),
        F.col("lang").alias("lang_b"),
        F.col("code").alias("code_b"),
    )
    inter = (
        a.join(
            b,
            (F.col("lang") == F.col("lang_b"))
            & (F.col("code") == F.col("code_b"))
            & (F.col("doc_small") != F.col("doc_big")),
        )
        .groupBy("doc_small", "doc_big", "nc_small")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return (
        inter.filter(
            F.col("n_inter").cast("double") / F.col("nc_small")
            >= F.lit(CONTAINMENT_THRESHOLD)
        )
        .select(
            "doc_small",
            "doc_big",
            (int_div(F.col("n_inter") * 1_000_000, F.col("nc_small"))
             / 1_000_000.0).alias("containment"),
        )
    )


def _duck_match_sum() -> str:
    return " + ".join(
        f"(CASE WHEN x.m{i} = y.m{i} THEN 1 ELSE 0 END)"
        for i in range(NUM_HASHES)
    )


@query(
    "dedup_minhash_jaccard_estimate",
    oracle=f"""
    WITH docs AS (SELECT doc_id, codes FROM ({DUCK_SKETCH})),
    {_DUCK_LSH_BANDS},
    {_DUCK_BAND_PAIRS}
    SELECT c.doc_a, c.doc_b,
           CAST(({_duck_match_sum()}) AS INT) AS n_match,
           CAST(({_duck_match_sum()}) * 1000000 // {NUM_HASHES} AS BIGINT)
             / 1000000.0 AS jaccard_est
    FROM cand c
    JOIN sigs x ON x.doc_id = c.doc_a
    JOIN sigs y ON y.doc_id = c.doc_b
    """,
)
def dedup_minhash_jaccard_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PURE-SKETCH dedup path: same banded candidate generation as
    dedup_minhash_lsh, but similarity comes from the SIGNATURES alone
    — estimate = (matching permutations)/NUM_HASHES, the unbiased
    MinHash estimator of Jaccard (Broder '97) — and the documents'
    shingle sets are NEVER re-read after sketching. This is the plan
    you run when exact verification can't touch the corpus again
    (sketches fit in memory at 100 TB; documents don't): verify cost
    is 16 bytes/pair of signature compare instead of a shingle-set
    rejoin. dedup_minhash_lsh remains the exact-verify twin; this
    query is the estimator whose error the sketch literature bounds at
    O(1/sqrt(k)). Oracle computes the identical estimate, so the
    sketch arithmetic itself is value-checked cross-engine."""
    sh = shingle_sketch(spark, sf_dir).select("doc_id", "codes")
    exploded = sh.select("doc_id", F.explode("codes").alias("code"))
    sigs = scoped_persist(
        exploded.groupBy("doc_id").agg(*_sig_cols()),
        StorageLevel.MEMORY_AND_DISK,
    )
    cand = _band_pairs(_lsh_bands(sigs))
    x = sigs.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"m{i}").alias(f"xa{i}") for i in range(NUM_HASHES)],
    )
    y = sigs.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"m{i}").alias(f"yb{i}") for i in range(NUM_HASHES)],
    )
    n_match = sum(
        F.when(F.col(f"xa{i}") == F.col(f"yb{i}"), 1).otherwise(0)
        for i in range(NUM_HASHES)
    )
    return (
        cand.join(x, "doc_a")
        .join(y, "doc_b")
        .withColumn("n_match", n_match.cast("int"))
        .select(
            "doc_a",
            "doc_b",
            "n_match",
            (int_div(F.col("n_match").cast("long") * 1_000_000, F.lit(NUM_HASHES))
             / 1_000_000.0).alias("jaccard_est"),
        )
    )


# Composed over dedup_connected_components: its oracle SQL (the
# recursive-CTE label propagation) is nested as a CTE so the
# histogram is value-checked end-to-end through the whole
# LSH -> verify -> cluster pipeline.


def _register_cluster_histogram() -> None:
    cc_oracle = ORACLES["dedup_connected_components"]

    @query(
        "dedup_cluster_size_histogram",
        oracle=f"""
        WITH cc AS ({cc_oracle}),
        sizes AS (
          SELECT component, CAST(count(*) AS BIGINT) AS cluster_size
          FROM cc GROUP BY component
        )
        SELECT cluster_size,
               CAST(count(*) AS BIGINT)            AS n_clusters,
               CAST(sum(cluster_size) AS BIGINT)   AS n_docs,
               CAST(sum(cluster_size) - count(*) AS BIGINT) AS n_removable
        FROM sizes GROUP BY cluster_size
        """,
    )
    def dedup_cluster_size_histogram(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """Cluster-size histogram over the near-dup connected
        components — the dedup IMPACT report (how many clusters of
        each size, how many docs a keep-one policy would remove) that
        decides whether a 100 TB dedup pass is worth running. Composes
        the registered dedup_connected_components plan (iterative
        min-label propagation, checkpoint-rotated lineage) and adds
        two bounded aggregates: component -> size (one shuffle on
        component id), size -> histogram (size-cardinality rows).
        The oracle nests the recursive-CTE components oracle, so the
        whole pipeline is hash-checked, not just the last stage."""
        cc = QUERIES["dedup_connected_components"](spark, sf_dir)
        sizes = cc.groupBy("component").agg(
            F.count(F.lit(1)).alias("cluster_size")
        )
        return sizes.groupBy("cluster_size").agg(
            F.count(F.lit(1)).alias("n_clusters"),
            F.sum("cluster_size").alias("n_docs"),
            (F.sum("cluster_size") - F.count(F.lit(1))).alias("n_removable"),
        )


_register_cluster_histogram()


INCR_BATCH_MOD = 5  # doc_id % 5 == 0 is "today's batch"; rest is history


@query(
    "dedup_incremental_minhash",
    oracle=f"""
    WITH docs AS (SELECT doc_id, codes FROM ({DUCK_SKETCH})),
    {_DUCK_LSH_BANDS},
    cand AS (
      SELECT DISTINCT n.doc_id AS batch_doc, h.doc_id AS hist_doc
      FROM bands n JOIN bands h
        ON n.band = h.band AND n.band_val = h.band_val
      WHERE n.doc_id % {INCR_BATCH_MOD} = 0
        AND h.doc_id % {INCR_BATCH_MOD} <> 0
    ),
    verified AS (
      SELECT c.batch_doc, c.hist_doc,
             CAST(CAST(len(list_intersect(x.codes, y.codes)) AS BIGINT)
                  * 1000000
                  // len(list_distinct(list_concat(x.codes, y.codes)))
                  AS BIGINT) AS jaccard_e6
      FROM cand c
      JOIN docs x ON x.doc_id = c.batch_doc
      JOIN docs y ON y.doc_id = c.hist_doc
      WHERE CAST(len(list_intersect(x.codes, y.codes)) AS DOUBLE)
            / len(list_distinct(list_concat(x.codes, y.codes)))
            >= {JACCARD_THRESHOLD}
    )
    SELECT batch_doc, hist_doc, jaccard_e6
    FROM verified
    QUALIFY row_number() OVER (
      PARTITION BY batch_doc ORDER BY jaccard_e6 DESC, hist_doc
    ) = 1
    """,
)
def dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental NEAR-dup dedup — the production shape for a daily
    LLM-corpus ingest: today's batch (doc_id % 5 == 0 here; an ingest
    date in production) is checked against the accumulated HISTORY via
    banded MinHash, never batch-vs-batch all-pairs and never a history
    self-join. The band join is directional (batch side x history
    side), so candidate count scales with |batch| x selectivity, not
    |history|²; history participates only through its (doc_id, band,
    band_val) sketch — which a real deployment keeps as a persisted
    table, exactly the layout dedup_minhash_lsh's docstring describes.
    Each batch doc reports its best match (max verified Jaccard, min
    history id tiebreak) as a struct-max aggregate, no window.
    Complements dedup_incremental_antijoin (exact-key) with the fuzzy
    tier of the same daily pipeline."""
    docs = scoped_persist(
        shingle_sketch(spark, sf_dir).select("doc_id", "codes"),
        StorageLevel.MEMORY_AND_DISK,
    )
    exploded = docs.select("doc_id", F.explode("codes").alias("code"))
    sigs = exploded.groupBy("doc_id").agg(*_sig_cols())
    bands = _lsh_bands(sigs)
    n = bands.filter(F.col("doc_id") % INCR_BATCH_MOD == 0).select(
        F.col("doc_id").alias("batch_doc"), "band", "band_val"
    )
    h = bands.filter(F.col("doc_id") % INCR_BATCH_MOD != 0).select(
        F.col("doc_id").alias("hist_doc"), "band", "band_val"
    )
    cand = (
        n.join(h, ["band", "band_val"])
        .select("batch_doc", "hist_doc")
        .distinct()
    )
    x = docs.select(
        F.col("doc_id").alias("batch_doc"), F.col("codes").alias("codes_a")
    )
    y = docs.select(
        F.col("doc_id").alias("hist_doc"), F.col("codes").alias("codes_b")
    )
    inter = F.size(F.array_intersect("codes_a", "codes_b")).cast("long")
    union = F.size(F.array_union("codes_a", "codes_b")).cast("long")
    verified = (
        cand.join(x, "batch_doc")
        .join(y, "hist_doc")
        .withColumn("jaccard_e6", int_div(inter * 1_000_000, union))
        .filter(
            inter.cast("double") / union.cast("double") >= JACCARD_THRESHOLD
        )
    )
    best = verified.groupBy("batch_doc").agg(
        F.max(
            F.struct(
                F.col("jaccard_e6"),
                (-F.col("hist_doc")).alias("neg_hist"),
            )
        ).alias("m")
    )
    return best.select(
        "batch_doc",
        (-F.col("m.neg_hist")).alias("hist_doc"),
        F.col("m.jaccard_e6").alias("jaccard_e6"),
    )


@query(
    "diagnose_lsh_planes",
    oracle=f"""
    WITH t AS (SELECT CAST(count(*) AS BIGINT) AS n_vectors FROM embeddings),
    np AS (
      SELECT n_vectors,
             GREATEST(4, LEAST({LSH_MAX_PLANES},
               length(bin(GREATEST(n_vectors, 2) - 1)) - 7)) AS planes
      FROM t
    )
    SELECT
      n_vectors,
      CAST(planes AS BIGINT)                          AS planes,
      CAST(1 << planes AS BIGINT)                     AS n_buckets,
      CAST(CAST(n_vectors AS HUGEINT) * n_vectors
           // (2 * (1::BIGINT << planes)) AS BIGINT)  AS est_bucket_pairs
    FROM np
    """,
)
def diagnose_lsh_planes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plan advisor for the embedding-LSH family: the plane count the
    auto-scale formula (lsh_planes_for) would pick for this corpus,
    the resulting bucket count, and the EXPECTED total candidate-pair
    volume n²/2^(planes+1) — the number a user checks before launching
    a near-dup pass at a new SF (if est_bucket_pairs isn't ~128·n/2,
    the formula's linearity promise is being defeated by skewed
    buckets and the probe should move to more planes). Whole formula
    runs IN-PLAN (conv-based bit length, no driver count, no float
    log), so the same query works as a streaming-foreachBatch
    pre-flight. Single 1-row aggregate."""
    e = load_table(spark, sf_dir, "embeddings")
    t = e.agg(F.count(F.lit(1)).alias("n_vectors"))
    np_ = t.select(
        "n_vectors",
        F.expr(
            f"GREATEST(4, LEAST({LSH_MAX_PLANES}, "
            "length(conv(CAST(GREATEST(n_vectors, 2) - 1 AS STRING), 10, 2)) - 7))"
        ).alias("planes"),
    )
    return np_.select(
        F.col("n_vectors").cast("long").alias("n_vectors"),
        F.col("planes").cast("long").alias("planes"),
        F.expr("CAST(shiftleft(CAST(1 AS BIGINT), CAST(planes AS INT)) AS BIGINT)").alias(
            "n_buckets"
        ),
        F.expr(
            "CAST(CAST(n_vectors AS decimal(38,0)) * n_vectors div "
            "(2 * shiftleft(CAST(1 AS BIGINT), CAST(planes AS INT))) AS BIGINT)"
        ).alias("est_bucket_pairs"),
    )


_MINHASH_ORACLE_FOR_SOURCE = ORACLES["dedup_minhash_lsh"]


@query(
    "corpus_dedup_rate_by_source",
    oracle=f"""
    WITH pairs AS ({_MINHASH_ORACLE_FOR_SOURCE}),
    dup_docs AS (
      SELECT DISTINCT doc_id FROM (
        SELECT doc_a AS doc_id FROM pairs
        UNION ALL
        SELECT doc_b AS doc_id FROM pairs
      )
    ),
    per_source AS (
      SELECT d.source,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(count(dd.doc_id) AS BIGINT) AS n_dup_docs
      FROM documents d LEFT JOIN dup_docs dd ON d.doc_id = dd.doc_id
      GROUP BY d.source
    )
    SELECT source, n_docs, n_dup_docs,
           CAST(n_dup_docs * 1000000 // n_docs AS BIGINT) AS dup_ppm
    FROM per_source
    ORDER BY source
    """,
)
def corpus_dedup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup contamination attributed to its SOURCE: what fraction
    of each source's documents participate in at least one verified
    MinHash near-dup pair — the provenance scorecard that decides
    which feeds get down-weighted or dropped before the next crawl.
    Composition: the nested dedup plan's pair graph collapses to a
    distinct doc set (≤ corpus-sized, usually far smaller), which
    LEFT-joins back to documents — that join is on the doc key, so at
    100 TB it's a shuffle join both of whose sides are id+source only
    (the text never travels). One source-cardinality aggregate on
    top. Oracle nests the minhash oracle verbatim — the pipeline is
    hash-checked end-to-end."""
    pairs = QUERIES["dedup_minhash_lsh"](spark, sf_dir)
    # r12: both pair endpoints explode IN-ROW (identical multiset to
    # the former two-branch unionAll, which replanned the entire
    # nested minhash pipeline once per branch — 11 parquet scans in
    # the before-plan).
    dup_docs = (
        pairs.select(
            F.explode(F.array(F.col("doc_a"), F.col("doc_b"))).alias("doc_id")
        )
        .distinct()
        .withColumn("is_dup", F.lit(1))
    )
    d = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    return (
        d.join(dup_docs, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count("is_dup").alias("n_dup_docs"),
        )
        .select(
            "source",
            F.col("n_docs").cast("long").alias("n_docs"),
            F.col("n_dup_docs").cast("long").alias("n_dup_docs"),
            F.expr("CAST(n_dup_docs * 1000000 div n_docs AS BIGINT)").alias(
                "dup_ppm"
            ),
        )
        .orderBy("source")
    )


RECALL_SAMPLE_TARGET = 600  # ground-truth sample size for the LSH eval


@query(
    "dedup_lsh_recall_eval",
    oracle=f"""
    WITH params AS (
      SELECT GREATEST(1, (SELECT count(*) FROM documents) // {RECALL_SAMPLE_TARGET})
        AS m
    ),
    docs AS (
      SELECT doc_id, codes FROM ({DUCK_SKETCH}), params WHERE doc_id % m = 0
    ),
    truth AS (
      SELECT x.doc_id AS doc_a, y.doc_id AS doc_b
      FROM docs x JOIN docs y ON x.doc_id < y.doc_id
      WHERE 2 * len(list_intersect(x.codes, y.codes))
            >= len(list_distinct(list_concat(x.codes, y.codes)))
    ),
    {_DUCK_LSH_BANDS},
    {_DUCK_BAND_PAIRS},
    hits AS (
      SELECT count(*) AS n FROM truth t
      JOIN cand c ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b
    )
    SELECT
      CAST((SELECT count(*) FROM docs) AS BIGINT)  AS n_sample_docs,
      CAST((SELECT count(*) FROM truth) AS BIGINT) AS n_true_pairs,
      CAST((SELECT count(*) FROM cand) AS BIGINT)  AS n_candidates,
      CAST((SELECT n FROM hits) AS BIGINT)         AS n_recalled,
      CAST((SELECT n FROM hits) * 1000000
           // GREATEST((SELECT count(*) FROM truth), 1) AS BIGINT) AS recall_ppm
    """,
)
def dedup_lsh_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-generation RECALL of the MinHash banding scheme — the
    ann_eval_recall methodology applied to dedup: on a deterministic
    document sample (doc_id % m, m sized in-plan so the sample
    stays ~{RECALL_SAMPLE_TARGET} docs at ANY corpus size), compare
    the band join's candidate pairs against exact ground truth (all
    sample pairs with true shingle Jaccard >= 0.5, decided by the
    integer form 2·|A∩B| >= |A∪B| — no float). This is the number
    that justifies the banding parameters: if recall_ppm sags, add
    bands/permutations BEFORE trusting a 100-TB dedup pass. The
    exact all-pairs ground truth is affordable forever because the
    sample is CONSTANT-sized — the eval cost does not grow with the
    corpus — and (r7) it is computed by inverted-index equi-join
    (3·|A∩B| >= |A|+|B| decides tau = 0.5 with zero pairwise array
    ops; see inline comment), not a broadcast nested loop; candidates
    use the identical signature/band machinery as dedup_minhash_lsh
    (same constants, same code paths)."""
    # m rides the plan as a broadcast one-row frame (the oracle's
    # params CTE), so the builder runs no job to size the sample.
    params = load_table(spark, sf_dir, "documents").agg(
        F.greatest(
            F.lit(1), F.expr(f"count(1) div {RECALL_SAMPLE_TARGET}")
        ).alias("m")
    )
    docs = scoped_persist(
        shingle_sketch(spark, sf_dir)
        .join(F.broadcast(params), F.col("doc_id") % F.col("m") == 0)
        .select("doc_id", "codes")
        .withColumn("nc", F.size("codes")),
        StorageLevel.MEMORY_AND_DISK,
    )
    # Exact ground truth WITHOUT pairwise array ops (r6 verdict #7):
    # the r6 form broadcast-BNL'd all ~s²/2 sample pairs and ran
    # array_intersect + array_union per pair (~20 µs/pair — 3.8 s of
    # the query's 5 s). Instead: inverted-index the sample (explode to
    # (doc_id, code); codes are array_distinct, so a code equi-join
    # counts |A∩B| exactly), and decide tau = 0.5 by the identity
    # 2·I >= |A∪B|  ⇔  3·I >= |A| + |B|  (|A∪B| = na + nb − I) — so
    # only pairs sharing >= 1 shingle are ever enumerated and each
    # joined row is O(1) work instead of an O(|A|·|B|) intersect.
    ex = docs.select("doc_id", F.explode("codes").alias("code"))
    inter = (
        ex.select(F.col("doc_id").alias("doc_a"), "code")
        .join(ex.select(F.col("doc_id").alias("doc_b"), "code"), "code")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sizes = docs.select("doc_id", "nc")
    truth = (
        inter.join(
            F.broadcast(sizes.select(F.col("doc_id").alias("doc_a"), F.col("nc").alias("na"))),
            "doc_a",
        )
        .join(
            F.broadcast(sizes.select(F.col("doc_id").alias("doc_b"), F.col("nc").alias("nb"))),
            "doc_b",
        )
        .filter(3 * F.col("n_inter") >= F.col("na") + F.col("nb"))
        .select("doc_a", "doc_b")
    )
    truth = scoped_persist(truth, StorageLevel.MEMORY_AND_DISK)
    sigs = ex.groupBy("doc_id").agg(*_sig_cols())
    cand = scoped_persist(
        _band_pairs(_lsh_bands(sigs)), StorageLevel.MEMORY_AND_DISK
    )
    n_sample = docs.agg(F.count(F.lit(1)).alias("n_sample_docs"))
    n_truth = truth.agg(F.count(F.lit(1)).alias("n_true_pairs"))
    n_cand = cand.agg(F.count(F.lit(1)).alias("n_candidates"))
    n_hit = truth.join(cand, ["doc_a", "doc_b"]).agg(
        F.count(F.lit(1)).alias("n_recalled")
    )
    out = (
        n_sample.crossJoin(n_truth)
        .crossJoin(n_cand)
        .crossJoin(n_hit)
        .select(
            F.col("n_sample_docs").cast("long").alias("n_sample_docs"),
            F.col("n_true_pairs").cast("long").alias("n_true_pairs"),
            F.col("n_candidates").cast("long").alias("n_candidates"),
            F.col("n_recalled").cast("long").alias("n_recalled"),
            F.expr(
                "CAST(n_recalled * 1000000 div GREATEST(n_true_pairs, 1) AS BIGINT)"
            ).alias("recall_ppm"),
        )
    )
    # The three sample-sized caches are scoped_persist-registered: the
    # materializing caller releases them via release_persisted() right
    # after its action (r7 verdict #4). This replaces the r5-era eager
    # localCheckpoint + in-query unpersist — the checkpoint itself was
    # a persisted RDD with no release handle, i.e. the one leak the
    # lifecycle test still caught.
    return out


_COSINE_ORACLE_FOR_CC = ORACLES["dedup_embedding_cosine"]


@query(
    "dedup_embedding_components",
    oracle=f"""
    WITH RECURSIVE
    cpairs AS (
      SELECT vec_a AS u0, vec_b AS v0 FROM ({_COSINE_ORACLE_FOR_CC})
    ),
    edges AS (
      SELECT u0 AS u, v0 AS v FROM cpairs
      UNION SELECT v0, u0 FROM cpairs
    ),
    nodes AS (SELECT DISTINCT u AS node FROM edges),
    reach AS (
      SELECT node, node AS lab FROM nodes
      UNION
      SELECT e.v AS node, r.lab
      FROM reach r JOIN edges e ON e.u = r.node
    ),
    comp AS (
      SELECT node, min(lab) AS component FROM reach GROUP BY node
    )
    SELECT CAST(component AS BIGINT) AS component,
           CAST(count(*) AS BIGINT)  AS n_vecs
    FROM comp
    GROUP BY component
    ORDER BY component
    """,
)
def dedup_embedding_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC dup clusters: the embedding-cosine near-dup pair graph
    (auto-scaled LSH buckets + exact verify) collapsed to connected
    components — the cluster inventory a curation pass reads to pick
    one representative per semantic group (the text-shingle CC's
    sibling for paraphrases and translations that share no n-grams).
    Reuses the SAME min-label-propagation core as
    dedup_connected_components (connected_components_from_pairs); the
    oracle nests the cosine oracle inside the recursive closure, so
    buckets -> verify -> clustering is hash-checked end-to-end.
    Read-out is one row per component (component-cardinality)."""
    pairs = QUERIES["dedup_embedding_cosine"](spark, sf_dir).select(
        "vec_a", "vec_b"
    )
    labels = connected_components_from_pairs(pairs, "vec_a", "vec_b")
    return (
        labels.groupBy(F.col("lab").alias("component"))
        .agg(F.count(F.lit(1)).alias("n_vecs"))
        .select(
            F.col("component").cast("long").alias("component"),
            F.col("n_vecs").cast("long").alias("n_vecs"),
        )
        .orderBy("component")
    )


JACCARD_SENS_THRESHOLDS_E6 = (300_000, 500_000, 700_000, 900_000)


@query(
    "dedup_threshold_sensitivity",
    oracle=f"""
    WITH docs AS (SELECT doc_id, codes FROM ({DUCK_SKETCH})),
    {_DUCK_LSH_BANDS},
    {_DUCK_BAND_PAIRS},
    scored AS (
      SELECT CAST(CAST(len(list_intersect(x.codes, y.codes)) AS BIGINT) * 1000000
             // len(list_distinct(list_concat(x.codes, y.codes))) AS BIGINT)
               AS j_e6
      FROM cand c
      JOIN docs x ON x.doc_id = c.doc_a
      JOIN docs y ON y.doc_id = c.doc_b
    ),
    th AS (SELECT unnest(ARRAY{list(JACCARD_SENS_THRESHOLDS_E6)}) AS t)
    SELECT CAST(t AS BIGINT) AS threshold_e6,
           CAST((SELECT count(*) FROM scored WHERE j_e6 >= t) AS BIGINT)
             AS n_pairs,
           CAST((SELECT count(*) FROM scored) AS BIGINT) AS n_candidates
    FROM th
    ORDER BY threshold_e6
    """,
)
def dedup_threshold_sensitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold-tuning table for the near-dup verifier: how many
    candidate pairs survive at Jaccard ≥ 0.3 / 0.5 / 0.7 / 0.9 — the
    dedup analog of ann_nprobe_curve (pick the threshold by reading
    the knee, not folklore: a cliff between 0.5 and 0.7 means the
    corpus separates cleanly; a smooth slope means every threshold is
    a tradeoff you should price in removed-token terms). ONE
    candidate generation and ONE exact verification pass serve all
    four thresholds — the counts are conditional aggregates over the
    same scored frame, so the whole table costs one dedup run, not
    four. Same banded machinery as dedup_minhash_lsh."""
    docs = scoped_persist(
        shingle_sketch(spark, sf_dir).select("doc_id", "codes"),
        StorageLevel.MEMORY_AND_DISK,
    )
    exploded = docs.select("doc_id", F.explode("codes").alias("code"))
    sigs = exploded.groupBy("doc_id").agg(*_sig_cols())
    cand = _band_pairs(_lsh_bands(sigs))
    x = docs.select(F.col("doc_id").alias("doc_a"), F.col("codes").alias("ca"))
    y = docs.select(F.col("doc_id").alias("doc_b"), F.col("codes").alias("cb"))
    scored = (
        cand.join(x, "doc_a")
        .join(y, "doc_b")
        .select(
            int_div(
                F.size(F.array_intersect("ca", "cb")).cast("long") * 1_000_000,
                F.size(F.array_union("ca", "cb")).cast("long"),
            ).alias("j_e6")
        )
    )
    counts = scored.agg(
        F.count(F.lit(1)).alias("n_candidates"),
        *[
            F.sum((F.col("j_e6") >= t).cast("long")).alias(f"n_{t}")
            for t in JACCARD_SENS_THRESHOLDS_E6
        ],
    )
    stack_args = ", ".join(
        f"{t}, n_{t}" for t in JACCARD_SENS_THRESHOLDS_E6
    )
    return (
        counts.select(
            "n_candidates",
            F.expr(
                f"stack({len(JACCARD_SENS_THRESHOLDS_E6)}, {stack_args})"
                " AS (threshold_e6, n_pairs)"
            ),
        )
        .select(
            F.col("threshold_e6").cast("long").alias("threshold_e6"),
            F.col("n_pairs").cast("long").alias("n_pairs"),
            F.col("n_candidates").cast("long").alias("n_candidates"),
        )
        .orderBy("threshold_e6")
    )


_CC_ORACLE_FOR_IMPACT = ORACLES["dedup_connected_components"]


@query(
    "dedup_token_savings",
    oracle=f"""
    WITH cc AS ({_CC_ORACLE_FOR_IMPACT}),
    toks AS (
      SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
      FROM documents
    ),
    per_comp AS (
      SELECT cc.component,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(t.n_tok) AS BIGINT) AS tokens,
             CAST(min(cc.doc_id) AS BIGINT) AS canonical
      FROM cc JOIN toks t ON t.doc_id = cc.doc_id
      GROUP BY cc.component
    ),
    kept AS (
      SELECT p.component, t.n_tok AS kept_tokens
      FROM per_comp p JOIN toks t ON t.doc_id = p.canonical
    ),
    corpus AS (SELECT CAST(sum(n_tok) AS BIGINT) AS corpus_tokens FROM toks)
    SELECT
      CAST(count(*) AS BIGINT)                          AS n_clusters,
      CAST(sum(p.n_docs - 1) AS BIGINT)                 AS docs_removable,
      CAST(sum(p.tokens - k.kept_tokens) AS BIGINT)     AS tokens_removable,
      CAST(min(c.corpus_tokens) AS BIGINT)              AS corpus_tokens,
      CAST(CAST(sum(p.tokens - k.kept_tokens) AS HUGEINT) * 1000000
           // min(c.corpus_tokens) AS BIGINT)           AS savings_ppm
    FROM per_comp p
    JOIN kept k ON k.component = p.component
    CROSS JOIN corpus c
    """,
)
def dedup_token_savings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE dedup business number: how many TOKENS does keep-one-per-
    cluster dedup remove from the corpus (docs_removable counts
    documents, but training budgets are token-denominated — a
    thousand near-dup tweets matter less than two near-dup books).
    Composition: connected components join per-doc token counts, the
    canonical keeper (min doc_id) contributes its tokens to the kept
    side, and the read-out is one row with removable tokens and the
    corpus-relative savings in ppm (decimal-widened). The oracle
    nests the recursive-CTE components query, so the whole chain —
    shingles → bands → verify → clusters → token accounting — is
    hash-checked end-to-end."""
    cc = QUERIES["dedup_connected_components"](spark, sf_dir)
    toks = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split("text", " ")).cast("long").alias("n_tok")
    )
    per_comp = (
        cc.join(toks, "doc_id")
        .groupBy("component")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("tokens"),
            F.min("doc_id").alias("canonical"),
        )
    )
    kept = per_comp.join(
        toks.select(F.col("doc_id").alias("canonical"), F.col("n_tok").alias("kept_tokens")),
        "canonical",
    )
    corpus = toks.agg(F.sum("n_tok").alias("corpus_tokens"))
    return (
        kept.crossJoin(F.broadcast(corpus))
        .agg(
            F.count(F.lit(1)).alias("n_clusters"),
            F.sum(F.col("n_docs") - 1).alias("docs_removable"),
            F.sum(F.col("tokens") - F.col("kept_tokens")).alias("tokens_removable"),
            F.min("corpus_tokens").alias("corpus_tokens"),
            F.expr(
                "CAST(CAST(sum(tokens - kept_tokens) AS decimal(38,0)) * 1000000"
                " div min(corpus_tokens) AS BIGINT)"
            ).alias("savings_ppm"),
        )
        .select(
            F.col("n_clusters").cast("long").alias("n_clusters"),
            F.col("docs_removable").cast("long").alias("docs_removable"),
            F.col("tokens_removable").cast("long").alias("tokens_removable"),
            F.col("corpus_tokens").cast("long").alias("corpus_tokens"),
            "savings_ppm",
        )
    )


PASSAGE_W = 32  # words per non-overlapping passage
PASSAGE_MIN = 8  # drop tail passages shorter than this
# doc_id * _PASSAGE_OKEY_MULT + chunk_idx is a unique global
# occurrence key: chunk_idx < text_len/PASSAGE_W ≪ 100000 at any SF.
_PASSAGE_OKEY_MULT = 100_000


@query(
    "dedup_passage_level",
    oracle=f"""
    WITH words AS (
      SELECT doc_id, source, string_split(text, ' ') AS w,
             len(string_split(text, ' ')) AS n
      FROM documents
    ),
    occ AS (
      SELECT doc_id, source, i,
             list_slice(w, i * {PASSAGE_W} + 1, i * {PASSAGE_W} + {PASSAGE_W}) AS p
      FROM words, unnest(range(0, (n - 1) // {PASSAGE_W} + 1)) AS t(i)
    ),
    keyed AS (
      SELECT doc_id, source, CAST(len(p) AS BIGINT) AS p_len,
             doc_id * {_PASSAGE_OKEY_MULT} + i AS okey,
             {duck_rolling_fingerprint("p")} AS fp
      FROM occ WHERE len(p) >= {PASSAGE_MIN}
    ),
    marked AS (
      SELECT source, p_len,
             CAST(okey > min(okey) OVER (PARTITION BY fp) AS INT) AS is_dup
      FROM keyed
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_passages,
           CAST(sum(is_dup) AS BIGINT) AS n_dup_occurrences,
           CAST(sum(is_dup * p_len) AS BIGINT) AS dup_tokens,
           CAST(sum(p_len) * 1 AS BIGINT) AS total_tokens,
           CAST(sum(is_dup * p_len) * 1000000 // sum(p_len) AS BIGINT)
             / 1000000.0 AS dup_token_share
    FROM marked GROUP BY source ORDER BY source
    """,
)
def dedup_passage_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Passage-level exact dedup (the finer-grained sibling of the
    doc-level exact pass — the granularity used to strip repeated
    license blocks / navigation chrome that whole-doc hashing misses):
    each document is cut into non-overlapping 32-word passages, each
    passage keyed by the order-sensitive rolling fingerprint, and any
    occurrence after the global first (min (doc_id, chunk) key) counts
    as removable. Plan: one explode (≤ n_tokens/32 rows per doc), a
    window min over the fingerprint partition (ONE shuffle on fp —
    same cost as the groupBy a join-back would need, minus the join),
    and a per-source terminal aggregate. Passage rows carry only
    (source, fp, p_len, okey) — the text never shuffles. Linear at any
    SF; the fp shuffle is the only fact-sized exchange."""
    from alexandria_pipeline_spark.functions.text import rolling_fingerprint

    d = load_table(spark, sf_dir, "documents")
    words = d.select(
        "doc_id", "source", F.split("text", " ").alias("w")
    ).withColumn("n", F.size("w"))
    occ = words.select(
        "doc_id",
        "source",
        F.posexplode(
            F.expr(f"sequence(0, (n - 1) div {PASSAGE_W})")
        ).alias("_p", "i"),
        "w",
    ).select(
        "doc_id",
        "source",
        "i",
        F.slice("w", F.col("i") * PASSAGE_W + 1, PASSAGE_W).alias("p"),
    )
    keyed = occ.filter(F.size("p") >= PASSAGE_MIN).select(
        "source",
        F.size("p").cast("long").alias("p_len"),
        (F.col("doc_id") * _PASSAGE_OKEY_MULT + F.col("i")).alias("okey"),
        rolling_fingerprint(F.col("p")).alias("fp"),
    )
    marked = keyed.select(
        "source",
        "p_len",
        (F.col("okey") > F.min("okey").over(Window.partitionBy("fp")))
        .cast("int")
        .alias("is_dup"),
    )
    return (
        marked.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_passages"),
            F.sum("is_dup").cast("long").alias("n_dup_occurrences"),
            F.sum(F.col("is_dup") * F.col("p_len"))
            .cast("long")
            .alias("dup_tokens"),
            F.sum("p_len").cast("long").alias("total_tokens"),
            (
                int_div(
                    F.sum(F.col("is_dup") * F.col("p_len")) * 1_000_000,
                    F.sum("p_len"),
                )
                / 1_000_000.0
            ).alias("dup_token_share"),
        )
        .orderBy("source")
    )


SEM_K = 16  # deterministic seed centroids (vec_id < SEM_K)
SEM_COS_THRESHOLD = 0.40


@query(
    "dedup_semantic_cluster",
    oracle=f"""
    WITH np AS ({_DUCK_PLANES_CTE}),
    cent AS (
      SELECT DISTINCT vec_id AS cid, embedding AS cemb
      FROM embeddings WHERE vec_id < {SEM_K}
    ),
    scored AS (
      SELECT e.vec_id, e.embedding, c.cid,
             list_reduce(list_transform(range(1, {EMBED_DIM} + 1),
               i -> CAST(e.embedding[i] AS DOUBLE) * CAST(c.cemb[i] AS DOUBLE)),
               (a, b) -> a + b) AS dot
      FROM embeddings e CROSS JOIN cent c
    ),
    asg AS (
      SELECT vec_id, embedding, cid,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY dot DESC, cid) AS rn
      FROM scored
    ),
    mem AS (
      SELECT vec_id, cid, {_duck_bucket('embedding')} AS bucket
      FROM (SELECT vec_id, embedding, cid FROM asg WHERE rn = 1) m, np
    ),
    emb AS (SELECT vec_id, embedding FROM embeddings),
    pairs AS (
      SELECT a.cid, a.vec_id AS va, b.vec_id AS vb
      FROM mem a JOIN mem b
        ON a.cid = b.cid AND a.bucket = b.bucket AND a.vec_id < b.vec_id
      JOIN emb x ON x.vec_id = a.vec_id
      JOIN emb y ON y.vec_id = b.vec_id
      WHERE list_reduce(list_transform(range(1, {EMBED_DIM} + 1),
              i -> CAST(x.embedding[i] AS DOUBLE) * CAST(y.embedding[i] AS DOUBLE)),
              (p, q) -> p + q) >= {SEM_COS_THRESHOLD}
    ),
    per_cluster AS (
      SELECT cid, CAST(count(*) AS BIGINT) AS n_vecs FROM mem GROUP BY cid
    ),
    dup AS (
      SELECT cid, CAST(count(*) AS BIGINT) AS n_dup_pairs,
             CAST(count(DISTINCT vb) AS BIGINT) AS n_dropped
      FROM pairs GROUP BY cid
    )
    SELECT CAST(p.cid AS INT) AS cluster, p.n_vecs,
           coalesce(d.n_dup_pairs, 0) AS n_dup_pairs,
           coalesce(d.n_dropped, 0) AS n_dropped
    FROM per_cluster p LEFT JOIN dup d USING (cid)
    ORDER BY cluster
    """,
)
def dedup_semantic_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-shaped semantic dedup (Abbas et al. '23): assign every
    vector to its nearest centroid, then near-dup-verify only WITHIN a
    cluster — the cluster structure is what lets the real system size
    blocks and pick per-cluster keep policies. Centroids here are the
    SEM_K smallest vec_ids (deterministic seeds, so the whole pipeline
    is oracle-checkable end to end; production swaps in the trained
    centroids of knn_ivf_kmeans — same plan shape, rows-only check).
    The within-cluster verify does NOT go all-pairs: candidates are
    blocked on (cluster, LSH bucket) with the SAME auto-scaled plane
    count as dedup_embedding_cosine, so pair volume stays ~128·n even
    if a cluster captures most of the corpus — the hazard that makes
    naive SemDeDup quadratic on skewed data. Plan: a K-row broadcast
    cross for assignment (n·K dots, K fixed), one shuffle on the
    (cluster, bucket) key, and per-cluster terminal aggregates.
    Outputs per-cluster membership and dedup pressure — the report a
    curation run reads to see WHERE its redundancy lives."""
    e = load_table(spark, sf_dir, "embeddings")
    n_planes = lsh_planes_for(e.count())
    cent = (
        e.filter(F.col("vec_id") < SEM_K)
        .select(F.col("vec_id").alias("cid"), F.col("embedding").alias("cemb"))
        .distinct()
    )
    dot_c = F.aggregate(
        F.zip_with(
            "embedding", "cemb", lambda x, y: x.cast("double") * y.cast("double")
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    # r12 optimization round: the nearest-centroid argmax is a grouped
    # MAX-STRUCT aggregate over NARROW rows, not a row_number window —
    # the window form shuffled all n·K crossed rows, each dragging
    # BOTH the vector and the centroid array through the exchange and
    # a per-group sort (~2·K array payloads per vector). The aggregate
    # sees only (vec_id, cid, dot): its buffer stays fixed-width (the
    # codegen HashAggregate fast path — a first(embedding) variant was
    # measured 5x WORSE than the window because the array-typed buffer
    # forces the sort-based aggregate), the map-side partial collapses
    # the K candidates per vector before the exchange, and the vector
    # itself re-attaches by one vec_id equi-join against the scan —
    # arrays cross an exchange at most ONCE, and never K times.
    # max(struct(dot, -cid)) == "highest dot, ties to smallest cid" —
    # exactly the window's (dot DESC, cid) first row on identical
    # per-pair dot values, so results are bit-identical. At sf0.1 the
    # bench wall is roughly unchanged (~2.3 s — this box is exchange-
    # latency-bound here, steady-state repeats measure ~1.9-2.5 s);
    # the win is the 100-TB shuffle-bytes profile, which is the
    # contract this round optimizes for.
    scored = (
        spread_to_cores(e)
        .crossJoin(F.broadcast(cent))
        .withColumn("dot", dot_c)
        .select("vec_id", "cid", "dot")
    )
    # The narrow (vec_id, cid) assignment is scoped-persisted: mem is
    # consumed by BOTH sides of the pair self-join, and per-cluster
    # counts need only the assignment — without the persist each
    # consumer replanned the n·K scoring subtree (the assortativity
    # lesson: no cross-consumer CSE), with it the dots run exactly
    # once and each mem copy is a parquet scan + one equi-join against
    # the 16-byte-row cache.
    asg = scoped_persist(
        scored.groupBy("vec_id")
        .agg(
            F.max(
                F.struct(F.col("dot"), (-F.col("cid")).alias("negcid"))
            ).alias("m")
        )
        .select("vec_id", (-F.col("m.negcid")).alias("cid")),
        StorageLevel.MEMORY_AND_DISK,
    )
    mem = (
        spread_to_cores(e)
        .join(asg, "vec_id")
        .select(
            "vec_id",
            "cid",
            "embedding",
            lsh_bucket("embedding", n_planes).alias("bucket"),
        )
    )
    a = mem.select(
        "cid", "bucket", F.col("vec_id").alias("va"), F.col("embedding").alias("ea")
    )
    b = mem.select(
        F.col("cid").alias("cid_b"),
        F.col("bucket").alias("bucket_b"),
        F.col("vec_id").alias("vb"),
        F.col("embedding").alias("eb"),
    )
    dot_p = F.aggregate(
        F.zip_with("ea", "eb", lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    pairs = (
        a.join(
            b,
            (F.col("cid") == F.col("cid_b"))
            & (F.col("bucket") == F.col("bucket_b"))
            & (F.col("va") < F.col("vb")),
        )
        .withColumn("dot", dot_p)
        .filter(F.col("dot") >= SEM_COS_THRESHOLD)
        .select("cid", "va", "vb")
    )
    # membership counts need only the cached assignment — counting mem
    # would re-scan and re-join the embeddings for values the 16-byte
    # rows already determine
    per_cluster = asg.groupBy("cid").agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs")
    )
    dup = pairs.groupBy("cid").agg(
        F.count(F.lit(1)).cast("long").alias("n_dup_pairs"),
        F.countDistinct("vb").cast("long").alias("n_dropped"),
    )
    return (
        per_cluster.join(dup, "cid", "left")
        .select(
            F.col("cid").cast("int").alias("cluster"),
            "n_vecs",
            F.coalesce("n_dup_pairs", F.lit(0)).cast("long").alias("n_dup_pairs"),
            F.coalesce("n_dropped", F.lit(0)).cast("long").alias("n_dropped"),
        )
        .orderBy("cluster")
    )


def _register_transitivity_audit() -> None:
    cc_oracle = ORACLES["dedup_connected_components"]
    pair_oracle = ORACLES["dedup_minhash_lsh"]

    @query(
        "dedup_transitivity_audit",
        oracle=f"""
        WITH RECURSIVE cc AS ({cc_oracle}),
        p AS ({pair_oracle}),
        sizes AS (
          SELECT component, CAST(count(*) AS BIGINT) AS cluster_size
          FROM cc GROUP BY component
        ),
        direct AS (
          SELECT c.component, CAST(count(*) AS BIGINT) AS n_direct
          FROM p JOIN cc c ON c.doc_id = p.doc_a
          GROUP BY c.component
        )
        SELECT s.cluster_size,
               CAST(count(*) AS BIGINT) AS n_clusters,
               CAST(sum(d.n_direct) AS BIGINT) AS n_direct_pairs,
               CAST(sum(s.cluster_size * (s.cluster_size - 1) // 2
                        - d.n_direct) AS BIGINT) AS n_transitive_pairs,
               CAST(sum(s.cluster_size * (s.cluster_size - 1) // 2
                        - d.n_direct) * 1000000
                    // sum(s.cluster_size * (s.cluster_size - 1) // 2)
                 AS BIGINT) AS transitive_ppm
        FROM sizes s JOIN direct d ON d.component = s.component
        GROUP BY s.cluster_size
        ORDER BY s.cluster_size
        """,
    )
    def dedup_transitivity_audit(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """FALSE-MERGE audit of transitive-closure dedup — the known
        hazard of clustering near-dup pairs into components: A~B and
        B~C chain A and C into one cluster even when A and C are NOT
        similar, and a keep-one policy then deletes documents that
        never matched anything kept. Per cluster size: how many of the
        cluster's implied pairs are DIRECT (verified >= tau by the
        pair stage) vs TRANSITIVE (merged only by chaining). A
        transitive share near zero says clusters are cliques (safe to
        keep-one); a high share at large sizes is the signature of
        chain-merged super-clusters that need a stricter tau or
        per-cluster re-verification before deletion (the audit
        SemDeDup-style pipelines run before committing removals).

        No quadratic work anywhere: implied pairs are s(s-1)/2
        ARITHMETIC on the size column, direct pairs are one count of
        the existing pair graph keyed by component (both endpoints
        share the component by construction, so one endpoint join
        suffices). Composes the registered CC plan; the oracle nests
        the recursive-CTE closure AND the pair SQL, hash-checking
        pair gen -> clustering -> audit end to end."""
        cc = QUERIES["dedup_connected_components"](spark, sf_dir)
        pairs = _minhash_pairs(spark, sf_dir)
        sizes = cc.groupBy("component").agg(
            F.count(F.lit(1)).cast("long").alias("cluster_size")
        )
        direct = (
            pairs.join(
                cc.select(
                    F.col("doc_id").alias("doc_a"), F.col("component")
                ),
                "doc_a",
            )
            .groupBy("component")
            .agg(F.count(F.lit(1)).cast("long").alias("n_direct"))
        )
        implied = F.expr("cluster_size * (cluster_size - 1) div 2")
        return (
            sizes.join(direct, "component")
            .select("cluster_size", implied.alias("n_implied"), "n_direct")
            .groupBy("cluster_size")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_clusters"),
                F.sum("n_direct").cast("long").alias("n_direct_pairs"),
                F.sum(F.col("n_implied") - F.col("n_direct"))
                .cast("long")
                .alias("n_transitive_pairs"),
                F.expr(
                    "CAST(sum(n_implied - n_direct) * 1000000"
                    " div sum(n_implied) AS BIGINT)"
                ).alias("transitive_ppm"),
            )
            .orderBy("cluster_size")
        )


_register_transitivity_audit()


def _register_lexical_semantic_agreement() -> None:
    mh_oracle = ORACLES["dedup_minhash_lsh"]
    cos_oracle = ORACLES["dedup_embedding_cosine"]

    @query(
        "dedup_lexical_semantic_agreement",
        oracle=f"""
        WITH mh AS ({mh_oracle}),
        cs AS ({cos_oracle}),
        lex AS (SELECT doc_a AS a, doc_b AS b FROM mh),
        sem AS (SELECT vec_a AS a, vec_b AS b FROM cs),
        u AS (
          SELECT coalesce(l.a, s.a) AS a, coalesce(l.b, s.b) AS b,
                 (l.a IS NOT NULL) AS in_lex, (s.a IS NOT NULL) AS in_sem
          FROM lex l FULL OUTER JOIN sem s ON l.a = s.a AND l.b = s.b
        )
        SELECT CASE WHEN in_lex AND in_sem THEN 'both'
                    WHEN in_lex THEN 'lexical_only'
                    ELSE 'semantic_only' END AS agreement,
               CAST(count(*) AS BIGINT) AS n_pairs
        FROM u GROUP BY 1 ORDER BY agreement
        """,
    )
    def dedup_lexical_semantic_agreement(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """Cross-FAMILY dedup validation: do the lexical tier (MinHash
        Jaccard over shingles) and the semantic tier (embedding cosine
        over LSH buckets) flag the same near-dup pairs? The 3-row
        agreement table is the calibration read-out a two-tier dedup
        pipeline watches: a large lexical_only bucket is boilerplate
        with divergent meaning (templates), a large semantic_only
        bucket is paraphrase duplication the shingle tier misses (the
        SemDeDup motivation), and 'both' measures where one tier could
        be skipped. Ids are comparable because the embeddings table is
        keyed by the document id (the cross-modal join contract used
        by corpus_quality_vs_embedding_outlier).

        Cost IS the two registered pair generators (both banded/
        bucketed equi-joins, never all-pairs); the agreement itself is
        one full-outer join over two contamination-sized pair lists +
        a 3-group aggregate. The oracle nests both pair oracles, so
        the whole comparison is hash-checked end to end."""
        lex = QUERIES["dedup_minhash_lsh"](spark, sf_dir).select(
            F.col("doc_a").alias("a"), F.col("doc_b").alias("b")
        ).withColumn("in_lex", F.lit(True))
        sem = QUERIES["dedup_embedding_cosine"](spark, sf_dir).select(
            F.col("vec_a").alias("a"), F.col("vec_b").alias("b")
        ).withColumn("in_sem", F.lit(True))
        u = lex.join(sem, ["a", "b"], "full_outer")
        agreement = (
            F.when(
                F.col("in_lex").isNotNull() & F.col("in_sem").isNotNull(),
                F.lit("both"),
            )
            .when(F.col("in_lex").isNotNull(), F.lit("lexical_only"))
            .otherwise(F.lit("semantic_only"))
        )
        return (
            u.groupBy(agreement.alias("agreement"))
            .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
            .orderBy("agreement")
        )


_register_lexical_semantic_agreement()


# --------------------------------------------------------------------------
@query(
    "corpus_source_overlap_matrix",
    oracle=f"""
    WITH pairs AS ({_MINHASH_ORACLE_FOR_SOURCE}),
    labeled AS (
      SELECT least(da.source, db.source) AS source_a,
             greatest(da.source, db.source) AS source_b
      FROM pairs p
      JOIN documents da ON da.doc_id = p.doc_a
      JOIN documents db ON db.doc_id = p.doc_b
    )
    SELECT source_a, source_b,
           CAST(count(*) AS BIGINT) AS n_pairs,
           (source_a <> source_b) AS cross_source
    FROM labeled
    GROUP BY source_a, source_b
    ORDER BY source_a, source_b
    """,
)
def corpus_source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source x source SYNDICATION matrix: how many verified MinHash
    near-dup pairs link each (unordered) pair of sources. The diagonal
    (source_a == source_b) is within-feed duplication; off-diagonal
    rows are cross-feed syndication — the report that tells a curation
    team which two crawls are re-publishing each other, the step AFTER
    corpus_dedup_rate_by_source's per-source rate.

    Scale shape: the pair graph is LSH-selectivity-bounded (far below
    corpus size); attributing sources is two key-joins each carrying
    (doc_id, source) only — text never travels — and the result is
    bounded by n_sources^2 regardless of corpus size. Oracle nests the
    minhash oracle verbatim, so the whole chain stays hash-checked.

    Reference parity: the reference has no dedup at all
    (/root/reference core is an embedding ETL); north-star addition."""
    pairs = _minhash_pairs(spark, sf_dir)
    d = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    a = d.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("sa"))
    b = d.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("sb"))
    labeled = (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
        )
    )
    return (
        labeled.groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
        .select(
            "source_a",
            "source_b",
            "n_pairs",
            (F.col("source_a") != F.col("source_b")).alias("cross_source"),
        )
        .orderBy("source_a", "source_b")
    )
