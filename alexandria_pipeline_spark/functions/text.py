"""Text primitives shared by dedup / fingerprint / text-analysis ops.

Cross-engine hashing: Spark's hash() (Murmur3) and DuckDB's hash()
disagree, so every sketch (MinHash, SimHash, rolling fingerprint) is
built on an explicit word-code polynomial both engines compute with
exact 64-bit integer arithmetic:

    code(w) = ascii(w[0]) * 100000 + ascii(w[1]) * 1000
            + ascii(w[2]) * 10 + length(w)

(ascii('') = 0 in both engines, so short words are well-defined.)
MinHash permutations are the classic (a*code + b) mod p family with
fixed odd constants — public-knowledge construction (Broder '97).
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

MINHASH_P = 100003  # prime > any code bucket
FP_MOD = 1_000_000_007

# Word-trigram shingle codes: the sketch universe for MinHash/SimHash.
# Unigram token sets are useless on low-entropy corpora (every doc
# contains most of a small vocabulary, so all sketches collide —
# measured: 10.4M/12.5M candidate pairs at sf0.1); trigram shingles
# (universe ~|vocab|^3) restore discrimination (3.1k pairs). Codes are
# kept < SHINGLE_MOD so every later multiply stays in int64.
SHINGLE_MULT = 10007
SHINGLE_MOD = 1_000_003
# Lehmer/Park-Miller LCG spreads the low-entropy shingle code across
# 31 bits before SimHash bit sampling (public constants, CACM '88).
MIX_A = 48271
MIX_MOD = 2_147_483_647


def word_code(w: Column) -> Column:
    return (
        F.ascii(F.substring(w, 1, 1)) * 100000
        + F.ascii(F.substring(w, 2, 1)) * 1000
        + F.ascii(F.substring(w, 3, 1)) * 10
        + F.length(w)
    ).cast("long")


def duck_word_code(w: str) -> str:
    return (
        f"CAST(ascii(substring({w}, 1, 1)) * 100000"
        f" + ascii(substring({w}, 2, 1)) * 1000"
        f" + ascii(substring({w}, 3, 1)) * 10"
        f" + length({w}) AS BIGINT)"
    )


def tokens(text: Column | str) -> Column:
    text = F.col(text) if isinstance(text, str) else text
    return F.split(text, " ")


def shingle_codes(toks: Column) -> Column:
    """Distinct trigram-shingle codes of a token array (requires ≥3
    tokens — callers filter).

    Implemented as zip_with over three shifted slices, NOT as
    transform(sequence, i -> element_at(toks, i)): Catalyst inlines the
    producing expression into every element_at, so the indexed form
    re-evaluates split()/transform() per access — O(n²) per document
    (measured 15s for 5000 docs; this form is linear)."""
    n = F.size(toks)
    wcodes = F.transform(toks, word_code)
    s1 = F.slice(wcodes, 1, n - 2)
    s2 = F.slice(wcodes, 2, n - 2)
    s3 = F.slice(wcodes, 3, n - 2)
    inner = F.zip_with(s1, s2, lambda x, y: (x * SHINGLE_MULT + y) % SHINGLE_MOD)
    return F.array_distinct(
        F.zip_with(inner, s3, lambda xy, z: (xy * SHINGLE_MULT + z) % SHINGLE_MOD)
    )


def duck_shingle_codes(toks: str) -> str:
    def wc(e: str) -> str:
        return duck_word_code(e)

    t = lambda i: f"{toks}[{i}]"  # noqa: E731
    return (
        f"list_distinct(list_transform(range(1, len({toks}) - 1), "
        f"i -> (({wc(t('i'))} * {SHINGLE_MULT} + {wc(t('i+1'))}) % {SHINGLE_MOD}"
        f" * {SHINGLE_MULT} + {wc(t('i+2'))}) % {SHINGLE_MOD}))"
    )


def rolling_fingerprint(toks: Column) -> Column:
    """Polynomial rolling hash over the token stream:
    h = (h*31 + code(w)) mod 1e9+7 — order-sensitive document
    fingerprint (reference has none; north-star text-analysis op).
    Max intermediate: (1e9+6)*31 + 1e7 < 2^63, no overflow."""
    return F.aggregate(
        toks,
        F.lit(0).cast("long"),
        lambda acc, t: (acc * 31 + word_code(t)) % FP_MOD,
    )


def duck_rolling_fingerprint(toks: str) -> str:
    codes = f"list_transform({toks}, t -> {duck_word_code('t')})"
    return (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), {codes}), "
        f"(acc, c) -> (acc * 31 + c) % {FP_MOD})"
    )


def make_chunk_udtf():
    """Python UDTF (Spark 3.5+ lateral-join form) for 1-row→n-rows
    chunking — the §2.10 UDTF surface done as an actual UDTF rather
    than array+explode (run_extra.py:61-74's sentence/chunk splitter).

    Returned lazily (class decoration needs no session, but keeping
    construction behind a call avoids import-order surprises). Usage:
        chunk_udtf = make_chunk_udtf()
        spark.udtf.register("chunk_text", chunk_udtf)
        df.lateralJoin(chunk_udtf(df.text, F.lit(16)))  # or SQL LATERAL
    Prefer array+explode (operators/pipeline.py) in hot paths — it
    stays in codegen; the UDTF crosses into Python per batch.
    """
    from pyspark.sql.functions import udtf

    @udtf(returnType="chunk_idx int, chunk_text string, chunk_len int")
    class ChunkText:
        def eval(self, text: str, chunk_tokens: int):  # noqa: D102
            if text is None:
                return
            toks = text.split(" ")
            for i in range(0, len(toks), chunk_tokens):
                chunk = toks[i : i + chunk_tokens]
                yield i // chunk_tokens, " ".join(chunk), len(chunk)

    return ChunkText


def sentences(text: Column | str) -> Column:
    """M3 sentence segmentation (run_extra.py:61 nltk.sent_tokenize
    analog): split on sentence-final punctuation followed by
    whitespace. A statistical segmenter (punkt) would slot into the
    pandas-UDF seam; this regex form stays in codegen and is the
    right default for bulk pre-training text. The driver testdata's
    documents carry no punctuation (single-sentence docs), so this is
    exercised by unit tests on synthetic text."""
    text = F.col(text) if isinstance(text, str) else text
    return F.filter(F.split(text, r"(?<=[.!?])\s+"), lambda s: F.length(s) > 0)


def _segment_py(text: str) -> list[str]:
    """Python-side segmentation shared by the pandas-UDF seam: uses a
    real statistical segmenter (nltk punkt, reference run_extra.py:61)
    when the library is installed, else the same sentence-final-
    punctuation rule as the codegen `sentences()` — so the two faces
    agree wherever both are defined."""
    import re

    if text is None:
        return []
    try:  # pragma: no cover - nltk not installed in this container
        from nltk.tokenize import sent_tokenize

        return sent_tokenize(text)
    except ImportError:
        return [s for s in re.split(r"(?<=[.!?])\s+", text) if s]


def make_sentences_pandas_udf():
    """M3's model-grade face: an Arrow-batched pandas UDF with the SAME
    interface as `sentences()` (string col -> array<string>), holding
    the heavyweight segmenter import per python worker instead of per
    row. Swap-in is one name change:

        df.select(sentences("text"))                  # codegen regex
        df.select(make_sentences_pandas_udf()("text"))  # nltk seam

    Parity with the regex face on punctuated text is asserted in
    tests/test_functions.py. Built lazily (mirrors make_chunk_udtf):
    decorating at import time would bind pandas/Arrow configs before
    any session exists."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, StringType

    # No type hints on purpose: the module's `from __future__ import
    # annotations` stringifies them against module globals where pd
    # isn't bound, so hint inference fails — the unhinted form takes
    # the legacy scalar-series eval type, which is exactly right here.
    def sentences_udf(batch):
        return batch.map(_segment_py)

    return pandas_udf(sentences_udf, ArrayType(StringType()))
