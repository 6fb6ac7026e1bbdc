"""Text-analysis column functions — all pure built-in expressions
(JVM-side, whole-stage-codegen'd; no Python in the hot path).

These power the training-data-pipeline operators (token counting, quality
scoring, language-ID, fingerprinting, shingling for MinHash). At 100 TB
every one of these runs inside the parquet scan stage — zero shuffles.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# A BPE-ish pre-tokenization pattern: letter runs, digit runs, single
# non-alphanumeric marks (the GPT-2 pre-tokenizer family, simplified to a
# regex both Java and RE2 engines interpret identically).
BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def normalize_text(col: Column) -> Column:
    """Canonical form for exact dedup: lowercase, collapse whitespace,
    trim. Deterministic and cheap; at scale this is the dedup key."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def words(col: Column) -> Column:
    """Whitespace tokenization → array<string> (empty-safe; NULL stays
    NULL). ``array_remove`` drops the empty tokens a leading separator
    or an empty string leaves, without a lambda, so the expression stays
    in whole-stage codegen."""
    return F.array_remove(F.split(F.trim(col), r"\s+"), "")


def alpha_words(col: Column) -> Column:
    """Lowercase-alpha tokenization → array<string>: ``lower(text)``
    split on runs of non-[a-z], empty tokens dropped (NULL stays NULL).
    A character-class split every regex engine executes identically —
    the vocabulary, n-gram and unigram/bigram-model tokenizer of the
    text family."""
    return F.array_remove(F.split(F.lower(col), "[^a-z]+"), "")


def word_ngrams(toks: Column, n: int) -> Column:
    """Position-ordered word n-grams of a token array, each n consecutive
    tokens joined by single spaces; a document shorter than ``n`` tokens
    gives the empty array (NULL stays NULL).

    Built as a chained zip of n shifted slices — one linear pass; a
    transform(sequence)+slice form re-walks the array per position (2.5x
    slower measured on the bigram query at sf1).

    ``toks`` is referenced n + 1 times here, and ``zip_with`` is a
    higher-order function, which skips subexpression elimination: pass a
    reference to a token array STAGED as its own projected column, never
    a bare tokenizer expression, or the split re-runs per reference
    (measured 2.4x wall on the bigram query at sf0.1)."""
    m = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    grams = F.slice(toks, 1, m)
    for i in range(1, n):
        grams = F.zip_with(
            grams,
            F.slice(toks, i + 1, m),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
    return grams


def token_count_ws(col: Column) -> Column:
    """Whitespace token count."""
    return F.size(words(col))


def token_count_bpe(col: Column) -> Column:
    """BPE-ish token count via regexp_extract_all."""
    return F.size(F.regexp_extract_all(col, F.lit(BPE_ISH_PATTERN), 0))


def shingles(words_col: Column, k: int = 3) -> Column:
    """k-word shingles of a token array (distinct), for MinHash/Jaccard.

    Built from ``word_ngrams`` — no UDF. Documents shorter than k words
    yield their full token join as a single shingle so they still
    participate in dedup.
    """
    return F.array_distinct(shingles_all(words_col, k))


def shingles_all(words_col: Column, k: int = 3) -> Column:
    """k-word shingles WITH duplicates (position-ordered) — the multiset
    form repetition scoring needs (``shingles`` is its distinct
    projection). Same short-document convention; the grams are
    ``word_ngrams`` (pass a staged column, as there)."""
    # documents shorter than k words keep their full token join as a
    # single shingle so they still participate in dedup
    return F.when(F.size(words_col) >= k, word_ngrams(words_col, k)).otherwise(
        F.array(F.concat_ws(" ", words_col))
    )


def md5_fingerprint(col: Column) -> Column:
    """Deterministic 128-bit content fingerprint (hex) of normalized text.

    md5 is engine-portable (same hex in Spark/DuckDB/Redshift), which makes
    it the cross-system dedup key; xxhash64 is the cheaper intra-Spark
    alternative (see simhash/minhash which use it).
    """
    return F.md5(normalize_text(col).cast("binary"))
