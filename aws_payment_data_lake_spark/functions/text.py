"""Text primitives: tokenization, shingling, cross-engine hashing.

DuckDB twins (used verbatim in oracle SQL):
  tokens(text)   -> string_split(text, ' ')
  hash60(x)      -> ('0x' || substr(md5(x), 1, 15))::BIGINT
  shingles       -> list_transform(range(1, len(tk)-1),
                      i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column

# 2^31 - 1: modulus for minhash/rolling-hash arithmetic. Keeping operands
# under 2^31 bounds products at 2^62 — inside signed 64-bit, so exact (and
# ANSI-safe) in BOTH engines.
MERSENNE_P = 2_147_483_647


def tokens(col: Column | str) -> Column:
    """Whitespace tokens (documents.text is single-space separated)."""
    return F.split(F.col(col) if isinstance(col, str) else col, " ")


def hash60(col: Column) -> Column:
    """Deterministic 60-bit hash shared with DuckDB: first 15 hex chars of
    md5. 15 (not 16) keeps the value positive in a signed 64-bit int."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def word_ngrams_upto(tokens_col: Column, max_n: int) -> dict[int, Column]:
    """n-gram array columns for every n in 1..max_n, built INCREMENTALLY:
    gram_k = zip_with(gram_{k-1}[:-1], tokens[k:], concat) — one
    interpreted concat per produced gram instead of the naive
    sequence/element_at build's ~n array probes + concat_ws per gram
    (profiled 4-10x faster on the repetition-profile workload,
    scripts/profile_repetition.py; round 5 moved the same build under
    the whole dedup family). Docs shorter than n yield [] — the
    `greatest(sz-k, 0)` slice length collapses to zero, matching
    DuckDB's `range()` behavior for the oracle twins. This is THE one
    n-gram implementation: shingles, decontamination and the repetition
    profile all build through it, so a gram-semantics change cannot
    silently diverge between them."""
    sz = F.size(tokens_col)
    grams = {1: tokens_col}
    for k in range(2, max_n + 1):
        keep = F.greatest(sz - (k - 1), F.lit(0))
        grams[k] = F.zip_with(F.slice(grams[k - 1], 1, keep),
                              F.slice(tokens_col, k, keep),
                              lambda a, b: F.concat(a, F.lit(" "), b))
    return grams


def word_ngrams(tokens_col: Column, n: int) -> Column:
    """Array of space-joined word n-grams (the last tier of
    `word_ngrams_upto`; see there for the build and its contract)."""
    return word_ngrams_upto(tokens_col, n)[n]


def shingles(tokens_col: Column, n: int = 3) -> Column:
    """Word n-gram shingles. Documents draw from a ~31-word vocabulary, so
    unigram sets are near-identical across unrelated docs (and every token
    is a hot join key); n-grams restore a sharp near-dup signal and an
    even join-key distribution."""
    assert n == 3, "oracle SQL is written for n=3"
    return word_ngrams(tokens_col, n)
