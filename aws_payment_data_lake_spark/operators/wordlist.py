"""Banned-wordlist flags: the C4 "bad words" stage (Raffel et al.
2020 §2.2 — pages containing any word from a public blocklist are
dropped; RefinedWeb and Dolma run the same list-based gate before any
model-based toxicity pass).

Spark-first shape: the list is a LITERAL array in the plan (hundreds
of words — folded into codegen, no broadcast variable, no join, no
shuffle): word hits are one `array_intersect` on the lowercased token
array, phrase hits one `contains` fold — a single row-local
projection whatever the corpus size. A list too large for a plan
literal (100k+ entries) would switch to a broadcast semi-join on
exploded tokens; the public lists are hundreds of entries, so the
literal tier is the right default.

The DEMO_BLOCKLIST below is deliberately neutral vocabulary from the
test corpus (this repo embeds no obscenity list); production swaps in
the public LDNOOBW list — the operator is list-agnostic.
"""

from __future__ import annotations

from functools import reduce

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

# neutral stand-in; production passes the LDNOOBW list (or any other)
DEMO_BLOCKLIST: tuple[str, ...] = ("slow", "legacy")
DEMO_PHRASES: tuple[str, ...] = ("slow join",)


def wordlist_flags(docs: DataFrame,
                   words: tuple[str, ...] = DEMO_BLOCKLIST,
                   phrases: tuple[str, ...] = DEMO_PHRASES,
                   text_col: str = "text") -> DataFrame:
    """Adds `n_blocked` (count of DISTINCT blocklist words present —
    C4's predicate is any-hit, the count is free) and `has_blocked`.
    Case-insensitive; words match whole tokens, phrases match as
    substrings (the C4 list mixes both)."""
    low = F.lower(F.col(text_col))
    toks = F.split(low, " ")
    n_words = F.size(F.array_intersect(
        toks, F.array(*[F.lit(w.lower()) for w in words])))
    phrase_hits = ([F.contains(low, F.lit(p.lower())).cast("int")
                    for p in phrases] or [F.lit(0)])
    n_phrases = reduce(lambda a, b: a + b, phrase_hits)
    n_blocked = (n_words + n_phrases).cast("long")
    return (docs.withColumn("n_blocked", n_blocked)
            .withColumn("has_blocked", n_blocked > 0))
