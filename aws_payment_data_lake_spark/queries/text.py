"""Text-analysis operators over `documents`: language-ID, quality scoring,
token counting, rolling-hash fingerprinting.

All four stay UDF-free: tokenization, regex extraction and the rolling
hash run as Catalyst expressions (higher-order array functions), so the
hot path is JVM codegen even though the logic is "text processing".
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from aws_payment_data_lake_spark.functions import MERSENNE_P, word_ngrams_upto
from aws_payment_data_lake_spark.operators.chunking import chunk_documents
from aws_payment_data_lake_spark.operators.mixture import mixture_resample
from aws_payment_data_lake_spark.operators.quota import source_quota_cap
from aws_payment_data_lake_spark.operators.wordlist import wordlist_flags
from aws_payment_data_lake_spark.operators.packing import (
    pack_training_shards,
)
from aws_payment_data_lake_spark.queries import register
from aws_payment_data_lake_spark.queries.decontam import (
    _DECONTAM_CTES,
    _DECONTAM_SELECT,
    _decontam_frame,
)
from aws_payment_data_lake_spark.queries.mixture import (
    MIX_WEIGHTS,
    _BASE_CASE as _MIX_BASE_CASE,
    _DEFAULT_W as MIX_DEFAULT_W,
    _THR_CASE as _MIX_THR_CASE,
)
from aws_payment_data_lake_spark.sources import load
from aws_payment_data_lake_spark.operators.spread import spread_narrow_scan

# Tiny per-language marker lexicons (fixed, public function words). The
# testdata vocabulary is an English-ish word soup, so most docs resolve to
# 'en' and the rest to 'und' — the point is the operator shape (explode ->
# broadcast lexicon join -> argmax with tiebreak), not model quality.
_LEXICON = [
    ("the", "en"), ("a", "en"), ("of", "en"),
    ("der", "de"), ("die", "de"), ("und", "de"),
    ("el", "es"), ("los", "es"), ("una", "es"),
    ("le", "fr"), ("les", "fr"), ("et", "fr"),
]
_LEX_SQL = ", ".join(f"('{w}', '{lang}')" for w, lang in _LEXICON)


@register(
    "text_profile",
    oracle=f"""
    WITH lex(word, cand_lang) AS (VALUES {_LEX_SQL}),
    tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
            FROM documents),
    hits AS (SELECT doc_id, cand_lang, count(*) AS n_hits
             FROM tok JOIN lex USING (word)
             GROUP BY doc_id, cand_lang),
    best AS (SELECT doc_id, cand_lang, n_hits,
                    row_number() OVER (PARTITION BY doc_id
                        ORDER BY n_hits DESC, cand_lang) AS rk
             FROM hits),
    t AS (
      SELECT doc_id, text,
             len(string_split(text, ' ')) AS n_tokens,
             len(list_distinct(string_split(text, ' '))) AS n_distinct,
             len(list_filter(string_split(text, ' '),
                             w -> w IN ('the', 'a', 'of'))) AS n_stop
      FROM documents)
    SELECT t.doc_id,
           coalesce(b.cand_lang, 'und') AS pred_lang,
           coalesce(b.n_hits, 0) AS n_hits,
           length(t.text) AS n_chars,
           t.n_tokens, t.n_distinct,
           len(regexp_extract_all(t.text, '[a-z]+')) AS n_word_tokens,
           len(regexp_extract_all(t.text, '[a-z]{{1,4}}')) AS n_bpe_ish_pieces,
           round((length(t.text) - t.n_tokens + 1) * 1.0 / t.n_tokens, 6)
             AS avg_token_len,
           round(t.n_distinct * 1.0 / t.n_tokens, 6) AS type_token_ratio,
           round(t.n_stop * 1.0 / t.n_tokens, 6) AS stopword_ratio,
           round(0.5 * (t.n_distinct * 1.0 / t.n_tokens)
                 + 0.3 * (1 - t.n_stop * 1.0 / t.n_tokens)
                 + 0.2 * least(t.n_tokens / 100.0, 1.0), 6) AS quality_score,
           CAST(len(list_intersect(list_distinct(
                  string_split(lower(t.text), ' ')),
                  ['slow', 'legacy']))
                + CASE WHEN contains(lower(t.text), 'slow join')
                       THEN 1 ELSE 0 END AS BIGINT) AS n_blocked,
           (len(list_intersect(list_distinct(
                  string_split(lower(t.text), ' ')),
                  ['slow', 'legacy']))
                + CASE WHEN contains(lower(t.text), 'slow join')
                       THEN 1 ELSE 0 END) > 0 AS has_blocked
    FROM t
    LEFT JOIN (SELECT * FROM best WHERE rk = 1) b USING (doc_id)
    ORDER BY doc_id
    """,
    tags=("text", "lang-id", "quality", "tokenize"),
)
def text_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document text profile in ONE codegen'd map pass: marker-word
    language ID (per-language hit counts via array ``filter`` over the
    token list, argmax with alphabetical tiebreak, 'und' when nothing
    matches), token counts four ways (whitespace / regex words / distinct
    / BPE-ish greedy <=4-char regex pieces as a subword stand-in), and
    quality features + composite score (single-space tokens make avg
    token length a closed form: (chars - n + 1) / n).

    `n_bpe_ish_pieces` is a regex stand-in for a subword count, kept
    for oracle byte-compatibility.

    The lexicon is a compile-time constant, so language ID needs NO
    explode, NO join and NO shuffle — the whole profile is row-local, the
    shape that holds at any scale (an earlier draft exploded tokens and
    joined the lexicon back per doc: two shuffles of token-cardinality
    data for the same answer)."""
    (docs,) = load(spark, sf_dir, "documents")
    tk = F.split("text", " ")
    by_lang: dict[str, list[str]] = {}
    for w, lang in _LEXICON:
        by_lang.setdefault(lang, []).append(w)
    counts = {lang: F.size(F.filter(tk, lambda t: t.isin(*words)))
              for lang, words in sorted(by_lang.items())}
    m = F.greatest(*counts.values())
    pred = F.when(m == 0, "und")
    for lang in sorted(counts):  # when-chain order = alphabetical tiebreak
        pred = pred.when(counts[lang] == m, lang)
    n_tokens = F.size(tk)
    n_distinct = F.size(F.array_distinct(tk))
    n_stop = F.size(F.filter(tk, lambda w: w.isin("the", "a", "of")))
    ttr = n_distinct / n_tokens.cast("double")
    stop_ratio = n_stop / n_tokens.cast("double")
    return wordlist_flags(docs).select(
        "doc_id",
        pred.alias("pred_lang"),
        m.alias("n_hits"),
        F.length("text").alias("n_chars"),
        n_tokens.alias("n_tokens"),
        n_distinct.alias("n_distinct"),
        F.size(F.regexp_extract_all("text", F.lit("[a-z]+"), 0))
         .alias("n_word_tokens"),
        F.size(F.regexp_extract_all("text", F.lit("[a-z]{1,4}"), 0))
         .alias("n_bpe_ish_pieces"),
        F.round((F.length("text") - n_tokens + 1) / n_tokens.cast("double"), 6)
         .alias("avg_token_len"),
        F.round(ttr, 6).alias("type_token_ratio"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        F.round(0.5 * ttr + 0.3 * (1 - stop_ratio)
                + 0.2 * F.least(n_tokens / F.lit(100.0), F.lit(1.0)), 6)
         .alias("quality_score"),
        "n_blocked",             # C4 banned-wordlist stage
        "has_blocked",           # (operators/wordlist.py, demo list)
    ).orderBy("doc_id")


# Per-source quota caps (the RefinedWeb/C4 per-domain cap, variant
# 'quota' below): bounded driver literals shared by the Spark plan and
# the oracle CASE expression. Chosen to exercise every decision band
# at the driver SFs: src1's zero cap drops a whole source, src2's
# oversized cap keeps one windowlessly, src0's tiny cap and the
# default cut mid-histogram (with score ties at the cutoff).
QUOTA_CAPS = {"src0": 2, "src1": 0, "src2": 30}
QUOTA_DEFAULT_CAP = 7
_QUOTA_CAP_CASE = ("CASE source "
                   + " ".join(f"WHEN '{s}' THEN {c}"
                              for s, c in sorted(QUOTA_CAPS.items()))
                   + f" ELSE {QUOTA_DEFAULT_CAP} END")


@register(
    "text_train_test_split",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, source,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':split'),
              1, 15))::BIGINT % 100 AS bucket,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':stream'),
              1, 15))::BIGINT % 32 AS stream,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':mix'),
              1, 15))::BIGINT AS mix_h
      FROM documents),
    p AS (
      SELECT doc_id, n_tokens, stream,
             CAST(coalesce(sum(n_tokens) OVER (
               PARTITION BY stream ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS tokens_before
      FROM d),
    pe AS (
      SELECT doc_id, n_tokens, stream,
             CAST(coalesce(sum(n_tokens) OVER (
               PARTITION BY stream
               ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR)
                 || ':ep1'), 1, 15))::BIGINT, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS tokens_before
      FROM d),
    mc AS (
      SELECT doc_id, source,
             {_MIX_BASE_CASE}
             + CASE WHEN mix_h < {_MIX_THR_CASE} THEN 1 ELSE 0 END
               AS n_copies
      FROM d)
    SELECT 'split' AS variant, doc_id, n_tokens, bucket AS group_idx,
           CASE WHEN bucket < 80 THEN 'train'
                WHEN bucket < 90 THEN 'valid'
                ELSE 'test' END AS label
    FROM d
    UNION ALL
    SELECT 'pack' AS variant, doc_id, n_tokens, stream AS group_idx,
           stream || '-' || CAST(tokens_before // 512 AS BIGINT) AS label
    FROM p
    UNION ALL
    SELECT 'epoch' AS variant, doc_id, n_tokens, stream AS group_idx,
           stream || '-' || CAST(tokens_before // 512 AS BIGINT) AS label
    FROM pe
    UNION ALL
    SELECT 'chunk' AS variant, doc_id,
           CAST(least(64, n - start) AS BIGINT) AS n_tokens,
           CAST(start // 48 AS BIGINT) AS group_idx,
           substr(md5(array_to_string(
             list_slice(toks, start + 1, start + 64), ' ')), 1, 16) AS label
    FROM (SELECT doc_id, toks, n, unnest(range(0, n, 48)) AS start
          FROM (SELECT doc_id, string_split(text, ' ') AS toks,
                       len(string_split(text, ' ')) AS n
                FROM documents))
    WHERE start = 0 OR start + 16 < n
    UNION ALL
    SELECT 'mixture' AS variant, doc_id,
           CAST(n_copies AS BIGINT) AS n_tokens,
           CAST(unnest(range(1, n_copies + 1)) AS BIGINT) AS group_idx,
           source AS label
    FROM mc WHERE n_copies > 0
    UNION ALL
    SELECT 'quota' AS variant, doc_id, score AS n_tokens,
           cap AS group_idx,
           CASE WHEN rk <= cap THEN 'keep' ELSE 'drop' END AS label
    FROM (
      SELECT doc_id, source,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS score,
             CAST({_QUOTA_CAP_CASE} AS BIGINT) AS cap,
             row_number() OVER (
               PARTITION BY source
               ORDER BY len(string_split(text, ' ')) DESC, doc_id) AS rk
      FROM documents)
    ORDER BY variant, doc_id, group_idx
    """,
    tags=("text", "split", "sampling", "packing", "mixture"),
)
def text_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus -> training-layout assignment, all four production shapes
    in one tagged union (the driver scores 50 slots; round-5 folds per
    VERDICT r4 #3 gave shard packing and chunking their driver rows;
    round 6 adds the mixture resampler per VERDICT r5 #2):

      variant='split'  deterministic 80/10/10 train/valid/test by salted
                       doc-id hash — membership depends only on the key,
                       never on row order, partitioning or corpus size.
                       group_idx = the 0..99 hash bucket, label = the
                       split name.
      variant='pack'   operators.packing.pack_training_shards: docs hash
                       into 32 independent packing streams, each stream
                       packs in doc-id order with one window cumsum, and
                       the shard index is the stream-local token offset
                       BEFORE the doc, integer-divided by the 512-token
                       budget. group_idx = the stream, label = the
                       "<stream>-<shard_idx>" shard id, n_tokens = the
                       packed counter. The stream hash here is the
                       md5-based cross-engine hash (stream_expr override)
                       so DuckDB recomputes the exact assignment;
                       production default is xxhash64.

      variant='epoch'  the same packing under epoch_seed shuffle-then-
                       pack: within-stream order becomes a seeded hash
                       permutation (doc_id tiebreak), re-deriving each
                       epoch's co-packing from the seed alone — no
                       stored permutation table. Same budget contract;
                       shard COMPOSITION differs from variant='pack'
                       (the hash check proves the oracle replays the
                       exact permutation, not just the counts).

      variant='chunk'  operators.chunking.chunk_documents: 64-token
                       windows at stride 48 (16-token overlap), pure
                       explode/slice flatMap — no shuffle, no window
                       function. group_idx = the chunk index, n_tokens =
                       tokens in the chunk, label = the 16-hex-char md5
                       prefix of the chunk TEXT, so the driver hash
                       verifies chunk content (not just counts) against
                       DuckDB's independent list_slice reconstruction.

      variant='mixture' operators.mixture.mixture_resample under the
                       demonstrative per-source epoch weights
                       (queries/mixture.py MIX_WEIGHTS: src4 dropped,
                       src0/src1 downsampled, src2/src3 upsampled).
                       One row per (kept doc, copy): n_tokens = the
                       copy COUNT for the doc, group_idx = copy_idx,
                       label = the source. Copy counts are pure
                       integer-threshold functions of doc_id; the
                       oracle embeds the identical 2^60-scale literals,
                       so the hash check is exact, not statistical.

      variant='quota'  operators.quota.source_quota_cap: the RefinedWeb/
                       C4 per-domain cap — at most cap(source) docs kept
                       per source, preferring high token count, doc_id
                       tiebreak. The ENGINE plan has no corpus-wide
                       window: a per-(source, score) histogram finds
                       each source's cutoff, docs above it are kept
                       windowlessly, and only the cutoff tie group is
                       ranked (operators/quota.py has the scale
                       rationale). The oracle states the SAME contract
                       as a naive row_number — the hash match certifies
                       the two plans agree decision-for-decision.
                       n_tokens = the score, group_idx = the source's
                       cap, label = keep/drop.

    All variants are one scan + (for pack only) one shuffle by stream
    and a windowed cumsum — no driver loop, the shape that holds at any
    corpus size."""
    (docs,) = load(spark, sf_dir, "documents")

    def _hash_mod(salt: str, mod: int):
        return (F.conv(F.substring(
            F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(salt))),
            1, 15), 16, 10).cast("long") % mod)

    bucket = _hash_mod(":split", 100)
    n_tokens = F.size(F.split("text", " ")).cast("long")
    split_rows = docs.select(
        F.lit("split").alias("variant"),
        "doc_id",
        n_tokens.alias("n_tokens"),
        bucket.alias("group_idx"),
        F.when(bucket < 80, "train").when(bucket < 90, "valid")
        .otherwise("test").alias("label"),
    )
    packed = pack_training_shards(
        docs, token_budget=512, n_streams=32,
        stream_expr=_hash_mod(":stream", 32))
    pack_rows = packed.select(
        F.lit("pack").alias("variant"),
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("stream").cast("long").alias("group_idx"),
        F.col("shard_id").alias("label"),
    )
    chunk_rows = chunk_documents(docs, window=64, stride=48).select(
        F.lit("chunk").alias("variant"),
        "doc_id",
        F.col("n_chunk_tokens").alias("n_tokens"),
        F.col("chunk_idx").alias("group_idx"),
        F.substring(F.md5("chunk_text"), 1, 16).alias("label"),
    )
    epoch_hash = F.conv(F.substring(
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":ep1"))),
        1, 15), 16, 10).cast("long")
    epoch_rows = pack_training_shards(
        docs, token_budget=512, n_streams=32,
        stream_expr=_hash_mod(":stream", 32),
        order_exprs=[epoch_hash, F.col("doc_id")]).select(
        F.lit("epoch").alias("variant"),
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("stream").cast("long").alias("group_idx"),
        F.col("shard_id").alias("label"),
    )
    mix_rows = mixture_resample(
        docs, MIX_WEIGHTS, default_weight=MIX_DEFAULT_W).select(
        F.lit("mixture").alias("variant"),
        "doc_id",
        F.col("n_copies").cast("long").alias("n_tokens"),
        F.col("copy_idx").cast("long").alias("group_idx"),
        F.col("source").alias("label"),
    )
    quota_rows = source_quota_cap(
        docs, QUOTA_CAPS, QUOTA_DEFAULT_CAP).select(
        F.lit("quota").alias("variant"),
        "doc_id",
        F.col("score").alias("n_tokens"),
        F.col("cap").alias("group_idx"),
        F.when(F.col("kept"), "keep").otherwise("drop").alias("label"),
    )
    return (split_rows.unionByName(pack_rows).unionByName(epoch_rows)
            .unionByName(chunk_rows)
            .unionByName(mix_rows).unionByName(quota_rows)
            .orderBy("variant", "doc_id", "group_idx"))


@register(
    "text_vocab_topk",
    oracle="""
    WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
                 FROM documents),
    tf AS (SELECT word, count(*) AS term_freq,
                  count(DISTINCT doc_id) AS doc_freq
           FROM tok GROUP BY word)
    SELECT word, term_freq, doc_freq,
           row_number() OVER (ORDER BY term_freq DESC, word) AS rk
    FROM tf
    ORDER BY rk LIMIT 25
    """,
    tags=("text", "vocabulary", "tf"),
)
def text_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary: global term + document frequencies, top-25 by
    frequency (the explode -> two-level aggregate every tokenizer-training
    / vocab-pruning pipeline starts from). Partial aggregation does the
    heavy lifting map-side; only (word, partial counts) shuffle.

    The top-25 is orderBy+limit — TakeOrderedAndProject, per-partition
    25-row heaps merged on the driver — NOT a global row_number window,
    which would sort the ENTIRE vocabulary (billions of distinct raw
    tokens at web scale) in one task (VERDICT r8 #2; same plan as
    global_topk_lineitems, queries/relational.py). Only the 25
    survivors are then ranked, under a constant partition key so no
    single-partition WindowExec ever sees unbounded input."""
    (docs,) = load(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
    tf = (tok.groupBy("word")
          .agg(F.count(F.lit(1)).alias("term_freq"),
               F.countDistinct("doc_id").alias("doc_freq")))
    top = tf.orderBy(F.col("term_freq").desc(), F.col("word")).limit(25)
    # rank the 25 survivors WITHOUT WindowExec (a constant-keyed
    # window gets its foldable partition key optimized away and
    # degenerates to the partitionless plan again): TakeOrdered emits
    # ONE partition in sort order, so the per-partition monotonic id
    # is exactly the 0-based rank of the 25-row result
    return (top.select(
        "word", "term_freq", "doc_freq",
        (F.monotonically_increasing_id() + 1).cast("int").alias("rk"))
        .orderBy("rk"))


@register(
    "text_fingerprint",
    oracle=f"""
    WITH {_DECONTAM_CTES}
    SELECT 'fingerprint' AS variant, doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_units,
           list_reduce(
             list_prepend(CAST(0 AS BIGINT),
               list_transform(string_split(text, ' '),
                 t -> ('0x' || substr(md5(t), 1, 15))::BIGINT
                      % {MERSENNE_P})),
             (acc, h) -> (acc * 257 + h) % {MERSENNE_P}) AS value,
           CAST(NULL AS DOUBLE) AS frac,
           CAST(NULL AS BOOLEAN) AS flag
    FROM documents
    UNION ALL
    SELECT 'decontam' AS variant, doc_id, n_grams AS n_units,
           n_hits AS value, contamination_frac AS frac,
           contaminated AS flag
    FROM ({_DECONTAM_SELECT})
    ORDER BY variant, doc_id
    """,
    tags=("text", "fingerprint", "rolling-hash", "decontamination"),
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document content-hashing gates, both production shapes in one
    tagged union (the driver scores 50 slots; round-6 fold per VERDICT
    r5 #2 gives benchmark decontamination its driver row):

      variant='fingerprint'  order-sensitive polynomial rolling hash
                       over the token stream: acc = (acc*257 +
                       hash60(tok) mod p) mod p — a content-defined
                       document fingerprint both engines compute
                       bit-identically (operands stay under 2^40, far
                       from 64-bit overflow). n_units = n_tokens,
                       value = the fingerprint; frac/flag are NULL.
      variant='decontam'     8-gram benchmark-overlap decontamination
                       (operators/decontam.py; GPT-3 appendix C-style
                       gate): docs with doc_id % 101 == 0 stand in for
                       the eval set, every other doc is scored for
                       distinct-8-gram overlap against it. n_units =
                       distinct grams, value = grams hitting the
                       benchmark, frac = contamination fraction, flag =
                       the conservative any-hit drop signal. The
                       benchmark side broadcasts; no corpus shuffle.
    """
    (docs,) = load(spark, sf_dir, "documents")
    fp = F.aggregate(
        F.transform(F.split("text", " "),
                    lambda t: F.conv(F.substring(F.md5(t), 1, 15), 16, 10)
                    .cast("long") % MERSENNE_P),
        F.lit(0).cast("long"),
        lambda acc, h: (acc * 257 + h) % MERSENNE_P,
    )
    fp_rows = docs.select(
        F.lit("fingerprint").alias("variant"),
        "doc_id",
        F.size(F.split("text", " ")).cast("long").alias("n_units"),
        fp.alias("value"),
        F.lit(None).cast("double").alias("frac"),
        F.lit(None).cast("boolean").alias("flag"),
    )
    dc_rows = _decontam_frame(spark, sf_dir).select(
        F.lit("decontam").alias("variant"),
        "doc_id",
        F.col("n_grams").alias("n_units"),
        F.col("n_hits").alias("value"),
        F.col("contamination_frac").alias("frac"),
        F.col("contaminated").alias("flag"),
    )
    # No final orderBy: the driver compare canonically sorts rows, so a
    # global sort here is cosmetic — and Spark's range partitioner
    # SAMPLES the child to pick bounds, re-running the whole rolling-
    # hash + broadcast-probe lineage a second time (measured at sf1.0:
    # 9.7 s sorted vs 4.5 s for both branches). No row CHOICE depends
    # on order in this query, so the registry's total-ordering rule
    # (deterministic row selection) is untouched.
    return fp_rows.unionByName(dc_rows)


# Oracle for text_repetition_profile. Registered since round 5 (the
# medallion projection fold freed a slot — VERDICT r4 #8: a Gopher gate
# is worth more driver coverage than a third cast variant); the pytest
# in tests/test_queries_extra.py still runs the same SQL through the
# strict comparator at sf0.1 as the scale probe.
_REPETITION_ORACLE = """
WITH tok AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
g AS (SELECT doc_id, n.n AS n,
             unnest(list_transform(range(1, len(tk) - n.n + 2),
                    i -> array_to_string(tk[i:i+n.n-1], ' '))) AS gram
      FROM tok, (VALUES (2), (3), (5)) n(n)
      WHERE len(tk) >= n.n),
c AS (SELECT doc_id, n, gram, count(*) AS cnt
      FROM g GROUP BY doc_id, n, gram)
SELECT doc_id, n,
       CAST(sum(cnt) AS BIGINT) AS total_ngrams,
       CAST(max(cnt) AS BIGINT) AS max_count,
       round(max(cnt) * 1.0 / sum(cnt), 6) AS top_frac,
       round(sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) * 1.0 / sum(cnt), 6)
         AS dup_frac
FROM c GROUP BY doc_id, n
ORDER BY doc_id, n
"""


@register(
    "text_repetition_profile",
    oracle=_REPETITION_ORACLE,
    tags=("text", "repetition", "gopher", "quality-gate"),
)
def text_repetition_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition features (Rae et al. 2021 §A1.1, token
    variant): per document and n-gram size n ∈ {2, 3, 5}, the fraction
    of n-gram occurrences taken by the single most frequent n-gram
    (`top_frac` — catches "the same phrase over and over") and the
    fraction of occurrences belonging to any n-gram seen more than once
    (`dup_frac` — catches generally loopy text). Standard pre-training
    quality gates thresholded downstream.

    Shape: ONE scan builds a tagged (n, gram) array per doc via the
    incremental zip_with build (functions.word_ngrams_upto — round-5 fix
    for the 11.7 s interpreted element_at build flagged in VERDICT r4),
    one explode, then two hash aggregations: (doc, n, gram) counts with
    map-side partial combine, then (doc, n) rollups. Shuffle volume ∝
    distinct grams, the same scaling class as text_vocab_topk; nothing
    is quadratic and nothing collects. Locally the single small parquet
    file arrives as ONE input partition, so the build is spread across
    cores first when (and only when) the scan is narrower than the
    cluster — at real scale the scan already has more partitions than
    cores and no extra shuffle happens. Registered since round 5 (the
    medallion projection fold freed the slot); the sf0.1 pytest parity
    run (tests/test_queries_extra.py) stays as the scale probe."""
    (docs,) = load(spark, sf_dir, "documents")
    docs = spread_narrow_scan(docs.select("doc_id", "text"), "doc_id")
    tk = F.split("text", " ")
    docs = docs.select("doc_id", tk.alias("tk"))
    # the shared incremental build (functions.text.word_ngrams_upto —
    # profile numbers and the short-doc contract live there)
    ngrams = word_ngrams_upto(F.col("tk"), 5)

    def _tag(n: int):
        # NOTE: a two-arg lambda (e.g. `lambda g, n=n: ...`) would make
        # F.transform pass the ELEMENT INDEX as the second argument,
        # silently overriding the default — capture n via closure instead.
        return lambda g: F.struct(F.lit(n).alias("n"), g.alias("gram"))

    tagged = F.flatten(F.array(*[
        F.transform(ngrams[n], _tag(n)) for n in (2, 3, 5)
    ]))
    grams = (docs.select("doc_id", F.explode(tagged).alias("t"))
             .select("doc_id", "t.n", "t.gram"))
    counts = (grams.groupBy("doc_id", "n", "gram")
              .agg(F.count(F.lit(1)).alias("cnt")))
    total = F.sum("cnt")
    dup = F.sum(F.when(F.col("cnt") > 1, F.col("cnt")).otherwise(0))
    return (
        counts.groupBy("doc_id", "n")
        .agg(total.alias("total_ngrams"),
             F.max("cnt").alias("max_count"),
             F.round(F.max("cnt") / total.cast("double"), 6)
             .alias("top_frac"),
             F.round(dup / total.cast("double"), 6).alias("dup_frac"))
        .orderBy("doc_id", "n")
    )


def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII profile + redaction over the corpus (operators/pii.py
    ``pii_scan``): per-doc typed match counts plus the redacted text
    length, ONE projection — no second scan, no join (review r7
    finding). Bench-only (the synthetic corpus plants no PII, so a
    driver row would be vacuous; cross-engine parity is the strict
    planted-PII DuckDB twin in tests/test_pii.py). Timing is the
    honest cost of the regex chain over every document — pure scan
    bandwidth, zero shuffles. (A [0-9@] char pre-gate was measured
    and REJECTED as the default: on digit-rich text the per-column
    CASE wrappers defeat subexpression sharing, 3.5x slower —
    operators/pii.py docstring has the numbers; it remains opt-in for
    digit-sparse corpora.)"""
    import pyspark.sql.functions as FF

    from aws_payment_data_lake_spark.operators.pii import pii_scan

    (docs,) = load(spark, sf_dir, "documents")
    return (pii_scan(docs)
            .withColumn("redacted_len", FF.length("redacted_text"))
            .drop("redacted_text"))


def vocab_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-25 tokens via the Misra-Gries sketch
    (operators/sketches.py) — the data-volume-independent-shuffle twin
    of `text_vocab_topk`'s exact aggregation. Unregistered
    (approximate; the bound contract is pytest-proven in
    tests/test_sketches.py, where sketch top-5 == exact top-5 on this
    corpus's zipf-ish head); benched for the timing record."""
    from aws_payment_data_lake_spark.operators.sketches import (
        heavy_hitters,
    )

    (docs,) = load(spark, sf_dir, "documents")
    tokens = docs.select(F.explode(F.split("text", " ")).alias("word"))
    return heavy_hitters(tokens, "word", capacity=256).limit(25)
