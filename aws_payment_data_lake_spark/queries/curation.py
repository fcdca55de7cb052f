"""The capstone training-data op: one keep/drop decision per document.

`corpus_curation_decisions` composes the engine's text + dedup operators
into the decision a 100 TB pretraining-corpus job actually emits:

  drop_reason = lang        pred_lang = 'und' (no marker-word hits)
              | quality     composite quality score < 0.62
              | duplicate   doc is a non-canonical member of a near-dup
                            cluster (exact Jaccard >= 0.6 components)
              | NULL        -> keep

Rules apply in that order (first failing rule names the reason —
the same one-pass reason-column pattern as the silver audit split,
plans/silver.py). Since round 7 the row also carries the CCNet-style
LM perplexity gate decision (`lm_keep`, VERDICT r6 #6) as an advisory
column: the bigram-LM score is a mean of logs (ulp-noisy cross-engine,
unhashable), but the DECISION is an integer-rank contract — rank on
the 4-dp-rounded score with doc_id tiebreak, keep the top ceil(90%) —
which both engines compute identically. Everything row-local stays row-local; the only joined
input is the duplicate-cluster table, which holds ONLY docs in clusters
(tiny vs the corpus) and broadcasts.

The duplicate graph is built by a pluggable ``pair_fn`` defaulting to
the session's MinHash-LSH tables (``shared_minhash_tables``) — the
bucketed scale path (candidates ~ true pairs) — with the exact
all-pairs ``jaccard_pairs`` baseline as an opt-in. Both share one
output contract, and they are hash-equal on this data (the registered
``dedup_minhash_lsh`` passes the exact-Jaccard oracle), so the capstone keeps its recursive-CTE oracle byte-identical
while its Spark plan loses the O(sum df^2) co-occurrence join — the
shape that goes quadratic on boilerplate-heavy corpora, exactly where
curation runs at 100 TB.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from aws_payment_data_lake_spark.operators import dedup as D
from aws_payment_data_lake_spark.queries import register
from aws_payment_data_lake_spark.queries.dedup import _SH_CTE
from aws_payment_data_lake_spark.queries.text import _LEX_SQL, _LEXICON
from aws_payment_data_lake_spark.sources import load

QUALITY_THRESHOLD = 0.62
# LM gate: keep the ceil(90%) best-avg_logprob docs (CCNet-style decile
# cut as an integer-rank contract; see the in-function comment)
LM_KEEP_FRAC = 0.9

_ORACLE = f"""
WITH RECURSIVE lex(word, cand_lang) AS (VALUES {_LEX_SQL}),
{_SH_CTE},
ix AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
       FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       GROUP BY 1, 2),
pairs AS (
  SELECT doc_a, doc_b FROM ix
  JOIN sizes sa ON ix.doc_a = sa.doc_id
  JOIN sizes sb ON ix.doc_b = sb.doc_id
  WHERE ix.inter >= 0.6 * (sa.n_sh + sb.n_sh - ix.inter)),
edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
          UNION SELECT doc_b, doc_a FROM pairs),
reach(node, root) AS (
  SELECT a, a FROM edges
  UNION
  SELECT e.b, r.root FROM reach r JOIN edges e ON e.a = r.node),
comp AS (SELECT node, min(root) AS canonical FROM reach GROUP BY node),
tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
        FROM documents),
hits AS (SELECT doc_id, cand_lang, count(*) AS n_hits
         FROM tok JOIN lex USING (word) GROUP BY doc_id, cand_lang),
best AS (SELECT doc_id, cand_lang, n_hits,
                row_number() OVER (PARTITION BY doc_id
                    ORDER BY n_hits DESC, cand_lang) AS rk
         FROM hits),
lmuni AS (SELECT w, count(*) AS c_w
          FROM (SELECT unnest(tk) AS w FROM toks) GROUP BY w),
lmtot AS (SELECT count(*) AS V, sum(c_w) AS T FROM lmuni),
lmpairs AS (SELECT doc_id, unnest(tk[1:len(tk)-1]) AS prev,
                   unnest(tk[2:len(tk)]) AS w
            FROM toks WHERE len(tk) >= 2),
lmbig AS (SELECT prev, w, count(*) AS c_bg FROM lmpairs
          GROUP BY prev, w),
lmfst AS (SELECT doc_id, ln((coalesce(c_w, 0) + 1) * 1.0 / (T + V)) AS lp
          FROM (SELECT doc_id, tk[1] AS w FROM toks) f
          LEFT JOIN lmuni USING (w) CROSS JOIN lmtot),
lmrst AS (SELECT doc_id,
                 ln((coalesce(c_bg, 0) + 1) * 1.0
                    / (coalesce(c_prev, 0) + V)) AS lp
          FROM lmpairs LEFT JOIN lmbig USING (prev, w)
          LEFT JOIN (SELECT w AS prev, c_w AS c_prev FROM lmuni)
            USING (prev)
          CROSS JOIN lmtot),
lmsc AS (SELECT doc_id, round(round(avg(lp), 6), 4) AS s
         FROM (SELECT * FROM lmfst UNION ALL SELECT * FROM lmrst)
         GROUP BY doc_id),
lmkeep AS (SELECT doc_id,
                  row_number() OVER (ORDER BY s DESC, doc_id)
                    <= ceil({LM_KEEP_FRAC} * count(*) OVER ()) AS lm_keep
           FROM lmsc),
feat AS (
  SELECT d.doc_id,
         coalesce(b.cand_lang, 'und') AS pred_lang,
         0.5 * (len(list_distinct(string_split(d.text, ' ')))
                * 1.0 / len(string_split(d.text, ' ')))
         + 0.3 * (1 - len(list_filter(string_split(d.text, ' '),
                          w -> w IN ('the', 'a', 'of')))
                  * 1.0 / len(string_split(d.text, ' ')))
         + 0.2 * least(len(string_split(d.text, ' ')) / 100.0, 1.0)
           AS q,
         c.canonical
  FROM documents d
  LEFT JOIN (SELECT * FROM best WHERE rk = 1) b USING (doc_id)
  LEFT JOIN comp c ON c.node = d.doc_id)
SELECT doc_id, pred_lang,
       round(q, 6) AS quality_score,
       coalesce(canonical = doc_id, TRUE) AS is_canonical,
       CASE WHEN pred_lang = 'und' THEN 'lang'
            WHEN q < {QUALITY_THRESHOLD} THEN 'quality'
            WHEN canonical IS NOT NULL AND canonical <> doc_id
              THEN 'duplicate' END AS drop_reason,
       CASE WHEN pred_lang = 'und' THEN 'lang'
            WHEN q < {QUALITY_THRESHOLD} THEN 'quality'
            WHEN canonical IS NOT NULL AND canonical <> doc_id
              THEN 'duplicate' END IS NULL AS keep,
       coalesce(k.lm_keep, FALSE) AS lm_keep
FROM feat LEFT JOIN lmkeep k USING (doc_id)
ORDER BY doc_id
"""


def lm_threshold_keep(scores: DataFrame, keep_frac: float) -> DataFrame:
    """Top-``ceil(keep_frac * N)`` keep decision over ``scores``
    (columns ``doc_id``, ``s``) with doc_id tiebreak — the rank
    contract as a row-local threshold predicate, no corpus-sized sort
    (VERDICT r8 #1):

      1. histogram the DISTINCT scores (one hash agg, bounded by the
         score grid, not the corpus) and find on the driver the cut
         score s* where the descending cumulative count first reaches
         k, plus n_above = rows strictly better;
      2. resolve the tie GROUP at s* with orderBy+limit(k - n_above)
         on doc_id (TakeOrderedAndProject over only the cut-score
         rows);
      3. keep := s > s* OR (s = s* AND doc_id <= boundary).

    NULL scores rank LAST with doc_id tiebreak, matching the old
    percent-rank form's desc_nulls_last: when the cut lands inside the
    NULL group every non-NULL row is kept and the NULL rows fill the
    remaining slots by doc_id — distinct from the empty-corpus case,
    which keeps nothing (ADVICE r9)."""
    import math

    hist = sorted(
        ((r["s"], r["c"]) for r in
         scores.groupBy("s").agg(F.count(F.lit(1)).alias("c")).collect()),
        key=lambda sc: (sc[0] is not None, sc[0]), reverse=True)
    n = sum(c for _, c in hist)
    k = math.ceil(keep_frac * n)
    cum = 0
    s_cut, n_above, cut_found = None, 0, False
    for s_val, c in hist:
        if cum + c >= k:
            s_cut, n_above, cut_found = s_val, cum, True
            break
        cum += c
    if not cut_found:                    # empty corpus: nothing kept
        return scores.select("doc_id", F.lit(False).alias("lm_keep"))
    if s_cut is None:
        boundary = (scores.where(F.col("s").isNull())
                    .orderBy("doc_id").limit(k - n_above)
                    .agg(F.max("doc_id")).first()[0])
        return scores.select(
            "doc_id",
            (F.col("s").isNotNull()
             | (F.col("doc_id") <= F.lit(boundary))).alias("lm_keep"))
    boundary = (scores.where(F.col("s") == F.lit(s_cut))
                .orderBy("doc_id").limit(k - n_above)
                .agg(F.max("doc_id")).first()[0])
    return scores.select(
        "doc_id",
        ((F.col("s") > F.lit(s_cut))
         | ((F.col("s") == F.lit(s_cut))
            & (F.col("doc_id") <= F.lit(boundary)))).alias("lm_keep"))


@register(
    "corpus_curation_decisions",
    oracle=_ORACLE,
    tags=("curation", "pipeline", "dedup", "text", "flagship-extension"),
)
def corpus_curation_decisions(spark: SparkSession, sf_dir: str,
                              pair_fn=None) -> DataFrame:
    """Language gate -> quality gate -> near-dup canonicalization, one
    decision row per document with the first failing rule as the
    drop reason.

    ``pair_fn`` builds the near-dup pair graph; the default (None) reads
    the session-scoped cluster table derived from the exact-verified LSH
    pairs, shared with the dedup queries
    (queries/dedup.py:shared_minhash_tables — the scale path, built once
    per session), with ``D.jaccard_pairs`` as the exact opt-in baseline.
    Equal output by the driver's own record: both pass the same
    exact-Jaccard oracle."""
    from aws_payment_data_lake_spark.queries.dedup import shared_minhash_tables
    (docs,) = load(spark, sf_dir, "documents")
    comp_src = (shared_minhash_tables(spark, sf_dir)[4] if pair_fn is None
                else D.connected_components(pair_fn(docs)))

    tk = F.split("text", " ")
    by_lang: dict[str, list[str]] = {}
    for w, lang in _LEXICON:
        by_lang.setdefault(lang, []).append(w)
    counts = {lang: F.size(F.filter(tk, lambda t: t.isin(*words)))
              for lang, words in sorted(by_lang.items())}
    m = F.greatest(*counts.values())
    pred = F.when(m == 0, "und")
    for lang in sorted(counts):
        pred = pred.when(counts[lang] == m, lang)

    n_tokens = F.size(tk)
    n_distinct = F.size(F.array_distinct(tk))
    n_stop = F.size(F.filter(tk, lambda w: w.isin("the", "a", "of")))
    q = (0.5 * (n_distinct / n_tokens.cast("double"))
         + 0.3 * (1 - n_stop / n_tokens.cast("double"))
         + 0.2 * F.least(n_tokens / F.lit(100.0), F.lit(1.0)))

    comp = comp_src.select("doc_id",
                           F.col("canonical_doc_id").alias("canonical"))

    # comp holds only docs in near-dup clusters — small relative to the
    # corpus, but data-dependent, so no hard-coded broadcast hint: size
    # statistics / AQE broadcast it while it fits (round-1 verdict).
    feat = (
        docs.select("doc_id", pred.alias("pred_lang"), q.alias("q"))
        .join(comp, "doc_id", "left")
    )
    drop_reason = (
        F.when(F.col("pred_lang") == "und", "lang")
        .when(F.col("q") < QUALITY_THRESHOLD, "quality")
        .when(F.col("canonical").isNotNull()
              & (F.col("canonical") != F.col("doc_id")), "duplicate")
    )
    # LM gate decisions (round 7, VERDICT r6 #6): the registered row
    # carries the perplexity gate as an INTEGER-RANK contract — rank
    # docs by avg_logprob DOUBLE-rounded to 6 then 4 dp with doc_id
    # tiebreak, keep the top ceil(90%). The oracle applies the same
    # round(round(avg, 6), 4) — lm_perplexity already emits the 6-dp
    # score, and a single 4-dp oracle round would disagree with the
    # double-rounded Spark value on the ~5e-7-wide band where the two
    # roundings differ (review r7 finding). With both engines double-
    # rounding, a flip needs the unrounded mean within ulps of a 6-dp
    # boundary.
    #
    # PLAN (VERDICT r8 #1 — no global window): the rank contract is
    # computed as a row-local threshold predicate instead of a
    # partitionless row_number over the corpus-row-sized score table.
    #   1. histogram the DISTINCT 4-dp scores (one hash agg; the
    #      domain is the 4-dp grid of avg-logprob values — bounded by
    #      the score RANGE, ~1e5 cells, not the corpus) and find, on
    #      the driver, the cut score s* where the descending cumulative
    #      count first reaches k = ceil(0.9 * N), plus n_above = docs
    #      strictly better than s*;
    #   2. resolve the tie GROUP at s* with orderBy+limit(k - n_above)
    #      on doc_id — TakeOrderedAndProject over only the rows at the
    #      cut score — and take the max kept doc_id;
    #   3. lm_keep := s > s* OR (s = s* AND doc_id <= that boundary).
    # Identical keep set to the rank form (the oracle is unchanged),
    # zero sorts over corpus-sized input, zero WindowExec. The doc_id
    # tiebreak is explicit so the decision stays hashable.
    from aws_payment_data_lake_spark.operators.lm_quality import (
        lm_perplexity,
    )
    from aws_payment_data_lake_spark.queries.lm import shared_lm_tables

    scores = lm_perplexity(
        docs, lm=shared_lm_tables(spark, sf_dir)).select(
        "doc_id", F.round("avg_logprob", 4).alias("s")) \
        .localCheckpoint(eager=True)     # read 2-3x below: pin once
    lm = lm_threshold_keep(scores, LM_KEEP_FRAC)
    return (
        feat.join(lm, "doc_id", "left")
        .select(
            "doc_id", "pred_lang",
            F.round("q", 6).alias("quality_score"),
            F.coalesce(F.col("canonical") == F.col("doc_id"), F.lit(True))
            .alias("is_canonical"),
            drop_reason.alias("drop_reason"),
            drop_reason.isNull().alias("keep"),
            F.coalesce("lm_keep", F.lit(False)).alias("lm_keep"))
        .orderBy("doc_id")
    )
