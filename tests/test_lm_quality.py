"""Bigram-LM perplexity gate: DuckDB twin parity (float tolerance — a
mean of logs is ulp-noisy cross-engine, so no strict hash), a
hand-computed example, pruning semantics, and cross-corpus scoring."""

from __future__ import annotations

import math

import duckdb
import numpy as np
import pytest

from tests.conftest import SF_DIR

from aws_payment_data_lake_spark.operators.lm_quality import (
    lm_perplexity,
    train_bigram_lm,
)
from aws_payment_data_lake_spark.sources import load
from aws_payment_data_lake_spark.sources.store import SessionStore

_DUCK_TWIN = """
WITH tok AS (SELECT doc_id, string_split(text, ' ') AS tk
             FROM '{dir}/documents.parquet'),
uni AS (SELECT w, count(*) AS c_w
        FROM (SELECT unnest(tk) AS w FROM tok) GROUP BY w),
tot AS (SELECT count(*) AS V, sum(c_w) AS T FROM uni),
pairs AS (SELECT doc_id, unnest(tk[1:len(tk)-1]) AS prev,
                 unnest(tk[2:len(tk)]) AS w
          FROM tok WHERE len(tk) >= 2),
big AS (SELECT prev, w, count(*) AS c_bg FROM pairs GROUP BY prev, w),
fst AS (SELECT doc_id, ln((coalesce(c_w, 0) + 1) * 1.0 / (T + V)) AS lp
        FROM (SELECT doc_id, tk[1] AS w FROM tok) f
        LEFT JOIN uni USING (w) CROSS JOIN tot),
rst AS (SELECT doc_id,
               ln((coalesce(c_bg, 0) + 1) * 1.0
                  / (coalesce(c_prev, 0) + V)) AS lp
        FROM pairs LEFT JOIN big USING (prev, w)
        LEFT JOIN (SELECT w AS prev, c_w AS c_prev FROM uni) USING (prev)
        CROSS JOIN tot),
lps AS (SELECT * FROM fst UNION ALL SELECT * FROM rst)
SELECT doc_id, count(*) AS n_tokens, avg(lp) AS avg_logprob
FROM lps GROUP BY doc_id ORDER BY doc_id
"""


def test_matches_duckdb_twin(spark):
    (docs,) = load(spark, SF_DIR, "documents")
    got = {r["doc_id"]: (r["n_tokens"], r["avg_logprob"])
           for r in lm_perplexity(docs).collect()}
    want = {int(d): (int(n), float(lp)) for d, n, lp in
            duckdb.sql(_DUCK_TWIN.format(dir=SF_DIR)).fetchall()}
    assert set(got) == set(want) and len(got) > 100
    for d in want:
        assert got[d][0] == want[d][0], d
        assert math.isclose(got[d][1], round(want[d][1], 6),
                            rel_tol=0, abs_tol=1e-6), (d, got[d], want[d])


def test_hand_computed_example(spark):
    """Corpus 'a b', 'a b', 'a c': V=3, T=6; check doc 3 exactly:
    P(a)=(c(a)+1)/(T+V)=4/9; P(c|a)=(c(a,c)+1)/(c(a)+V)=2/6."""
    df = spark.createDataFrame(
        [(1, "a b"), (2, "a b"), (3, "a c")], "doc_id long, text string")
    got = {r["doc_id"]: r for r in lm_perplexity(df).collect()}
    want3 = (math.log(4 / 9) + math.log(2 / 6)) / 2
    assert got[3]["n_tokens"] == 2
    assert got[3]["avg_logprob"] == pytest.approx(round(want3, 6), abs=1e-6)
    assert got[3]["ppl_proxy"] == pytest.approx(
        round(math.exp(-want3), 4), abs=1e-3)
    # the repeated bigram 'a b' must score strictly better than 'a c'
    assert got[1]["avg_logprob"] > got[3]["avg_logprob"]


def test_pruning_falls_back_to_unseen(spark):
    """prune_min_count=2 drops singleton bigrams: pruned pairs score as
    unseen (c_bg -> 0), so scores only DECREASE, and surviving repeated
    bigrams are unaffected."""
    (docs,) = load(spark, SF_DIR, "documents")
    sample = docs.limit(300)
    base = {r["doc_id"]: r["avg_logprob"]
            for r in lm_perplexity(sample).collect()}
    pruned = {r["doc_id"]: r["avg_logprob"]
              for r in lm_perplexity(sample, prune_min_count=2).collect()}
    assert set(base) == set(pruned)
    assert all(pruned[d] <= base[d] + 1e-9 for d in base)
    assert any(pruned[d] < base[d] - 1e-9 for d in base)


def test_cross_corpus_scoring(spark):
    """CCNet shape: train on one slice, score a disjoint slice; junk
    text scores worse under the reference LM than corpus text."""
    (docs,) = load(spark, SF_DIR, "documents")
    lm = train_bigram_lm(docs)
    probe = spark.createDataFrame(
        [(900001, "zzqx vvkw qqpr mmzt"),],
        "doc_id long, text string")
    corpus_scores = [r["ppl_proxy"] for r in
                     lm_perplexity(docs.limit(100), lm=lm).collect()]
    junk = lm_perplexity(probe, lm=lm).collect()[0]["ppl_proxy"]
    assert junk > float(np.median(corpus_scores))


def test_shared_and_durable_lm_store(spark, tmp_path, monkeypatch):
    """Round 7: the trained LM is store-state (CCNet ships the model
    artifact). Session tier returns identical scores to self-training;
    the durable tier rebuilds only when the corpus fingerprint flips."""
    import aws_payment_data_lake_spark.queries.lm as QL
    from aws_payment_data_lake_spark.queries.lm import (
        durable_lm_tables,
        shared_lm_tables,
    )

    (docs,) = load(spark, SF_DIR, "documents")
    monkeypatch.setattr(QL, "_SESSION", SessionStore())
    shared = shared_lm_tables(spark, SF_DIR)
    base = {r["doc_id"]: r["avg_logprob"]
            for r in lm_perplexity(docs).collect()}
    via_store = {r["doc_id"]: r["avg_logprob"]
                 for r in lm_perplexity(docs, lm=shared).collect()}
    assert via_store == base
    # memo hit: same tuple object back
    assert shared_lm_tables(spark, SF_DIR) is shared

    wh = str(tmp_path / "whlm")
    (uni, big, totals), built = durable_lm_tables(spark, SF_DIR, wh)
    assert built
    _, built2 = durable_lm_tables(spark, SF_DIR, wh)
    assert not built2
    stored = {r["doc_id"]: r["avg_logprob"]
              for r in lm_perplexity(docs, lm=(uni, big, totals))
              .collect()}
    assert stored == base


def test_threshold_keep_null_scores_rank_last(spark):
    """ADVICE r9 (curation NULL branch): NULL scores rank after every
    non-NULL score with doc_id tiebreak, exactly like the old
    percent-rank form's desc_nulls_last — a cut landing inside the
    NULL group keeps all non-NULL rows plus the smallest-doc_id NULL
    rows, NOT nothing."""
    from aws_payment_data_lake_spark.queries.curation import (
        lm_threshold_keep,
    )

    # 10 rows, keep_frac 0.9 -> k=9; 6 non-null + 4 null scores: the
    # cut falls inside the NULL group (n_above=6, 3 of 4 nulls kept)
    rows = [(i, float(-i)) for i in range(6)] + \
           [(i, None) for i in range(6, 10)]
    scores = spark.createDataFrame(rows, "doc_id long, s double")
    got = {r["doc_id"]: r["lm_keep"]
           for r in lm_threshold_keep(scores, 0.9).collect()}
    assert all(got[i] for i in range(6))         # every non-NULL kept
    assert got[6] and got[7] and got[8]          # nulls fill by doc_id
    assert got[9] is False or got[9] == False    # noqa: E712
    # all-NULL corpus: cut in NULL group from row one
    allnull = spark.createDataFrame(
        [(i, None) for i in range(4)], "doc_id long, s double")
    got2 = {r["doc_id"]: r["lm_keep"]
            for r in lm_threshold_keep(allnull, 0.5).collect()}
    assert got2 == {0: True, 1: True, 2: False, 3: False}
    # empty corpus still keeps nothing (and does not raise)
    empty = spark.createDataFrame([], "doc_id long, s double")
    assert lm_threshold_keep(empty, 0.9).count() == 0
