"""Bigram-LM perplexity quality gate over `documents`.

The gate DECISION is driver-anchored since round 7 via the `lm_keep`
column of `corpus_curation_decisions` (integer-rank contract — see
queries/curation.py); the SCORE itself stays unregistered (a mean of
logs is ulp-noisy cross-engine, so no strict hash; DuckDB parity runs
in tests/test_lm_quality.py with a float tolerance, SURVEY.md §7.5)
and this query stays on the bench for a timing record.

The trained model — unigram counts, bigram counts, (V, T) totals — is
stored state (CCNet trains its reference KenLM once and ships the
artifact; every scoring job reads it), kept in the two store tiers of
sources/store.py under the tier name ``bigram_lm``.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from aws_payment_data_lake_spark.operators.lm_quality import (
    lm_perplexity,
    train_bigram_lm,
)
from aws_payment_data_lake_spark.sources import load
from aws_payment_data_lake_spark.sources.store import (
    SessionStore,
    append_cut,
    corpus_fingerprint,
    load_or_build,
    pure_append_prior,
)

_SESSION = SessionStore()
_LM_TABLES = ("uni", "big", "totals")


def durable_lm_tables(
        spark: SparkSession, sf_dir: str, warehouse: str,
        ingest: bool = True,
) -> tuple[tuple[DataFrame, DataFrame, DataFrame], bool]:
    """((uni, big, totals), built) from the warehouse store.

    PURE-APPEND roll (sources/store.py:pure_append_prior): n-gram
    counts are ADDITIVE and bigrams never cross document boundaries,
    so the rolled model is the prior count tables MERGED with counts
    over the delta docs only — compute ∝ delta tokens plus a
    vocab-sized merge shuffle (≪ corpus tokens), exact at the durable
    tier's no-prune default (a pruned prior table would have dropped
    rows a merge can't resurrect — this tier never prunes). Counts
    change per key, so the tables are REWRITTEN (no hardlink append —
    correct, not an omission)."""
    (docs,) = load(spark, sf_dir, "documents")
    fp = corpus_fingerprint(docs, "doc_id", "text")
    store_dir = os.path.join(warehouse, "bigram_lm")

    def build() -> dict[str, DataFrame]:
        if ingest:
            pa = pure_append_prior(spark, docs, store_dir, _LM_TABLES,
                                   "doc_id", ("doc_id", "text"))
            if pa is not None:
                du, db, _ = train_bigram_lm(pa.delta)
                uni = (pa.frames["uni"].unionByName(du)
                       .groupBy("w").agg(F.sum("c_w").alias("c_w")))
                big = (pa.frames["big"].unionByName(db)
                       .groupBy("prev", "w")
                       .agg(F.sum("c_bg").alias("c_bg")))
                totals = uni.agg(F.count("*").alias("V"),
                                 F.sum("c_w").cast("long").alias("T"))
                return {"uni": uni, "big": big, "totals": totals}
        uni, big, totals = train_bigram_lm(docs)
        return {"uni": uni, "big": big, "totals": totals}

    frames, built = load_or_build(spark, store_dir, fp, _LM_TABLES, build,
                                  extras=append_cut(docs, "doc_id"))
    return (frames["uni"], frames["big"], frames["totals"]), built


def shared_lm_tables(spark: SparkSession, sf_dir: str,
                     ) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(uni, big, totals) for ``sf_dir``'s documents — trained once per
    (Spark application, sf_dir), count tables persisted with a count
    barrier, reused by every scoring consumer (the bench gate and the
    curation capstone's lm_keep decision)."""

    def build(wh: str | None) -> tuple[DataFrame, DataFrame, DataFrame]:
        if wh:
            (uni, big, totals), _ = durable_lm_tables(spark, sf_dir, wh)
        else:
            (docs,) = load(spark, sf_dir, "documents")
            uni, big, totals = train_bigram_lm(docs)
        uni, big = uni.persist(), big.persist()
        big.count()  # one job fills both count-table caches
        uni.count()
        return uni, big, totals

    return _SESSION.get(spark, sf_dir, "bigram_lm", build)


def lm_perplexity_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained add-one bigram LM (from the shared store) scores
    every document; output (doc_id, n_tokens, avg_logprob, ppl_proxy)
    ordered by doc_id. CCNet-style deployment notes live on
    operators/lm_quality.py."""
    (docs,) = load(spark, sf_dir, "documents")
    return (lm_perplexity(docs, lm=shared_lm_tables(spark, sf_dir))
            .orderBy("doc_id"))
