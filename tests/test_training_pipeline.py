"""End-to-end training-data pipeline: curation -> LM-perplexity gate ->
semantic dedup -> decontamination -> mixture resampling -> shard
packing.

The operators are each oracle-/parity-checked on their own; this test
proves they COMPOSE — the handoffs (keep sets, score thresholds, the
vec_id==doc_id embedding linkage of the synthetic corpus, benchmark
splits, per-copy rows, shard assignment) line up without glue code —
and that the whole chain is deterministic end-to-end (two runs produce
identical shard assignments)."""

from __future__ import annotations

import pyspark.sql.functions as F

from tests.conftest import SF_DIR

from aws_payment_data_lake_spark.operators.decontam import (
    benchmark_contamination,
)
from aws_payment_data_lake_spark.operators.lm_quality import lm_perplexity
from aws_payment_data_lake_spark.operators.mixture import mixture_resample
from aws_payment_data_lake_spark.operators.similarity import semantic_dedup
from aws_payment_data_lake_spark.operators.packing import (
    pack_training_shards,
)
from aws_payment_data_lake_spark.queries.curation import (
    corpus_curation_decisions,
)
from aws_payment_data_lake_spark.sources import load


def _run_chain(spark):
    (docs,) = load(spark, SF_DIR, "documents")

    # 1. curation: language + quality + near-dup gates
    keep_ids = (corpus_curation_decisions(spark, SF_DIR)
                .where("keep").select("doc_id"))
    kept = docs.join(keep_ids, "doc_id")

    # 1b. LM-perplexity gate: drop the worst 10% of the kept set under
    # the corpus-trained bigram LM (exact quantile -> deterministic)
    scores = lm_perplexity(kept).persist()  # quantile + join reuse it
    (cut,) = scores.approxQuantile("ppl_proxy", [0.9], 0.0)
    fluent_ids = scores.where(F.col("ppl_proxy") <= cut).select("doc_id")
    kept = kept.join(fluent_ids, "doc_id")

    # 1c. semantic dedup over the embedding table (the synthetic
    # corpus links embeddings to documents as vec_id == doc_id)
    (emb,) = load(spark, SF_DIR, "embeddings")
    sem_kept = (semantic_dedup(emb, threshold=0.4)
                .where("kept").select(F.col("vec_id").alias("doc_id")))
    kept = kept.join(sem_kept, "doc_id")

    # 2. decontamination of the KEPT set against the benchmark split
    bench = docs.where(F.col("doc_id") % 101 == 0)
    contam = benchmark_contamination(
        kept.where(F.col("doc_id") % 101 != 0), bench, n=8)
    clean = kept.join(
        contam.where(~F.col("contaminated")).select("doc_id"), "doc_id")

    # 3. mixture: upsample src2, drop src4, default 1 epoch
    mixed = mixture_resample(clean, {"src2": 2.0, "src4": 0.0})
    # copies become distinct trainable rows via a (doc, copy) id
    train_rows = (clean.join(mixed.select("doc_id", "copy_idx"), "doc_id")
                  .withColumn("row_id",
                              F.col("doc_id") * 100 + F.col("copy_idx"))
                  .select("row_id", "text"))

    # 4. pack into token-budgeted shards
    packed = pack_training_shards(
        train_rows, token_budget=512, id_col="row_id")
    return docs, kept, clean, mixed, packed


def test_chain_composes_and_is_deterministic(spark):
    docs, kept, clean, mixed, packed = _run_chain(spark)

    n_docs, n_kept, n_clean = docs.count(), kept.count(), clean.count()
    assert 0 < n_kept <= n_docs
    assert 0 < n_clean <= n_kept
    # mixture output rows = clean docs +/- the up/down-sampled sources
    assert mixed.count() > 0
    # every packed row traces back to a (clean doc, copy) pair
    assert packed.count() == mixed.join(
        clean.select("doc_id"), "doc_id").count()

    # determinism: the full chain rerun packs identical shards
    a = sorted(map(tuple, packed.collect()))
    b = sorted(map(tuple, _run_chain(spark)[4].collect()))
    assert a == b
