"""Learned quality-filter query (unregistered bench twin — the registry
is capped at the driver's 50-query window, and the fitted weights are
LBFGS-order float-sensitive so a value-hash oracle would be flaky by
construction; tests/test_quality_model.py carries the correctness story:
planted-signal AUC, manual-sigmoid parity, durable-tier bit-equality).
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from aws_payment_data_lake_spark.operators.quality_model import (
    heuristic_quality,
    load_quality_model,
    save_quality_model,
    score_documents,
    train_quality_model,
    weak_labels,
)
from aws_payment_data_lake_spark.sources import load, store
from aws_payment_data_lake_spark.telemetry import timed_store_build


def quality_model_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-shaped learned gate over `documents`: weak labels from the
    heuristic bands -> hashed-feature logistic regression -> map-only
    corpus scoring. With SPARK_GRAFT_WAREHOUSE set, the fitted model is
    the 8th durable store family (MLlib-native persistence keyed by the
    corpus fingerprint); without it, trains in-session. Returns one row
    per document: probability + keep decision + the heuristic-vs-model
    disagreement flag (the rows a pipeline owner actually reviews)."""
    (docs,) = load(spark, sf_dir, "documents")
    labeled = weak_labels(docs, band=0.3).persist()
    try:
        train = labeled.where(F.col("doc_id") % 2 == 0)
        n_train = train.count()
        # band edges as two driver floats (bounded collect): the final
        # disagreement flag becomes ROW-LOCAL against the closed-form
        # heuristic score instead of a join back to the windowed label
        # frame — the output pass is then one map-only transform, no
        # shuffle and no re-run of the label window.
        edges = labeled.groupBy("label").agg(
            F.min("heur_score").alias("lo"),
            F.max("heur_score").alias("hi")).collect()
        by_label = {int(r["label"]): r for r in edges}
        neg_hi = float(by_label[0]["hi"]) if 0 in by_label else float("-inf")
        pos_lo = float(by_label[1]["lo"]) if 1 in by_label else float("inf")

        wh = store.warehouse()
        model = None
        if wh:
            store_dir = os.path.join(wh, "quality_model")
            fp = store.corpus_fingerprint(docs, "doc_id", "text")
            model = load_quality_model(spark, store_dir, fp)
        if model is None:
            with timed_store_build("quality_model"):
                model = train_quality_model(train, n_rows=n_train)
                if wh:
                    save_quality_model(model, store_dir, fp)
    finally:
        labeled.unpersist()

    heur = heuristic_quality(docs)
    scored = score_documents(model, heur, threshold=0.5,
                             carry=("heur_score",))
    return scored.select(
        "doc_id",
        F.round("quality_prob", 6).alias("quality_prob"),
        "keep",
        ((F.col("keep") & (F.col("heur_score") <= F.lit(neg_hi)))
         | (~F.col("keep") & (F.col("heur_score") >= F.lit(pos_lo))))
        .alias("disagrees_with_heuristic"))
