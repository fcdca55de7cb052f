"""Unit tests for the multimodal feature-extract and resize tiers
(decode and frame-sample are driver-oracle-checked via their registered
queries; these two are unregistered, so they get pytest coverage with
numpy reference implementations)."""

from __future__ import annotations

import numpy as np
import pytest

from tests.conftest import SF_DIR

from aws_payment_data_lake_spark.operators.multimodal import (
    EMBED_DIM,
    feature_extract,
    with_binary_payload,
)
from aws_payment_data_lake_spark.sources import load


@pytest.fixture(scope="module")
def payload_rows(spark):
    (docs,) = load(spark, SF_DIR, "documents")
    wp = with_binary_payload(docs)
    texts = {r["doc_id"]: r["payload"]
             for r in wp.limit(2000).collect()}
    return wp, texts


def test_feature_extract_matches_numpy_reference(spark, payload_rows):
    wp, texts = payload_rows
    got = {r["doc_id"]: np.array(r["embedding"])
           for r in feature_extract(wp).collect()}
    assert set(got) == set(texts)
    for doc_id in list(texts)[:20]:
        b = np.frombuffer(texts[doc_id], dtype=np.uint8)
        ref = np.bincount(b // EMBED_DIM, minlength=EMBED_DIM).astype(float)
        ref /= np.linalg.norm(ref)
        assert np.allclose(got[doc_id], ref, atol=1e-6), doc_id
        assert abs(np.linalg.norm(got[doc_id]) - 1.0) < 1e-5


def test_feature_extract_feeds_similarity_tier(spark, payload_rows):
    """The embedding output plugs into the ANN tier unchanged."""
    import pyspark.sql.functions as F

    from aws_payment_data_lake_spark.operators.similarity import (
        brute_force_topk,
    )

    wp, _ = payload_rows
    emb = feature_extract(wp).select(
        F.col("doc_id").alias("vec_id"), "embedding")
    top = brute_force_topk(emb, k=3, n_queries=2).collect()
    assert len(top) == 6
    assert all(r["rk"] <= 3 for r in top)
