"""Product quantization (Jegou et al. 2011): code validity +
determinism, ADC-vs-exact rank agreement, and the measured recall
floor of the PQ + exact-re-rank pipeline against the brute-force
baseline (the same contract style as the IVF and RP-LSH tiers)."""

from __future__ import annotations

import pytest

from tests.conftest import SF_DIR

from aws_payment_data_lake_spark.operators import similarity as S
from aws_payment_data_lake_spark.sources import load


@pytest.fixture(scope="module")
def pq(spark):
    (emb,) = load(spark, SF_DIR, "embeddings")
    books = S.train_pq_codebooks(emb)
    codes = S.pq_encode(emb, books).persist()
    codes.count()
    yield emb, books, codes
    codes.unpersist()


def test_codes_valid_and_deterministic(spark, pq):
    emb, books, codes = pq
    rows = codes.collect()
    assert len(rows) == emb.count()
    assert all(len(r["codes"]) == S.PQ_M for r in rows)
    assert all(0 <= c < S.PQ_K for r in rows for c in r["codes"])
    again = sorted((r["vec_id"], tuple(r["codes"]))
                   for r in S.pq_encode(emb, books).collect())
    assert again == sorted((r["vec_id"], tuple(r["codes"])) for r in rows)


def test_codebook_shape(spark, pq):
    emb, books, codes = pq
    assert len(books) == S.PQ_M
    assert all(len(b) == S.PQ_K for b in books)
    dim = len(emb.select("embedding").first()["embedding"])
    assert all(len(c) == dim // S.PQ_M for b in books for c in b)


def test_recall_floor_with_rerank(spark, pq):
    """PQ(8x32 codes, 32x compression) + exact re-rank of the ADC
    top-8k: recall@5 vs brute force >= 0.7 (measured 0.86 at sf0.01;
    the floor leaves SF margin). ADC alone must still beat random by
    a wide margin — it is the candidate generator, not the ranker."""
    emb, books, codes = pq
    q = emb.where("vec_id < 10").selectExpr(
        "vec_id AS query_id", "embedding AS qe")
    brute = {(r["query_id"], r["neighbor_id"])
             for r in S.brute_force_topk(emb).collect()}
    rer = {(r["query_id"], r["neighbor_id"])
           for r in S.pq_topk(codes, q, books, rerank=emb).collect()}
    assert len(rer & brute) / len(brute) >= 0.7
    adc = {(r["query_id"], r["neighbor_id"])
           for r in S.pq_topk(codes, q, books).collect()}
    assert len(adc & brute) / len(brute) >= 0.2


def test_self_retrieval_at_cosine_one(spark, pq):
    """A query that IS a corpus vector (fresh id) must come back top-1
    with exact cosine 1.0 after re-rank."""
    emb, books, codes = pq
    q = (emb.where("vec_id = 42")
         .selectExpr("-1 AS query_id", "embedding AS qe"))
    top = (S.pq_topk(codes, q, books, rerank=emb)
           .where("rk = 1").collect())
    assert len(top) == 1
    assert top[0]["neighbor_id"] == 42
    assert top[0]["cos_sim"] == 1.0


def test_ivfpq_recall_and_self_retrieval(spark, pq):
    """IVF-PQ composition: probing n_probe cells then ADC+re-rank
    still clears a recall floor vs brute force (cells bound the
    candidate set, so the floor sits under plain PQ's), and a planted
    corpus vector still self-retrieves at cosine 1.0."""
    emb, books, codes = pq
    cents, assigned = S.build_ivf_index(emb)
    q = emb.where("vec_id < 10").selectExpr(
        "vec_id AS query_id", "embedding AS qe")
    brute = {(r["query_id"], r["neighbor_id"])
             for r in S.brute_force_topk(emb).collect()}
    got = {(r["query_id"], r["neighbor_id"])
           for r in S.ivfpq_topk(cents, assigned, codes, q, books,
                                 rerank=emb).collect()}
    assert len(got & brute) / len(brute) >= 0.5

    planted = (emb.where("vec_id = 42")
               .selectExpr("-1 AS query_id", "embedding AS qe"))
    top = (S.ivfpq_topk(cents, assigned, codes, planted, books,
                        rerank=emb).where("rk = 1").collect())
    assert len(top) == 1 and top[0]["neighbor_id"] == 42
    assert top[0]["cos_sim"] == 1.0
