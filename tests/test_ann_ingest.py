"""Incremental ANN index ingest (the FAISS add() contract): a
PURE-APPEND corpus roll grows the durable IVF/PQ stores with frozen
train-time artifacts — compute ∝ delta — and any edit/delete falls back
to a full retrain. Equivalence contract: frozen-ingest output ==
one-pass frozen-artifact encode of the rolled corpus (deterministic
argmax), NOT == a fresh retrain (whose sample would shift)."""

from __future__ import annotations

import os

import pyspark.sql.functions as F

from tests.conftest import SF_DIR

from aws_payment_data_lake_spark.operators import similarity as S
from aws_payment_data_lake_spark.queries.similarity import (
    ann_index_ingest,
    durable_ivf_index,
)
from aws_payment_data_lake_spark.sources import load
from aws_payment_data_lake_spark.sources.store import (
    committed_version,
    pure_append_prior,
)


def _write_corpus(emb, path: str) -> str:
    emb.coalesce(2).write.mode("overwrite").parquet(
        os.path.join(path, "embeddings.parquet"))
    return path


def _setup(spark, tmp_path):
    """(base_dir, full_dir, cut): base = lowest-90%-of-ids subset of the
    testdata embeddings, full = the whole table — a pure-append roll."""
    (emb,) = load(spark, SF_DIR, "embeddings")
    cut = int(emb.count() * 9) // 10
    base_dir = _write_corpus(emb.where(F.col("vec_id") < cut),
                             str(tmp_path / "corpus_base"))
    full_dir = _write_corpus(emb, str(tmp_path / "corpus_full"))
    return base_dir, full_dir, cut


def _arows(assigned):
    return sorted((r["neighbor_id"], r["cent_id"])
                  for r in assigned.collect())


def _crows(codes):
    return sorted((r["vec_id"], tuple(r["codes"]))
                  for r in codes.collect())


def test_ivf_pure_append_ingests_with_frozen_centroids(spark, tmp_path):
    base_dir, full_dir, cut = _setup(spark, tmp_path)
    wh = str(tmp_path / "wh")

    (cents1, assigned1), built1 = durable_ivf_index(spark, base_dir, wh)
    assert built1
    fp1, tables1, _ = committed_version(os.path.join(wh, "ivf_index"))
    assert set(tables1) == {"cents", "assigned"}
    base_rows = _arows(assigned1)

    (cents2, assigned2), built2 = durable_ivf_index(spark, full_dir, wh)
    assert built2  # corpus rolled -> new version
    # frozen centroids: the grown index keeps version-1's centroid table
    c1 = sorted((r["cent_id"], tuple(r["ce"])) for r in cents1.collect())
    c2 = sorted((r["cent_id"], tuple(r["ce"])) for r in cents2.collect())
    assert c1 == c2

    # equivalence: ingest == one-pass frozen-centroid assignment of the
    # rolled corpus (and the base rows are bit-identically preserved)
    (full,) = load(spark, full_dir, "embeddings")
    one_pass = S.assign_cells_blas(
        cents2,
        full.select(F.col("vec_id").alias("neighbor_id"),
                    F.col("embedding").alias("ne")), "neighbor_id", "ne")
    got = _arows(assigned2)
    assert got == _arows(one_pass)
    assert [r for r in got if r[0] < cut] == base_rows
    assert len(got) == full.count()

    # write IO ∝ delta: the rolled version's table directory HARDLINKS
    # the prior version's part files (shared inodes) and adds only the
    # delta's new files (sources/store.py:AppendFrom)
    store_dir = os.path.join(wh, "ivf_index")
    fp2, _, _ = committed_version(store_dir)
    assert fp2 != fp1

    def _data_inodes(vdir_fp):
        d = os.path.join(store_dir, vdir_fp, "assigned")
        return {os.stat(os.path.join(d, f)).st_ino
                for f in os.listdir(d)
                if not f.startswith(("_", "."))}

    prior_inodes = _data_inodes(fp1)
    new_inodes = _data_inodes(fp2)
    assert prior_inodes <= new_inodes        # prior files linked, not copied
    assert new_inodes - prior_inodes         # plus fresh delta part files


def test_gate_rejects_edit_and_delete(spark, tmp_path):
    base_dir, full_dir, cut = _setup(spark, tmp_path)
    wh = str(tmp_path / "wh")
    durable_ivf_index(spark, base_dir, wh)
    store_dir = os.path.join(wh, "ivf_index")
    (full,) = load(spark, full_dir, "embeddings")

    def gate(corpus):
        return pure_append_prior(spark, corpus, store_dir,
                                 ("cents", "assigned"), "vec_id",
                                 ("vec_id", "embedding"))

    # pure append passes the gate; delta is exactly the appended ids
    pa = gate(full)
    assert pa is not None
    assert (sorted(r["vec_id"] for r in pa.delta.collect())
            == sorted(r["vec_id"] for r in
                      full.where(F.col("vec_id") >= cut).collect()))

    # edit of a BASE row's embedding flips the subset fingerprint
    edited = full.withColumn(
        "embedding",
        F.when(F.col("vec_id") == 0,
               F.transform("embedding", lambda x: x + F.lit(1.0)))
        .otherwise(F.col("embedding")))
    assert gate(edited) is None

    # delete of a base row likewise forces a retrain
    assert gate(full.where(F.col("vec_id") != 1)) is None


def test_span_index_pure_append_roll(spark, tmp_path):
    """The span window index rolls the same way: delta docs windowed,
    new hashes anti-joined, prior part files hardlinked — and the
    distinctness contract survives the roll (exact multiset equality
    with a from-scratch build). An edited base doc flips the gate and
    the rebuilt version shares no files with the prior one."""
    from aws_payment_data_lake_spark.operators import dedup as D
    from aws_payment_data_lake_spark.queries.dedup import (
        durable_span_index,
    )

    (docs,) = load(spark, SF_DIR, "documents")
    cut = int(docs.count() * 9) // 10
    base = docs.where(F.col("doc_id") < cut)
    wh = str(tmp_path / "wh")
    store_dir = os.path.join(wh, "span_index")

    idx1, b1 = durable_span_index(spark, base, wh)
    assert b1
    fp1, _, extras1 = committed_version(store_dir)
    assert extras1["max_id"] == base.agg(F.max("doc_id")).first()[0]

    idx2, b2 = durable_span_index(spark, docs, wh)
    assert b2
    fp2, _, _ = committed_version(store_dir)
    want = sorted(r["gh"] for r in
                  D.span_window_index(docs).collect())
    assert sorted(r["gh"] for r in idx2.collect()) == want  # multiset!

    def _inodes(fp):
        d = os.path.join(store_dir, fp, "win")
        return {os.stat(os.path.join(d, f)).st_ino
                for f in os.listdir(d) if not f.startswith(("_", "."))}

    assert _inodes(fp1) <= _inodes(fp2)

    # edit a BASE doc -> gate rejects -> full rebuild, no shared files
    edited = docs.withColumn(
        "text", F.when(F.col("doc_id") == 0,
                       F.concat(F.col("text"), F.lit(" zz")))
        .otherwise(F.col("text")))
    idx3, b3 = durable_span_index(spark, edited, wh)
    assert b3
    fp3, _, _ = committed_version(store_dir)
    assert not (_inodes(fp3) & _inodes(fp2))
    assert (sorted(r["gh"] for r in idx3.collect())
            == sorted(r["gh"] for r in
                      D.span_window_index(edited).collect()))


def test_minhash_stores_pure_append_roll(spark, tmp_path):
    """The MinHash family rolls incrementally too: sh/sigs are per-doc
    (delta-only compute, hardlink append); cands/verified append
    exactly the pairs with a delta side (lsh_delta_candidates); comp
    is recomputed from the unioned pair graph (a new edge can merge
    old components — the one genuinely global table). Equality
    contract: every rolled table matches a from-scratch full build
    EXACTLY (multisets)."""
    from aws_payment_data_lake_spark.queries.dedup import (
        durable_base_tables,
        durable_pairs_tables,
    )

    # the documents sf_dir must be a real dir: write base/full corpora
    (docs,) = load(spark, SF_DIR, "documents")
    cut = int(docs.count() * 9) // 10
    base_dir = str(tmp_path / "c_base")
    full_dir = str(tmp_path / "c_full")
    docs.where(F.col("doc_id") < cut).coalesce(2).write.parquet(
        os.path.join(base_dir, "documents.parquet"))
    docs.coalesce(2).write.parquet(
        os.path.join(full_dir, "documents.parquet"))

    wh_roll = str(tmp_path / "wh_roll")
    wh_scratch = str(tmp_path / "wh_scratch")

    (sh0, sigs0), b0 = durable_base_tables(spark, base_dir, wh_roll)
    assert b0
    _, pb0 = durable_pairs_tables(spark, base_dir, wh_roll)
    assert pb0

    (shr, sigsr), b1 = durable_base_tables(spark, full_dir, wh_roll)
    assert b1
    (cr, vr, compr), b2 = durable_pairs_tables(spark, full_dir, wh_roll)
    assert b2

    (shf, sigsf), _ = durable_base_tables(spark, full_dir, wh_scratch,
                                          ingest=False)
    (cf, vf, compf), _ = durable_pairs_tables(spark, full_dir,
                                              wh_scratch, ingest=False)

    def rows(df, *cols):
        return sorted(tuple(r[c] for c in cols) for r in df.collect())

    assert rows(sigsr, "doc_id", "sig0", "n_sh") == \
        rows(sigsf, "doc_id", "sig0", "n_sh")
    assert rows(shr, "doc_id", "h60") == rows(shf, "doc_id", "h60")
    assert rows(cr, "doc_a", "doc_b") == rows(cf, "doc_a", "doc_b")
    assert rows(vr, "doc_a", "doc_b", "jaccard") == \
        rows(vf, "doc_a", "doc_b", "jaccard")
    assert rows(compr, "doc_id", "canonical_doc_id", "group_size") == \
        rows(compf, "doc_id", "canonical_doc_id", "group_size")


def _write_docs_corpora(spark, tmp_path):
    (docs,) = load(spark, SF_DIR, "documents")
    cut = int(docs.count() * 9) // 10
    base_dir = str(tmp_path / "d_base")
    full_dir = str(tmp_path / "d_full")
    docs.where(F.col("doc_id") < cut).coalesce(2).write.mode(
        "overwrite").parquet(os.path.join(base_dir, "documents.parquet"))
    docs.coalesce(2).write.mode("overwrite").parquet(
        os.path.join(full_dir, "documents.parquet"))
    return base_dir, full_dir, cut


def test_lm_store_pure_append_merges_counts(spark, tmp_path):
    """Bigram-LM counts are additive and bigrams never cross doc
    boundaries: the rolled model (prior counts merged with delta-doc
    counts) must equal a full retrain exactly — every unigram count,
    every bigram count, V and T."""
    from aws_payment_data_lake_spark.queries.lm import durable_lm_tables

    base_dir, full_dir, _ = _write_docs_corpora(spark, tmp_path)
    wh_roll = str(tmp_path / "wh_roll")
    wh_full = str(tmp_path / "wh_full")

    _, b0 = durable_lm_tables(spark, base_dir, wh_roll)
    assert b0
    (unir, bigr, totr), b1 = durable_lm_tables(spark, full_dir, wh_roll)
    assert b1
    (unif, bigf, totf), _ = durable_lm_tables(spark, full_dir, wh_full,
                                              ingest=False)

    def rows(df, *cols):
        return sorted(tuple(r[c] for c in cols) for r in df.collect())

    assert rows(unir, "w", "c_w") == rows(unif, "w", "c_w")
    assert rows(bigr, "prev", "w", "c_bg") == rows(bigf, "prev", "w", "c_bg")
    assert rows(totr, "V", "T") == rows(totf, "V", "T")


def test_chunk_index_pure_append_roll(spark, tmp_path):
    """RAG chunk index roll: delta docs chunked+embedded only, frozen
    prior centroids assign the new chunks, emb/assigned hardlink the
    prior part files. emb must equal a from-scratch chunking of the
    full corpus; assigned must equal a one-pass frozen-cents
    assignment of that emb."""
    from aws_payment_data_lake_spark.queries.rag import (
        chunk_embeddings,
        durable_chunk_index,
    )

    base_dir, full_dir, _ = _write_docs_corpora(spark, tmp_path)
    wh = str(tmp_path / "wh")

    (e1, c1, a1), b0 = durable_chunk_index(spark, base_dir, wh)
    assert b0
    (e2, c2, a2), b1 = durable_chunk_index(spark, full_dir, wh)
    assert b1

    # frozen centroids survived the roll
    crows = lambda c: sorted(  # noqa: E731
        (r["cent_id"], tuple(r["ce"])) for r in c.collect())
    assert crows(c2) == crows(c1)

    (docs,) = load(spark, full_dir, "documents")
    want_emb = sorted((r["vec_id"], tuple(r["embedding"]))
                      for r in chunk_embeddings(docs).collect())
    assert sorted((r["vec_id"], tuple(r["embedding"]))
                  for r in e2.collect()) == want_emb

    one_pass = S.assign_cells_blas(
        c2, e2.select(F.col("vec_id").alias("neighbor_id"),
                      F.col("embedding").alias("ne")),
        "neighbor_id", "ne")
    assert _arows(a2) == _arows(one_pass)


def test_ingested_delta_is_retrievable(spark, tmp_path):
    """Plant an exact duplicate of the first DELTA vector as a new
    max-id row; the grown IVF-PQ index must return it at rk=1 with
    cosine 1.0 for that delta query — proof the ingested rows serve."""
    (emb,) = load(spark, SF_DIR, "embeddings")
    n = emb.count()
    cut = int(n * 9) // 10
    first_delta = emb.where(F.col("vec_id") >= cut).orderBy("vec_id").first()
    planted_id = int(emb.agg(F.max("vec_id")).first()[0]) + 1
    planted = emb.sparkSession.createDataFrame(
        [(planted_id, list(first_delta["embedding"]),
          first_delta["label"])], emb.schema)
    corpus = _write_corpus(emb.unionByName(planted),
                           str(tmp_path / "corpus_planted"))

    res = ann_index_ingest(spark, corpus).collect()
    top1 = {r["query_id"]: r for r in res if r["rk"] == 1}
    q = int(first_delta["vec_id"])
    assert q in top1
    assert top1[q]["neighbor_id"] == planted_id
    assert top1[q]["cos_sim"] == 1.0
