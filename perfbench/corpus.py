"""Curation passes over a generated document and embedding corpus.

The ``acid_cdc`` workload runs these between its commits and reads, so
``operators.dedup``, ``operators.similarity`` and ``sources.store`` are
measured on the same lake:

- ``dedup``: ``minhash_lsh_pairs`` then ``connected_components`` over
  the document corpus. Set-up plants near-duplicate clusters (a copy of
  a document with one word replaced, Jaccard of 3-gram shingles about
  0.85); the components must equal the planted clusters.
- ``ann_build``: a fresh sample of the embedding corpus. The IVF index
  (``build_ivf_index``) goes through ``sources.store.load_or_build``
  keyed by ``corpus_fingerprint``, so this pass builds and stores it,
  then probes a query batch with ``ivf_probe_topk`` and ranks the same
  queries exactly with ``brute_force_topk``.
- ``ann``: the same sample again; the store is fresh, so the index is
  read back, not built, and probed.

Both ANN passes are checked against a numpy top-10 computed once per
sample: the exact ranking must give the same cosines, the probe must
reach ``RECALL_FLOOR``.
"""

from __future__ import annotations

import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pyspark.sql.functions as F

from aws_payment_data_lake_spark.operators import dedup as D
from aws_payment_data_lake_spark.operators import similarity as S
from aws_payment_data_lake_spark.sources.store import (
    corpus_fingerprint,
    load_or_build,
)
from aws_payment_data_lake_spark.telemetry import drain_store_builds
from perfbench.base import Op

N_DOCS = 3_000
DOC_WORDS = 40
VOCAB = 3_000
DUP_SHARE = 0.1            # documents that are near-copies of another
N_VECS = 4_000             # vectors per embedding sample
DIM = 16
CLUSTERS = 40
N_QUERIES = 50
K = 10
N_PROBE = 4
RECALL_FLOOR = 0.8
IVF_TABLES = ("cents", "assigned")


class Corpus:
    """Inputs, reference results and operations of the curation passes.
    ``wl`` is the owning workload: its spans, samples and counters."""

    def __init__(self, wl, root: str) -> None:
        self.wl = wl
        self.spark = wl.spark
        self.rng = random.Random(wl.seed * 7919 + 1)
        self.root = os.path.join(root, "corpus")
        self.store_dir = os.path.join(root, "store", "ivf")
        self.samples = 0
        self._make_docs(os.path.join(self.root, "docs"))
        self._new_sample()

    # ------------------------------------------------------------ inputs
    def _make_docs(self, path: str) -> None:
        r = self.rng
        words = [f"w{i:05d}" for i in range(VOCAB)]
        docs: list[list[str]] = []
        self.canonical: dict[int, int] = {}
        for i in range(N_DOCS):
            if i and r.random() < DUP_SHARE:
                src = r.randrange(i)
                while src in self.canonical and self.canonical[src] != src:
                    src = self.canonical[src]
                doc = list(docs[src])
                doc[r.randrange(DOC_WORDS)] = f"x{i:05d}"
                self.canonical[src] = src
                self.canonical[i] = src
            else:
                doc = r.choices(words, k=DOC_WORDS)
            docs.append(doc)
        os.makedirs(path)
        pq.write_table(pa.table({
            "doc_id": pa.array(range(N_DOCS), pa.int64()),
            "text": [" ".join(d) for d in docs]}),
            os.path.join(path, "docs.parquet"))
        self.docs = self.spark.read.parquet(path)

    def _new_sample(self) -> None:
        """Write the next embedding sample and its numpy top-10."""
        gen = np.random.default_rng(self.wl.seed * 1_000_003 + self.samples)
        centers = gen.normal(size=(CLUSTERS, DIM))
        vecs = (centers[gen.integers(CLUSTERS, size=N_VECS)]
                + 0.35 * gen.normal(size=(N_VECS, DIM)))
        path = os.path.join(self.root, f"emb-{self.samples:03d}")
        self.samples += 1
        os.makedirs(path)
        pq.write_table(pa.table({
            "vec_id": pa.array(np.arange(N_VECS), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float64()))}),
            os.path.join(path, "emb.parquet"))
        self.emb = self.spark.read.parquet(path)
        unit = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
        cos = np.round(unit[:N_QUERIES] @ unit.T, 6)
        self.truth = {}
        for q in range(N_QUERIES):
            cos[q, q] = -np.inf
            order = np.lexsort((np.arange(N_VECS), -cos[q]))[:K]
            self.truth[q] = (set(order.tolist()), np.sort(cos[q, order]))

    # --------------------------------------------------------------- ops
    def dedup_op(self) -> Op:
        wl = self.wl

        def fn():
            # minhash_lsh_pairs, in its two steps
            with wl.span("dedup.signatures"):
                sh, sigs = D.shingle_sig_tables(self.docs)
            with wl.span("dedup.lsh_pairs"):
                pairs = D.verified_pairs_from(sh, sigs).persist()
                n_pairs = pairs.count()
            with wl.span("dedup.cc"):
                comps = D.connected_components(pairs).collect()
            pairs.unpersist()
            return sh, sigs, n_pairs, comps

        def check(res):
            sh, sigs, n_pairs, comps = res
            if wl.tracer.enabled:
                wl.count("dedup.candidates",
                         D.lsh_candidate_pairs(sigs).count())
            sh.unpersist()
            sigs.unpersist()
            wl.count("dedup.pairs", n_pairs)
            have = {r["doc_id"]: r["canonical_doc_id"] for r in comps}
            if have != self.canonical:
                return [f"dedup: {len(set(have.items()) ^ set(self.canonical.items()))}"
                        " docs differ from the planted clusters"]
            return []
        return Op("dedup", fn, rows=N_DOCS, check=check)

    def ann_op(self, fresh: bool) -> Op:
        wl = self.wl
        if fresh:
            self._new_sample()
        emb, truth = self.emb, self.truth

        def fn():
            drain_store_builds()
            with wl.span("store.load_or_build"):
                fp = corpus_fingerprint(emb, "vec_id", "embedding")
                frames, built = load_or_build(
                    self.spark, self.store_dir, fp, IVF_TABLES,
                    lambda: dict(zip(IVF_TABLES, self._build(emb))))
            builds = drain_store_builds()
            queries = emb.where(F.col("vec_id") < N_QUERIES).select(
                F.col("vec_id").alias("query_id"),
                F.col("embedding").alias("qe"))
            with wl.span("similarity.probe"):
                approx = S.ivf_probe_topk(frames["cents"], frames["assigned"],
                                          queries, k=K,
                                          n_probe=N_PROBE).collect()
            with wl.span("similarity.exact"):
                exact = S.brute_force_topk(emb, k=K,
                                           n_queries=N_QUERIES).collect()
            return built, builds, approx, exact

        def check(res):
            built, builds, approx, exact = res
            errs = []
            if built != fresh:
                errs.append(f"store built={built} on a "
                            f"{'fresh' if fresh else 'stored'} sample")
            wl.count("store.builds", int(built))
            wl.count("store.build_s", sum(builds.values()))
            got: dict[int, list[float]] = {}
            for r in exact:
                got.setdefault(r["query_id"], []).append(r["cos_sim"])
            # rounding may break a tie differently, never move a cosine
            if any(len(got.get(q, [])) != K
                   or np.abs(np.sort(got[q]) - t[1]).max() > 2e-6
                   for q, t in truth.items()):
                errs.append("exact top-10 cosines differ from numpy")
            hits: dict[int, set] = {}
            for r in approx:
                hits.setdefault(r["query_id"], set()).add(r["neighbor_id"])
            recall = np.mean([len(hits.get(q, set()) & t[0]) / K
                              for q, t in truth.items()])
            wl.count("similarity.recall_sum", recall)
            wl.count("similarity.passes")
            if recall < RECALL_FLOOR:
                errs.append(f"IVF recall@{K} {recall:.3f} < {RECALL_FLOOR}")
            return errs
        return Op("ann_build" if fresh else "ann", fn, rows=N_QUERIES,
                  check=check)

    def _build(self, emb):
        with self.wl.span("similarity.index_build"):
            return S.build_ivf_index(emb)
