"""IVF and sign-LSH recall bounds (the docstring promises in
operators/similarity.py)."""

from __future__ import annotations

from tests.conftest import SF_DIR

from aws_payment_data_lake_spark.queries import all_queries


def test_ivf_recall_vs_brute_force(spark):
    bf = {(r["query_id"], r["neighbor_id"]) for r in
          all_queries()["knn_brute_force"].fn(spark, SF_DIR).collect()}
    from aws_payment_data_lake_spark.queries.similarity import knn_ivf_probe

    ivf = {(r["query_id"], r["neighbor_id"]) for r in
           knn_ivf_probe(spark, SF_DIR).collect()}
    recall = len(bf & ivf) / len(bf)
    # measured 0.94 (sf0.001) / 0.92 (sf0.01) at 4/16 probes with seed
    # centroids (n_train_iter=0 — the right default for this isotropic
    # testdata, see build_ivf_index's docstring); 0.9 is the regression floor
    assert recall >= 0.9, f"IVF recall@5 regressed: {recall}"


def test_kmeans_beats_seed_centroids_on_clustered_corpus(spark):
    """On a corpus WITH cluster structure, trained centroids must beat
    id-order seeding. Adversarial layout: the 8 lowest vec_ids (the
    seeds) all come from cluster 0, so seeded IVF partitions cluster 0
    finely and lumps the other 7 clusters; queries spread over all
    clusters then miss. Lloyd rounds (kmeans_centroids) redistribute the
    centroids onto the true density centers and recover the recall."""
    import numpy as np

    from aws_payment_data_lake_spark.operators.similarity import (
        brute_force_topk,
        build_ivf_index,
        ivf_probe_topk,
    )

    rng = np.random.default_rng(7)
    dim, n_clusters, per = 16, 8, 25
    centers = rng.normal(size=(n_clusters, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    pts = []
    for c in range(n_clusters):
        noise = 0.25 * rng.normal(size=(per, dim))
        v = centers[c] + noise
        pts.append(v / np.linalg.norm(v, axis=1, keepdims=True))
    pts = np.vstack(pts)  # grouped by cluster: rows 0..24 = cluster 0, …

    # vec_ids 0..7 -> cluster-0 points (the adversarial seeds);
    # vec_ids 8..39 -> 4 points from every cluster (the queries);
    # the rest in cluster order.
    seed_rows = list(range(8))
    query_rows = [c * per + j for j in range(8, 12) for c in range(n_clusters)]
    rest = [i for i in range(len(pts)) if i not in set(seed_rows + query_rows)]
    order = seed_rows + query_rows + rest
    emb = spark.createDataFrame(
        [(i, [float(x) for x in pts[r]]) for i, r in enumerate(order)],
        "vec_id long, embedding array<double>")

    bf = {(r["query_id"], r["neighbor_id"])
          for r in brute_force_topk(emb, k=5, n_queries=40).collect()}

    queries = emb.where("vec_id < 40").selectExpr("vec_id AS query_id",
                                                  "embedding AS qe")

    def recall(n_train_iter):
        cents, assigned = build_ivf_index(emb, n_centroids=8,
                                          n_train_iter=n_train_iter)
        got = {(r["query_id"], r["neighbor_id"])
               for r in ivf_probe_topk(cents, assigned, queries, k=5,
                                       n_probe=2).collect()}
        return len(bf & got) / len(bf)

    seeded, trained = recall(0), recall(5)
    assert trained > seeded, (seeded, trained)
    assert trained >= 0.9, (seeded, trained)


def test_shared_ivf_index_reused(spark):
    """Second call in the same session returns the SAME persisted index
    (build-once-query-many), and the probe answer is unchanged."""
    from aws_payment_data_lake_spark.queries.similarity import (
        knn_ivf_probe,
        shared_ivf_index,
    )

    c1, a1 = shared_ivf_index(spark, SF_DIR)
    c2, a2 = shared_ivf_index(spark, SF_DIR)
    assert a1 is a2 and c1 is c2
    r1 = sorted(map(tuple, knn_ivf_probe(spark, SF_DIR).collect()))
    r2 = sorted(map(tuple, knn_ivf_probe(spark, SF_DIR).collect()))
    assert r1 == r2 and r1


def test_rp_lsh_recall_on_clustered_corpus(spark):
    """Sign-LSH must recover >= 0.8 of brute-force top-5 on a corpus
    whose true neighbors are angularly close (the clustered layout from
    the k-means test) — the regime banding is built for. On isotropic
    noise its recall is documented as mediocre; IVF covers that case."""
    import numpy as np

    from aws_payment_data_lake_spark.operators.similarity import (
        brute_force_topk,
        rp_lsh_topk,
    )

    rng = np.random.default_rng(11)
    dim, n_clusters, per = 16, 8, 25
    centers = rng.normal(size=(n_clusters, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    pts = []
    for c in range(n_clusters):
        # noise 0.1 -> within-cluster cosine ~0.92 (theta ~23 deg), the
        # near-dup/retrieval regime the sign-LSH contract targets
        v = centers[c] + 0.1 * rng.normal(size=(per, dim))
        pts.append(v / np.linalg.norm(v, axis=1, keepdims=True))
    pts = np.vstack(pts)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in pts[i]]) for i in range(len(pts))],
        "vec_id long, embedding array<double>")

    bf = {(r["query_id"], r["neighbor_id"])
          for r in brute_force_topk(emb, k=5, n_queries=25).collect()}
    got = {(r["query_id"], r["neighbor_id"])
           for r in rp_lsh_topk(emb, k=5, n_queries=25).collect()}
    assert len(bf & got) / len(bf) >= 0.8, len(bf & got) / len(bf)


def test_rp_lsh_candidates_bounded_and_deterministic(spark):
    """Same seed -> identical hits; every emitted pair is a true
    band collision (checked by reconstructing signatures in numpy)."""
    import numpy as np

    from aws_payment_data_lake_spark.operators.similarity import (
        rp_lsh_topk,
    )
    from aws_payment_data_lake_spark.sources import load

    (emb,) = load(spark, SF_DIR, "embeddings")
    a = sorted(map(tuple, rp_lsh_topk(emb, n_queries=5).collect()))
    b = sorted(map(tuple, rp_lsh_topk(emb, n_queries=5).collect()))
    assert a == b and len(a) > 0

    vecs = {r["vec_id"]: np.asarray(r["embedding"])
            for r in emb.where("vec_id < 2000").collect()}
    P = np.random.default_rng(7).normal(size=(16, len(next(iter(
        vecs.values())))))
    w = (1 << np.arange(4)).astype(np.int64)

    def bands(v):
        bits = (v @ P.T >= 0).astype(np.int64)
        return [tuple(bits[b * 4:(b + 1) * 4] @ w for b in range(4))[i]
                for i in range(4)]

    for qid, nid, _, _ in a:
        if qid in vecs and nid in vecs:
            bq, bn = bands(vecs[qid]), bands(vecs[nid])
            assert any(x == y for x, y in zip(bq, bn)), (qid, nid)
