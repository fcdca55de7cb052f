"""Similarity search over embedding columns (array<float>, dim 64).

Three tiers:
  brute-force top-k   exact; queries broadcast against all candidates —
                      right whenever |queries| is small (cost |Q| x N).
  near-dup pairs      exact all-pairs above a cosine threshold — the
                      correctness baseline for embedding dedup.
  IVF probe top-k     the scale path: coarse-quantize candidates to
                      deterministic centroids, probe only the closest
                      n_probe cells (cost |Q| x N x n_probe/n_cells).
                      Approximate by construction -> rows-only check.

All dot products run through functions.vectors (double-cast fold) so
results reproduce in DuckDB to within the 6-dp rounding.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from aws_payment_data_lake_spark.functions import cosine, unit
from aws_payment_data_lake_spark.localframe import local_frame
from aws_payment_data_lake_spark.operators.spread import spread_narrow_scan


def brute_force_topk(emb: DataFrame, k: int = 5,
                     n_queries: int = 10,
                     scorer: str = "jvm") -> DataFrame:
    """Exact top-k neighbors for query vectors (vec_id < n_queries).

    Ranking uses the ROUNDED cosine with vec_id tiebreak so the order is
    total and engine-independent.

    ``scorer="jvm"`` (default) scores with the SQL `cosine` fold — the
    expression the DuckDB oracle replays term by term; the registered
    `knn_brute_force` query stays on it. ``scorer="arrow"`` runs the
    same arithmetic as one einsum per Arrow batch through the shared
    `_cosine_score_batches` (r14, guide §4.2): the interpreted
    higher-order fold costs ~3*dim expression evals per scored row and
    the baseline scores |Q| x N rows — in the recall report that was
    most of the exact phase. np.round and F.round agree everywhere
    except exact half-way ties at the 6th decimal; row identity of the
    two scorers is asserted at sf0.001/0.01/0.1
    (tests/test_ann_recall.py), so the report's recall stats are
    unchanged."""
    q = emb.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe"))
    if scorer == "arrow":
        c = (
            spread_narrow_scan(
                emb.select(F.col("vec_id").alias("neighbor_id"),
                           F.col("embedding").alias("ne")), "neighbor_id")
            .crossJoin(F.broadcast(q))
            .where(F.col("neighbor_id") != F.col("query_id"))
            .select("query_id", "qe", "neighbor_id", "ne")
            .mapInPandas(_cosine_score_batches,
                         "query_id long, neighbor_id long, cos_sim double")
        )
    else:
        c = (
            emb.crossJoin(F.broadcast(q))
            .where(F.col("vec_id") != F.col("query_id"))
            .select(
                "query_id", F.col("vec_id").alias("neighbor_id"),
                F.round(cosine(F.col("qe"), F.col("embedding")), 6)
                .alias("cos_sim"))
        )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id"))
    return (
        c.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rk")
    )


def ann_recall(exact: DataFrame, approx: DataFrame,
               k: int | None = None) -> DataFrame:
    """Recall@k of an approximate ANN result against the exact one —
    the dial a user tuning n_probe / PQ m / LSH bands reads (VERDICT
    r12 "What's missing" #2). Both inputs follow the engine's ANN
    contract (query_id, neighbor_id, cos_sim, rk); ``k`` truncates
    both sides (None = use each frame as-is). Returns one row per
    query: (query_id, n_true, n_hit, recall) where recall =
    |exact_topk ∩ approx_topk| / |exact_topk|.

    Cost: two filters + one join + one groupBy over frames of
    |Q| x k rows — query-batch-sized, never corpus-sized."""
    e = exact if k is None else exact.where(F.col("rk") <= k)
    a = approx if k is None else approx.where(F.col("rk") <= k)
    truth = (e.select("query_id", "neighbor_id")
             .groupBy("query_id")
             .agg(F.count(F.lit(1)).alias("n_true")))
    hits = (e.select("query_id", "neighbor_id")
            .join(a.select("query_id", "neighbor_id"),
                  ["query_id", "neighbor_id"])
            .groupBy("query_id")
            .agg(F.count(F.lit(1)).alias("n_hit")))
    return (truth.join(hits, "query_id", "left")
            .select("query_id", "n_true",
                    F.coalesce("n_hit", F.lit(0)).alias("n_hit"),
                    (F.coalesce("n_hit", F.lit(0)) /
                     F.col("n_true")).alias("recall"))
            .orderBy("query_id"))


def mean_recall(exact: DataFrame, approx: DataFrame,
                k: int | None = None) -> float:
    """Macro-averaged recall@k as one driver float (for floors in
    tests and the BENCH_DETAIL stats block)."""
    row = ann_recall(exact, approx, k).agg(
        F.avg("recall").alias("r")).collect()[0]
    return float(row["r"]) if row["r"] is not None else 0.0


def mean_recall_tagged(exact: DataFrame, tagged: DataFrame,
                       labels: list[str],
                       k: int | None = None) -> dict[str, float]:
    """`mean_recall` for SEVERAL approximate results in ONE Spark
    action (guide §1.2/§2.6: each label's top-k frame is an independent
    plan branch; evaluating them under a single union lets the
    scheduler overlap the branches instead of paying one full
    action-latency round trip per setting). ``tagged`` carries a
    ``label`` column naming the tier/setting of each row; ``labels``
    lists every label that must appear in the output (a label whose
    frame produced zero rows still reports recall 0.0, exactly as
    `mean_recall` would). Per-label math is identical to
    `ann_recall(...).agg(avg)`: truth per query from the exact top-k,
    macro-average over ALL truth queries including zero-hit ones."""
    e = exact if k is None else exact.where(F.col("rk") <= k)
    a = tagged if k is None else tagged.where(F.col("rk") <= k)
    truth = (e.select("query_id")
             .groupBy("query_id")
             .agg(F.count(F.lit(1)).alias("n_true")))
    hits = (e.select("query_id", "neighbor_id")
            .join(a.select("label", "query_id", "neighbor_id"),
                  ["query_id", "neighbor_id"])
            .groupBy("label", "query_id")
            .agg(F.count(F.lit(1)).alias("n_hit")))
    # macro-average over ALL truth queries: zero-hit queries add 0 to
    # the per-label sum, so sum(n_hit/n_true) / |truth| equals the
    # explicit per-query average without materializing zero rows (and
    # without a createDataFrame label frame — a Python-list frame can
    # be a session's first and pays Python-RDD worker spin-up)
    per = (hits.join(truth, "query_id")
           .groupBy("label")
           .agg(F.sum(F.col("n_hit") / F.col("n_true")).alias("s")))
    nq = truth.agg(F.count(F.lit(1)).alias("nq"))
    rows = (per.crossJoin(nq)
            .select("label", (F.col("s") / F.col("nq")).alias("r"))
            .collect())
    got = {r["label"]: (float(r["r"]) if r["r"] is not None else 0.0)
           for r in rows}
    # label drift guard (ADVICE r13): a tagged frame carrying a label
    # the caller did not declare means the label format diverged — the
    # old silent-drop would record a plausible-looking 0.0 instead
    unexpected = sorted(set(got) - set(labels))
    if unexpected:
        raise ValueError(
            f"mean_recall_tagged: tagged frame carries labels not in "
            f"the declared list: {unexpected} (declared {labels})")
    return {x: got.get(x, 0.0) for x in labels}


def neardup_pairs(emb: DataFrame, threshold: float = 0.4,
                  n_blocks: int = 16) -> DataFrame:
    """Exact embedding near-dup pairs: cosine >= threshold, vec_a < vec_b.

    Block-matrix design (the 100 TB shape): L2-normalize each vector ONCE
    (JVM-side), assign it a block by pmod(vec_id, n_blocks), replicate
    each vector to every unordered block pair it participates in, then one
    ``applyInPandas`` per block pair computes the full dot-product matrix
    with a single float64 numpy matmul and emits only pairs above the
    threshold. Cost: each vector is shipped n_blocks times (metadata-small
    vs N^2 pair rows) and the N^2 arithmetic runs inside BLAS, not per-row
    expression eval. Block pairs are the shuffle key, so a 1000-executor
    cluster spreads the (n_blocks^2+n_blocks)/2 tasks evenly; raise
    n_blocks with N to keep per-task matrices in memory."""
    import pandas as pd  # local import: keep module import light

    unit_emb = emb.select(
        "vec_id",
        unit(F.col("embedding")).alias("ue"),
        F.pmod(F.col("vec_id"), F.lit(n_blocks)).alias("blk"))

    # Replicate: vector in block b joins every unordered pair {pa, pb}
    # with pa <= pb that contains b.
    pairs = F.array(*[
        F.when(F.col("blk") <= p, F.struct(F.col("blk").alias("pa"),
                                           F.lit(p).alias("pb")))
        .otherwise(F.struct(F.lit(p).alias("pa"), F.col("blk").alias("pb")))
        for p in range(n_blocks)
    ])
    replicated = (
        unit_emb.select("vec_id", "ue", "blk",
                        F.explode(F.array_distinct(pairs)).alias("bp"))
        .select("vec_id", "ue", "blk",
                F.col("bp.pa").alias("pa"), F.col("bp.pb").alias("pb"))
    )

    def block_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np
        pa, pb = int(pdf["pa"].iloc[0]), int(pdf["pb"].iloc[0])
        left = pdf[pdf["blk"] == pa]
        ids_l = left["vec_id"].to_numpy()
        mat_l = np.stack(left["ue"].to_numpy())
        if pa == pb:
            sims = mat_l @ mat_l.T
            iu, ju = np.triu_indices(len(ids_l), k=1)
            va, vb, cs = ids_l[iu], ids_l[ju], sims[iu, ju]
        else:
            right = pdf[pdf["blk"] == pb]
            ids_r = right["vec_id"].to_numpy()
            sims = mat_l @ np.stack(right["ue"].to_numpy()).T
            ii, jj = np.nonzero(sims >= threshold)
            va, vb, cs = ids_l[ii], ids_r[jj], sims[ii, jj]
        keep = cs >= threshold
        va, vb, cs = va[keep], vb[keep], cs[keep]
        lo, hi = np.minimum(va, vb), np.maximum(va, vb)
        return pd.DataFrame({"vec_a": lo, "vec_b": hi,
                             "cos_sim": np.round(cs, 6)})

    return replicated.groupBy("pa", "pb").applyInPandas(
        block_pairs, schema="vec_a long, vec_b long, cos_sim double")


def kmeans_centroids(emb: DataFrame, n_centroids: int = 16,
                     n_iter: int = 5, train_cap: int = 4096) -> DataFrame:
    """Spherical k-means (Lloyd) centroids for IVF coarse quantization,
    deterministically seeded from the unit vectors of the `n_centroids`
    lowest sampled vec_ids. Iterations move centroids to actual density
    centers, so on CLUSTERED embeddings cell quality no longer depends on
    which vectors happen to have small ids (tests/test_similarity_skew.py
    proves trained > seeded recall on a clustered corpus).

    Training runs on a deterministic stride sample (`vec_id % s == 0`,
    sized to ~`train_cap` rows) persisted once — the FAISS-style IVF
    shape: train the coarse quantizer on a sample, assign the full corpus
    exactly once (the caller does the assignment). Per iteration:
    broadcast the K centroids, one max_by aggregation assigns each sample
    vector to its argmax-cosine cell (map-side partial agg, no window
    sort), one groupBy computes per-dimension means, and the K x dim
    result is collected (K*dim doubles — nothing) to seed the next
    round's broadcast literal. Re-creating the centroid table from driver
    literals each round keeps the plan flat (no growing lineage). Empty
    cells keep their previous centroid. The iteration count is fixed, not
    convergence-tested — IVF needs balanced cells, not a converged
    clustering. Centroids are not renormalized: assignment ranks by
    cosine, which is scale-invariant in the centroid.

    Determinism: exact up to float-summation order in the per-dimension
    means (partition-order ulps). The ANN tier is rows-only/unregistered,
    and its recall floor (tests/test_similarity_skew.py) is robust to
    ulps by construction.
    """
    spark = emb.sparkSession

    def cent_df_of(rows):
        return local_frame(
            spark, [(i, list(r["ue"])) for i, r in enumerate(rows)],
            "cent_id long, ce array<double>")

    if n_iter == 0:
        # Seed-only: no training pass — one limit-collect job, raw
        # vectors, L2-normalized DRIVER-side (K tiny vectors). An
        # earlier draft projected the interpreted `unit` transform
        # BELOW the sort, which evaluated the 64x64-op fold for every
        # corpus row before TakeOrdered kept 16 (measured 3.6 s vs
        # 0.14 s at sf1.0 for the same 16-row answer).
        import numpy as np

        rows = (emb.select("vec_id", "embedding")
                .orderBy("vec_id").limit(n_centroids).collect())
        cents = []
        for r in rows:
            v = np.asarray(r["embedding"], dtype=np.float64)
            cents.append((v / np.sqrt(v @ v)).tolist())
        return local_frame(
            spark, list(enumerate(cents)),
            "cent_id long, ce array<double>")

    n = emb.count()
    stride = max(1, n // train_cap)
    ue = (emb.where(F.pmod("vec_id", F.lit(stride)) == 0)
          .select("vec_id", unit(F.col("embedding")).alias("ue"))
          .persist())
    try:
        cents = [list(r["ue"]) for r in
                 ue.orderBy("vec_id").limit(n_centroids).collect()]
        if not cents:
            # Empty corpus: an empty centroid table, not a crash — the
            # caller's crossJoin then yields an empty assignment.
            return cent_df_of([])
        # Fewer sample vectors than requested centroids: that many cells
        # (every extra cell would stay empty through every Lloyd round
        # anyway, and cents[i] fallbacks below index the seed list).
        n_centroids = len(cents)
        dim = len(cents[0])

        def cent_df(vals):
            return local_frame(
                spark, [(i, v) for i, v in enumerate(vals)],
                "cent_id long, ce array<double>")

        for _ in range(n_iter):
            # argmax-cosine cell per sample vector: max_by over a
            # (cosine, -cent_id) struct == the window row_number()==1
            # pick (score desc, cent_id asc), but with map-side combine
            # instead of a full sort shuffle.
            best = (
                ue.crossJoin(F.broadcast(cent_df(cents)))
                .select("vec_id", "ue", "cent_id",
                        F.round(cosine(F.col("ue"), F.col("ce")), 6)
                        .alias("c"))
                .groupBy("vec_id")
                .agg(F.max_by(
                    F.struct("cent_id", "ue"),
                    F.struct(F.col("c"), -F.col("cent_id"))).alias("b"))
                .select(F.col("b.cent_id").alias("cent_id"),
                        F.col("b.ue").alias("ue"))
            )
            means = best.groupBy("cent_id").agg(
                *[F.avg(F.col("ue")[i]).alias(f"m{i}") for i in range(dim)])
            got = {int(r["cent_id"]): [r[f"m{i}"] for i in range(dim)]
                   for r in means.collect()}
            cents = [got.get(i, cents[i]) for i in range(n_centroids)]
        return cent_df(cents)
    finally:
        ue.unpersist()


def build_ivf_index(emb: DataFrame, n_centroids: int = 16,
                    n_train_iter: int = 0) -> tuple[DataFrame, DataFrame]:
    """The IVF INDEX: (cents, assigned) — coarse centroids plus every
    corpus vector tagged with its argmax-cosine cell. This is the
    build-once-query-many half of ANN serving (in production: a stored
    table partitioned by cent_id, rebuilt when the corpus rolls); the
    probe half (`ivf_probe_topk`) touches only n_probe cells of it per
    query batch. Callers that probe repeatedly persist `assigned` —
    see queries/similarity.py:shared_ivf_index for the session-scoped
    store.

    `n_train_iter` defaults to 0 (seed centroids), a measured choice for
    this testdata: its embeddings are isotropic, so Lloyd rounds cannot
    sharpen cells and lowered recall@5 (iters 0/1/2/3/5 -> 0.94/0.94/
    0.88/0.88/0.86 at sf0.001). On clustered embeddings training wins —
    tests/test_similarity_skew.py shows trained > seeded recall — so
    callers with structure set n_train_iter > 0."""
    cents = kmeans_centroids(emb, n_centroids, n_train_iter)
    assigned = assign_cells_blas(
        cents,
        emb.select(F.col("vec_id").alias("neighbor_id"),
                   F.col("embedding").alias("ne")), "neighbor_id", "ne")
    return cents, assigned


def ivf_ingest(cents: DataFrame, assigned: DataFrame,
               delta_emb: DataFrame) -> DataFrame:
    """Assign a batch of NEW vectors into an EXISTING index's cells and
    return the grown `assigned` table — the FAISS ``add()`` contract:
    train-time artifacts (the coarse centroids) are FROZEN on ingest,
    so growing the index costs one broadcast-matmul pass over the DELTA
    only, never a corpus re-scan. Callers wanting train-fresh centroids
    rebuild via `build_ivf_index` (the retrain path). At 100 TB this is
    the difference between an index roll costing minutes (delta
    assignment + one partition append) and hours (full re-assignment)."""
    new = assign_cells_blas(
        cents,
        delta_emb.select(F.col("vec_id").alias("neighbor_id"),
                         F.col("embedding").alias("ne")),
        "neighbor_id", "ne")
    return assigned.unionByName(new)


def _cosine_score_batches(batches):
    """Shared Arrow candidate scorer for the ANN tiers: one einsum per
    batch over (query_id, qe, neighbor_id, ne) rows -> 6-dp cosine.
    np.round matches F.round everywhere except exact half-way ties at
    the 6th decimal — irrelevant for approximate, rows-only tiers whose
    contract is a measured recall floor. Both ivf_probe_topk and
    rp_lsh_topk rank through this ONE implementation so their cos_sim
    semantics cannot silently diverge."""
    import numpy as np
    import pandas as pd

    for pdf in batches:
        if not len(pdf):
            continue
        Q = np.stack(pdf["qe"].to_numpy()).astype(np.float64)
        N = np.stack(pdf["ne"].to_numpy()).astype(np.float64)
        cs = (np.einsum("ij,ij->i", Q, N)
              / (np.linalg.norm(Q, axis=1) * np.linalg.norm(N, axis=1)))
        yield pd.DataFrame({"query_id": pdf["query_id"],
                            "neighbor_id": pdf["neighbor_id"],
                            "cos_sim": np.round(cs, 6)})


def ivf_probe_topk(cents: DataFrame, assigned: DataFrame,
                   queries: DataFrame, k: int = 5,
                   n_probe: int = 4, qrows=None) -> DataFrame:
    """Probe an IVF index: each query row (query_id, qe) ranks its
    n_probe closest cells (tiny NxK window over the broadcast centroid
    table), joins only those cells' members, and ranks candidates
    exactly within them. ``qrows`` passes an already-collected query
    batch so the candidate rows carry only ids + the corpus vector
    (guide §8 — see `_cosine_score_batches_qmap`)."""

    def scored_cells(df: DataFrame, id_out: str, vec_col: str) -> DataFrame:
        return df.crossJoin(F.broadcast(cents)).select(
            F.col(id_out), F.col(vec_col),
            "cent_id", F.round(cosine(F.col(vec_col), F.col("ce")), 6).alias("c"))

    def best_cells(df: DataFrame, id_out: str, vec_col: str, n: int) -> DataFrame:
        w = Window.partitionBy(id_out).orderBy(F.col("c").desc(), "cent_id")
        return (scored_cells(df, id_out, vec_col)
                .withColumn("rk", F.row_number().over(w))
                .where(F.col("rk") <= n).drop("rk", "c"))

    if qrows is None:
        qrows = queries.collect()  # ANN contract: small query batch
    probes = best_cells(queries, "query_id", "qe", n_probe) \
        .drop("qe")

    # Candidate scoring batches through Arrow as well (same rationale as
    # assign_cells_blas: a row-wise einsum replaces ~3x64 interpreted
    # expression evals per candidate; at sf1.0 the probe join emits ~50k
    # candidate rows). Query vectors come from the qmap closure, so
    # each candidate row is (query_id, neighbor_id, ne) — half the
    # Arrow payload of the old qe-carrying shape.
    c = (
        # probes is bounded (n_queries x n_probe rows) — broadcast it
        # explicitly: stats on a window-over-crossJoin frame are
        # unknown to Catalyst, and the size-based fallback is an SMJ
        # shuffling the corpus-sized assigned table over ~K cent_id
        # keys (a skew disaster at scale)
        F.broadcast(probes).join(assigned, "cent_id")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", "ne")
        .mapInPandas(_cosine_score_batches_qmap(qrows),
                     "query_id long, neighbor_id long, cos_sim double")
        .distinct()
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id"))
    return (
        c.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rk")
    )


def _cosine_score_batches_qmap(qrows, extra: str | None = None):
    """Arrow candidate scorer that takes the QUERY vectors from a
    driver-literal map instead of a per-row ``qe`` column (r14, guide
    §4/§8): the query batch is bounded (|Q| rows, collected once by
    the caller), so carrying 64 doubles of query payload on EVERY
    candidate row through joins and the Arrow boundary doubles the
    transfer for zero information. Input rows: (query_id, neighbor_id,
    ne[, extra]); output and arithmetic identical to
    `_cosine_score_batches` (same einsum, same norms, same 6-dp
    round — row identity pinned in tests/test_ann_recall.py)."""
    import numpy as np
    import pandas as pd

    qv = {int(r["query_id"]): np.asarray(r["qe"], dtype=np.float64)
          for r in qrows}
    qids = np.array(sorted(qv), dtype=np.int64)
    Q = (np.stack([qv[i] for i in qids]) if len(qids)
         else np.empty((0, 0)))
    Qn = np.linalg.norm(Q, axis=1) if len(qids) else Q

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            idx = np.searchsorted(qids, pdf["query_id"].to_numpy())
            N = np.stack(pdf["ne"].to_numpy()).astype(np.float64)
            cs = (np.einsum("ij,ij->i", Q[idx], N)
                  / (Qn[idx] * np.linalg.norm(N, axis=1)))
            out = {"query_id": pdf["query_id"],
                   "neighbor_id": pdf["neighbor_id"],
                   "cos_sim": np.round(cs, 6)}
            if extra is not None:
                out[extra] = pdf[extra]
            yield pd.DataFrame(out)
    return score


def ivf_probe_topk_multi(cents: DataFrame, assigned: DataFrame,
                         queries: DataFrame, k: int = 5,
                         probes: tuple[int, ...] = (1, 4, 8),
                         qrows=None) -> DataFrame:
    """`ivf_probe_topk` for SEVERAL n_probe settings in ONE candidate
    pass (guide §1.2/§2.4: the settings' candidate sets are nested —
    the top-1 cells are a prefix of the top-max(probes) cells under the
    same deterministic (cosine desc, cent_id) cell ranking — so scoring
    the largest set once and filtering by cell rank reproduces every
    smaller setting's candidates exactly, instead of re-running the
    probe pipeline per setting). Returns the per-setting ANN contract
    plus a ``setting`` column: (setting, query_id, neighbor_id,
    cos_sim, rk). Per-setting rows are IDENTICAL to
    ``ivf_probe_topk(..., n_probe=setting)`` (pinned by
    tests/test_ann_recall.py::test_multi_probe_matches_single)."""
    if qrows is None:
        qrows = queries.collect()  # ANN contract: small query batch
    max_p = max(probes)
    wcell = Window.partitionBy("query_id").orderBy(
        F.col("c").desc(), "cent_id")
    cells = (queries.crossJoin(F.broadcast(cents))
             .select("query_id", "cent_id",
                     F.round(cosine(F.col("qe"), F.col("ce")), 6)
                     .alias("c"))
             .withColumn("cell_rk", F.row_number().over(wcell))
             .where(F.col("cell_rk") <= max_p).drop("c"))
    # candidate rows carry ids + the corpus vector only; query vectors
    # come from the qmap closure (guide §8 — see the single-probe path)
    scored = (
        F.broadcast(cells).join(assigned, "cent_id")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", "ne", "cell_rk")
        .mapInPandas(_cosine_score_batches_qmap(qrows, "cell_rk"),
                     "query_id long, neighbor_id long, cos_sim double, "
                     "cell_rk int"))
    # a vector lives in exactly ONE cell (argmax assignment), so the
    # single-setting path's defensive .distinct() is a no-op here and
    # the explode cannot duplicate a (setting, query, neighbor) pair
    multi = (scored
             .select("*", F.explode(F.array(
                 *[F.lit(int(p)) for p in sorted(probes)]))
                 .alias("setting"))
             .where(F.col("cell_rk") <= F.col("setting")))
    w = Window.partitionBy("setting", "query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id"))
    return (multi.withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") <= k)
            .select("setting", "query_id", "neighbor_id", "cos_sim",
                    "rk"))


def assign_cells_blas(cents: DataFrame, df: DataFrame,
                      id_col: str, vec_col: str) -> DataFrame:
    """argmax-cosine cell per vector, as ONE Arrow-batched matmul
    (round-5 replacement for the JVM max_by assignment): the K x dim
    centroid matrix is a bounded driver literal (16 x 64 doubles here —
    the same driver-literal contract as the k-means rebroadcast), rows
    arrive in Arrow batches, scores are a single `M_unit @ C_unit.T`
    BLAS call, and the argmax over 6-dp-rounded scores reproduces the
    JVM tiebreak (ties -> smallest cent_id, np.argmax's first-hit rule).

    Why: the interpreted higher-order `cosine` fold costs ~3x64
    expression evals per scored row, and full-corpus assignment scores
    N x K rows — at sf1.0 (20k vectors x 16 cells) that was most of the
    IVF probe's 11.7 s, the whole constant-factor gap to brute force.
    The matmul does the identical arithmetic in BLAS at ~20 MFLOP. Cost
    model at 100 TB is unchanged: one pass over the data, no shuffle,
    centroids broadcast (closure capture instead of a broadcast join)."""
    import numpy as np
    import pandas as pd

    cent_rows = cents.orderBy("cent_id").collect()  # K x dim, bounded
    out_schema = f"{id_col} long, {vec_col} array<double>, cent_id long"
    if not cent_rows:
        return df.sparkSession.createDataFrame([], out_schema)
    C = np.stack([np.asarray(r["ce"], dtype=np.float64)
                  for r in cent_rows])
    C = C / np.linalg.norm(C, axis=1, keepdims=True)

    # Local artifact guard: a single small parquet file arrives as ONE
    # input partition, pinning the whole Arrow matmul to one task
    # (operators/spread.py has the full rationale).
    df = spread_narrow_scan(df)

    def assign(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            M = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
            scores = np.round(Mn @ C.T, 6)
            yield pd.DataFrame({
                id_col: pdf[id_col],
                vec_col: pdf[vec_col],
                "cent_id": np.argmax(scores, axis=1).astype(np.int64),
            })

    return df.mapInPandas(assign, out_schema)


def cross_decontam(corpus_emb: DataFrame, benchmark_emb: DataFrame,
                   threshold: float = 0.4) -> DataFrame:
    """Semantic decontamination: flag every CORPUS vector whose cosine
    to any BENCHMARK vector reaches ``threshold`` — the embedding-space
    twin of the n-gram decontamination (operators/decontam.py), which
    catches verbatim leaks; this tier catches paraphrased/near-copy
    eval contamination the gram hashes miss (the published motivation
    for embedding-similarity decontamination in the Phi/LIMA-era data
    reports).

    Output: one row per corpus vector — (vec_id, bench_id, max_cos,
    flagged). bench_id = the most-similar benchmark vector (6-dp
    rounded cosine, ties to the smallest id — deterministic and
    SQL-replayable); unflagged rows carry bench_id=-1, max_cos=-1.0.

    Scale shape: eval benchmarks are SMALL by contract (1e3-1e5
    vectors), so the benchmark matrix is a bounded driver literal
    broadcast into one Arrow matmul pass over the corpus — NO shuffle,
    NO join, cost N x B inside BLAS, the same posture as
    assign_cells_blas. A benchmark too large for one matrix means
    bucketing both sides through the IVF quantizer (semantic_dedup's
    cell shape) — not this operator's contract."""
    import numpy as np
    import pandas as pd

    bench_rows = (benchmark_emb.select("vec_id", "embedding")
                  .orderBy("vec_id").collect())
    out_schema = "vec_id long, bench_id long, max_cos double, flagged boolean"
    if not bench_rows:
        return (corpus_emb.select(
            "vec_id", F.lit(-1).cast("long").alias("bench_id"),
            F.lit(-1.0).alias("max_cos"), F.lit(False).alias("flagged")))
    bids = np.array([r["vec_id"] for r in bench_rows], dtype=np.int64)
    B = np.stack([np.asarray(r["embedding"], dtype=np.float64)
                  for r in bench_rows])
    B = B / np.linalg.norm(B, axis=1, keepdims=True)

    corpus_emb = spread_narrow_scan(corpus_emb)

    def probe(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            M = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
            scores = np.round(Mn @ B.T, 6)
            # ties at the 6-dp max -> smallest benchmark id (bench
            # rows are id-sorted, argmax takes the first hit)
            best = np.argmax(scores, axis=1)
            mc = scores[np.arange(len(best)), best]
            hit = mc >= threshold
            yield pd.DataFrame({
                "vec_id": pdf["vec_id"],
                "bench_id": np.where(hit, bids[best], -1).astype(np.int64),
                "max_cos": np.where(hit, mc, -1.0),
                "flagged": hit,
            })

    return corpus_emb.select("vec_id", "embedding").mapInPandas(
        probe, out_schema)


def semantic_dedup(emb: DataFrame, threshold: float = 0.4,
                   n_centroids: int = 16, n_train_iter: int = 0,
                   cents: DataFrame | None = None,
                   assigned: DataFrame | None = None) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023, public
    arXiv 2303.09540): coarse-cluster the embeddings, then within each
    cluster greedily keep one representative per cosine-near-duplicate
    group and mark the rest as duplicates of it.

    Output: one row per vector — (vec_id, cent_id, kept, dup_of,
    cos_to_rep); ``dup_of`` is the kept representative's id (null for
    kept rows), ``cos_to_rep`` the 6-dp cosine that condemned the row.

    Determinism: members are processed in ascending vec_id within a
    cell, so the kept set depends only on the data (the paper instead
    keeps the member with the LOWEST similarity to the centroid per dup
    group — an arbitrary-but-fixed choice; ascending-id is equally
    arbitrary and makes the Python reference in tests a 5-liner).

    Scale shape — the reason SemDeDup clusters at all: the quadratic
    pairwise step runs per CELL, so work is sum(|cell|^2), bounded by
    (N/K)^2 * K per balanced clustering instead of N^2; K is the knob
    that keeps a cell's similarity matrix in one task's memory. The
    plan is one broadcast assignment pass (`assign_cells_blas`, no
    shuffle) + one shuffle by cent_id + an Arrow-batched per-cell
    greedy. Pass ``cents``/``assigned`` to reuse a prebuilt/shared IVF
    index (queries/similarity.py:shared_ivf_index) — dedup then adds
    ZERO index-build cost on top of ANN serving."""
    import numpy as np
    import pandas as pd

    if cents is None or assigned is None:
        cents, assigned = build_ivf_index(emb, n_centroids, n_train_iter)

    def dedupe(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("neighbor_id").reset_index(drop=True)
        ids = pdf["neighbor_id"].to_numpy()
        M = np.stack(pdf["ne"].to_numpy()).astype(np.float64)
        Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
        sims = np.round(Mn @ Mn.T, 6)
        n = len(ids)
        kept: list[int] = []
        dup_of = np.full(n, -1, dtype=np.int64)
        cos_rep = np.full(n, np.nan)
        for i in range(n):
            if kept:
                s = sims[i, kept]
                j = int(np.argmax(s))
                if s[j] >= threshold:
                    dup_of[i] = ids[kept[j]]
                    cos_rep[i] = s[j]
                    continue
            kept.append(i)
        return pd.DataFrame({
            "vec_id": ids,
            "cent_id": pdf["cent_id"],
            "kept": dup_of < 0,
            "dup_of": pd.array([None if d < 0 else d for d in dup_of],
                               dtype="Int64"),
            "cos_to_rep": cos_rep,
        })

    return (assigned.groupBy("cent_id")
            .applyInPandas(dedupe,
                           "vec_id long, cent_id long, kept boolean, "
                           "dup_of long, cos_to_rep double"))


def _banded_rows_driver(qrows, id_col: str, P, layouts,
                        with_setting: bool = False) -> list[tuple]:
    """Band signatures for a COLLECTED query batch, computed driver-side
    with the same numpy ops as the executor `banded` stage (r14): the
    batch is |Q| rows, so signing it in the driver and shipping a
    LocalTableScan removes a per-action Python stage. ``layouts`` is
    [(n_bands, bits, weights), ...]; rows are (id[, setting], band_idx,
    band_val)."""
    import numpy as np

    rows: list[tuple] = []
    for r in qrows:
        v = np.asarray(r["qe"], dtype=np.float64)
        B = (v @ P.T >= 0).astype(np.int64)  # (n_planes,)
        for nb, bits, weights in layouts:
            for b in range(nb):
                val = int(B[b * bits:(b + 1) * bits] @ weights)
                rows.append((int(r[id_col]), nb, b, val) if with_setting
                            else (int(r[id_col]), b, val))
    return rows


def rp_lsh_topk(emb: DataFrame, k: int = 5, n_queries: int = 10,
                n_planes: int = 16, n_bands: int = 4,
                seed: int = 7) -> DataFrame:
    """Random-hyperplane LSH top-k: the LSH-bucketed ANN alternative to
    the IVF tier (classic SRP-LSH, Charikar 2002 "Similarity estimation
    techniques from rounding algorithms" — the embedding-space twin of
    the text tier's SimHash).

    Index: each vector's sign pattern under ``n_planes`` seeded random
    hyperplanes (one Arrow matmul, same driver-literal contract as the
    IVF centroid matrix), split into ``n_bands`` band integers; a
    candidate is any vector sharing ANY band with the query — the
    banding amplification that trades candidates for recall exactly
    like MinHash-LSH's bands. Exact cosine rerank within candidates.

    Recall honesty: sign-LSH separates by ANGLE (P[same bit] =
    1 - theta/pi), so recall is high when true neighbors are actually
    close (clustered corpora — asserted >= 0.8 in
    tests/test_similarity_skew.py) and mediocre on isotropic random
    vectors whose 'neighbors' sit near 60 degrees; IVF is the better
    tier there, which is why BOTH exist. Cost: candidates per query ~
    n_bands * N / 2^(n_planes/n_bands) versus IVF's
    n_probe * N / n_centroids; the band tables are the shuffle key, so
    hot buckets spread across bands by construction."""
    import numpy as np
    import pandas as pd

    out_schema = "query_id long, neighbor_id long, cos_sim double, rk long"
    if n_planes % n_bands:
        raise ValueError(f"{n_planes=} must divide into {n_bands=} bands")
    first = emb.select("embedding").limit(1).collect()
    if not first:
        return emb.sparkSession.createDataFrame([], out_schema)
    dim = len(first[0][0])
    bits = n_planes // n_bands
    P = np.random.default_rng(seed).normal(size=(n_planes, dim))
    weights = (1 << np.arange(bits)).astype(np.int64)

    # Shuffle IDS, move vectors once (guide §8, r13): the signature
    # stage needs the vectors but emits only (id, band) rows, so the
    # candidate join and the per-(query, neighbor) dedupe shuffle a
    # few longs per row instead of two 64-double payloads (~1 KB/row
    # — at bands=8 the pre-dedupe candidate table is ~n_bands·N/2^bits
    # rows per query). The vectors re-attach AFTER the dedupe: the
    # corpus side moves exactly once, keyed by neighbor_id, and the
    # query batch re-attaches as a broadcast (|Q| rows).
    def banded(id_col: str, vec_col: str):
        def gen(batches):
            for pdf in batches:
                if not len(pdf):
                    continue
                M = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
                B = (M @ P.T >= 0).astype(np.int64)  # n x n_planes
                n = len(pdf)
                vals = np.column_stack([
                    B[:, b * bits:(b + 1) * bits] @ weights
                    for b in range(n_bands)
                ])  # (n, n_bands), row-aligned
                yield pd.DataFrame({
                    id_col: np.repeat(pdf[id_col].to_numpy(), n_bands),
                    "band_idx": np.tile(np.arange(n_bands), n),
                    "band_val": vals.ravel(),
                })
        return gen

    corpus = emb.select(F.col("vec_id").alias("neighbor_id"),
                        F.col("embedding").alias("ne"))
    corpus_sig = spread_narrow_scan(corpus).mapInPandas(
        banded("neighbor_id", "ne"),
        "neighbor_id long, band_idx int, band_val long")
    # The query batch is bounded and needed driver-side for the qmap
    # scorer anyway (r14, guide §8), so its band signatures are
    # computed HERE with the same numpy ops and shipped as a
    # LocalTableScan — no 20-row Python stage per action, no broadcast
    # join re-attaching query vectors to candidates.
    queries = emb.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe"))
    qrows = queries.collect()
    query_sig = local_frame(
        emb.sparkSession,
        _banded_rows_driver(qrows, "query_id", P, [(n_bands, bits, weights)]),
        "query_id long, band_idx int, band_val long")

    cand_ids = (
        F.broadcast(query_sig).join(corpus_sig, ["band_idx", "band_val"])
        .where(F.col("neighbor_id") != F.col("query_id"))
        .dropDuplicates(["query_id", "neighbor_id"])
        .select("query_id", "neighbor_id")
    )
    cands = (cand_ids.join(corpus, "neighbor_id")
             .select("query_id", "neighbor_id", "ne"))

    scored = cands.mapInPandas(
        _cosine_score_batches_qmap(qrows),
        "query_id long, neighbor_id long, cos_sim double")
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id"))
    return (scored.withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") <= k)
            .select("query_id", "neighbor_id", "cos_sim", "rk"))


def rp_lsh_topk_multi(emb: DataFrame, k: int = 5, n_queries: int = 10,
                      n_planes: int = 16,
                      bands: tuple[int, ...] = (4, 8),
                      seed: int = 7) -> DataFrame:
    """`rp_lsh_topk` for SEVERAL band settings in ONE pass (guide
    §1.2): all settings share the same seeded hyperplane matrix, so the
    sign bits are computed once per vector and only the grouping of
    bits into band integers differs per setting. One signature stage
    emits every (setting, band) row, one join builds candidates, one
    Arrow scorer ranks them — versus a full corpus matmul + join per
    setting. Output adds a ``setting`` column (the band count);
    per-setting rows are IDENTICAL to ``rp_lsh_topk(..., n_bands=
    setting)`` (pinned by tests/test_ann_recall.py)."""
    import numpy as np
    import pandas as pd

    out_schema = ("setting int, query_id long, neighbor_id long, "
                  "cos_sim double, rk long")
    for nb in bands:
        if n_planes % nb:
            raise ValueError(f"{n_planes=} must divide into {nb} bands")
    first = emb.select("embedding").limit(1).collect()
    if not first:
        return emb.sparkSession.createDataFrame([], out_schema)
    dim = len(first[0][0])
    P = np.random.default_rng(seed).normal(size=(n_planes, dim))
    layouts = []                     # (setting, band_idx, bits, weights)
    for nb in sorted(bands):
        bits = n_planes // nb
        weights = (1 << np.arange(bits)).astype(np.int64)
        layouts.append((nb, bits, weights))
    rows_per_vec = sum(nb for nb, _, _ in layouts)

    # ids-only candidate shuffle, vectors attached once after the
    # dedupe — same §8 design as rp_lsh_topk (see its comment)
    def banded(id_col: str, vec_col: str):
        def gen(batches):
            for pdf in batches:
                if not len(pdf):
                    continue
                M = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
                B = (M @ P.T >= 0).astype(np.int64)  # n x n_planes
                n = len(pdf)
                setting_col, idx_col, val_cols = [], [], []
                for nb, bits, weights in layouts:
                    vals = np.column_stack([
                        B[:, b * bits:(b + 1) * bits] @ weights
                        for b in range(nb)
                    ])  # (n, nb), row-aligned
                    setting_col.append(np.full(nb, nb, dtype=np.int64))
                    idx_col.append(np.arange(nb))
                    val_cols.append(vals)
                vals_all = np.concatenate(val_cols, axis=1)
                yield pd.DataFrame({
                    id_col: np.repeat(pdf[id_col].to_numpy(),
                                      rows_per_vec),
                    "setting": np.tile(np.concatenate(setting_col), n),
                    "band_idx": np.tile(np.concatenate(idx_col), n),
                    "band_val": vals_all.ravel(),
                })
        return gen

    corpus = emb.select(F.col("vec_id").alias("neighbor_id"),
                        F.col("embedding").alias("ne"))
    corpus_sig = spread_narrow_scan(corpus).mapInPandas(
        banded("neighbor_id", "ne"),
        "neighbor_id long, setting long, band_idx int, band_val long")
    # driver-side query signatures + qmap scorer — see rp_lsh_topk
    queries = emb.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe"))
    qrows = queries.collect()
    query_sig = local_frame(
        emb.sparkSession,
        _banded_rows_driver(qrows, "query_id", P, layouts,
                            with_setting=True),
        "query_id long, setting long, band_idx int, band_val long")

    cand_ids = (
        F.broadcast(query_sig)
        .join(corpus_sig, ["setting", "band_idx", "band_val"])
        .where(F.col("neighbor_id") != F.col("query_id"))
        .dropDuplicates(["setting", "query_id", "neighbor_id"])
        .select("setting", "query_id", "neighbor_id")
    )
    cands = (cand_ids.join(corpus, "neighbor_id")
             .select("query_id", "neighbor_id", "ne", "setting"))
    scored = cands.mapInPandas(
        _cosine_score_batches_qmap(qrows, "setting"),
        "query_id long, neighbor_id long, cos_sim double, setting long")
    w = Window.partitionBy("setting", "query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id"))
    return (scored.withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") <= k)
            .select(F.col("setting").cast("int").alias("setting"),
                    "query_id", "neighbor_id", "cos_sim", "rk"))


# ---------------------------------------------------------------------------
# Product quantization (round 7): the FAISS-standard ANN COMPRESSION
# tier (Jegou, Douze, Schmid 2011, "Product Quantization for Nearest
# Neighbor Search", IEEE TPAMI). The 64-dim float vector becomes m=8
# one-byte codes (32x smaller): split the unit vector into m
# subspaces, k-means each subspace into k codewords, store the nearest
# codeword index per subspace. Queries score candidates WITHOUT
# decompressing: per query, one m x k lookup table of
# <query_sub, codeword> inner products; a candidate's approximate
# cosine is the sum of m table lookups (ADC — asymmetric distance
# computation). At 100 TB this is what makes the candidate table fit
# scan bandwidth: 8 bytes/vector instead of 256, and scoring is m
# int-indexed adds per candidate instead of a dim-length dot product.
# Codebook training is FAISS-shaped: driver-side Lloyd on a capped
# deterministic sample (m*k*subdim doubles — trivially broadcastable);
# exact re-rank of the ADC top-R restores exact-cosine ordering.
# ---------------------------------------------------------------------------

PQ_M = 8          # subspaces (dim 64 -> 8 dims each)
PQ_K = 32         # codewords per subspace (5-bit codes)


def train_pq_codebooks(emb: DataFrame, m: int = PQ_M, k: int = PQ_K,
                       train_cap: int = 4096, n_iter: int = 10,
                       n_rows: int | None = None):
    """Per-subspace k-means codebooks trained on a deterministic stride
    sample of UNIT vectors. Returns a python nested list
    [m][k][dim/m] (driver literal — broadcast by closure into the
    Arrow encode/score stages, the kmeans_centroids pattern).
    ``n_rows`` passes an already-known corpus row count so the stride
    computation skips its count job (r14, guide §1.2)."""
    import numpy as np

    n = emb.count() if n_rows is None else int(n_rows)
    stride = max(1, n // train_cap)
    rows = (emb.where(F.pmod("vec_id", F.lit(stride)) == 0)
            .select(unit(F.col("embedding")).alias("ue"))
            .collect())
    X = np.stack([np.asarray(r["ue"], dtype=np.float64) for r in rows])
    dim = X.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    books = []
    rng = np.random.default_rng(7)  # deterministic seed, training only
    for j in range(m):
        S = X[:, j * sub:(j + 1) * sub]
        # k-means++-ish deterministic init: stride over the sample
        init_idx = np.linspace(0, len(S) - 1, num=min(k, len(S)),
                               dtype=np.int64)
        C = S[init_idx].copy()
        for _ in range(n_iter):
            d2 = ((S[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            a = d2.argmin(axis=1)
            for c in range(len(C)):
                mask = a == c
                if mask.any():
                    C[c] = S[mask].mean(axis=0)
                else:  # re-seed empty cell deterministically
                    C[c] = S[rng.integers(0, len(S))]
        if len(C) < k:  # tiny sample: pad by repeating last codeword
            C = np.vstack([C] + [C[-1:]] * (k - len(C)))
        books.append(C.tolist())
    return books


def pq_encode(emb: DataFrame, codebooks) -> DataFrame:
    """(vec_id, codes array<int>): nearest-codeword index per subspace
    of the UNIT vector. One Arrow pass; at scale this table is the
    stored compressed index (8 small ints per vector)."""
    import numpy as np
    import pandas as pd

    B = [None]  # lazy numpy view of the closure literal, per worker

    def encode(batches):
        if B[0] is None:
            B[0] = [np.asarray(b, dtype=np.float64) for b in codebooks]
        books = B[0]
        m = len(books)
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            X /= np.linalg.norm(X, axis=1, keepdims=True)
            sub = X.shape[1] // m
            codes = np.empty((len(X), m), dtype=np.int32)
            for j in range(m):
                S = X[:, j * sub:(j + 1) * sub]
                d2 = ((S[:, None, :] - books[j][None, :, :]) ** 2).sum(2)
                codes[:, j] = d2.argmin(axis=1)
            yield pd.DataFrame({"vec_id": pdf["vec_id"],
                                "codes": list(codes)})

    return (spread_narrow_scan(emb, "vec_id")
            .select("vec_id", "embedding")
            .mapInPandas(encode, "vec_id long, codes array<int>"))


def pq_ingest(codes: DataFrame, delta_emb: DataFrame,
              codebooks) -> DataFrame:
    """Encode a batch of NEW vectors with EXISTING (frozen) codebooks
    and return the grown codes table — the PQ half of the FAISS
    ``add()`` contract (`ivf_ingest` has the rationale). Quantization
    error for delta vectors is whatever the frozen books give; a
    distribution shift big enough to hurt recall is a retrain event
    (`train_pq_codebooks`), not an ingest."""
    return codes.unionByName(pq_encode(delta_emb, codebooks))


def _query_luts(qrows, codebooks):
    """{query_id: (m, k) LUT of <unit-query-subvector, codeword> inner
    products} — the shared ADC preparation for pq_topk and ivfpq_topk."""
    import numpy as np

    B = [np.asarray(b, dtype=np.float64) for b in codebooks]
    luts = {}
    for r in qrows:
        q = np.asarray(r["qe"], dtype=np.float64)
        q = q / np.sqrt(q @ q)
        sub = len(q) // len(B)
        luts[int(r["query_id"])] = np.stack(
            [B[j] @ q[j * sub:(j + 1) * sub] for j in range(len(B))])
    return luts


def _adc_rank(scored: DataFrame, qrows, k: int,
              rerank: DataFrame | None, rerank_factor: int) -> DataFrame:
    """Shared ADC ranking tail: top-k on adc_sim, or exact-cosine
    re-rank of the ADC top k*rerank_factor (one implementation so a
    tie-break or guard fix cannot diverge between the PQ tiers)."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_sim").desc(), F.col("neighbor_id"))
    if rerank is None:
        return (scored.withColumn("rk", F.row_number().over(w))
                .where(F.col("rk") <= k)
                .select("query_id", "neighbor_id",
                        F.col("adc_sim").alias("cos_sim"), "rk"))
    cand = (scored.withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") <= k * rerank_factor)
            .select("query_id", "neighbor_id"))
    # cand is bounded (k*rerank_factor rows per query over a small
    # query batch) — broadcast it into the corpus-sized rerank join
    # rather than betting on stats the window output doesn't have.
    # Query vectors come from the qmap closure (r14, guide §8), so the
    # rerank join ships ids + one corpus vector per candidate instead
    # of two vectors.
    exact = (F.broadcast(cand)
             .join(rerank.select(F.col("vec_id").alias("neighbor_id"),
                                 F.col("embedding").alias("ne")),
                   "neighbor_id")
             .select("query_id", "neighbor_id", "ne")
             .mapInPandas(_cosine_score_batches_qmap(qrows),
                          "query_id long, neighbor_id long, cos_sim double"))
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id"))
    return (exact.withColumn("rk", F.row_number().over(w2))
            .where(F.col("rk") <= k)
            .select("query_id", "neighbor_id", "cos_sim", "rk"))


def pq_adc_scores(codes: DataFrame, qrows, codebooks) -> DataFrame:
    """The ADC scoring pass of `pq_topk`: every (query, corpus code)
    scored as the sum of m LUT entries, one Arrow pass over the codes
    table. Split out (r14) so a caller evaluating SEVERAL ranking
    tails over the same codes (adc-only top-k AND exact-rerank top-k
    in one report action) builds this corpus-sized subtree ONCE — the
    two tails' identical window exchange over it is then planned as a
    ReusedExchange instead of two full scoring passes (guide §2.4)."""
    import numpy as np
    import pandas as pd

    qids = [int(r["query_id"]) for r in qrows]
    luts = _query_luts(qrows, codebooks)
    m = len(codebooks)

    def adc(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            C = np.stack(pdf["codes"].to_numpy())  # (n, m) int
            out = []
            for qid in qids:
                lut = luts[qid]  # (m, k)
                s = np.zeros(len(C))
                for j in range(m):
                    s += lut[j, C[:, j]]
                out.append(pd.DataFrame({
                    "query_id": qid,
                    "neighbor_id": pdf["vec_id"],
                    "adc_sim": np.round(s, 6)}))
            yield pd.concat(out)

    return (codes.mapInPandas(
        adc, "query_id long, neighbor_id long, adc_sim double")
        .where(F.col("neighbor_id") != F.col("query_id")))


def pq_topk(codes: DataFrame, queries: DataFrame, codebooks,
            k: int = 5, rerank: DataFrame | None = None,
            rerank_factor: int = 8, qrows=None,
            scored: DataFrame | None = None) -> DataFrame:
    """ADC top-k: per (query, candidate) the approximate cosine is the
    sum of m LUT entries <query_sub, codeword>. ``queries`` is
    (query_id, qe). With ``rerank`` (the original embeddings), the ADC
    top k*rerank_factor candidates are re-scored with exact cosine —
    the standard PQ + re-rank pipeline; output matches the engine's
    (query_id, neighbor_id, cos_sim, rk) ANN contract. ``qrows``
    passes an already-collected ``queries.collect()`` so a caller
    probing several tiers pays the query-batch action once (r13);
    ``scored`` passes an already-built `pq_adc_scores` frame so
    several ranking tails share one scoring subtree (r14)."""
    if qrows is None:
        qrows = queries.collect()  # ANN contract: small query batch
    if scored is None:
        scored = pq_adc_scores(codes, qrows, codebooks)
    return _adc_rank(scored, qrows, k, rerank, rerank_factor)


def ivfpq_topk(cents: DataFrame, assigned: DataFrame, codes: DataFrame,
               queries: DataFrame, codebooks, k: int = 5,
               n_probe: int = 4, rerank: DataFrame | None = None,
               rerank_factor: int = 8, qrows=None) -> DataFrame:
    """IVF-PQ (the FAISS workhorse composition): coarse cells bound the
    candidate set to ~n_probe/K of the corpus, and PQ codes make
    scoring those candidates m table lookups each — at 100 TB the
    probe touches only the probed cells of an 8-byte-per-vector codes
    table instead of the float corpus. Exact re-rank restores true
    cosine order over the ADC top k*rerank_factor."""
    import numpy as np
    import pandas as pd

    if qrows is None:
        qrows = queries.collect()  # ANN contract: small query batch
    luts = _query_luts(qrows, codebooks)
    m = len(codebooks)

    # top-n_probe cells per query over the broadcast centroid table
    w = Window.partitionBy("query_id").orderBy(F.col("c").desc(), "cent_id")
    probes = (queries.crossJoin(F.broadcast(cents))
              .select("query_id",
                      "cent_id",
                      F.round(cosine(F.col("qe"), F.col("ce")), 6)
                      .alias("c"))
              .withColumn("rk", F.row_number().over(w))
              .where(F.col("rk") <= n_probe)
              .select("query_id", "cent_id"))

    # probes broadcast for the same reason as ivf_probe_topk; the codes
    # join stays a shuffle join — both sides are corpus-sized there
    cand = (F.broadcast(probes)
            .join(assigned.select("cent_id", "neighbor_id"), "cent_id")
            .where(F.col("neighbor_id") != F.col("query_id"))
            .join(codes.withColumnRenamed("vec_id", "neighbor_id"),
                  "neighbor_id")
            .select("query_id", "neighbor_id", "codes"))

    def adc_pairs(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            C = np.stack(pdf["codes"].to_numpy())
            qa = pdf["query_id"].to_numpy()
            s = np.zeros(len(C))
            for qid in np.unique(qa):
                mask = qa == qid
                lut = luts[int(qid)]
                sub = C[mask]
                acc = np.zeros(int(mask.sum()))
                for j in range(m):
                    acc += lut[j, sub[:, j]]
                s[mask] = acc
            yield pd.DataFrame({"query_id": pdf["query_id"],
                                "neighbor_id": pdf["neighbor_id"],
                                "adc_sim": np.round(s, 6)})

    scored = cand.mapInPandas(
        adc_pairs, "query_id long, neighbor_id long, adc_sim double")
    return _adc_rank(scored, qrows, k, rerank, rerank_factor)
