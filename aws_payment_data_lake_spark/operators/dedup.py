"""Deduplication family: exact, shingle-Jaccard, MinHash-LSH, SimHash.

Four operators with distinct scale profiles:

  exact            one hash aggregation on md5(text) — the 100 TB default.
  shingle-Jaccard  exact pairwise similarity via a shingle co-occurrence
                   join — the correctness baseline; O(sum of per-shingle
                   doc-frequency^2), only viable when shingles are rare.
  MinHash-LSH      64-permutation signatures, 32 bands x 2 rows; only
                   banded candidates are exact-verified. THE scale path:
                   candidate count ~ true-pair count, not n^2. P(miss) for
                   a Jaccard-0.6 pair = (1-0.6^2)^32 ~ 6e-7, so results
                   equal the exact baseline (which is what the oracle
                   checks).
  SimHash          60-bit fingerprints; Hamming<=5 pairs found by 6-chunk
                   pigeonhole banding (>=1 of 6 10-bit chunks must match
                   exactly — lossless, unlike probabilistic LSH).

All hashing is the md5-based hash60 (functions/text.py) so every stage is
reproducible in DuckDB SQL.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from aws_payment_data_lake_spark.functions import (
    MERSENNE_P,
    hash60,
    shingles,
    tokens,
)
from aws_payment_data_lake_spark.operators.spread import spread_narrow_scan

# ---------------------------------------------------------------------------
# MinHash parameters: 64 affine permutations h_i(x) = (a_i*x + b_i) mod p,
# constants from a fixed LCG so the oracle SQL embeds the same numbers.
# ---------------------------------------------------------------------------
N_HASHES = 64
N_BANDS = 32          # r = 2 rows per band
JACCARD_THRESHOLD = 0.6


def minhash_coefficients(n: int = N_HASHES, seed: int = 1234567):
    """Deterministic (a_i, b_i) pairs, 1 <= a,b < p (plain LCG — must be
    reproducible from the literal seed, not from random module state)."""
    coeffs, state = [], seed
    for _ in range(n):
        state = (state * 1103515245 + 12345) % (2**31)
        a = state % (MERSENNE_P - 1) + 1
        state = (state * 1103515245 + 12345) % (2**31)
        b = state % (MERSENNE_P - 1) + 1
        coeffs.append((a, b))
    return coeffs


MINHASH_COEFFS = minhash_coefficients()


# ---------------------------------------------------------------------------
# Shared shapes
# ---------------------------------------------------------------------------

def doc_shingles(docs: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text") -> DataFrame:
    """(doc_id, shingle) with distinct 3-gram shingles per doc.

    Output columns are ALWAYS named (doc_id, shingle) whatever the
    caller's ``id_col`` is — every downstream dedup stage (signature
    aggregation, size counts, co-occurrence joins) groups on the literal
    ``doc_id``, so normalizing the name here is what makes the
    ``id_col`` parameter actually work across the family.

    Repartitions on the doc id first: the docs table typically arrives as
    few large files (locally: ONE parquet -> one task), and the
    tokenize/shingle/md5 chain below is the CPU-heavy part of every
    dedup operator — one narrow shuffle of the compact pre-explode rows
    buys full-cluster parallelism for it."""
    shuffle_n = int(docs.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return (
        docs.repartition(shuffle_n, F.col(id_col))
        .select(F.col(id_col).alias("doc_id"), F.explode(
            F.array_distinct(shingles(tokens(text_col)))).alias("shingle"))
    )


def exact_duplicate_groups(docs: DataFrame, id_col: str = "doc_id",
                           text_col: str = "text",
                           prefix_len: int | None = None) -> DataFrame:
    """Exact dedup: group on md5(text); emit only groups with >1 copy,
    canonical = min id. One shuffle, fully scalable.

    `prefix_len` switches the key to md5 of the first N characters —
    prefix-fingerprint dedup (the C4/RealNews-style boilerplate variant):
    near-identical docs share their opening characters long before they
    are byte-identical, so this tier fires on corpora where full-text
    exact dedup is vacuous.

    `doc_ids` is a comma-joined sorted string, not an array: registered
    outputs carry no collection-typed columns (convention,
    queries/relational.py) because the driver's pandas canonicalizer
    cannot sort list cells."""
    key = F.col(text_col)
    if prefix_len is not None:
        key = F.substring(key, 1, prefix_len)
    return (
        docs.groupBy(F.md5(key).alias("text_md5"))
        .agg(F.count(F.lit(1)).alias("n_copies"),
             F.min(id_col).alias("canonical_doc_id"),
             F.array_join(F.sort_array(F.collect_list(id_col)), ",")
             .alias("doc_ids"))
        .where(F.col("n_copies") > 1)
    )


def jaccard_pairs(docs: DataFrame, threshold: float = JACCARD_THRESHOLD,
                  id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact all-pairs shingle Jaccard >= threshold, via co-occurrence:
    self-join the (doc, shingle) table on shingle (intersection counts),
    then |A|+|B|-|A∩B| for the union. No n^2 scan — cost follows shingle
    doc-frequency, and 3-gram shingles are rare by construction."""
    sh = doc_shingles(docs, id_col, text_col).persist()
    # Materialization barrier (same shape as shingle_sig_tables'): the
    # final action's three branches (sizes + both self-join sides) can
    # race to populate the cache and recompute the tokenize/shingle
    # chain. A/B-measured cost-neutral at sf0.1 (3 alternating trials
    # each, steady state: 1.2-2.0 s with vs 1.6-1.8 s without — round-4
    # session; the r03 bench's 1.05->2.05 s drift reproduced on
    # UNTOUCHED queries too, i.e. box noise, not the barrier). Kept
    # because the same race DID cost minhash 3x in round 1 and plan
    # scheduling is not a contract.
    sh.count()
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"),
                 F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        inter
        .join(sizes.select(F.col("doc_id").alias("doc_a"),
                           F.col("n_sh").alias("n_a")), "doc_a")
        .join(sizes.select(F.col("doc_id").alias("doc_b"),
                           F.col("n_sh").alias("n_b")), "doc_b")
        .withColumn("union_sh", F.col("n_a") + F.col("n_b") - F.col("inter"))
        .where(F.col("inter") >= F.lit(threshold) * F.col("union_sh"))
        .select("doc_a", "doc_b", "inter", "union_sh",
                F.round(F.col("inter") / F.col("union_sh"), 6).alias("jaccard"))
    )


def signature_agreement(cands: DataFrame, new_sigs: DataFrame,
                        corpus_sigs: DataFrame,
                        est_threshold: float = JACCARD_THRESHOLD) -> DataFrame:
    """Score candidate (new_doc_id, corpus_doc_id) pairs by MinHash
    component agreement; keep est_jaccard >= est_threshold. Takes a
    candidate set the caller already HAS (e.g. the cross-split subset of
    the batch LSH candidates — same band definition, so the same pairs)
    instead of running a banding join of its own."""
    n = (new_sigs.select("doc_id", *[F.col(f"sig{i}").alias(f"a{i}")
                                     for i in range(N_HASHES)])
         .withColumnRenamed("doc_id", "new_doc_id"))
    c = (corpus_sigs.select("doc_id", *[F.col(f"sig{i}").alias(f"b{i}")
                                        for i in range(N_HASHES)])
         .withColumnRenamed("doc_id", "corpus_doc_id"))
    agree = sum((F.col(f"a{i}") == F.col(f"b{i}")).cast("int")
                for i in range(N_HASHES))
    return (
        cands.join(n, "new_doc_id").join(c, "corpus_doc_id")
        .select("new_doc_id", "corpus_doc_id",
                F.round(agree / F.lit(float(N_HASHES)), 6)
                .alias("est_jaccard"))
        .where(F.col("est_jaccard") >= est_threshold)
    )


# Buckets larger than this switch from bucket-and-expand to the salted
# self-join tier. 1024 bounds the collect_list row at ~8 KB of ids and a
# small-tier bucket's expansion at ~0.5M generated (not stored) pairs.
LSH_BUCKET_CAP = 1024


def lsh_candidate_pairs(sigs: DataFrame,
                        bucket_cap: int = LSH_BUCKET_CAP) -> DataFrame:
    """Band signatures into 32 (band_idx, xxhash64(sig_2j, sig_2j+1))
    buckets; pairs are expanded WITHIN buckets. Band hashing needs no
    oracle twin — banding only shapes the CANDIDATE set; correctness
    comes from verification.

    Two tiers by bucket size, same candidate set either way:

      |bucket| <= bucket_cap   bucket-and-expand: one groupBy collects
        the bucket's ids, a double explode emits the triangle. One
        shuffle of the banded rows, no self-join, and the collect_list
        row is bounded at bucket_cap ids (~8 KB) — the tier an ordinary
        corpus stays in. (A self-join here would evaluate the signature
        plan once per side and shuffle the banded table against itself;
        measured at sf0.1: candidates stage 3.2 s -> ~1 s.)

      |bucket| > bucket_cap    SALTED self-join — the hot-bucket guard.
        A boilerplate-heavy corpus (dedup's actual target) can put
        thousands-to-millions of docs in one band bucket; collecting
        that into a single row is an executor-memory failure and its
        |bucket|^2 expansion lands in ONE task. Instead each member gets
        a deterministic salt g = xxhash64(doc_id) mod m with
        m = ceil(|bucket| / bucket_cap); the left side carries its own
        salt once, the right side is replicated to all m salts, and the
        join key (band, salt) splits the triangle into m tasks of
        ~bucket_cap * |bucket| work each. Every pair (a < b) appears in
        exactly one task (the one keyed by a's salt), so no dedup is
        needed across tiers beyond the band-level distinct. The total
        |bucket|^2 work is inherent to the candidate set — the guard
        bounds per-TASK work and memory, which is what fails first.

    Candidate count on hot buckets is still quadratic in bucket size —
    at that point the knob is banding radius (more bands, fewer rows per
    band), not join strategy; the guard makes the quadratic work
    schedulable instead of a single-executor OOM.

    The guard probes EAGERLY: one count aggregation over the (persisted
    — every caller arrives via shingle_sig_tables' barrier) signature
    table collects the hot-bucket list to the driver. That list is
    metadata, one row per OVERSIZED bucket, bounded by
    n_banded_rows / bucket_cap and in practice empty — the same
    driver-literal pattern as the k-means centroid rebroadcast
    (operators/similarity.py). No hot buckets -> the plan IS the
    round-3 single-shuffle fast path, and the probe is the only cost."""
    bands = F.array(*[
        F.xxhash64(F.lit(j), F.col(f"sig{2 * j}"), F.col(f"sig{2 * j + 1}"))
        for j in range(N_BANDS)
    ])
    banded = sigs.select(
        "doc_id", F.posexplode(bands).alias("band_idx", "band_hash"))

    def expand(buckets: DataFrame) -> DataFrame:
        return (
            buckets.groupBy("band_idx", "band_hash")
            .agg(F.collect_list("doc_id").alias("ids"))
            .where(F.size("ids") > 1)
            .select(F.explode("ids").alias("doc_a"), "ids")
            .select("doc_a", F.explode("ids").alias("doc_b"))
            .where(F.col("doc_a") < F.col("doc_b"))
            .select("doc_a", "doc_b")
        )

    hot_rows = (banded.groupBy("band_idx", "band_hash")
                .agg(F.count(F.lit(1)).alias("n"))
                .where(F.col("n") > bucket_cap)
                .collect())
    if not hot_rows:
        return expand(banded).distinct()

    from aws_payment_data_lake_spark.localframe import local_frame
    hot = F.broadcast(local_frame(
        sigs.sparkSession, [tuple(r) for r in hot_rows],
        "band_idx int, band_hash long, n long"))
    cold = banded.join(hot.select("band_idx", "band_hash"),
                       ["band_idx", "band_hash"], "left_anti")
    big = banded.join(hot, ["band_idx", "band_hash"])
    m = F.ceil(F.col("n") / F.lit(bucket_cap)).cast("int")
    # Explicit AQE-proof spread (round-5 fix, measured): the salted
    # join's shuffle INPUT is tiny (one row per hot-bucket member x m),
    # so AQE's coalescer folds it into one partition — blind to the
    # multiplicative join OUTPUT — and the whole |bucket|^2 expansion
    # lands back in a single task, exactly what the salt exists to
    # prevent (8k-doc bucket: 32 s coalesced vs 10 s spread). A
    # user-specified repartition(n, keys) is exempt from AQE
    # coalescing and co-partitions both sides, so the join runs
    # shuffle-free on the spread layout. 2x total salts keeps expected
    # hash-collision load per partition at ~1 salt group.
    total_salts = int(sum(-(-r["n"] // bucket_cap) for r in hot_rows))
    n_parts = max(sigs.sparkSession.sparkContext.defaultParallelism,
                  2 * total_salts)
    salt_keys = ["band_idx", "band_hash", "salt"]
    left = big.select(
        "band_idx", "band_hash", F.col("doc_id").alias("doc_a"),
        F.pmod(F.xxhash64("doc_id"), m).cast("int").alias("salt"),
    ).repartition(n_parts, *salt_keys)
    right = big.select(
        "band_idx", "band_hash", F.col("doc_id").alias("doc_b"),
        F.explode(F.sequence(F.lit(0), m - F.lit(1))).alias("salt"),
    ).repartition(n_parts, *salt_keys)
    big_pairs = (
        left.join(right, salt_keys)
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
    )
    return expand(cold).union(big_pairs).distinct()


def lsh_delta_candidates(delta_sigs: DataFrame,
                         all_sigs: DataFrame) -> DataFrame:
    """Distinct (doc_a < doc_b) band-bucket candidate pairs with at
    least one side in the DELTA — exactly cands(all) minus cands(prior)
    when the delta's doc ids follow the prior corpus's (prior-prior
    pairs are unreachable through a delta side; band hashing is per-doc,
    so prior buckets are unchanged). The durable pairs store's
    pure-append roll appends these to the prior candidate table
    (queries/dedup.py). The delta-banded side is batch-sized and
    broadcast; a hot CORPUS bucket fans out only against the delta's
    rows in that bucket, so per-task work is |delta ∩ bucket| x
    |bucket| — delta-bounded, no salting tier needed (a delta carrying
    its own hot bucket is a retrain-scale event, not an append)."""
    bands = F.array(*[
        F.xxhash64(F.lit(j), F.col(f"sig{2 * j}"), F.col(f"sig{2 * j + 1}"))
        for j in range(N_BANDS)
    ])

    def banded(sigs: DataFrame, out: str) -> DataFrame:
        return sigs.select(
            F.col("doc_id").alias(out),
            F.posexplode(bands).alias("band_idx", "band_hash"))

    return (F.broadcast(banded(delta_sigs, "d_id"))
            .join(banded(all_sigs, "o_id"), ["band_idx", "band_hash"])
            .where(F.col("d_id") != F.col("o_id"))
            .select(F.least("d_id", "o_id").alias("doc_a"),
                    F.greatest("d_id", "o_id").alias("doc_b"))
            .distinct())


def shingle_sig_tables(docs: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text") -> tuple[DataFrame, DataFrame]:
    """Persisted (shingles, signatures) intermediates shared across the
    MinHash family: ``sh`` is the exploded (doc_id, shingle, h) table,
    ``sigs`` is one row per doc with sig0..sig63 + n_sh.

    One exploded+hashed shingle table feeds signatures AND the
    verification joins — persist it instead of recomputing the
    tokenize/shingle/md5 chain per consumer (at 100 TB: a persisted or
    checkpointed intermediate; locally: MEMORY_AND_DISK). The shingle
    count n_sh rides the SAME groupBy as the 64 signature mins (one
    pass, one shuffle — not a separate sizes aggregation), and the
    compact sigs table is itself persisted so banding and both size
    joins never re-run the 64-min agg. The count() on sigs is a
    MATERIALIZATION BARRIER populating both caches in one job: without
    it the final action's branching stages race to populate the cache
    and can each recompute the chain (the round-1 bench showed exactly
    that — 10.9 s driver run vs 3.2 s recorded with a warm cache)."""
    # h60 (raw 60-bit hash) rides along so SimHash consumers can reuse
    # this table (simhash_fingerprints(sh=...)) instead of re-running the
    # tokenize/shingle chain; h = h60 mod p feeds the MinHash LCGs. One
    # md5 either way — the extra column is 8 bytes/row of persisted size.
    sh = (doc_shingles(docs, id_col, text_col)
          .withColumn("h60", hash60(F.col("shingle")))
          .withColumn("h", F.col("h60") % MERSENNE_P)
          .persist())
    aggs = [
        F.min((F.lit(a) * F.col("h") + F.lit(b)) % MERSENNE_P).alias(f"sig{i}")
        for i, (a, b) in enumerate(MINHASH_COEFFS)
    ]
    sigs = (sh.groupBy("doc_id")
            .agg(*aggs, F.count(F.lit(1)).alias("n_sh"))
            .persist())
    sigs.count()
    return sh, sigs


def verified_pairs_from(sh: DataFrame, sigs: DataFrame,
                        threshold: float = JACCARD_THRESHOLD,
                        cands: DataFrame | None = None) -> DataFrame:
    """LSH candidates -> exact-Jaccard verification, on the persisted
    intermediates from ``shingle_sig_tables`` (callers that also need the
    signatures — e.g. the incremental variant — reuse them instead of
    re-running the shingle pipeline). Pass ``cands`` to reuse an
    already-built (doc_a, doc_b) candidate table."""
    if cands is None:
        cands = lsh_candidate_pairs(sigs)
    # Round-5 shape: per-doc shingle-HASH sets once (one small groupBy
    # over sh), then each candidate pair intersects two ~40-element
    # arrays JVM-side (`array_intersect` builds a hash set per call).
    # The previous shape exploded candidates x shingles through two
    # equi-joins + a pair-grouped count — 3 shuffles of |cands| x n_sh
    # rows, which on a candidate-heavy corpus (boilerplate hot buckets:
    # 8M candidates at 54k docs) took 161 s vs 6.3 s for this one,
    # identical output (A/B in the round-5 log; sf0.1 also faster).
    # Shuffle volume here is |cands| x one array payload (~320 B), i.e.
    # bounded by the candidate set — the quantity LSH already bounds.
    # Intersections count 60-bit hashes, not strings: a cross-doc
    # collision could perturb one pair's Jaccard with P ~ n_sh^2/2^61
    # per pair (~1e-15) — the same negligible-collision contract the
    # signature stage already accepts.
    doc_sets = sh.groupBy("doc_id").agg(F.collect_set("h60").alias("hs"))
    inter = (
        cands
        .join(doc_sets.select(F.col("doc_id").alias("doc_a"),
                              F.col("hs").alias("hs_a")), "doc_a")
        .join(doc_sets.select(F.col("doc_id").alias("doc_b"),
                              F.col("hs").alias("hs_b")), "doc_b")
        .select("doc_a", "doc_b",
                F.size(F.array_intersect("hs_a", "hs_b")).alias("inter"),
                F.size("hs_a").alias("n_a"), F.size("hs_b").alias("n_b"))
    )
    return (
        inter
        .withColumn("union_sh", F.col("n_a") + F.col("n_b") - F.col("inter"))
        .where(F.col("inter") >= F.lit(threshold) * F.col("union_sh"))
        .select("doc_a", "doc_b", "inter", "union_sh",
                F.round(F.col("inter") / F.col("union_sh"), 6).alias("jaccard"))
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------
SIMHASH_BITS = 60          # fits signed 64-bit, aligns with hash60
SIMHASH_CHUNKS = 6         # 10 bits each
HAMMING_THRESHOLD = 5      # <=5 differing bits => >=1 of 6 chunks equal


def simhash_fingerprints(docs: DataFrame | None, id_col: str = "doc_id",
                         text_col: str = "text",
                         sh: DataFrame | None = None) -> DataFrame:
    """60-bit SimHash over distinct shingles: bit j of the fingerprint is
    the sign of sum over shingles of (2*bit_j(hash60)-1). Explode to
    (doc, bit) rows — stays JVM-side, shuffles once on (doc, bit).

    Pass ``sh`` (a (doc_id, h60) shingle table, e.g. from
    ``shingle_sig_tables``) to reuse a persisted shingle pass instead of
    re-tokenizing ``docs``."""
    if sh is None:
        sh = doc_shingles(docs, id_col, text_col).withColumn(
            "h60", hash60(F.col("shingle")))
    # 60 conditional-sum aggregates in ONE map-side-combinable groupBy:
    # bit j is set iff (# shingles with bit j) * 2 > (# shingles), i.e.
    # sign of sum(+-1 votes). The alternative — exploding to (doc, bit)
    # rows — shuffles 60x the shingle count; this shuffles 62 longs per
    # doc regardless of document size.
    bit_sums = [
        F.sum(F.shiftright(F.col("h60"), j).bitwiseAND(F.lit(1))).alias(f"b{j}")
        for j in range(SIMHASH_BITS)
    ]
    agged = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"), *bit_sums)
    fingerprint = sum(
        (F.col(f"b{j}") * 2 > F.col("n")).cast("long") * F.lit(2**j)
        for j in range(SIMHASH_BITS)
    )
    return agged.select("doc_id", fingerprint.alias("fingerprint"))


def connected_components(pairs: DataFrame, src: str = "doc_a",
                         dst: str = "doc_b", max_iter: int = 50,
                         checkpoint_dir: str | None = None,
                         driver_threshold: int = 100_000) -> DataFrame:
    """Connected components over the near-dup pair graph -> canonical doc
    per duplicate cluster (min doc_id), the step that turns pairwise
    similarity into trainable keep/drop decisions.

    Alternating large-star / small-star rounds (the two-phase MapReduce
    connected-components algorithm, Kiveris et al. 2014): each round
    contracts every node's neighborhood toward its minimum, so label
    distance shrinks multiplicatively and the loop converges in
    O(log d) rounds on diameter-d graphs — vs the d rounds of plain
    1-hop min-label propagation. Near-dup graphs are usually shallow
    (diameter <= 2 locally), where both shapes cost the same handful of
    rounds; on adversarial chain-shaped graphs (transitive near-dup
    chains at corpus scale) this version wins asymptotically. Each round
    is two groupBy-min + join passes over the PAIR graph, which is
    orders of magnitude smaller than the corpus.

      large-star: for each node u with neighborhood G(u) (symmetric),
                  m = min(G(u) ∪ {u}); emit (v, m) for v in G(u), v > u.
      small-star: orient edges (u, v) with u > v; m = min(N(u) ∪ {u});
                  emit (v, m) for v in N(u) ∪ {u}, v != m.

    At fixpoint the edge set is a union of stars (child -> component
    minimum). Convergence detection: the edge set is compared by
    (count, exact decimal sum of per-edge xxhash64) — two cheap
    aggregates, no join-and-compare; a hash-sum tie on different edge
    sets is astronomically unlikely, and max_iter bounds the loop
    regardless (the algorithm's round count is provably O(log n)).

    Each round ends in a checkpoint (not ``persist``): one round's
    plan references its input ~12x (symmetrize-union + two self-joins +
    star-union), so without lineage TRUNCATION the analyzed tree grows
    ~12^rounds and the driver OOMs on analysis alone by round ~7 —
    caching the data is not enough. The checkpointed table is the
    (small) pair graph, so materializing it per round is cheap.

    ``checkpoint_dir``: on a real cluster pass a durable location
    (HDFS/S3) and rounds use reliable ``checkpoint`` — localCheckpoint
    blocks live in executor memory/disk and die with their executor,
    which kills a long-running iterative job at 1000-executor scale.
    Default None keeps the fast local path for tests/bench.

    ``driver_threshold``: edge sets at or below this size are solved by
    union-find ON THE DRIVER instead of iterative rounds. The input here
    is the VERIFIED near-dup pair graph — orders of magnitude smaller
    than the corpus (pairs ∝ true duplicates, not documents), and the
    edge count is already known for free because the first checkpoint
    materializes it. 100k edges ≈ a few MB collected — the documented
    bounded-driver-literal pattern (operators/similarity.py centroids) —
    while each distributed round costs 2 joins + 2 aggregations + a
    checkpoint in scheduler overhead alone, which dominates end-to-end
    time on small graphs. Set 0 to force the distributed rounds; the
    rounds remain the scale path for graphs that exceed the bound.
    """
    if checkpoint_dir is not None:
        pairs.sparkSession.sparkContext.setCheckpointDir(checkpoint_dir)

    def ckpt(df: DataFrame) -> DataFrame:
        return (df.checkpoint(eager=True) if checkpoint_dir is not None
                else df.localCheckpoint())

    edges = ckpt(
        pairs.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .where(F.col(src) != F.col(dst))
        .distinct())

    if edges.count() <= driver_threshold:
        return _driver_union_find(edges)
    all_nodes = (edges.select(F.col("u").alias("node"))
                 .union(edges.select(F.col("v").alias("node")))
                 .distinct())

    def checksum(e: DataFrame):
        return tuple(e.agg(
            F.count(F.lit(1)),
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)"))).first())

    def large_star(e: DataFrame) -> DataFrame:
        sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = (sym.groupBy("u").agg(F.min("v").alias("mv"))
                .select("u", F.least("u", "mv").alias("m")))
        return (sym.join(mins, "u")
                .where(F.col("v") > F.col("u"))
                .select(F.col("v").alias("u"), F.col("m").alias("v"))
                .distinct())

    def small_star(e: DataFrame) -> DataFrame:
        oriented = e.select(F.greatest("u", "v").alias("u"),
                            F.least("u", "v").alias("v"))
        # u > every neighbor v here, so min(N(u) ∪ {u}) = min(v)
        mins = oriented.groupBy("u").agg(F.min("v").alias("m"))
        nbr = (oriented.join(mins, "u")
               .where(F.col("v") != F.col("m"))
               .select(F.col("v").alias("u"), F.col("m").alias("v")))
        own = mins.select("u", F.col("m").alias("v"))
        return nbr.union(own).distinct()

    prev = checksum(edges)
    for _ in range(max_iter):
        edges = ckpt(small_star(large_star(edges)))
        cur = checksum(edges)
        if cur == prev:
            break
        prev = cur

    # Fixpoint edges are (child, root) stars; roots appear only on the
    # right. Every node labels itself unless a star edge points it at a
    # smaller root.
    labels = (all_nodes.join(edges, all_nodes.node == edges.u, "left")
              .select("node", F.coalesce("v", "node").alias("label")))
    sizes = labels.groupBy("label").agg(F.count(F.lit(1)).alias("group_size"))
    return (labels.join(sizes, "label")
            .select(F.col("node").alias("doc_id"),
                    F.col("label").alias("canonical_doc_id"),
                    "group_size"))


def _driver_union_find(edges: DataFrame) -> DataFrame:
    """Union-find over a collected edge list — the small-graph fast path
    of ``connected_components``. Same output contract as the distributed
    rounds: (doc_id, canonical_doc_id = component min, group_size)."""
    from pyspark.sql.types import LongType, StructField, StructType

    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    # collect(), not toLocalIterator(): the edge list is already known
    # to be <= driver_threshold rows (a few MB), and toLocalIterator
    # runs one fetch JOB PER PARTITION of the checkpointed shuffle
    # output — ~30 sequential job round-trips for a graph that fits in
    # one result message (r14; guide §1.2 action-count).
    for row in edges.collect():
        ra, rb = find(row[0]), find(row[1])
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    comps: dict = {}
    for node in parent:
        comps.setdefault(find(node), []).append(node)
    out = []
    for members in comps.values():
        canonical, size = min(members), len(members)
        out.extend((node, canonical, size) for node in members)

    id_type = edges.schema.fields[0].dataType
    schema = StructType([
        StructField("doc_id", id_type),
        StructField("canonical_doc_id", id_type),
        StructField("group_size", LongType()),
    ])
    from aws_payment_data_lake_spark.localframe import local_frame
    return local_frame(edges.sparkSession, out, schema)


def simhash_pairs(docs: DataFrame | None,
                  max_hamming: int = HAMMING_THRESHOLD,
                  id_col: str = "doc_id", text_col: str = "text",
                  sh: DataFrame | None = None) -> DataFrame:
    """Pairs with Hamming(fp_a, fp_b) <= 5, via pigeonhole banding: split
    60 bits into 6 chunks; <=5 flips can't touch all 6 chunks, so every
    qualifying pair shares >=1 exact chunk — candidates are found by 6
    equi-joins (one exploded join), recall is EXACTLY 1.

    ``sh``: optional pre-built (doc_id, h60) shingle table (see
    ``simhash_fingerprints``)."""
    # The chunk equi-join below is a SELF-join: without a persisted input
    # both sides recompute the whole tokenize/shingle/61-agg fingerprint
    # chain (AQE's broadcast conversion defeats shuffle-exchange reuse —
    # measured 10 s vs 6 s at sf0.1). Fingerprints are 2 longs per doc,
    # so persisting is cheap at any scale; count() is the materialization
    # barrier (see shingle_sig_tables).
    fps = simhash_fingerprints(docs, id_col, text_col, sh=sh).persist()
    fps.count()
    chunks = F.array(*[
        F.shiftright(F.col("fingerprint"), 10 * k).bitwiseAND(F.lit(1023))
        for k in range(SIMHASH_CHUNKS)
    ])
    ck = fps.select("doc_id", "fingerprint",
                    F.posexplode(chunks).alias("chunk_idx", "chunk_val"))
    a, b = ck.alias("a"), ck.alias("b")
    cands = (
        a.join(b, (F.col("a.chunk_idx") == F.col("b.chunk_idx"))
               & (F.col("a.chunk_val") == F.col("b.chunk_val"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
                F.col("a.fingerprint").alias("fp_a"),
                F.col("b.fingerprint").alias("fp_b"))
        .distinct()
    )
    hamming = F.bit_count(F.expr("fp_a ^ fp_b"))
    return (
        cands.withColumn("hamming", hamming.cast("int"))
        .where(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "fp_a", "fp_b", "hamming")
    )


# ---------------------------------------------------------------------------
# Exact duplicate-SPAN removal (round 6) — the ExactSubstr dedup of
# Lee et al. 2021, "Deduplicating Training Data Makes Language Models
# Better" (arXiv 2107.06499), re-expressed Spark-first: the paper
# builds a corpus-wide suffix array and removes every verbatim
# substring of >= 50 tokens that appears more than once; here the
# fixed-length n-token window family plays the suffix-array role (a
# repeat of length >= n contains a repeated n-window at every offset,
# so flagging n-windows marks exactly the >= n-token repeats — the
# window length IS the paper's threshold). Document-level dedup
# (exact/MinHash/SimHash above) misses partial overlaps: two distinct
# pages quoting the same boilerplate paragraph are no document pair,
# but the paragraph still trains the model twice.
#
# Scale shape: one explode to (gh, doc_id, pos) occurrence rows — the
# hash-shuffle by gh is the unavoidable GLOBAL step (any exact
# substring dedup must compare every window against every other; the
# paper's suffix array is likewise a global sort), but it is one
# linear pass of 24-byte rows with map-side pre-aggregation, the
# standard MapReduce answer to the problem. Everything after (the
# per-doc merge + split) is the shared span machinery.
# ---------------------------------------------------------------------------

SPAN_NGRAM = 25


def _tok_frame(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(doc_id, tk): the spread+tokenized frame every span-tier stage
    derives from. The removal operators reference it twice (window
    occurrences + the split complement) — two evaluations of one
    row-local scan subtree, the same two-pass shape as
    decontam.scrub_contaminated (scan-bandwidth-bound; callers with a
    hot corpus can pass a persisted frame as ``docs``)."""
    return (spread_narrow_scan(docs, id_col)
            .select(F.col(id_col).alias("doc_id"),
                    tokens(text_col).alias("tk")))


def _occurrences_from_tok(tok: DataFrame, n: int, hash_fn) -> DataFrame:
    """(doc_id, pos, gh) window occurrences from a (doc_id, tk) frame.
    Hashes are built by DIRECT slice+join per position — one
    O(n)-byte concat per window. (word_ngrams' incremental zip_with
    build is tuned for the upto-max_n family shape; for one large n
    it materializes every intermediate k-gram tier, ~n/2 times the
    bytes. Measured 2.3x end-to-end on the detection operator at
    sf0.1.)"""
    idx = F.when(F.size("tk") >= n,
                 F.sequence(F.lit(0), F.size("tk") - n)
                 ).otherwise(F.expr("CAST(array() AS array<int>)"))
    return tok.select(
        "doc_id",
        F.posexplode(F.transform(idx, lambda i: hash_fn(
            F.array_join(F.slice("tk", i + 1, n), " "))))
        .alias("pos", "gh"))


def _window_occurrences(docs: DataFrame, n: int, id_col: str,
                        text_col: str, hash_fn) -> DataFrame:
    """(doc_id, pos, gh): every n-token window occurrence of ``docs``."""
    return _occurrences_from_tok(_tok_frame(docs, id_col, text_col),
                                 n, hash_fn)


def _merge_hit_spans(hits: DataFrame) -> DataFrame:
    """(doc_id, s, e) flagged windows -> (doc_id, spans) merged."""
    from aws_payment_data_lake_spark.functions.spans import merge_spans

    return (hits.groupBy("doc_id")
            .agg(merge_spans(F.array_sort(
                F.collect_list(F.struct("s", "e")))).alias("spans")))


def duplicate_spans(docs: DataFrame, n: int = SPAN_NGRAM,
                    id_col: str = "doc_id", text_col: str = "text",
                    hash_fn=hash60) -> DataFrame:
    """(doc_id, spans): merged token intervals covered by NON-CANONICAL
    occurrences of any n-gram that appears >= 2 times corpus-wide. The
    canonical occurrence (lowest (doc_id, pos)) is never flagged, so
    exactly one copy of every repeated span survives the removal."""
    from pyspark.sql import Window

    occ = _window_occurrences(docs, n, id_col, text_col, hash_fn)
    # Non-canonical occurrences of repeated windows via ONE gh-hash
    # window (count + row_number share the shuffle): strictly less data
    # movement than aggregate-then-join-back, and no broadcast-size bet
    # on the repeated-window table (unbounded at corpus scale). This is
    # also exactly the oracle SQL's formulation.
    #
    # Skew posture: a hot window (boilerplate shared by many docs)
    # lands all its occurrences in one gh partition. The within-
    # partition sort is a spillable EXTERNAL sort over the whole
    # partition (~rows/shuffle.partitions), so a hot key degrades to
    # disk bandwidth, never a stall; the agg+join alternative trades
    # that for a SECOND full shuffle of the occurrence table and
    # measured slower even under engineered skew (60% of sf0.1 docs
    # sharing one boilerplate window: 1.21 s vs 1.31 s, identical
    # output). For corpora with truly degenerate repetition (the same
    # page body 10^7 times) run the exact doc-level tier first — it
    # removes identical documents before window analysis, which is the
    # Lee et al. pipeline's own ordering.
    wp = Window.partitionBy("gh")
    hits = (occ.select(
                "doc_id", "pos",
                F.count(F.lit(1)).over(wp).alias("cnt"),
                F.row_number().over(wp.orderBy("doc_id", "pos")).alias("rn"))
            .where((F.col("cnt") >= 2) & (F.col("rn") > 1))
            .select("doc_id",
                    F.col("pos").alias("s"),
                    (F.col("pos") + F.lit(n - 1)).alias("e")))
    return _merge_hit_spans(hits)


def span_window_index(docs: DataFrame, n: int = SPAN_NGRAM,
                      id_col: str = "doc_id", text_col: str = "text",
                      hash_fn=hash60) -> DataFrame:
    """(gh): the distinct n-token window hashes of a corpus — the
    STORED state the incremental span tier probes (the suffix-array
    analogue a rolling Lee-et-al pipeline keeps between batches;
    window-count-sized, i.e. ∝ corpus tokens — in production a
    gh-bucketed parquet table so the incremental probe join is
    co-located, never broadcast)."""
    return (_window_occurrences(docs, n, id_col, text_col, hash_fn)
            .select("gh").distinct())


def duplicate_spans_incremental(new_docs: DataFrame, index: DataFrame,
                                n: int = SPAN_NGRAM,
                                id_col: str = "doc_id",
                                text_col: str = "text",
                                hash_fn=hash60) -> DataFrame:
    """(doc_id, spans) over a DELTA batch against a stored corpus
    window index (``span_window_index``) — the incremental twin of
    ``duplicate_spans``, same contract as the MinHash incremental
    tier: corpus content is older, so ANY batch occurrence of an
    indexed window is non-canonical (the corpus copy survives);
    windows absent from the index keep their first batch occurrence
    (min (doc_id, pos)) and flag the rest.

    Equivalence (pytest-asserted): when every corpus doc id precedes
    every batch doc id, this equals ``duplicate_spans`` over
    corpus ∪ batch restricted to batch docs. Cost: one pass over the
    BATCH's windows (one gh window + one join against the index) —
    the full recompute's corpus-sized shuffle is replaced by a
    delta-sized one, which is the entire point of keeping the index."""
    from pyspark.sql import Window

    occ = _window_occurrences(new_docs, n, id_col, text_col, hash_fn)
    wp = Window.partitionBy("gh")
    scored = (occ.select(
        "doc_id", "pos", "gh",
        F.count(F.lit(1)).over(wp).alias("cnt"),
        F.row_number().over(wp.orderBy("doc_id", "pos")).alias("rn")))
    hits = (scored.join(
                index.select("gh", F.lit(True).alias("in_corpus")),
                "gh", "left")
            .where(F.coalesce("in_corpus", F.lit(False))
                   | ((F.col("cnt") >= 2) & (F.col("rn") > 1)))
            .select("doc_id",
                    F.col("pos").alias("s"),
                    (F.col("pos") + F.lit(n - 1)).alias("e")))
    return _merge_hit_spans(hits)


def remove_duplicate_spans(docs: DataFrame, n: int = SPAN_NGRAM,
                           min_tokens: int = 1, id_col: str = "doc_id",
                           text_col: str = "text",
                           hash_fn=hash60) -> DataFrame:
    """Remove every non-canonical repeated n-token span and emit the
    remainder as one row per surviving piece: (doc_id, segment_idx,
    n_tokens, <text_col>) — the same split contract as
    ``operators/decontam.scrub_contaminated`` (pieces are never
    re-joined across a hole: seam windows were never counted).

    Convergence guarantee (pytest-asserted): every window surviving the
    split is an ORIGINAL corpus window, and all non-canonical
    occurrences of every repeated window were removed, so each window
    value now occurs at most once — a re-run finds ZERO duplicated
    windows. (A canonical occurrence can itself be destroyed when an
    OVERLAPPING different repeat's removal window covers it — the
    paper's aggressive-removal behavior — but nothing can remain
    duplicated.)"""
    from aws_payment_data_lake_spark.functions.spans import (
        EMPTY_SPANS,
        split_tokens_by_spans,
    )

    spans = duplicate_spans(docs, n, id_col, text_col, hash_fn)
    tok = _tok_frame(docs, id_col, text_col)
    d = tok.join(spans, "doc_id", "left").select(
        "doc_id", "tk",
        F.coalesce(F.col("spans"), F.expr(EMPTY_SPANS)).alias("spans"))
    return split_tokens_by_spans(d, text_col, min_tokens)


def cluster_aware_split(docs: DataFrame,
                        components: DataFrame,
                        id_col: str = "doc_id",
                        weights: tuple = (0.8, 0.1, 0.1),
                        labels: tuple = ("train", "valid", "test"),
                        salt: str = "split") -> DataFrame:
    """LEAKAGE-FREE train/valid/test assignment (round 12): documents
    split by the salted hash of their duplicate CLUSTER's canonical
    id, so a near-dup pair can never straddle the train/test boundary
    — the contamination a per-document hash split silently creates
    (a test document whose near-copy sits in train is a leaked
    answer). ``components`` is the connected-components table
    (doc_id, canonical_doc_id[, group_size]) from the verified
    near-dup pair graph; documents in no cluster are their own
    canonical (left join + coalesce), so the assignment degrades to
    the ordinary hash split exactly where no duplication exists.

    Deterministic and order-free: membership depends only on
    (salt, canonical id) — never on row order, partitioning or
    corpus size — so reruns, incremental refreshes and a 1000-
    executor cluster all agree. One broadcast-sized join against the
    cluster table (pairs ∝ true duplicates, orders of magnitude
    smaller than the corpus) + row-local hashing: no extra shuffle
    at 100 TB beyond the join itself.

    Returns ``docs`` + (split_canonical, split_bucket 0..99, split).
    """
    if len(weights) != len(labels):
        raise ValueError(f"{len(weights)} weights for "
                         f"{len(labels)} labels")
    if abs(sum(weights) - 1.0) > 1e-9:
        raise ValueError(f"weights must sum to 1, got {sum(weights)}")
    comp = components.select(
        F.col("doc_id").alias(id_col),
        F.col("canonical_doc_id").alias("__canon"))
    out = (docs.join(comp, id_col, "left")
           .withColumn("split_canonical",
                       F.coalesce(F.col("__canon"), F.col(id_col)))
           .drop("__canon")
           .withColumn(
               "split_bucket",
               F.pmod(F.xxhash64(F.lit(salt),
                                 F.col("split_canonical")),
                      F.lit(100)).cast("int")))
    edges = []
    acc = 0.0
    for w in weights[:-1]:
        acc += w
        edges.append(int(round(acc * 100)))
    # CASE over cumulative bucket edges, first label upward
    expr = None
    lo = 0
    for lbl, hi in zip(labels, edges + [100]):
        cond = (F.col("split_bucket") >= lo) & (F.col("split_bucket") < hi)
        expr = F.when(cond, F.lit(lbl)) if expr is None \
            else expr.when(cond, F.lit(lbl))
        lo = hi
    return out.withColumn("split", expr)
