"""Dedup operators as oracle-checked queries over `documents`.

The MinHash-LSH query shares the exact-Jaccard oracle: its banding has
P(miss) ~ (1-J^2)^32 <= 6e-7 at the 0.6 threshold, so LSH+verify equals
the exact baseline; the oracle comparison is precisely the claim that the
scale path loses nothing. SimHash banding is pigeonhole (lossless), so its
oracle equality is unconditional.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from aws_payment_data_lake_spark.operators import dedup as D
from aws_payment_data_lake_spark.queries import register
from aws_payment_data_lake_spark.sources import load, store
from aws_payment_data_lake_spark.sources.store import (
    AppendFrom,
    SessionStore,
    append_cut,
    corpus_fingerprint,
    load_or_build,
    pure_append_prior,
)

# Shared MinHash intermediates of dedup_minhash_lsh,
# dedup_connected_components and corpus_curation_decisions, in the two
# store tiers of sources/store.py. Two lazy tiers: the base tier
# (shingles + signatures) and the pairs tier (LSH candidates +
# exact-verified pair graph + connected components); SimHash needs only
# the shingle table, so it builds the base tier alone.
_SESSION = SessionStore()
_BASE_TABLES = ("sh", "sigs")
_PAIRS_TABLES = ("cands", "verified", "comp")


def _corpus_fp(spark: SparkSession, sf_dir: str) -> str:
    """Fingerprint over exactly the columns the dedup family reads."""
    (docs,) = load(spark, sf_dir, "documents")
    return corpus_fingerprint(docs, "doc_id", "text")


def durable_base_tables(spark: SparkSession, sf_dir: str, warehouse: str,
                        fp: str | None = None, ingest: bool = True,
                        ) -> tuple[tuple[DataFrame, DataFrame], bool]:
    """((sh, sigs), built) from the warehouse store — the stored-silver
    twin of ``shared_base_tables``. Shingles and signatures are
    per-doc, so a PURE-APPEND corpus roll (the store's generic
    join-free gate, sources/store.py:pure_append_prior) computes them
    for the DELTA docs only and hardlinks the prior version's part
    files (AppendFrom): signatures are per-doc, so the state update is
    a blind append."""
    fp = fp or _corpus_fp(spark, sf_dir)
    store_dir = os.path.join(warehouse, "minhash_base")
    (docs,) = load(spark, sf_dir, "documents")

    def build() -> dict:
        if ingest:
            pa = pure_append_prior(spark, docs, store_dir, _BASE_TABLES,
                                   "doc_id", ("doc_id", "text"))
            if pa is not None:
                sh_d, sigs_d = D.shingle_sig_tables(pa.delta)
                return {"sh": AppendFrom(sh_d, os.path.join(pa.vdir, "sh")),
                        "sigs": AppendFrom(sigs_d,
                                           os.path.join(pa.vdir, "sigs"))}
        sh, sigs = D.shingle_sig_tables(docs)
        return {"sh": sh, "sigs": sigs}

    frames, built = load_or_build(spark, store_dir, fp, _BASE_TABLES,
                                  build, extras=append_cut(docs, "doc_id"))
    return (frames["sh"], frames["sigs"]), built


def durable_pairs_tables(
        spark: SparkSession, sf_dir: str, warehouse: str,
        fp: str | None = None, ingest: bool = True,
) -> tuple[tuple[DataFrame, DataFrame, DataFrame], bool]:
    """((cands, verified, comp), built) from the warehouse store. Builds
    on top of the durable base tier (reading ITS parquet, so a fresh
    pairs build after a warm base build recomputes no signatures).

    PURE-APPEND roll: new candidate pairs are exactly those with at
    least one DELTA side (band hashing is per-doc — prior buckets are
    unchanged), generated by `D.lsh_delta_candidates` (delta-banded
    side broadcast), verified against the rolled sh/sigs tables, and
    APPENDED (hardlinks) to the prior cands/verified tables. The
    component table is the one genuinely global output — a new edge
    can merge two old components — so `comp` is RECOMPUTED from the
    unioned verified graph: pair-graph-sized work, not corpus-sized."""
    fp = fp or _corpus_fp(spark, sf_dir)
    store_dir = os.path.join(warehouse, "minhash_pairs")
    (docs,) = load(spark, sf_dir, "documents")

    def build() -> dict:
        (sh, sigs), _ = durable_base_tables(spark, sf_dir, warehouse,
                                            fp=fp, ingest=ingest)
        if ingest:
            pa = pure_append_prior(spark, docs, store_dir, _PAIRS_TABLES,
                                   "doc_id", ("doc_id", "text"))
            if pa is not None:
                dc = D.lsh_delta_candidates(
                    sigs.where(F.col("doc_id") > pa.cut), sigs).persist()
                dv = D.verified_pairs_from(sh, sigs, cands=dc).persist()
                comp = D.connected_components(
                    pa.frames["verified"].unionByName(dv))
                return {
                    "cands": AppendFrom(dc, os.path.join(pa.vdir, "cands")),
                    "verified": AppendFrom(
                        dv, os.path.join(pa.vdir, "verified")),
                    "comp": comp}
        # persist the two intermediate stages so writing the three
        # tables doesn't re-run them (load_or_build unpersists on swap)
        cands = D.lsh_candidate_pairs(sigs).persist()
        verified = D.verified_pairs_from(sh, sigs, cands=cands).persist()
        comp = D.connected_components(verified)
        return {"cands": cands, "verified": verified, "comp": comp}

    frames, built = load_or_build(spark, store_dir, fp, _PAIRS_TABLES,
                                  build, extras=append_cut(docs, "doc_id"))
    return (frames["cands"], frames["verified"], frames["comp"]), built


def shared_base_tables(
        spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """(sh, sigs) for ``sf_dir``'s documents — the persisted
    shingle+signature tier, built once per (Spark application, sf_dir).
    SimHash-class consumers stop here; LSH-family consumers get the
    pairs tier on top via ``shared_minhash_tables``."""

    def build(wh: str | None) -> tuple[DataFrame, DataFrame]:
        if wh:
            (sh, sigs), _ = durable_base_tables(spark, sf_dir, wh)
            return sh.persist(), sigs.persist()
        (docs,) = load(spark, sf_dir, "documents")
        return D.shingle_sig_tables(docs)

    return _SESSION.get(spark, sf_dir, "minhash_base", build)


def shared_minhash_tables(
        spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame, DataFrame]:
    """(sh, sigs, cands, verified, comp) for ``sf_dir``'s documents —
    built once per (Spark application, sf_dir), persisted, reused by
    every MinHash-family consumer. ``verified`` is the
    exact-Jaccard-verified LSH pair graph (output contract of
    ``D.jaccard_pairs``); ``comp`` is its connected-components cluster
    table (doc_id, canonical_doc_id, group_size) — shared because both
    the CC query and the curation capstone consume it."""
    sh, sigs = shared_base_tables(spark, sf_dir)

    def build(wh: str | None) -> tuple[DataFrame, DataFrame, DataFrame]:
        if wh:
            (cands, verified, comp), _ = durable_pairs_tables(
                spark, sf_dir, wh)
            return cands.persist(), verified.persist(), comp.persist()
        cands = D.lsh_candidate_pairs(sigs).persist()
        verified = D.verified_pairs_from(sh, sigs, cands=cands).persist()
        verified.count()
        comp = D.connected_components(verified).persist()
        comp.count()
        return cands, verified, comp

    return (sh, sigs) + _SESSION.get(spark, sf_dir, "minhash_pairs", build)

# Shared DuckDB CTEs: distinct 3-gram shingles per doc + per-doc counts.
_SH_CTE = """
toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
sh AS (SELECT doc_id,
              unnest(list_distinct(list_transform(range(1, len(tk) - 1),
                i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))) AS shingle
       FROM toks),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id)
"""

_JACCARD_ORACLE = f"""
WITH {_SH_CTE},
ix AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
       FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       GROUP BY 1, 2)
SELECT doc_a, doc_b, ix.inter,
       sa.n_sh + sb.n_sh - ix.inter AS union_sh,
       round(ix.inter * 1.0 / (sa.n_sh + sb.n_sh - ix.inter), 6) AS jaccard
FROM ix
JOIN sizes sa ON ix.doc_a = sa.doc_id
JOIN sizes sb ON ix.doc_b = sb.doc_id
WHERE ix.inter >= 0.6 * (sa.n_sh + sb.n_sh - ix.inter)
ORDER BY doc_a, doc_b
"""


# ---------------------------------------------------------------------------
# Exact dedup, both granularities in one tagged union (50-slot window):
#   variant='prefix'  document-level md5-prefix duplicate groups
#   variant='span'    ExactSubstr duplicate-SPAN detection (Lee et al.
#                     2021) — per doc, the merged token intervals covered
#                     by non-canonical occurrences of any repeated
#                     25-token window. The oracle replays the whole
#                     pipeline in SQL: same hash60 window hashes, the
#                     min-(doc_id,pos) canonical rule via row_number, and
#                     the interval merge via gaps-and-islands (s <=
#                     prev_max+1 reproduces merge_spans' adjacent-merge).
# ---------------------------------------------------------------------------
_SPAN_N = D.SPAN_NGRAM

_EXACT_UNION_ORACLE = f"""
WITH tok AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
occ AS (
  SELECT doc_id, i - 1 AS pos,
         ('0x' || substr(md5(array_to_string(
             tk[i:i + {_SPAN_N - 1}], ' ')), 1, 15))::BIGINT AS gh
  FROM tok, unnest(range(1, greatest(len(tk) - {_SPAN_N - 2}, 1))) AS t(i)),
hits AS (
  SELECT doc_id, pos AS s, pos + {_SPAN_N - 1} AS e
  FROM (SELECT doc_id, pos,
               count(*) OVER (PARTITION BY gh) AS cnt,
               row_number() OVER (PARTITION BY gh
                                  ORDER BY doc_id, pos) AS rn
        FROM occ)
  WHERE cnt >= 2 AND rn > 1),
isl AS (
  SELECT doc_id, s, e,
         sum(CASE WHEN prev_max IS NULL OR s > prev_max + 1
                  THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY s, e) AS grp
  FROM (SELECT doc_id, s, e,
               max(e) OVER (PARTITION BY doc_id ORDER BY s, e
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND 1 PRECEDING) AS prev_max
        FROM hits)),
merged AS (SELECT doc_id, grp, min(s) AS s, max(e) AS e
           FROM isl GROUP BY doc_id, grp),
span_rows AS (
  SELECT 'span' AS variant,
         CAST(doc_id AS VARCHAR) AS dup_key,
         CAST(sum(e - s + 1) AS BIGINT) AS n_units,
         doc_id AS canonical_doc_id,
         string_agg(CAST(s AS VARCHAR) || '-' || CAST(e AS VARCHAR),
                    ',' ORDER BY s) AS detail
  FROM merged GROUP BY doc_id),
prefix_rows AS (
  SELECT 'prefix' AS variant,
         md5(substr(text, 1, 100)) AS dup_key,
         count(*) AS n_units,
         min(doc_id) AS canonical_doc_id,
         array_to_string(list_sort(list(doc_id)), ',') AS detail
  FROM documents
  GROUP BY 2
  HAVING count(*) > 1)
SELECT * FROM prefix_rows
UNION ALL
SELECT * FROM span_rows
ORDER BY variant, dup_key
"""


@register(
    "dedup_exact_groups",
    oracle=_EXACT_UNION_ORACLE,
    tags=("dedup", "exact", "span", "exactsubstr"),
)
def dedup_exact_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup at both granularities (tagged union):

      variant='prefix'  md5 of the first 100 characters (C4/RealNews
                        boilerplate fingerprint): dup_key=md5,
                        n_units=copies, canonical_doc_id=min id,
                        detail=sorted doc_id list. Registered on the
                        prefix key because byte-identical copies only
                        exist at sf>=0.1 — the prefix tier fires at
                        every SF (22 groups at sf0.01); full-text
                        (prefix_len=None) stays the operator default,
                        pytest-covered at sf0.1.
      variant='span'    ExactSubstr duplicate spans (operators/dedup.
                        duplicate_spans, Lee et al. 2021): per affected
                        doc, dup_key=doc_id, n_units=total tokens under
                        merged non-canonical repeat windows,
                        detail='s-e,s-e' merged interval list. The span
                        REMOVAL (remove_duplicate_spans) shares this
                        exact machinery and is pytest-proven convergent
                        (re-run finds zero duplicated windows)."""
    (docs,) = load(spark, sf_dir, "documents")
    prefix = (D.exact_duplicate_groups(docs, prefix_len=100)
              .select(F.lit("prefix").alias("variant"),
                      F.col("text_md5").alias("dup_key"),
                      F.col("n_copies").cast("long").alias("n_units"),
                      "canonical_doc_id",
                      F.col("doc_ids").alias("detail")))
    spans = (D.duplicate_spans(docs)
             .select(F.lit("span").alias("variant"),
                     F.col("doc_id").cast("string").alias("dup_key"),
                     F.aggregate(
                         "spans", F.lit(0).cast("long"),
                         lambda acc, iv: acc + (iv["e"] - iv["s"] + 1))
                     .alias("n_units"),
                     F.col("doc_id").alias("canonical_doc_id"),
                     F.array_join(
                         F.transform("spans",
                                     lambda iv: F.concat_ws("-", iv["s"],
                                                            iv["e"])),
                         ",").alias("detail")))
    # No cosmetic final sort: the driver compare canonically sorts, and
    # a trailing orderBy would re-execute the whole un-persisted span
    # lineage to sample range bounds (registry rules; measured 1.5x on
    # this query).
    return prefix.unionByName(spans)


def durable_span_index(spark: SparkSession, corpus: DataFrame,
                       warehouse: str,
                       ingest: bool = True) -> tuple[DataFrame, bool]:
    """(win_index, built): the stored distinct-window-hash table of
    ``corpus`` (operators/dedup.span_window_index) under the same
    warehouse contract as every other store — the suffix-array
    analogue a rolling ExactSubstr pipeline keeps between batches.

    A PURE-APPEND corpus roll (``ingest=True``, sources/store.py:
    pure_append_prior) grows the index incrementally: only the DELTA
    docs are windowed, new hashes are anti-joined against the prior
    index (the win table's distinctness contract — incremental-probe
    consumers join it, and duplicate gh rows would fan their matches
    out), and the new version's table is the delta part files plus
    hardlinks to the prior version's (AppendFrom — write IO ∝ delta
    too). Any edit, delete, or below-max append rebuilds from
    scratch."""
    fp = corpus_fingerprint(corpus, "doc_id", "text")
    store_dir = os.path.join(warehouse, "span_index")

    def build() -> dict:
        if ingest:
            pa = pure_append_prior(spark, corpus, store_dir, ("win",),
                                   "doc_id", ("doc_id", "text"))
            if pa is not None:
                delta = D.span_window_index(pa.delta)
                return {"win": AppendFrom(
                    delta.join(pa.frames["win"], "gh", "left_anti"),
                    os.path.join(pa.vdir, "win"))}
        return {"win": D.span_window_index(corpus)}

    frames, built = load_or_build(spark, store_dir, fp, ("win",), build,
                                  extras=append_cut(corpus, "doc_id"))
    return frames["win"], built


def dedup_span_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-batch ExactSubstr detection: docs with doc_id % 5 == 0
    (the MinHash incremental convention) probed against the window
    index of the remaining corpus. Bench-only production path: the
    full recompute's corpus-sized gh shuffle becomes delta-sized (the
    index join is the stored-state probe — gh-bucketed parquet at
    scale). Correctness is pytest-proven equivalence to the full
    recompute (tests/test_span_dedup.py); with SPARK_GRAFT_WAREHOUSE
    set the index comes from the durable store."""
    (docs,) = load(spark, sf_dir, "documents")
    corpus = docs.where(F.col("doc_id") % 5 != 0)
    delta = docs.where(F.col("doc_id") % 5 == 0)
    wh = store.warehouse()
    if wh:
        idx, _ = durable_span_index(spark, corpus, wh)
    else:
        idx = D.span_window_index(corpus)
    return D.duplicate_spans_incremental(delta, idx)


def dedup_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full ExactSubstr span REMOVAL (operators/dedup.
    remove_duplicate_spans): every non-canonical repeated 25-token
    window is cut and the remainder emitted as one row per surviving
    piece. Bench-only twin of the registered 'span' variant of
    dedup_exact_groups (which hash-proves the detection + interval
    merge); the removal's convergence contract (a re-scan of the output
    finds ZERO repeated windows) is pytest-asserted
    (tests/test_span_dedup.py)."""
    (docs,) = load(spark, sf_dir, "documents")
    return D.remove_duplicate_spans(docs)


def dedup_shingle_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact all-pairs 3-gram-shingle Jaccard >= 0.6 (correctness
    baseline for near-dup detection). Unregistered: its output contract
    is IDENTICAL to dedup_minhash_lsh (which shares _JACCARD_ORACLE — the
    hash match there is simultaneously the recall proof for LSH and the
    correctness proof for this baseline), so registering both would spend
    a second slot of the driver's 50-query window on the same rows. Still
    exercised by tests/test_queries_extra.py equality assert and the
    bench."""
    (docs,) = load(spark, sf_dir, "documents")
    return D.jaccard_pairs(docs).orderBy("doc_a", "doc_b")


# 64 (i, a, b) minhash coefficients as SQL literals — the oracle computes
# the SAME signatures DuckDB-side, so the incremental variant below is
# hash-checked against an exact cross-join reimplementation.
_COEFF_SQL = ", ".join(
    f"({i}, {a}, {b})" for i, (a, b) in enumerate(D.MINHASH_COEFFS))

_MINHASH_UNION_ORACLE = f"""
WITH {_SH_CTE},
co(i, a, b) AS (VALUES {_COEFF_SQL}),
ix AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
       FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       GROUP BY 1, 2),
batch AS (
  SELECT doc_a, doc_b,
         round(ix.inter * 1.0 / (sa.n_sh + sb.n_sh - ix.inter), 6) AS score
  FROM ix
  JOIN sizes sa ON ix.doc_a = sa.doc_id
  JOIN sizes sb ON ix.doc_b = sb.doc_id
  WHERE ix.inter >= 0.6 * (sa.n_sh + sb.n_sh - ix.inter)),
hh AS (SELECT doc_id,
              ('0x' || substr(md5(shingle), 1, 15))::BIGINT % 2147483647 AS h
       FROM sh),
sig AS (SELECT doc_id, co.i,
               min((co.a * hh.h + co.b) % 2147483647) AS sig
        FROM hh CROSS JOIN co GROUP BY doc_id, co.i),
agree AS (SELECT n.doc_id AS doc_a, c.doc_id AS doc_b,
                 sum(CASE WHEN n.sig = c.sig THEN 1 ELSE 0 END) AS k
          FROM sig n JOIN sig c ON n.i = c.i
          WHERE n.doc_id % 5 = 0 AND c.doc_id % 5 <> 0
          GROUP BY 1, 2)
SELECT 'batch' AS variant, doc_a, doc_b, score FROM batch
UNION ALL
SELECT 'incremental' AS variant, doc_a, doc_b,
       round(k / 64.0, 6) AS score
FROM agree WHERE round(k / 64.0, 6) >= 0.6
ORDER BY variant, doc_a, doc_b
"""


@register(
    "dedup_minhash_lsh",
    oracle=_MINHASH_UNION_ORACLE,
    tags=("dedup", "minhash", "lsh", "incremental", "scale-path"),
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash family, both production shapes in one tagged union (the
    driver scores 50 slots, so the incremental path shares this one):

      variant='batch'        MinHash(64) + LSH(32x2) candidates,
                             exact-verified at J>=0.6 — the oracle's
                             batch branch is the exact all-pairs Jaccard,
                             so the hash match IS the LSH recall proof.
      variant='incremental'  a delta batch (doc_id % 5 = 0) deduped
                             against the REMAINING corpus using only its
                             stored signature table; score is the MinHash
                             agreement estimate. Banding recall here is
                             EXACTLY 1, not probabilistic: est >= 0.6
                             means >= 39 of 64 agreeing components, and
                             39 > 32 bands forces >= 1 fully-agreeing
                             band by pigeonhole — which is why the oracle
                             can be an exact cross-join recomputation of
                             the signatures (same LCG constants inlined
                             as SQL literals).
    """
    # ONE shingle+signature pass and ONE banding pass feed both
    # variants: signatures are per-doc, so the incremental variant's
    # "stored corpus signatures" are exactly the full sig table filtered
    # to the corpus split; and its candidates are exactly the cross-split
    # subset of the batch LSH candidates (same band definition) — no
    # second tokenize/shingle/64-min pipeline, no second banding join.
    # The tables come from the session-scoped store shared with the CC
    # and curation queries (see shared_minhash_tables).
    sh, sigs, cands, verified, _ = shared_minhash_tables(spark, sf_dir)
    full = verified.select(
        F.lit("batch").alias("variant"), "doc_a", "doc_b",
        F.col("jaccard").alias("score"))
    new_a = F.col("doc_a") % 5 == 0
    new_b = F.col("doc_b") % 5 == 0
    cross = (cands.where(new_a != new_b)
             .select(F.when(new_a, F.col("doc_a")).otherwise(F.col("doc_b"))
                     .alias("new_doc_id"),
                     F.when(new_a, F.col("doc_b")).otherwise(F.col("doc_a"))
                     .alias("corpus_doc_id")))
    inc = (D.signature_agreement(cross,
                                 sigs.where(F.col("doc_id") % 5 == 0),
                                 sigs.where(F.col("doc_id") % 5 != 0))
           .select(F.lit("incremental").alias("variant"),
                   F.col("new_doc_id").alias("doc_a"),
                   F.col("corpus_doc_id").alias("doc_b"),
                   F.col("est_jaccard").alias("score")))
    return full.unionByName(inc).orderBy("variant", "doc_a", "doc_b")


@register(
    "dedup_connected_components",
    oracle=f"""
    WITH RECURSIVE {_SH_CTE},
    ix AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
           FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
           GROUP BY 1, 2),
    pairs AS (
      SELECT doc_a, doc_b FROM ix
      JOIN sizes sa ON ix.doc_a = sa.doc_id
      JOIN sizes sb ON ix.doc_b = sb.doc_id
      WHERE ix.inter >= 0.6 * (sa.n_sh + sb.n_sh - ix.inter)),
    edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
              UNION SELECT doc_b, doc_a FROM pairs),
    reach(node, root) AS (
      SELECT a, a FROM edges
      UNION
      SELECT e.b, r.root FROM reach r JOIN edges e ON e.a = r.node),
    comp AS (SELECT node, min(root) AS canonical_doc_id
             FROM reach GROUP BY node)
    SELECT node AS doc_id, canonical_doc_id,
           count(*) OVER (PARTITION BY canonical_doc_id) AS group_size
    FROM comp
    ORDER BY doc_id
    """,
    tags=("dedup", "connected-components", "iterative"),
)
def dedup_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs (J>=0.6) -> duplicate clusters via iterative
    min-label propagation; canonical doc = min doc_id per cluster. The
    oracle walks the same graph with a recursive CTE — an iterative Spark
    algorithm still hash-checked exactly.

    The pair graph is the shared exact-verified LSH table (the scale
    path; candidates ~ true pairs), not the O(sum df^2) all-pairs
    baseline — the oracle stays the exact graph, so the hash match
    re-proves LSH recall on every run, and the signature store is built
    once per session across the MinHash family."""
    comp = shared_minhash_tables(spark, sf_dir)[4]
    return comp.orderBy("doc_id")


@register(
    "dedup_simhash",
    oracle=f"""
    WITH {_SH_CTE},
    h AS (SELECT doc_id,
                 ('0x' || substr(md5(shingle), 1, 15))::BIGINT AS h
          FROM sh),
    votes AS (SELECT doc_id, j.j,
                     CASE WHEN (h >> j.j) & 1 = 1 THEN 1 ELSE -1 END AS v
              FROM h, (SELECT unnest(range(0, 60)) AS j) j),
    bits AS (SELECT doc_id, j, CASE WHEN sum(v) > 0 THEN 1 ELSE 0 END AS bit
             FROM votes GROUP BY doc_id, j),
    fp AS (SELECT doc_id,
                  CAST(sum(bit * (CAST(1 AS BIGINT) << j)) AS BIGINT)
                    AS fingerprint
           FROM bits GROUP BY doc_id)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           a.fingerprint AS fp_a, b.fingerprint AS fp_b,
           CAST(bit_count(xor(a.fingerprint, b.fingerprint)) AS INT)
             AS hamming
    FROM fp a JOIN fp b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.fingerprint, b.fingerprint)) <= 5
    ORDER BY doc_a, doc_b
    """,
    tags=("dedup", "simhash"),
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit SimHash pairs at Hamming <= 5, via lossless 6-chunk
    pigeonhole banding (the oracle does the O(n^2) scan; Spark doesn't).
    Fingerprints are aggregated from the session-shared shingle table
    (h60 column) — no second tokenize/shingle pass, and only the BASE
    store tier: running SimHash solo no longer forces the LSH
    candidate/verify/CC build it never reads (ADVICE r4)."""
    sh = shared_base_tables(spark, sf_dir)[0]
    return D.simhash_pairs(None, sh=sh).orderBy("doc_a", "doc_b")


def corpus_leakfree_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-aware train/valid/test over `documents` (round 12,
    bench-only; the leakage property is pytest-pinned in
    tests/test_connected_components.py): assignment hashes the
    duplicate CLUSTER's canonical id from the shared verified LSH
    pair graph, so no near-dup pair straddles train/test — the
    contamination a per-document split silently creates. Reuses the
    session's MinHash family store; the split itself adds one join
    against the (pairs-sized) cluster table + row-local hashing."""
    (docs,) = load(spark, sf_dir, "documents")
    comp = shared_minhash_tables(spark, sf_dir)[4]
    out = D.cluster_aware_split(docs.select("doc_id"), comp)
    return (out.groupBy("split")
            .agg(F.count("*").alias("n_docs"),
                 F.countDistinct("split_canonical").alias("n_clusters"))
            .orderBy("split"))
