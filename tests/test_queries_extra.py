"""Coverage for operators that deliberately sit OUTSIDE the <=50-query
driver registry (the driver scores only the first 50 registered queries),
plus structural equivalences the merged round-2 queries rely on."""

from __future__ import annotations

import pyspark.sql.functions as F

from aws_payment_data_lake_spark.oracle import compare_spark_duck
from aws_payment_data_lake_spark.queries.dedup import dedup_shingle_jaccard
from aws_payment_data_lake_spark.queries.sql_surface import (
    _STATUS_FUNNEL,
    sql_status_funnel,
)
from aws_payment_data_lake_spark.queries.udtf_gallery import udtf_order_quarters
from aws_payment_data_lake_spark.sources import load
from tests.conftest import SF_DIR, normalized_rows


def _same(df_a, df_b):
    a = normalized_rows(df_a.columns, [tuple(r) for r in df_a.collect()])
    b = normalized_rows(df_b.columns, [tuple(r) for r in df_b.collect()])
    assert sorted(df_a.columns) == sorted(df_b.columns)
    assert a == b


def test_minhash_lsh_equals_exact_jaccard(spark):
    """The unregistered exact all-pairs baseline returns EXACTLY the rows
    of the registered MinHash-LSH query's batch variant (recall 1 at
    J>=0.6) — which is why registering both would spend two driver slots
    on one result. (The registered slot is a tagged union since round 4;
    the incremental variant is oracle-checked by the driver itself.)"""
    from aws_payment_data_lake_spark.queries.dedup import dedup_minhash_lsh

    _same(dedup_shingle_jaccard(spark, SF_DIR)
          .select("doc_a", "doc_b", F.col("jaccard").alias("score")),
          dedup_minhash_lsh(spark, SF_DIR)
          .where(F.col("variant") == "batch")
          .select("doc_a", "doc_b", "score"))


def test_outer_recon_decomposition_equals_native_full(spark):
    """join_outer_recon builds FULL OUTER as right-join UNION left-anti;
    assert it equals the native how='full' plan row-for-row."""
    from aws_payment_data_lake_spark.queries.relational import join_outer_recon

    orders, li = load(spark, SF_DIR, "orders", "lineitem")
    big = (orders.where(F.col("o_totalprice") > 250_000.0)
           .select("o_orderkey", "o_totalprice"))
    heavy = (li.where(F.col("l_quantity") > 45)
             .groupBy("l_orderkey")
             .agg(F.count(F.lit(1)).alias("n_heavy"),
                  F.sum(F.col("l_quantity").cast("decimal(18,2)"))
                  .cast("double").alias("heavy_qty")))
    native = (
        big.join(heavy, big.o_orderkey == heavy.l_orderkey, "full")
        .select(
            F.coalesce("o_orderkey", "l_orderkey").alias("orderkey"),
            F.col("o_orderkey").isNotNull().alias("is_big_order"),
            F.col("l_orderkey").isNotNull().alias("has_heavy_lines"),
            "o_totalprice",
            F.coalesce("n_heavy", F.lit(0)).alias("n_heavy"),
            F.coalesce("heavy_qty", F.lit(0.0)).alias("heavy_qty"),
        )
    )
    _same(join_outer_recon(spark, SF_DIR), native)
    # both "directions" must be non-vacuous at this SF
    out = join_outer_recon(spark, SF_DIR)
    assert out.where(~F.col("is_big_order")).count() > 0
    assert out.where(~F.col("has_heavy_lines")).count() > 0


def test_sql_status_funnel_matches_duck(spark, duck):
    """Unregistered SQL-endpoint twin still hash-matches its oracle text
    (shared verbatim between spark.sql and DuckDB)."""
    status = compare_spark_duck(sql_status_funnel(spark, SF_DIR),
                                duck, _STATUS_FUNNEL)
    assert not status, status


def test_udtf_equals_native_rewrite(spark):
    """The Python UDTF expansion equals the native explode(sequence(...))
    rewrite — documents what the UDTF computes and pins its semantics."""
    (orders,) = load(spark, SF_DIR, "orders")
    native = (
        orders.where(F.col("o_orderkey") % 100 == 0)
        .select("o_orderkey",
                F.explode(F.sequence(
                    F.lit(0),
                    F.lit(8) - F.quarter("o_orderdate"))).alias("pos"),
                F.date_trunc("quarter", "o_orderdate").alias("q0"))
        .select(F.col("o_orderkey").alias("orderkey"), "pos",
                F.to_date(F.add_months("q0", F.col("pos") * 3))
                .alias("quarter_start"))
    )
    _same(udtf_order_quarters(spark, SF_DIR), native)


def test_exact_dedup_fulltext_and_prefix_tiers(spark):
    """The registered dedup_exact_groups runs on a prefix-100 fingerprint
    key so its driver check is non-vacuous at every SF (full-text exact
    dedup yields 0 groups below sf0.1). The full-text tier stays the
    operator default — assert it fires at sf0.1, where the generator
    injects byte-identical copies, and matches a DuckDB oracle."""
    import duckdb

    from aws_payment_data_lake_spark.operators import dedup as D

    sf01 = "/root/testdata/sf0.1"
    (docs,) = load(spark, sf01, "documents")
    full = D.exact_duplicate_groups(docs).orderBy("text_md5")
    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{sf01}/documents.parquet')")
    mism = compare_spark_duck(full, con, """
        SELECT md5(text) AS text_md5, count(*) AS n_copies,
               min(doc_id) AS canonical_doc_id,
               array_to_string(list_sort(list(doc_id)), ',') AS doc_ids
        FROM documents GROUP BY 1 HAVING count(*) > 1 ORDER BY text_md5""")
    con.close()
    assert not mism, mism[:5]
    assert full.count() > 0
    # prefix tier: non-vacuous even at the small test SF
    (docs_sm,) = load(spark, SF_DIR, "documents")
    assert D.exact_duplicate_groups(docs_sm, prefix_len=100).count() > 0


def test_lsh_hot_bucket_guard(spark):
    """Adversarial hot bucket: 1,000 docs with IDENTICAL signatures put
    all 1,000 in every band's bucket. With bucket_cap=100 the salted
    tier splits each bucket into ceil(1000/100)=10 tasks instead of one
    quadratic collect_list row — and the candidate set is still the full
    triangle."""
    from aws_payment_data_lake_spark.operators.dedup import (
        lsh_candidate_pairs,
    )

    n = 1000
    sigs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        *[F.lit(7).cast("long").alias(f"sig{i}") for i in range(64)])
    pairs = lsh_candidate_pairs(sigs, bucket_cap=100)
    assert pairs.count() == n * (n - 1) // 2
    # No collect_list of the hot bucket anywhere in the big tier's plan:
    # the ONLY aggregate over the oversized bucket is the count.
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "collect_list" not in plan.lower() or "salt" in plan.lower()


def test_lsh_salted_tier_matches_default_on_testdata(spark):
    """Cross-tier equality on the real corpus: bucket_cap=2 pushes every
    bucket with >2 members through the salted self-join; the candidate
    set must equal the default bucket-and-expand tier's exactly."""
    from aws_payment_data_lake_spark.operators.dedup import (
        lsh_candidate_pairs,
        shingle_sig_tables,
    )

    (docs,) = load(spark, SF_DIR, "documents")
    sh, sigs = shingle_sig_tables(docs)
    default = {(r["doc_a"], r["doc_b"])
               for r in lsh_candidate_pairs(sigs).collect()}
    salted = {(r["doc_a"], r["doc_b"])
              for r in lsh_candidate_pairs(sigs, bucket_cap=2).collect()}
    sh.unpersist()
    sigs.unpersist()
    assert default == salted and default


def test_text_repetition_profile_matches_duck(spark, duck):
    """Gopher-style repetition features hash-match their DuckDB oracle
    (top/dup n-gram occurrence fractions for n in 2,3,5) at sf0.1 — the
    scale probe on top of the registered slot's sf0.01 driver check."""
    from aws_payment_data_lake_spark.queries.text import (
        _REPETITION_ORACLE,
        text_repetition_profile,
    )

    status = compare_spark_duck(text_repetition_profile(spark, SF_DIR),
                                duck, _REPETITION_ORACLE)
    assert not status, status


def test_text_repetition_profile_flags_loopy_doc(spark):
    """A synthetic doc that repeats one phrase scores top_frac/dup_frac
    near 1 for every n; a all-distinct-token doc scores dup_frac 0."""
    from aws_payment_data_lake_spark.queries.text import (
        text_repetition_profile,
    )
    import aws_payment_data_lake_spark.queries.text as TT

    loopy = " ".join(["spam ham"] * 30)          # "spam ham spam ham ..."
    clean = " ".join(f"w{i}" for i in range(60))
    docs = spark.createDataFrame(
        [(1, loopy), (2, clean)], "doc_id long, text string")

    import unittest.mock as mock
    with mock.patch.object(TT, "load", lambda s, d, *t: (docs,)):
        rows = {(r["doc_id"], r["n"]): r
                for r in text_repetition_profile(spark, SF_DIR).collect()}
    for n in (2, 3, 5):
        assert rows[(1, n)]["dup_frac"] > 0.9, rows[(1, n)]
        assert rows[(2, n)]["dup_frac"] == 0.0, rows[(2, n)]
    # the dominant bigram covers ~half of all bigram positions
    assert rows[(1, 2)]["top_frac"] > 0.45


def test_order_count_histogram_matches_duckdb(spark, duck):
    """Q13 shape: pre-aggregated outer join + count-of-counts histogram
    equals the literal LEFT JOIN ... GROUP BY GROUP BY SQL."""
    from aws_payment_data_lake_spark.queries.relational2 import (
        order_count_histogram,
    )

    status = compare_spark_duck(
        order_count_histogram(spark, SF_DIR), duck, """
        SELECT c_count, CAST(count(*) AS BIGINT) AS n_customers
        FROM (
          SELECT c.c_custkey, coalesce(o.cnt, 0) AS c_count
          FROM customer c LEFT JOIN (
            SELECT o_custkey, count(*) AS cnt FROM orders
            WHERE o_orderpriority <> '1-URGENT' GROUP BY o_custkey) o
          ON c.c_custkey = o.o_custkey)
        GROUP BY c_count ORDER BY n_customers DESC, c_count DESC
        """)
    assert not status, "; ".join(status)


def test_slow_supplier_blame_matches_duckdb(spark, duck):
    """Q21 shape: the one-shuffle bool_or/collect_set plan returns
    exactly the rows of the literal stacked EXISTS / NOT EXISTS SQL."""
    from aws_payment_data_lake_spark.queries.relational2 import (
        slow_supplier_blame,
    )

    status = compare_spark_duck(
        slow_supplier_blame(spark, SF_DIR), duck, """
        WITH lines AS (
          SELECT l.l_orderkey, l.l_suppkey,
                 l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY AS slow
          FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey)
        SELECT s.s_name, CAST(count(*) AS BIGINT) AS n_blamed_orders
        FROM (
          SELECT DISTINCT l1.l_orderkey, l1.l_suppkey
          FROM lines l1
          WHERE l1.slow
            AND EXISTS (SELECT 1 FROM lines l2
                        WHERE l2.l_orderkey = l1.l_orderkey
                          AND l2.l_suppkey <> l1.l_suppkey)
            AND NOT EXISTS (SELECT 1 FROM lines l3
                            WHERE l3.l_orderkey = l1.l_orderkey
                              AND l3.l_suppkey <> l1.l_suppkey AND l3.slow)
        ) b JOIN supplier s ON b.l_suppkey = s.s_suppkey
        GROUP BY s.s_name
        ORDER BY n_blamed_orders DESC, s_name
        """)
    assert not status, "; ".join(status)
