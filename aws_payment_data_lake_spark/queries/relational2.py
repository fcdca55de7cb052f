"""Second relational wave: deeper multi-join analytics + lag/lead.

TPC-H-flavored queries beyond the first wave (queries/relational.py) —
national trade flows (Q7-ish), revenue-at-risk by customer (Q10-ish),
brand/part market share (Q14-ish). (Inter-event gap analytics moved into
``window_event_analytics`` in queries/relational.py.)

Scale notes: only fixed-cardinality dimensions (nation: 25 rows) carry
explicit broadcast hints; every O(SF) table (orders, customer, supplier,
part) is left unhinted — size statistics / AQE broadcast them while they
fit and shuffle them on the equi-key once they don't;
the fact-side scans prune to the joined/aggregated columns;
the lag window partitions on user_id (high cardinality, even) — none of
these plans change shape at 1000 executors.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from aws_payment_data_lake_spark.queries import register
from aws_payment_data_lake_spark.sources import load


@register(
    "trade_flows_by_nation_year",
    oracle="""
    SELECT n.n_name AS supp_nation,
           CAST(year(l.l_shipdate) AS INT) AS ship_year,
           count(*) AS n_lines,
           CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                         AS DECIMAL(18,4))) AS DOUBLE) AS volume
    FROM lineitem l
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
    tags=("join", "aggregate", "tpch-q7-ish"),
)
def trade_flows_by_nation_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier-nation trade volume per ship year (per-line discounted
    revenue cast to exact decimal THEN summed — associative, so partial
    aggregation order can't perturb the hash)."""
    li, supp, nat = load(spark, sf_dir, "lineitem", "supplier", "nation")
    # 2dp x 2dp product has <= 4 exact decimals: DECIMAL(18,4) cast is
    # tie-free in both engines (the q1 pattern; an explicit 2dp round
    # here hits half-cent ties that flip on cross-engine ulp noise)
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))) \
        .cast("decimal(18,4)")
    return (
        li.join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
        .groupBy(F.col("n_name").alias("supp_nation"),
                 F.year("l_shipdate").cast("int").alias("ship_year"))
        .agg(F.count(F.lit(1)).alias("n_lines"),
             F.sum(rev).cast("double").alias("volume"))
        .orderBy("supp_nation", "ship_year")
    )


@register(
    "returned_revenue_by_customer",
    oracle="""
    SELECT c.c_custkey, c.c_name, n.n_name AS nation,
           count(*) AS n_return_lines,
           CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                         AS DECIMAL(18,4))) AS DOUBLE) AS lost_revenue
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
    GROUP BY 1, 2, 3
    HAVING count(*) >= 8
    ORDER BY lost_revenue DESC, c_custkey
    """,
    tags=("join", "aggregate", "having", "tpch-q10-ish"),
)
def returned_revenue_by_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue lost to returns per customer. The return-flag filter pushes
    to the lineitem scan; lineitem<->orders and orders<->customer are
    unfiltered fact/near-fact sides, so they SHUFFLE on their equi-keys
    (AQE picks the strategy) — broadcasting orders or customer here would
    ship an O(SF) table to every executor and OOM at production scale.
    Only nation (fixed 25 rows) gets a broadcast hint."""
    li, orders, cust, nat = load(spark, sf_dir,
                                 "lineitem", "orders", "customer", "nation")
    # 2dp x 2dp product has <= 4 exact decimals: DECIMAL(18,4) cast is
    # tie-free in both engines (the q1 pattern; an explicit 2dp round
    # here hits half-cent ties that flip on cross-engine ulp noise)
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))) \
        .cast("decimal(18,4)")
    return (
        li.where(F.col("l_returnflag") == "R")
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .groupBy("c_custkey", "c_name", F.col("n_name").alias("nation"))
        .agg(F.count(F.lit(1)).alias("n_return_lines"),
             F.sum(rev).cast("double").alias("lost_revenue"))
        .where(F.col("n_return_lines") >= 8)
        .orderBy(F.col("lost_revenue").desc(), "c_custkey")
    )


@register(
    "brand_market_share",
    oracle="""
    WITH rev AS (
      SELECT p.p_brand,
             sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                      AS DECIMAL(18,4))) AS brand_rev_dec
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      GROUP BY p.p_brand)
    SELECT p_brand,
           CAST(brand_rev_dec AS DOUBLE) AS brand_rev,
           CAST(brand_rev_dec AS DOUBLE)
             / CAST(sum(brand_rev_dec) OVER () AS DOUBLE) AS rev_share
    FROM rev
    ORDER BY p_brand
    """,
    tags=("join", "window-over-aggregate", "tpch-q14-ish"),
)
def brand_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand revenue share: broadcast part join, decimal-exact brand
    revenue, share via window-over-aggregate (the decimal total is exact
    in both engines, so the double quotient is bit-identical)."""
    li, part = load(spark, sf_dir, "lineitem", "part")
    # 2dp x 2dp product has <= 4 exact decimals: DECIMAL(18,4) cast is
    # tie-free in both engines (the q1 pattern; an explicit 2dp round
    # here hits half-cent ties that flip on cross-engine ulp noise)
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))) \
        .cast("decimal(18,4)")
    brand_rev = (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(F.sum(rev).alias("brand_rev_dec"))
    )
    # share-of-total via a broadcast one-row total instead of an empty
    # window: Window.partitionBy() is a partitionless WindowExec (all
    # 25 brand rows to one task + the "No Partition Defined" warning);
    # the re-aggregated total is the same exact decimal (decimal sums
    # are associative), broadcast-joined back — no single-partition
    # exchange anywhere in the plan.
    total = brand_rev.agg(
        F.sum("brand_rev_dec").alias("total_rev_dec"))
    # both operands of the share quotient are single decimal->double casts
    # of exact sums — bit-identical across engines, so no rounding needed
    return (
        brand_rev.crossJoin(F.broadcast(total))
        .select(
            "p_brand",
            F.col("brand_rev_dec").cast("double").alias("brand_rev"),
            (F.col("brand_rev_dec").cast("double")
             / F.col("total_rev_dec").cast("double"))
            .alias("rev_share"))
        .orderBy("p_brand")
    )


def order_count_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 plan shape (customer order-count distribution): LEFT
    join customers to a FILTERED orders side (so zero-order customers
    survive with count 0), per-customer count, then a count-of-counts
    histogram — two aggregations stacked on one outer join, the
    double-grouping shape none of the other queries exercise.

    Unregistered (the 50-slot driver registry is pinned); DuckDB parity
    asserted in tests/test_queries_extra.py.

    Scale shape: the orders side is pre-filtered AND pre-aggregated to
    (o_custkey, cnt) BEFORE the outer join — the join input shrinks from
    O(orders) rows to O(customers), and the second groupBy runs on the
    tiny histogram domain. A naive left join of raw orders then one wide
    groupBy would shuffle the full fact table; this plan shuffles it
    once for the pre-aggregation and never again."""
    cust, orders = load(spark, sf_dir, "customer", "orders")
    per_cust = (orders.where(F.col("o_orderpriority") != "1-URGENT")
                .groupBy("o_custkey")
                .agg(F.count(F.lit(1)).alias("c_count")))
    counts = (cust.join(per_cust,
                        cust.c_custkey == per_cust.o_custkey, "left")
              .select(F.coalesce("c_count", F.lit(0)).alias("c_count")))
    return (counts.groupBy("c_count")
            .agg(F.count(F.lit(1)).alias("n_customers"))
            .orderBy(F.desc("n_customers"), F.desc("c_count")))


def slow_supplier_blame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 plan shape (suppliers who alone delayed a multi-supplier
    order): for each slow line (shipped >90 days after the order date),
    keep it iff the order HAS lines from another supplier (EXISTS -> a
    semi-join) and NO other supplier's line in the order was also slow
    (NOT EXISTS -> an anti-join) — the stacked correlated-exists shape
    on the same fact table, which decorelates into semi + anti joins on
    (orderkey, suppkey-mismatch) predicates.

    The testdata's lineitem has no commitdate/receiptdate, so the Q21
    'late' predicate is re-based on l_shipdate vs o_orderdate + 90 days
    (reference columns: TPC-H spec Q21; same plan, different literal).

    Unregistered; DuckDB parity in tests/test_queries_extra.py.

    Scale shape: both existence probes are aggregations of the SAME
    pre-shuffled (l_orderkey)-keyed frame (any-other-supplier /
    any-other-slow-supplier as bool_or over a groupBy), so the whole
    query is ONE shuffle of the slim (orderkey, suppkey, slow) columns
    plus broadcast-size joins back — not three self-joins of lineitem,
    which is how a literal EXISTS/NOT-EXISTS translation would run."""
    orders, li, supp = load(spark, sf_dir, "orders", "lineitem", "supplier")
    lines = (li.join(orders.select("o_orderkey", "o_orderdate"),
                     li.l_orderkey == F.col("o_orderkey"))
             .select("l_orderkey", "l_suppkey",
                     (F.col("l_shipdate")
                      > F.date_add("o_orderdate", 90)).alias("slow")))
    # one pass per order: which suppliers appear, which were slow
    per_order = (lines.groupBy("l_orderkey")
                 .agg(F.collect_set("l_suppkey").alias("supps"),
                      F.collect_set(F.when(F.col("slow"),
                                           F.col("l_suppkey")))
                      .alias("slow_supps")))
    blamed = (per_order
              .where(F.size("slow_supps") == 1)
              .where(F.size("supps") >= 2)
              .select(F.element_at("slow_supps", 1).alias("s_suppkey")))
    return (blamed.groupBy("s_suppkey")
            .agg(F.count(F.lit(1)).alias("n_blamed_orders"))
            .join(supp.select("s_suppkey", "s_name"), "s_suppkey")
            .select("s_name", "n_blamed_orders")
            .orderBy(F.desc("n_blamed_orders"), "s_name"))


def fuzzy_name_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy self-join over part names (operators/fuzzy.py — the
    ED-Join/q-gram-count string-similarity join): every distinct
    p_name pair within edit distance 2, blocked by occurrence-tagged
    q-gram multiset overlap before any levenshtein runs. Unregistered;
    brute-force parity (exact DP edit distance) and short-string /
    repeated-gram edge cases in tests/test_fuzzy.py."""
    from aws_payment_data_lake_spark.operators.fuzzy import (
        string_similarity_join,
    )

    (part,) = load(spark, sf_dir, "part")
    return (string_similarity_join(part, "p_name", max_ed=2)
            .orderBy("s_a", "s_b"))
