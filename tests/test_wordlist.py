"""C4 banned-wordlist stage (operators/wordlist.py): flag semantics,
drop semantics, case-insensitivity, token-vs-phrase matching, and a
DuckDB parity check on the real corpus."""

from __future__ import annotations

from tests.conftest import SF_DIR

from aws_payment_data_lake_spark.operators.wordlist import wordlist_flags
from aws_payment_data_lake_spark.sources import load


def test_flag_semantics(spark):
    rows = [(1, "a SLOW day"),                  # case-insensitive word
            (2, "slowly moving"),               # substring is NOT a token
            (3, "the slow join path"),          # word + phrase = 2
            (4, "clean text here"),
            (5, "legacy slow code")]            # two distinct words
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {r["doc_id"]: (r["n_blocked"], r["has_blocked"])
           for r in wordlist_flags(docs).collect()}
    assert got == {1: (1, True), 2: (0, False), 3: (2, True),
                   4: (0, False), 5: (2, True)}


def test_corpus_parity_with_duckdb(spark, duck):
    """Flag counts on the real corpus match an independent DuckDB
    replay (list_intersect dedupes like array_intersect — asserted by
    the comparison itself)."""
    (docs,) = load(spark, SF_DIR, "documents")
    got = (wordlist_flags(docs)
           .selectExpr("doc_id", "n_blocked", "has_blocked")
           .orderBy("doc_id"))
    sql = f"""
    SELECT doc_id,
           CAST(len(list_intersect(list_distinct(
                 string_split(lower(text),' ')), ['slow','legacy']))
               + CASE WHEN contains(lower(text),'slow join')
                      THEN 1 ELSE 0 END AS BIGINT) AS n_blocked,
           (len(list_intersect(list_distinct(
                 string_split(lower(text),' ')), ['slow','legacy']))
               + CASE WHEN contains(lower(text),'slow join')
                      THEN 1 ELSE 0 END) > 0 AS has_blocked
    FROM read_parquet('{SF_DIR}/documents.parquet')
    ORDER BY doc_id
    """
    from aws_payment_data_lake_spark.oracle import compare_spark_duck

    assert compare_spark_duck(got, duck, sql) == []
