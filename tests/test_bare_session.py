"""Queries must return the oracle answer on whatever SparkSession they
are handed. The driver builds a bare session — no
``spark.sql.execution.arrow.pyspark.enabled`` — so the driver-literal
frames of ``localframe.local_frame`` (the range-join band table, the
union-find component table) must build and plan as a LocalTableScan
without that conf."""

from __future__ import annotations

import io
from contextlib import redirect_stdout

import aws_payment_data_lake_spark.queries.dedup as QD
from aws_payment_data_lake_spark.localframe import local_frame
from aws_payment_data_lake_spark.queries import all_queries
from aws_payment_data_lake_spark.sources.store import SessionStore
from tests.conftest import compare_with_oracle


def test_local_frame_consumers_match_oracle_without_arrow_conf(
        spark, duck, monkeypatch):
    bare = spark.newSession()
    bare.conf.set("spark.sql.execution.arrow.pyspark.enabled", "false")
    # a fresh memo, so the component table is built on `bare` rather
    # than served from an earlier test's entry
    monkeypatch.setattr(QD, "_SESSION", SessionStore())
    specs = all_queries()
    for name in ("range_join_price_bands", "dedup_connected_components"):
        compare_with_oracle(bare, duck, specs[name])

    buf = io.StringIO()
    with redirect_stdout(buf):
        local_frame(bare, [(1, [0.5])], "a long, v array<double>").explain()
    assert "LocalTableScan" in buf.getvalue()
    assert "ExistingRDD" not in buf.getvalue()
