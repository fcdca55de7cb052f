"""Scoped txlog compaction (OPTIMIZE ... WHERE): files outside the
scope keep their bytes, through the Python API and through SQL."""

from __future__ import annotations


# ----------------------------------------------- OPTIMIZE ... WHERE (r9)
def test_scoped_compact_touches_only_overlapping_files(spark, tmp_path):
    """OPTIMIZE WHERE: files whose footer stats fall outside the scope
    keep their bytes — at 100 TB you optimize the day's ingest, not
    the table."""
    import glob
    import os

    from aws_payment_data_lake_spark.sources.txlog import TxnTable

    t = TxnTable(spark, str(tmp_path / "scoped"))
    t.create(spark.range(100).selectExpr("id", "id AS v"),
             partition_by=["id"], partition_files=4)
    # fragment the low range only
    for k in range(3):
        t.append(spark.createDataFrame([(k, k)], "id long, v long"))
    state = {p: os.path.getmtime(p) for p in
             glob.glob(os.path.join(t.path, "data", "*", "*.parquet"))}
    res = t.compact(max_files=1, scope=("id", 0, 10))
    assert res["noop"] == 0
    # files covering the high ranges are byte-identical
    snap = t._replay()
    survivors = [p for p, mt in state.items()
                 if os.path.exists(p) and os.path.getmtime(p) == mt]
    assert len(survivors) >= 3          # the 3 upper-range base files
    assert sorted(r["id"] for r in t.snapshot().collect()) \
        == sorted(list(range(100)) + [0, 1, 2])
    # scoped zorder: same selection contract
    res2 = t.optimize(["v"], n_files=1, scope=("id", 90, 99))
    assert 0 < res2["files_in"] < len(snap.live)


def test_scoped_optimize_sql(spark, tmp_path):
    from aws_payment_data_lake_spark.sources.txsql import (
        LakehouseCatalog,
    )

    cat = LakehouseCatalog(spark)
    cat.register("sc", str(tmp_path / "sc"))
    spark.range(100).selectExpr("id", "id AS v") \
        .createOrReplaceTempView("__sc_seed")
    cat.sql("CREATE TABLE sc USING txlog PARTITIONED BY (id) "
            "AS SELECT * FROM __sc_seed")
    # fragment the low range past the 16-file bin target
    for k in range(18):
        cat.sql(f"INSERT INTO sc VALUES ({k % 5}, {k})")
    res = {r["metric"]: r["value"] for r in cat.sql(
        "OPTIMIZE sc WHERE id BETWEEN 0 AND 5").collect()}
    assert res["noop"] == 0
    assert res["files_in"] > res["files_out"]
    assert cat.sql("SELECT count(*) AS n FROM sc").first()["n"] == 118
