"""Measure the incremental ANN index roll vs a full rebuild.

Scenario: a warehouse holds the IVF store for the base 90% of an
embeddings corpus; the corpus rolls by appending the newest 10%.
Compare:
  * ingest roll  — durable_ivf_index with the pure-append gate active:
    frozen centroids, delta-only cell assignment;
  * full rebuild — same roll with ingest=False: retrain + re-assign
    the whole corpus.

Run: python scripts/ingest_probe.py [sf_dir]   (default testdata sf0.1)
Prints one JSON line with build seconds per phase.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import pyspark.sql.functions as F  # noqa: E402

from aws_payment_data_lake_spark.session import get_spark  # noqa: E402
from aws_payment_data_lake_spark.sources import load  # noqa: E402
from aws_payment_data_lake_spark.queries.similarity import (  # noqa: E402
    durable_ivf_index,
)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(app_name="ingest-probe", master=f"local[{cpus}]",
                      shuffle_partitions=int(cpus))
    (emb,) = load(spark, sf_dir, "embeddings")
    n = emb.count()
    cut = int(n * 9) // 10

    scratch = tempfile.mkdtemp(prefix="ingest-probe-")
    try:
        base_dir = os.path.join(scratch, "corpus_base")
        full_dir = os.path.join(scratch, "corpus_full")
        emb.where(F.col("vec_id") < cut).coalesce(4).write.parquet(
            os.path.join(base_dir, "embeddings.parquet"))
        emb.coalesce(4).write.parquet(
            os.path.join(full_dir, "embeddings.parquet"))

        def roll(wh: str, ingest: bool) -> dict:
            t0 = time.perf_counter()
            (_, a1), b1 = durable_ivf_index(spark, base_dir, wh)
            t1 = time.perf_counter()
            (_, a2), b2 = durable_ivf_index(spark, full_dir, wh,
                                            ingest=ingest)
            t2 = time.perf_counter()
            assert b1 and b2
            assert a2.count() == n
            return {"base_build_sec": round(t1 - t0, 3),
                    "roll_sec": round(t2 - t1, 3)}

        # warm the Arrow python workers + parquet committers so the
        # first measured roll doesn't eat the one-time spin-up (the
        # bench.py warm-up rationale); full rebuild measured FIRST so
        # any residual warm-up bias works AGAINST the ingest claim
        roll(os.path.join(scratch, "wh_warm"), ingest=True)
        full = roll(os.path.join(scratch, "wh_full"), ingest=False)
        ingest = roll(os.path.join(scratch, "wh_ingest"), ingest=True)
        print(json.dumps({
            "sf_dir": sf_dir, "n_vectors": n, "delta_frac": 0.1,
            "ingest_roll": ingest, "full_rebuild_roll": full,
            "roll_speedup": round(
                full["roll_sec"] / ingest["roll_sec"], 2)}))
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
