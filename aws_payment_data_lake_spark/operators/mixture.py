"""Domain-mixture resampling: per-source epoch weights -> deterministic
copy counts, the step that turns a curated corpus into a training
mixture ("web at 0.5 epochs, books at 2.25").

A weight w means every doc of that source contributes floor(w)
guaranteed copies plus one more with probability frac(w). The
"probability" is a pure function of the doc id — u = hash60(id + salt)
compared against a PRE-COMPUTED integer threshold frac(w) * 2^60 — so
membership is reproducible at any partition count, on any engine, and
stable as the corpus grows (the same property text_train_test_split
leans on). Thresholds are computed ONCE driver-side and embedded as
64-bit literals: no float arithmetic in the row path, and the DuckDB
oracle embeds the identical integers.

Scale shape: one scan, a literal CASE over sources, one `explode` of a
copy-index sequence (output rows ∝ sum of weights — the training
mixture's true size). No shuffle, no join, no collect.
"""

from __future__ import annotations

import math

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from aws_payment_data_lake_spark.functions import hash60

_TWO_60 = 1 << 60


def _copies_expr(weights: dict[str, float], default_weight: float,
                 id_col: str, key_col: str, salt: str) -> Column:
    """n_copies column: floor(w) + (hash60(id+salt) < frac(w)*2^60)."""
    u = hash60(F.concat(F.col(id_col).cast("string"), F.lit(salt)))

    def n_copies(w: float) -> Column:
        base, thr = int(math.floor(w)), int(round((w % 1.0) * _TWO_60))
        return F.lit(base) + (u < F.lit(thr)).cast("int")

    expr = n_copies(default_weight)
    for src in sorted(weights):  # sorted -> deterministic plan text
        expr = F.when(F.col(key_col) == src, n_copies(weights[src])) \
            .otherwise(expr)
    return expr


def mixture_resample(docs: DataFrame, weights: dict[str, float],
                     default_weight: float = 1.0, id_col: str = "doc_id",
                     key_col: str = "source",
                     salt: str = ":mix") -> DataFrame:
    """One output row per (doc, copy): (doc_id, <key_col>, n_copies,
    copy_idx with copy_idx in 1..n_copies). Zero-copy docs drop out —
    that is the downsampling. Sources absent from ``weights`` get
    ``default_weight``. The salt isolates this hash use from the
    train/test split and shard-stream hashes over the same ids."""
    def _ok(w) -> bool:
        return isinstance(w, (int, float)) and math.isfinite(w) and w >= 0

    bad = {k: w for k, w in weights.items() if not _ok(w)}
    if bad or not _ok(default_weight):
        label = dict(bad)
        if not _ok(default_weight):
            label["default_weight"] = default_weight
        raise ValueError(
            f"mixture weights must be finite and >= 0, got {label} — a "
            "negative weight would silently drop every doc of that "
            "source (floor(w) < 0) and NaN fails deep in plan build")
    n = _copies_expr(weights, default_weight, id_col, key_col, salt)
    return (
        docs.select(F.col(id_col).alias("doc_id"), F.col(key_col),
                    n.alias("n_copies"))
        .where(F.col("n_copies") > 0)
        .select("doc_id", key_col, "n_copies",
                F.explode(F.sequence(F.lit(1), F.col("n_copies")))
                .alias("copy_idx"))
    )
