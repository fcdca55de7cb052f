"""View->purchase attribution: a time-bounded event self-join, the plan
the registered query runs (queries/relational.py)."""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame


def view_purchase_attribution_batch(events: DataFrame,
                                    attribution_window: str = "1 hour",
                                    ) -> DataFrame:
    """Every (view, purchase) pair for the same user with the purchase
    at most `attribution_window` after the view."""
    views = (events.where(F.col("event_type") == "view")
             .select(F.col("user_id").alias("v_user"),
                     F.col("event_id").alias("view_event_id"),
                     F.col("ts").alias("view_ts")))
    purchases = (events.where(F.col("event_type") == "purchase")
                 .select(F.col("user_id").alias("p_user"),
                         F.col("event_id").alias("purchase_event_id"),
                         F.col("ts").alias("purchase_ts"),
                         F.col("value").alias("purchase_value")))
    return (
        views.join(
            purchases,
            (F.col("v_user") == F.col("p_user"))
            & (F.col("purchase_ts") >= F.col("view_ts"))
            & (F.col("purchase_ts")
               <= F.col("view_ts") + F.expr(f"INTERVAL {attribution_window}")),
            "inner")
        .select(F.col("v_user").alias("user_id"),
                "view_event_id", "purchase_event_id",
                "view_ts", "purchase_ts",
                F.round("purchase_value", 4).alias("purchase_value"))
    )
