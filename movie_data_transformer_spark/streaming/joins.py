"""Stream-stream join: view->purchase conversions as a continuous query.

The streaming twin of operators/temporal.range_join: two event streams
joined per user with a time-range predicate. Watermarks bound both sides'
state — a view older than 20 minutes can never match a future purchase,
so Spark evicts it. Batch replay of the same function (the range_join
query) is the correctness oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def stream_conversions(views: DataFrame, purchases: DataFrame) -> DataFrame:
    """Inner stream-stream join: purchase strictly after the view, within
    600 seconds, same user. Both inputs are streaming DataFrames with
    event-time column `ts`, watermarked 20 minutes behind."""
    v = views.select(
        F.col("event_id").alias("view_id"),
        F.col("user_id").alias("v_user"),
        F.col("ts").alias("v_ts"),
    ).withWatermark("v_ts", "20 minutes")
    p = purchases.select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    ).withWatermark("p_ts", "20 minutes")
    cond = (
        (F.col("v_user") == F.col("p_user"))
        & (F.col("p_ts") > F.col("v_ts"))
        & (F.unix_timestamp("p_ts") <= F.unix_timestamp("v_ts") + 600)
    )
    return v.join(p, cond).select(
        "view_id",
        "purchase_id",
        F.col("v_user").alias("user_id"),
        (F.unix_timestamp("p_ts") - F.unix_timestamp("v_ts")).alias("delta_s"),
    )
