"""Event-time windowed aggregation (SURVEY.md §7 M4).

The reference has only arrival-time micro-batching (op 12) and a
last-write-wins late-data policy (ops 10-11). These operators are the
principled event-time generalization: tumbling/sliding/session windows and
keyed deduplication, written against the DataFrame API so the SAME
function runs in batch (oracle-checkable, deterministic replay) and in
Structured Streaming (with withWatermark bounding state).

Window starts are emitted as epoch seconds (BIGINT): timezone-independent
for oracle comparison, and Spark's window() aligns tumbling/sliding
buckets to the epoch, so `floor(epoch/width)*width` is the exact ANSI
equivalent.

Scale: a streaming tumbling agg is a partial-agg -> shuffle-by
(key, window) -> final-agg with state eviction by watermark; bounded
state per key*window, no driver involvement. Session windows use Spark's
built-in session_window (state merges adjacent sessions).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def tumbling_counts(events: DataFrame) -> DataFrame:
    """Per event_type 1-hour tumbling-window counts + exact value sums. On a
    stream, call it on `events.withWatermark("ts", ...)`: the watermark
    bounds state and drops events older than it (the event-time upgrade
    of the reference's LWW late-data policy)."""
    return (
        events.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("sum_value"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("bucket_start"),
            "event_type",
            "n_events",
            # final projection: exact decimal -> double (DecimalType in a
            # registry result breaks the driver's pandas canon; see
            # functions.core.money_out)
            F.col("sum_value").cast("double").alias("sum_value"),
        )
    )


def sliding_counts(events: DataFrame) -> DataFrame:
    """1-hour windows sliding every 30 minutes: each event lands in 2
    overlapping buckets."""
    return (
        events.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.unix_timestamp(F.col("w.start")).alias("bucket_start"),
            "event_type",
            "n_events",
        )
    )


def session_windows(events: DataFrame) -> DataFrame:
    """Per-user sessionization with a 30-minute inactivity gap."""
    return (
        events.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.unix_timestamp(F.col("w.start")).alias("session_start"),
            "n_events",
        )
    )


def dedup_events(events: DataFrame) -> DataFrame:
    """Keyed dedup: first event per (user, type, day). Batch == DISTINCT on
    the keys; streaming == dropDuplicates bounded by a watermark."""
    keyed = events.select(
        "user_id",
        "event_type",
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
    )
    return keyed.dropDuplicates(["user_id", "event_type", "day"])


