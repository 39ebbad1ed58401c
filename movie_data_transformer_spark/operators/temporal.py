"""Temporal joins Spark lacks natively: as-of join and range join
(SURVEY.md §2.3 gap-fill; both built from shuffle-friendly primitives, not
inequality-scan joins).

As-of join — "for each left row, the latest right row at-or-before its
timestamp, per key" — implemented with the union+window trick:
  tag rows (right=0, left=1) -> union -> window per key ordered by
  (ts, tag) -> last non-null right payload seen so far -> keep left rows.
ONE shuffle on the key, O(n log n) per partition, no per-row range scan.
(The classic alternative — broadcast right + inequality join — is O(n*m).)

Range join — "pairs of rows of the same key within [0, window] seconds" —
implemented by time-bucketing: each left row joins only buckets b and b+1
of the right side (bucket width = window), then the exact range predicate
filters. Equi-join on (key, bucket): shuffle-partitionable, skew-safe via
AQE; candidate blowup is bounded by bucket occupancy, never n^2.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    right_payload: list[str],
    prefix: str = "asof_",
) -> DataFrame:
    """Left as-of join: latest right row with right_ts <= left_ts per key.
    Right payload columns come back prefixed; NULL when no prior row.
    The right side's unique `event_id` breaks ties among right rows with
    identical timestamps, so the output is deterministic even when the
    right side has duplicate (key, ts)."""
    lt = left.select(
        F.lit(1).alias("_tag"),
        F.col(key).alias("_k"),
        F.col(left_ts).alias("_ts"),
        F.struct(*left.columns).alias("_left"),
        F.lit(None).cast(
            "struct<" + ",".join(f"{c}:{right.schema[c].dataType.simpleString()}" for c in right_payload) + ">"
        ).alias("_right"),
        F.lit(None).cast("long").alias("_seq"),
    )
    rt = right.select(
        F.lit(0).alias("_tag"),
        F.col(key).alias("_k"),
        F.col(right_ts).alias("_ts"),
        F.lit(None).cast(
            "struct<" + ",".join(f"{c}:{left.schema[c].dataType.simpleString()}" for c in left.columns) + ">"
        ).alias("_left"),
        F.struct(*right_payload).alias("_right"),
        F.col("event_id").cast("long").alias("_seq"),
    )
    u = lt.unionByName(rt)
    # right rows (tag 0) sort before left rows (tag 1) at equal ts -> the
    # at-or-before semantics (inclusive) with one total order
    w = (
        Window.partitionBy("_k")
        .orderBy(F.col("_ts").asc(), F.col("_tag").asc(), F.col("_seq").asc_nulls_last())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = u.withColumn("_last_right", F.last("_right", ignorenulls=True).over(w))
    out = carried.filter(F.col("_tag") == 1)
    cols = [F.col(f"_left.{c}").alias(c) for c in left.columns]
    cols += [F.col(f"_last_right.{c}").alias(f"{prefix}{c}") for c in right_payload]
    return out.select(*cols)


def range_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    window_seconds: int,
) -> DataFrame:
    """Pairs (l, r) with same key and r.ts in (l.ts, l.ts + window].
    Bucket-join candidates, exact filter after. Timestamps must be
    TimestampType."""
    bucket = lambda c: F.floor(F.unix_timestamp(F.col(c)) / window_seconds)  # noqa: E731
    l_ = left.select(
        F.col(key).alias("_k"),
        F.col(left_ts).alias("_lts"),
        F.struct(*left.columns).alias("_l"),
        bucket(left_ts).alias("_b"),
    )
    r_ = right.select(
        F.col(key).alias("_rk"),
        F.col(right_ts).alias("_rts"),
        F.struct(*right.columns).alias("_r"),
        F.explode(
            F.array(bucket(right_ts), bucket(right_ts) - 1)
        ).alias("_b"),  # right lands in its own and the previous bucket
    )
    lower = F.col("_rts") > F.col("_lts")
    upper = F.unix_timestamp("_rts") <= F.unix_timestamp("_lts") + window_seconds
    return (
        l_.join(r_, (F.col("_k") == F.col("_rk")) & (l_["_b"] == r_["_b"]))
        .filter(lower & upper)
        .select("_l", "_r", "_lts", "_rts")
    )


def sessionize(events: DataFrame, gap_seconds: int = 21600) -> DataFrame:
    """Gap-based sessionization (batch form of the session window): a new
    session starts when the gap since the user's previous event (`ts`)
    exceeds gap_seconds. Two window passes over ONE partitioning
    (user_id) — lag to flag boundaries, running sum to number sessions —
    so Spark plans a single shuffle and one sort. Ordering ties broken by
    event_id for full determinism; timestamps compared at second grain (matches the
    DuckDB oracle's floor(epoch(ts)))."""
    from pyspark.sql import Window

    ts_s = F.unix_timestamp(F.col("ts"))
    w = Window.partitionBy("user_id").orderBy(ts_s.asc(), F.col("event_id").asc())
    prev = F.lag(ts_s).over(w)
    is_new = F.when(prev.isNull() | ((ts_s - prev) > gap_seconds), 1).otherwise(0)
    running = Window.partitionBy("user_id").orderBy(ts_s.asc(), F.col("event_id").asc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return events.withColumn("ts_s", ts_s).withColumn(
        "session_idx", F.sum(is_new).over(running).cast("bigint")
    )
