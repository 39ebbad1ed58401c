"""Registry entries for the temporal joins (as-of, range) over events."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from movie_data_transformer_spark.operators.temporal import asof_join, range_join, sessionize
from movie_data_transformer_spark.sources.tables import load_table


def q_asof_view_before_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For each purchase: the user's most recent view at-or-before it."""
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts", "value"
    )
    out = asof_join(
        purchases,
        views,
        key="user_id",
        left_ts="ts",
        right_ts="ts",
        right_payload=["ts", "value", "event_id"],
        prefix="view_",
    )
    return out.select(
        "event_id",
        "user_id",
        F.unix_timestamp("ts").alias("ts_s"),
        F.unix_timestamp("view_ts").alias("view_ts_s"),
        "view_value",
        "view_event_id",
    )


SQL_ASOF_VIEW_BEFORE_PURCHASE = """
WITH tagged AS (
    SELECT 1 AS tag, event_id, user_id, ts,
           NULL::TIMESTAMP AS v_ts, NULL::DOUBLE AS v_value, NULL::BIGINT AS v_eid
    FROM events WHERE event_type = 'purchase'
    UNION ALL
    SELECT 0, NULL, user_id, ts, ts, value, event_id
    FROM events WHERE event_type = 'view'
),
w AS (
    SELECT *,
           last_value(v_ts IGNORE NULLS) OVER win AS lv_ts,
           last_value(v_value IGNORE NULLS) OVER win AS lv_value,
           last_value(v_eid IGNORE NULLS) OVER win AS lv_eid
    FROM tagged
    WINDOW win AS (PARTITION BY user_id
                   ORDER BY ts ASC, tag ASC, v_eid ASC NULLS LAST
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT event_id, user_id,
       CAST(floor(epoch(ts)) AS BIGINT) AS ts_s,
       CAST(floor(epoch(lv_ts)) AS BIGINT) AS view_ts_s,
       lv_value AS view_value,
       lv_eid AS view_event_id
FROM w WHERE tag = 1
"""


def q_range_join_conversions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """view -> purchase conversions: same user, purchase strictly after the
    view and within 10 minutes (bucketed range join)."""
    ev = load_table(spark, sf_dir, "events")
    views = ev.filter(F.col("event_type") == "view").select("event_id", "user_id", "ts")
    purchases = ev.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    out = range_join(views, purchases, key="user_id", left_ts="ts", right_ts="ts", window_seconds=600)
    return out.select(
        F.col("_l.event_id").alias("view_id"),
        F.col("_r.event_id").alias("purchase_id"),
        F.col("_l.user_id").alias("user_id"),
        (F.unix_timestamp("_rts") - F.unix_timestamp("_lts")).alias("delta_s"),
    )


SQL_RANGE_JOIN_CONVERSIONS = """
SELECT v.event_id AS view_id, p.event_id AS purchase_id, v.user_id,
       CAST(floor(epoch(p.ts)) - floor(epoch(v.ts)) AS BIGINT) AS delta_s
FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'view') v
JOIN (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') p
  ON v.user_id = p.user_id
 AND p.ts > v.ts
 AND floor(epoch(p.ts)) <= floor(epoch(v.ts)) + 600
"""


def q_sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessions per user (6h inactivity closes a session):
    one row per session with span and activity aggregates."""
    ev = load_table(spark, sf_dir, "events")
    s = sessionize(ev, gap_seconds=21600)
    return s.groupBy("user_id", "session_idx").agg(
        F.min("ts_s").alias("session_start_s"),
        F.max("ts_s").alias("session_end_s"),
        F.count("*").alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("sum_value"),
    )


SQL_SESSIONIZE_EVENTS = """
WITH e AS (
    SELECT user_id, event_id, value,
           CAST(floor(epoch(ts)) AS BIGINT) AS ts_s
    FROM events
),
m AS (
    SELECT *, CASE WHEN lag(ts_s) OVER w IS NULL
                     OR ts_s - lag(ts_s) OVER w > 21600 THEN 1 ELSE 0 END AS is_new
    FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_s ASC, event_id ASC)
),
s AS (
    SELECT *, CAST(sum(is_new) OVER (PARTITION BY user_id
                                     ORDER BY ts_s ASC, event_id ASC
                                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
    FROM m
)
SELECT user_id, session_idx,
       min(ts_s) AS session_start_s,
       max(ts_s) AS session_end_s,
       count(*) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
FROM s GROUP BY user_id, session_idx
"""


def q_scd2_point_in_time_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time join against an SCD2 dimension: each view event picks
    the user's dimension version (built from purchases, lm_queries.py's
    scd2_user_value shape) whose validity interval [valid_from, valid_to)
    contains the view timestamp — the feature-store / training-data
    correctness primitive (no leakage from future versions).

    Spark side: NOT an inequality interval join (O(n*m) nested loop at
    scale) — because SCD2 intervals TILE each user's timeline, the
    version containing ts is exactly the latest version with
    valid_from <= ts, so this is the as-of join (one shuffle,
    union+window). Degenerate same-timestamp versions ([ts, ts) = empty)
    are skipped by the event_id tiebreak: the max event_id among
    equal-ts versions is the one whose interval is non-empty.

    The ORACLE is deliberately the OTHER formulation — a literal
    LEFT JOIN on the interval-containment predicate — so the
    rewrite's equivalence (as-of == interval containment, boundary and
    degenerate-interval cases included) is what the hash check binds.
    """
    ev = load_table(spark, sf_dir, "events")
    views = ev.filter(F.col("event_type") == "view").select("event_id", "user_id", "ts")
    versions = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select("event_id", "user_id", "ts", "value")
    )
    out = asof_join(
        views,
        versions,
        key="user_id",
        left_ts="ts",
        right_ts="ts",
        right_payload=["event_id", "value", "ts"],
        prefix="dim_",
    )
    return out.select(
        "event_id",
        "user_id",
        F.unix_timestamp("ts").alias("ts_s"),
        F.col("dim_event_id"),
        F.col("dim_value"),
        F.unix_timestamp("dim_ts").alias("dim_valid_from_s"),
        F.when(F.col("dim_event_id").isNull(), 0).otherwise(1).alias("is_covered"),
    )


SQL_SCD2_POINT_IN_TIME_JOIN = """
WITH dim AS (
    SELECT user_id, event_id AS dim_event_id, value AS dim_value,
           ts AS valid_from,
           lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to
    FROM events WHERE event_type = 'purchase'
),
v AS (
    SELECT event_id, user_id, ts FROM events WHERE event_type = 'view'
)
SELECT v.event_id, v.user_id,
       CAST(floor(epoch(v.ts)) AS BIGINT) AS ts_s,
       d.dim_event_id, d.dim_value,
       CAST(floor(epoch(d.valid_from)) AS BIGINT) AS dim_valid_from_s,
       CASE WHEN d.dim_event_id IS NULL THEN 0 ELSE 1 END AS is_covered
FROM v LEFT JOIN dim d
  ON v.user_id = d.user_id
 AND v.ts >= d.valid_from
 AND (d.valid_to IS NULL OR v.ts < d.valid_to)
"""


QUERIES = {
    "asof_view_before_purchase": (q_asof_view_before_purchase, SQL_ASOF_VIEW_BEFORE_PURCHASE),
    "range_join_conversions": (q_range_join_conversions, SQL_RANGE_JOIN_CONVERSIONS),
    "sessionize_events": (q_sessionize_events, SQL_SESSIONIZE_EVENTS),
    "scd2_point_in_time_join": (q_scd2_point_in_time_join, SQL_SCD2_POINT_IN_TIME_JOIN),
}
