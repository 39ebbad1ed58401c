"""Interval analytics without interval joins: the sweep-line pattern.

`session_concurrency_steps` computes the exact concurrency profile of
gap-sessionized user sessions (how many sessions are open at every
moment) WITHOUT any interval-overlap join: each session contributes a
+1 delta at its start second and a -1 at end+1, deltas are aggregated
per timestamp, and one ordered running sum yields the step function.
The naive formulation — self-join sessions on `a.start <= b.end AND
b.start <= a.end` — is quadratic in concurrent sessions (every pair of
overlapping intervals materializes); the sweep line is linear in
sessions, exact, and scales as a groupBy + one range-sorted window over
a 2x|sessions| table. This is how a 100 TB engine should answer
"peak concurrent users", "load profile", and interval-stabbing
questions generally.

All integer-second arithmetic (unix_timestamp truncation == DuckDB
floor(epoch()), NOTES.md pitfall list); FULL oracle. The global ORDER
BY window is over the step table (2 rows per session, tiny relative to
events); at extreme scale it range-partitions like any global sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from movie_data_transformer_spark.operators.ordered_stats import attach_order_stats
from movie_data_transformer_spark.operators.temporal import sessionize
from movie_data_transformer_spark.sources.tables import load_table

GAP_S = 21600


def concurrency_steps(sessions: DataFrame) -> DataFrame:
    """(t_s, n_open): the exact step function of open-interval count for
    (start_s, end_s) inclusive-second intervals. One row per timestamp
    where concurrency changes; n_open holds on [t_s, next t_s)."""
    deltas = sessions.selectExpr(
        "session_start_s AS t_s", "CAST(1 AS BIGINT) AS delta"
    ).unionAll(
        sessions.selectExpr("session_end_s + 1 AS t_s", "CAST(-1 AS BIGINT) AS delta")
    )
    # two-pass prefix sum (ordered_stats) over the step table — the old
    # un-partitioned window was Exchange SinglePartition over |distinct
    # event times|, which is data-sized here
    return attach_order_stats(
        deltas.groupBy("t_s").agg(F.sum("delta").alias("d")),
        [F.col("t_s").asc()],
        "t_s",
        False,
        running={"n_open": "d"},
    ).selectExpr("t_s", "CAST(n_open AS BIGINT) AS n_open")


def q_session_concurrency_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    s = sessionize(ev, gap_seconds=GAP_S)
    sessions = s.groupBy("user_id", "session_idx").agg(
        F.min("ts_s").alias("session_start_s"),
        F.max("ts_s").alias("session_end_s"),
    )
    return concurrency_steps(sessions)


SQL_SESSION_CONCURRENCY_STEPS = f"""
WITH e AS (
    SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_s
    FROM events
),
m AS (
    SELECT *, CASE WHEN lag(ts_s) OVER w IS NULL
                     OR ts_s - lag(ts_s) OVER w > {GAP_S} THEN 1 ELSE 0 END AS is_new
    FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_s ASC, event_id ASC)
),
s AS (
    SELECT *, CAST(sum(is_new) OVER (PARTITION BY user_id
                                     ORDER BY ts_s ASC, event_id ASC
                                     ROWS UNBOUNDED PRECEDING) AS BIGINT)
                  AS session_idx
    FROM m
),
sess AS (
    SELECT user_id, session_idx,
           min(ts_s) AS session_start_s, max(ts_s) AS session_end_s
    FROM s GROUP BY 1, 2
),
deltas AS (
    SELECT session_start_s AS t_s, CAST(1 AS BIGINT) AS delta FROM sess
    UNION ALL
    SELECT session_end_s + 1, CAST(-1 AS BIGINT) FROM sess
),
agg AS (SELECT t_s, CAST(sum(delta) AS BIGINT) AS d FROM deltas GROUP BY 1)
SELECT t_s,
       CAST(sum(d) OVER (ORDER BY t_s ROWS BETWEEN UNBOUNDED PRECEDING
           AND CURRENT ROW) AS BIGINT) AS n_open
FROM agg
"""


TOP_PATHS = 25


def q_session_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clickstream path mining: the most common event-type SEQUENCES per
    session (the '->'-joined path string), counted across all sessions —
    the navigation report every behavioral pipeline ships. Order inside
    a session is the (ts_s, event_id) total order; ranking ties break on
    the path string, so the top-k is deterministic. One shuffle to
    session grain, one to path counts, one top-k window."""
    ev = load_table(spark, sf_dir, "events")
    s = sessionize(ev, gap_seconds=GAP_S)
    paths = (
        s.groupBy("user_id", "session_idx")
        .agg(
            F.expr(
                "concat_ws('->', transform(array_sort(collect_list("
                "named_struct('t', ts_s, 'e', event_id, 'y', event_type))),"
                " x -> x.y))"
            ).alias("path")
        )
        .groupBy("path")
        .agg(F.count("*").cast("bigint").alias("n_sessions"))
    )
    # top-k via orderBy+limit (TakeOrdered — parallel partial top-k per
    # partition), NOT a global row_number window + filter, which funneled
    # every path row through Exchange SinglePartition; the rank is then
    # re-derived over the <= TOP_PATHS survivors (bounded window)
    return (
        paths.orderBy(F.col("n_sessions").desc(), F.col("path").asc())
        .limit(TOP_PATHS)
        .selectExpr(
            "path",
            "n_sessions",
            "CAST(row_number() OVER (ORDER BY n_sessions DESC, path ASC) AS INT)"
            " AS rk",
        )
    )


SQL_SESSION_TOP_PATHS = f"""
WITH e AS (
    SELECT user_id, event_id, event_type,
           CAST(floor(epoch(ts)) AS BIGINT) AS ts_s
    FROM events
),
m AS (
    SELECT *, CASE WHEN lag(ts_s) OVER w IS NULL
                     OR ts_s - lag(ts_s) OVER w > {GAP_S} THEN 1 ELSE 0 END AS is_new
    FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_s ASC, event_id ASC)
),
s AS (
    SELECT *, CAST(sum(is_new) OVER (PARTITION BY user_id
                                     ORDER BY ts_s ASC, event_id ASC
                                     ROWS UNBOUNDED PRECEDING) AS BIGINT)
                  AS session_idx
    FROM m
),
paths AS (
    SELECT string_agg(event_type, '->' ORDER BY ts_s ASC, event_id ASC)
               AS path
    FROM s GROUP BY user_id, session_idx
),
counts AS (
    SELECT path, CAST(count(*) AS BIGINT) AS n_sessions
    FROM paths GROUP BY path
)
SELECT path, n_sessions, CAST(rk AS INT) AS rk FROM (
    SELECT *, row_number() OVER (ORDER BY n_sessions DESC, path ASC) AS rk
    FROM counts
) WHERE rk <= {TOP_PATHS}
"""


QUERIES = {
    "session_concurrency_steps": (
        q_session_concurrency_steps,
        SQL_SESSION_CONCURRENCY_STEPS,
    ),
    "session_top_paths": (q_session_top_paths, SQL_SESSION_TOP_PATHS),
}
