"""Per-user Markov typicality — scoring each user's OWN event sequence
against the corpus-wide first-order transition matrix. The matrix
itself already ships as `events_transition_matrix`
(behavior_queries.py — same (ts, event_id) ordering, same micro
row-stochastic form); this module deliberately registers ONLY the
novel scoring entry on top of that semantics, so the registry carries
no duplicate surface (an earlier `events_markov_transitions` entry was
REMOVED for exactly that reason — registry hygiene note in NOTES.md).
Typicality (mean transition probability of a user's consecutive pairs
under the global matrix) is the cheap exact stand-in for sequence
log-likelihood that needs no transcendentals — the per-user
"how ordinary is this behavior" score bot/anomaly triage sorts by
(complement: events_bot_score's burst features).

Entry (FULL DuckDB oracle, exact bigint micro units):
- `events_markov_user_typicality`: per user — n_transitions and
  typicality_micro = sum of the global p_micro over the user's own
  consecutive pairs, DIV n_transitions. The global matrix (|types|^2
  <= 25 rows) joins back BROADCAST.

Ordering: transitions pair consecutive events per user by (ts, event_id)
— event_id breaks timestamp ties, the cross-engine total-order rule.

Scale: one shuffle on user_id for the lag window; the matrix itself is a
k^2-row aggregate (map-side combinable), broadcast back for typicality —
no second fact shuffle beyond the per-user agg that reuses the same
user_id partitioning. At 100 TB the window's per-user groups are
bounded by per-user activity; a pathological single-user firehose would
be the same skew class as sessionize_events (documented there; salt by
day if it ever binds).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from movie_data_transformer_spark.sources.tables import load_table


def _pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.select(
            "user_id",
            F.col("event_type").alias("from_type"),
            F.lead("event_type").over(w).alias("to_type"),
        )
        .filter(F.col("to_type").isNotNull())
    )


_PAIRS_CTE = """
pairs AS (
    SELECT user_id, event_type AS from_type,
           lead(event_type) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS to_type
    FROM events
),
trans AS (SELECT * FROM pairs WHERE to_type IS NOT NULL),
matrix AS (
    SELECT from_type, to_type,
           CAST(count(*) AS BIGINT) AS n_transitions,
           CAST(count(*) * 1000000 //
                sum(count(*)) OVER (PARTITION BY from_type) AS BIGINT)
               AS p_micro
    FROM trans GROUP BY from_type, to_type
)"""


def _user_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE fact scan reduced to the (user_id, from_type, to_type) grain
    with its transition count n."""
    return (
        _pairs(spark, sf_dir)
        .groupBy("user_id", "from_type", "to_type")
        .agg(F.count("*").cast("bigint").alias("n"))
    )


def _transition_matrix(ut: DataFrame) -> DataFrame:
    """The global matrix (from_type, to_type, n_transitions, p_micro),
    rolled up from the user-transition aggregate (never re-scanning
    events)."""
    counts = ut.groupBy("from_type", "to_type").agg(
        F.sum("n").cast("bigint").alias("n_transitions")
    )
    w_row = Window.partitionBy("from_type")
    return counts.select(
        "from_type",
        "to_type",
        F.expr("CAST(n_transitions * 1000000 AS BIGINT)").alias("_num"),
        "n_transitions",
        F.sum("n_transitions").over(w_row).alias("_den"),
    ).selectExpr(
        "from_type",
        "to_type",
        "n_transitions",
        "CAST(_num DIV _den AS BIGINT) AS p_micro",
    )


def q_events_markov_user_typicality(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    # ONE fact scan: the matrix rolls up from the user-transition
    # aggregate and broadcasts back onto it
    ut = _user_transitions(spark, sf_dir)
    matrix = _transition_matrix(ut).select("from_type", "to_type", "p_micro")
    joined = ut.join(F.broadcast(matrix), ["from_type", "to_type"])
    return (
        joined.groupBy("user_id")
        .agg(
            F.sum("n").cast("bigint").alias("n_transitions"),
            F.sum(F.expr("n * p_micro")).cast("bigint").alias("_sum_p"),
        )
        .selectExpr(
            "user_id",
            "n_transitions",
            "CAST(_sum_p DIV n_transitions AS BIGINT) AS typicality_micro",
        )
    )


SQL_EVENTS_MARKOV_USER_TYPICALITY = f"""
WITH {_PAIRS_CTE}
SELECT t.user_id,
       CAST(count(*) AS BIGINT) AS n_transitions,
       CAST(sum(m.p_micro) // count(*) AS BIGINT) AS typicality_micro
FROM trans t
JOIN matrix m ON t.from_type = m.from_type AND t.to_type = m.to_type
GROUP BY t.user_id
"""


QUERIES = {
    "events_markov_user_typicality": (
        q_events_markov_user_typicality,
        SQL_EVENTS_MARKOV_USER_TYPICALITY,
    ),
}
