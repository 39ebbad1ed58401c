"""Preference-pair construction — the data-prep step for
RLHF/DPO-style training: per user, emit one (chosen, rejected) pair of
purchase events, chosen = the highest-valued purchase, rejected = the
lowest (deterministic tie-break by event_id ASC on both ends), with the
preference margin. Downstream consumers: reward-model training batches,
or the recsys eval family already shipped.

Money discipline: `value` is a 2-decimal double, so it is converted to
exact integer CENTS up front (floor(value*100 + 0.5) — identical in
both engines on halves because .005 doubles are not exact and the
fixture's two-decimal values round identically); every comparison and
margin after that is exact bigint.

Entry `pref_pairs_build` (FULL DuckDB oracle): per user with >= 2
purchase events — user_id, chosen_event_id, rejected_event_id,
chosen_cents, rejected_cents, margin_cents. Users whose purchases all
tie still emit a pair with margin 0 (chosen/rejected then differ only
by event_id ordering — documented, pinned in pytest).

Scale: filter pushes to the parquet scan (PushedFilters on
event_type); ONE user-keyed shuffle feeds a sort-free max_by/min_by
aggregate with map-side partials (no rank windows, no hi x lo join —
plan-pinned at one exchange in test_plan_shapes_hold). Output is one
row per user — bounded by the user dimension.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from movie_data_transformer_spark.sources.tables import load_table

_CENTS = "CAST(floor(value * 100 + 0.5) AS BIGINT)"


def q_pref_pairs_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    # sort-free argmax/argmin fold: ONE user-keyed aggregate with
    # map-side partial max_by/min_by — no rank
    # windows, no hi x lo self-join, one exchange total (plan-pinned in
    # test_plan_shapes_hold). Tie-breaks ride the ordering structs:
    # chosen = max by (cents, -event_id) => highest cents, lowest id;
    # rejected = min by (cents, event_id) => lowest cents, lowest id.
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter("event_type = 'purchase'").selectExpr(
        "user_id", "event_id", f"{_CENTS} AS cents"
    )
    return (
        purchases.groupBy("user_id")
        .agg(
            F.count("*").alias("_n"),
            F.expr(
                "max_by(named_struct('e', event_id, 'c', cents),"
                " named_struct('c', cents, 'e', -event_id))"
            ).alias("hi"),
            F.expr(
                "min_by(named_struct('e', event_id, 'c', cents),"
                " named_struct('c', cents, 'e', event_id))"
            ).alias("lo"),
        )
        .filter("_n >= 2")
        .selectExpr(
            "user_id",
            "hi.e AS chosen_event_id",
            "lo.e AS rejected_event_id",
            "hi.c AS chosen_cents",
            "lo.c AS rejected_cents",
            "hi.c - lo.c AS margin_cents",
        )
    )


SQL_PREF_PAIRS_BUILD = f"""
WITH purchases AS (
    SELECT user_id, event_id, {_CENTS} AS cents
    FROM events WHERE event_type = 'purchase'
),
ranked AS (
    SELECT user_id, event_id, cents,
           row_number() OVER (PARTITION BY user_id
                              ORDER BY cents DESC, event_id) AS rn_hi,
           row_number() OVER (PARTITION BY user_id
                              ORDER BY cents ASC, event_id) AS rn_lo,
           count(*) OVER (PARTITION BY user_id) AS n
    FROM purchases
),
eligible AS (SELECT * FROM ranked WHERE n >= 2)
SELECT h.user_id,
       h.event_id AS chosen_event_id,
       l.event_id AS rejected_event_id,
       h.cents AS chosen_cents,
       l.cents AS rejected_cents,
       h.cents - l.cents AS margin_cents
FROM (SELECT * FROM eligible WHERE rn_hi = 1) h
JOIN (SELECT * FROM eligible WHERE rn_lo = 1) l ON l.user_id = h.user_id
"""


QUERIES = {
    "pref_pairs_build": (q_pref_pairs_build, SQL_PREF_PAIRS_BUILD),
}
