"""Two-sample Kolmogorov–Smirnov statistic, EXACT — the standard
distribution-shift test a data pipeline runs between cohorts (does the
English slice's length distribution match the rest of the corpus?).
Companions: events_cusum_drift (sequential), source_token_tv_drift
(total variation over a discrete domain), orders_benford_digits.

D = sup_x |F1(x) - F2(x)| is a RATIONAL number: with sample sizes n1,
n2 and cumulative counts c1(x), c2(x) at each observed value x,

    D = max_x |c1(x)*n2 - c2(x)*n1| / (n1*n2)

so the whole statistic is exact bigint arithmetic — no doubles anywhere.
We report the integer numerator and D in truncating micro units.

Fixture: sample 1 = `lang = 'en'` documents' n_chars; sample 2 = all
other languages. One row: n1, n2, d_num (the exact numerator), d_micro.

Scale: the cumulative counts need a window ordered by the VALUE domain
(distinct n_chars values — the domain, not the rows), after a map-side
groupBy(n_chars) that collapses 100 TB of rows into |domain| rows. The
ORDER BY is over that collapsed domain (bounded for discrete features;
for continuous ones pre-bucket to a KLL grid — SCALE.md's
exact-order-statistics note applies, same class as docs_length_deciles).

Entry `stats_ks_two_sample` (FULL DuckDB oracle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from movie_data_transformer_spark.operators.ordered_stats import attach_order_stats
from movie_data_transformer_spark.sources.tables import load_table


def q_stats_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    per_value = docs.groupBy("n_chars").agg(
        F.sum(F.expr("IF(lang = 'en', 1, 0)")).cast("bigint").alias("a"),
        F.sum(F.expr("IF(lang = 'en', 0, 1)")).cast("bigint").alias("b"),
    )
    # two-pass running sums (ordered_stats) over the collapsed domain —
    # the old un-partitioned window was Exchange SinglePartition over
    # |distinct n_chars| rows; the domain is bounded for this discrete
    # feature but the two-pass form removes the single-reducer sort for
    # free and is bit-identical (exact integer prefix sums).
    cum = attach_order_stats(
        per_value,
        [F.col("n_chars").asc()],
        "n_chars",
        False,
        running={"c1": "a", "c2": "b"},
    ).select("c1", "c2")
    return (
        cum.crossJoin(
            F.broadcast(
                docs.agg(
                    F.sum(F.expr("IF(lang = 'en', 1, 0)"))
                    .cast("bigint")
                    .alias("n1"),
                    F.sum(F.expr("IF(lang = 'en', 0, 1)"))
                    .cast("bigint")
                    .alias("n2"),
                )
            )
        )
        .selectExpr("n1", "n2", "abs(c1 * n2 - c2 * n1) AS gap")
        .groupBy("n1", "n2")
        .agg(F.max("gap").cast("bigint").alias("d_num"))
        .selectExpr(
            "n1",
            "n2",
            "d_num",
            "CAST(d_num * 1000000 DIV (n1 * n2) AS BIGINT) AS d_micro",
        )
    )


SQL_STATS_KS_TWO_SAMPLE = """
WITH per_value AS (
    SELECT n_chars,
           CAST(count(*) FILTER (lang = 'en') AS BIGINT) AS a,
           CAST(count(*) FILTER (lang <> 'en') AS BIGINT) AS b
    FROM documents GROUP BY n_chars
),
cum AS (
    SELECT sum(a) OVER (ORDER BY n_chars ROWS UNBOUNDED PRECEDING) AS c1,
           sum(b) OVER (ORDER BY n_chars ROWS UNBOUNDED PRECEDING) AS c2
    FROM per_value
),
totals AS (
    SELECT CAST(count(*) FILTER (lang = 'en') AS BIGINT) AS n1,
           CAST(count(*) FILTER (lang <> 'en') AS BIGINT) AS n2
    FROM documents
)
SELECT n1, n2,
       CAST(max(abs(c1 * n2 - c2 * n1)) AS BIGINT) AS d_num,
       CAST(max(abs(c1 * n2 - c2 * n1)) * 1000000 // (n1 * n2) AS BIGINT)
           AS d_micro
FROM cum, totals
GROUP BY n1, n2
"""


QUERIES = {
    "stats_ks_two_sample": (q_stats_ks_two_sample, SQL_STATS_KS_TWO_SAMPLE),
}
