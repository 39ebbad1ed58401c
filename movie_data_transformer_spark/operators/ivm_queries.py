"""Incremental view maintenance: merge partial aggregates across batch
increments instead of recomputing the rollup from scratch — the nightly
"apply today's delta to the materialized view" job. Spark's partial
aggregation does this WITHIN one job; this entry demonstrates the same
algebra ACROSS jobs (the mergeable-state property HLL/KLL sketches give
approximate aggs, here for the exact SUM/COUNT algebra).

`ivm_incremental_agg`: orders arrive as two increments (o_orderkey % 2
— deterministic stand-ins for yesterday's state and today's delta);
each increment is aggregated to the view grain (order day) separately,
then the view is maintained by MERGING the partials (union -> re-agg on
the grain). FULL oracle = the from-scratch aggregate over all orders —
the merge is provably lossless for sum/count, and the oracle binds it.

Scale: the merge shuffles only the AGGREGATE GRAIN (days), never the
fact rows of prior increments — the whole point: at 100 TB the daily
delta is aggregated alone (one scan of the delta) and the view update
is a grain-sized upsert (a partition-pruned MERGE into the view table
is the materialization half of this dataflow).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from movie_data_transformer_spark.sources.tables import load_table


def _partial(orders: DataFrame) -> DataFrame:
    return orders.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.sum(F.expr("CAST(floor(o_totalprice * 100) AS BIGINT)")).alias(
            "revenue_cents"
        ),
        F.count("*").cast("long").alias("n_orders"),
    )


def merge_partials(*partials: DataFrame) -> DataFrame:
    """Lossless merge of sum/count partials on the view grain."""
    out = partials[0]
    for p in partials[1:]:
        out = out.unionByName(p)
    return out.groupBy("day").agg(
        F.sum("revenue_cents").alias("revenue_cents"),
        F.sum("n_orders").cast("long").alias("n_orders"),
    )


def q_ivm_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    state = _partial(orders.filter("o_orderkey % 2 = 0"))
    delta = _partial(orders.filter("o_orderkey % 2 = 1"))
    return merge_partials(state, delta)


SQL_IVM_INCREMENTAL_AGG = """
SELECT CAST(o_orderdate AS DATE) AS day,
       CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS revenue_cents,
       CAST(count(*) AS BIGINT) AS n_orders
FROM orders
GROUP BY 1
"""


QUERIES = {
    "ivm_incremental_agg": (q_ivm_incremental_agg, SQL_IVM_INCREMENTAL_AGG),
}
