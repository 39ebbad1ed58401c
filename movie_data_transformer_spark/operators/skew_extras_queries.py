"""Round-6 skew-mitigation extension: the hot/cold differential join.

`functions/skew.py`'s salted_join treats EVERY key as potentially hot
(uniform salt fanout). The differential recipe measures first (the
key_skew_profile motivation) and then routes hot keys through a
broadcast-replicated path while the cold tail takes the ordinary shuffle
join — the technique AQE's skew-join splitting automates at runtime,
spelled out as an explicit dataflow so the cost model is visible and
portable to engines/configs without AQE. The ORACLE is the plain join:
like salting, the routing must never change results.

Reference parity note: the reference engine has no distributed join at
all (single-JVM HashMap, DataTransformationService.java:97); this family
exists for the 100 TB translation of its keyed lookups.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from movie_data_transformer_spark.functions.core import money_out
from movie_data_transformer_spark.sources.tables import load_table

N_HOT = 5


def hot_cold_join(fact: DataFrame, dim: DataFrame, key: str) -> DataFrame:
    """Join `fact` to `dim` on `key`, routing the N_HOT heaviest fact
    keys through a broadcast of their dim rows (hot path: NO shuffle of
    those rows at all) and everything else through the normal shuffle
    join. The hot-key table is tiny (N_HOT rows) and broadcast into
    both the semi/anti splits and the dim restriction, so the fact
    table is scanned once per path with no extra wide exchange."""
    counts = (
        fact.groupBy(key)
        .agg(F.count("*").alias("_n"))
        .orderBy(F.col("_n").desc(), F.col(key).asc())
        .limit(N_HOT)
        .select(key)
    )
    hot_keys = F.broadcast(counts.localCheckpoint())  # two consumers
    fact_hot = fact.join(hot_keys, key, "left_semi")
    fact_cold = fact.join(hot_keys, key, "left_anti")
    dim_hot = dim.join(hot_keys, key, "left_semi")
    hot = fact_hot.join(F.broadcast(dim_hot), key)
    cold = fact_cold.join(dim, key)
    return hot.unionByName(cold)


def q_join_skew_hot_cold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The differential skew join verified against the plain-join ORACLE
    (routing must never change results) — aggregated per market segment
    like the salted sibling so the driver hash binds every routed row."""
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey"), "o_orderkey", "o_totalprice"
    )
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey"), "c_mktsegment"
    )
    joined = hot_cold_join(o, c, "custkey")
    return (
        joined.groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("spend"),
        )
        .select("c_mktsegment", "n_orders", money_out("spend"))
    )


SQL_JOIN_SKEW_HOT_COLD = """
SELECT c_mktsegment, count(*) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
"""


QUERIES = {
    "join_skew_hot_cold": (q_join_skew_hot_cold, SQL_JOIN_SKEW_HOT_COLD),
}
