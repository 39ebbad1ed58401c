"""Skew salting equivalence + bucketed-state co-located join plan."""

from __future__ import annotations

from pyspark.sql import functions as F

from movie_data_transformer_spark.functions.skew import salted_join
from movie_data_transformer_spark.sources.tables import load_table


def test_salted_join_equals_plain_join(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey"), "o_orderkey"
    )
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey"), "c_name"
    )
    got = sorted(
        (r.o_orderkey, r.c_name) for r in salted_join(o, c, "custkey").collect()
    )
    want = sorted((r.o_orderkey, r.c_name) for r in o.join(c, "custkey").collect())
    assert got == want


def test_bucketed_state_join_skips_state_shuffle(spark, sf_dir, tmp_path):
    """Bucketing the state table by the merge key removes the state-side
    exchange: only the incoming batch shuffles — the M6 '100 TB state'
    layout (SCALE.md)."""
    o = load_table(spark, sf_dir, "orders")
    spark.sql("DROP TABLE IF EXISTS state_bucketed")
    (
        o.write.bucketBy(8, "o_custkey")
        .sortBy("o_custkey")
        .option("path", str(tmp_path / "state_bucketed"))
        .mode("overwrite")
        .saveAsTable("state_bucketed")
    )
    state = spark.table("state_bucketed")
    batch = load_table(spark, sf_dir, "customer")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ
    try:
        joined = state.join(batch, state.o_custkey == batch.c_custkey)
        plan = joined._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        spark.sql("DROP TABLE IF EXISTS state_bucketed")
    # exactly one exchange: the batch side; the bucketed state side reads
    # pre-partitioned
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_hot_cold_join_plan_routes_hot_keys_broadcast(spark, sf_dir):
    """The hot path must be a BroadcastHashJoin, the cold path a shuffle
    join, and the union must equal the plain join row-for-row."""
    from pyspark.sql import functions as F

    from movie_data_transformer_spark.operators.skew_extras_queries import (
        hot_cold_join,
    )
    from movie_data_transformer_spark.sources.tables import load_table

    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey"), "o_orderkey", "o_totalprice"
    )
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey"), "c_mktsegment"
    )
    routed = hot_cold_join(o, c, "custkey")
    plan = routed._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    plain = o.join(c, "custkey")
    assert routed.count() == plain.count()
    a = routed.groupBy("c_mktsegment").count().collect()
    b = plain.groupBy("c_mktsegment").count().collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
