"""Plan-shape checks for the six TPC-H adaptations that complete the
22-query set (q2/q9/q11/q15/q16/q20 — value correctness is covered by
the DuckDB oracle differential; these pin the physical properties).
"""

from __future__ import annotations

from movie_data_transformer_spark.operators.tpch_queries import (
    q_tpch_q2_min_cost_supplier,
    q_tpch_q9_product_type_profit,
    q_tpch_q11_important_stock,
    q_tpch_q15_top_supplier,
    q_tpch_q16_parts_supplier_counts,
    q_tpch_q20_potential_promotion,
)
from tools.scan_audit import physical_scans, plan_nodes


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def test_q2_dims_broadcast_single_window_shuffle(spark, sf_dir):
    # supplier/nation/region/part all broadcast against the derived
    # (part, supplier) pair relation; the correlated-min window adds the
    # only extra exchange (on p_partkey)
    plan = _plan(q_tpch_q2_min_cost_supplier(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 4
    assert "CartesianProduct" not in plan


def test_q9_only_fact_join_shuffles(spark, sf_dir):
    # part/supplier/nation broadcast; lineitem joins orders then aggs
    plan = _plan(q_tpch_q9_product_type_profit(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in plan


def _broadcasts_one_row(plan: str) -> bool:
    """A BroadcastExchange ships a keyless (one-row) aggregate."""
    texts = [t for _, t in plan_nodes(plan)]
    for i, t in enumerate(texts):
        if t.startswith("BroadcastExchange"):
            below = next(u for u in texts[i + 1 :] if not u.startswith(("Filter", "Project")))
            if below.startswith("HashAggregate(keys=[]"):
                return True
    return False


def test_q11_single_fact_scan(spark, sf_dir):
    # the global threshold is a 1-row aggregate of the PERSISTED per-part
    # table, broadcast back: lineitem is scanned once (the plan string
    # reprints the cached subtree per reference — count it physically)
    # and no window funnels the part grain through one partition
    plan = _plan(q_tpch_q11_important_stock(spark, sf_dir))
    assert physical_scans(plan, "lineitem") == 1
    assert _broadcasts_one_row(plan)
    assert "Window" not in plan and "CartesianProduct" not in plan


def test_q15_single_fact_scan(spark, sf_dir):
    # the scalar MAX is a 1-row aggregate of the PERSISTED per-supplier
    # revenue, broadcast back: one physical lineitem scan, no window
    plan = _plan(q_tpch_q15_top_supplier(spark, sf_dir))
    assert physical_scans(plan, "lineitem") == 1
    assert _broadcasts_one_row(plan)
    assert "Window" not in plan and "CartesianProduct" not in plan


def test_q16_not_in_is_broadcast_anti_join(spark, sf_dir):
    plan = _plan(q_tpch_q16_parts_supplier_counts(spark, sf_dir))
    assert "LeftAnti" in plan and "BroadcastHashJoin" in plan


def test_q20_nested_in_chain_is_semi_joins(spark, sf_dir):
    plan = _plan(q_tpch_q20_potential_promotion(spark, sf_dir))
    assert plan.count("LeftSemi") >= 2
    assert "CartesianProduct" not in plan


def test_q15_returns_the_argmax(spark, sf_dir):
    rows = q_tpch_q15_top_supplier(spark, sf_dir).collect()
    assert len(rows) >= 1
    assert len({r["total_revenue"] for r in rows}) == 1


def test_q4_exists_rides_the_join_shuffle(spark, sf_dir):
    # the EXISTS must come from a per-order max(is_late) aggregation on
    # the orders⋈lineitem join — one scan per fact, no second semi-join
    # pass; with broadcast off, the per-order agg must NOT add an
    # exchange beyond the join's two and the final by-priority rollup
    from movie_data_transformer_spark.operators.tpch_queries import (
        q_tpch_q4_order_priority,
    )

    plan = _plan(q_tpch_q4_order_priority(spark, sf_dir))
    assert plan.count("lineitem.parquet") == 1
    assert plan.count("orders.parquet") == 1
    assert "LeftSemi" not in plan

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        wide = _plan(q_tpch_q4_order_priority(spark, sf_dir))
        assert wide.count("Exchange hashpartitioning") == 3
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.unset("spark.sql.adaptive.enabled")


def test_q21_single_fact_pass_and_takeordered(spark, sf_dir):
    # the EXISTS/NOT-EXISTS pair must come from the l_orderkey window,
    # not self-joins: exactly one scan of each fact table, no sort-merge
    # self-join, and the top-20 as a TakeOrdered (never a global sort)
    from movie_data_transformer_spark.operators.tpch_queries import (
        q_tpch_q21_suppliers_who_kept_waiting,
    )

    plan = _plan(q_tpch_q21_suppliers_who_kept_waiting(spark, sf_dir))
    assert plan.count("lineitem.parquet") == 1
    assert plan.count("orders.parquet") == 1
    assert "SortMergeJoin" not in plan
    assert "Window" in plan and "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
