"""General relational operator library (SURVEY.md §7 M3) — the operator
categories the reference lacks entirely (§2.3), each as an idiomatic
Catalyst plan over the TPC-H-ish driver tables with a DuckDB oracle.

Scale notes baked into the plans:
  - dimension tables (region/nation/customer/supplier/part) are broadcast
    (explicit F.broadcast) — no shuffle of the fact side for those joins;
  - money aggregates use decimal (exact, order-independent — see
    functions/core.py) so plans stay reproducible under any partitioning;
  - top-k-per-group is a windowed row_number (single shuffle), never a
    global sort; global top-n is sort+limit (Spark runs TakeOrdered).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from movie_data_transformer_spark.functions import (
    decimal_sum,
    deterministic_avg,
    money_out,
    running_sum,
    top_k_per_group,
)
from movie_data_transformer_spark.operators.text import (
    PORTABLE_HASH_SQL as _BF_H,  # md5-hex oracle twin — single source
)
from movie_data_transformer_spark.sources.tables import load_table


def _t(spark, sf_dir, name):
    return load_table(spark, sf_dir, name)


# --- joins -----------------------------------------------------------------


def q_join_multiway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-way join: lineitem |x| orders |x| customer |x| nation |x| region,
    revenue per nation in EUROPE. Dims broadcast; only facts shuffle.

    The region filter is pushed THROUGH the dimension chain before any
    fact participates (r2 VERDICT advice #6): customer |x| nation |x|
    region(EUROPE) reduces customers ~5x, and orders inner-joins that
    broadcast FIRST — so the one real shuffle (lineitem |x| orders on
    orderkey) sees only the ~20% of orders that survive. At 100 TB the
    orders-side shuffle volume drops the same ~80%; enabling
    spark.sql.optimizer.runtime.bloomFilter (on in session.py defaults via
    AQE) additionally row-filters the lineitem side pre-shuffle from the
    pruned orders' orderkeys."""
    li, o = _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "orders")
    c, n, r = (
        _t(spark, sf_dir, "customer"),
        _t(spark, sf_dir, "nation"),
        _t(spark, sf_dir, "region"),
    )
    c_eur = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(
            F.broadcast(r.filter(F.col("r_name") == "EUROPE")),
            n.n_regionkey == r.r_regionkey,
        )
        .select("c_custkey", "n_name")
    )
    o_eur = o.join(F.broadcast(c_eur), o.o_custkey == c_eur.c_custkey).select(
        "o_orderkey", "n_name"
    )
    return (
        li.join(o_eur, li.l_orderkey == o_eur.o_orderkey)
        .groupBy("n_name")
        .agg(
            decimal_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4, "revenue"),
            F.count("*").alias("n_items"),
        )
        .select("n_name", money_out("revenue"), "n_items")
    )


SQL_JOIN_MULTIWAY = """
SELECT n_name,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
       count(*) AS n_items
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey AND r_name = 'EUROPE'
GROUP BY n_name
"""


def q_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi: customers with at least one URGENT order."""
    c, o = _t(spark, sf_dir, "customer"), _t(spark, sf_dir, "orders")
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT")
    return c.join(urgent, c.c_custkey == urgent.o_custkey, "left_semi").select(
        "c_custkey", "c_name", "c_mktsegment"
    )


SQL_JOIN_SEMI = """
SELECT c_custkey, c_name, c_mktsegment
FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')
"""


def q_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti: customers with no order above 400k."""
    c, o = _t(spark, sf_dir, "customer"), _t(spark, sf_dir, "orders")
    big = o.filter(F.col("o_totalprice") > 400000)
    return c.join(big, c.c_custkey == big.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


SQL_JOIN_ANTI = """
SELECT c_custkey, c_name
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
"""


def q_join_outer_coalesce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join + null handling: per-customer order stats including
    customers whose filtered order set is empty."""
    c, o = _t(spark, sf_dir, "customer"), _t(spark, sf_dir, "orders")
    recent = o.filter(F.col("o_orderstatus") == "P")
    agg = recent.groupBy("o_custkey").agg(
        F.count("*").alias("_n"), decimal_sum("o_totalprice", 2, "_spend")
    )
    return c.join(agg, c.c_custkey == agg.o_custkey, "left").select(
        "c_custkey",
        F.coalesce("_n", F.lit(0)).alias("n_pending"),
        money_out(F.coalesce(F.col("_spend"), F.lit(0).cast("decimal(18,2)")), "pending_spend"),
    )


SQL_JOIN_OUTER_COALESCE = """
SELECT c_custkey,
       coalesce(_n, 0) AS n_pending,
       CAST(coalesce(_spend, CAST(0 AS DECIMAL(18,2))) AS DOUBLE) AS pending_spend
FROM customer c
LEFT JOIN (
    SELECT o_custkey, count(*) AS _n,
           sum(CAST(o_totalprice AS DECIMAL(18,2))) AS _spend
    FROM orders WHERE o_orderstatus = 'P' GROUP BY o_custkey
) a ON c.c_custkey = a.o_custkey
"""


# --- aggregation variants ----------------------------------------------------


def q_agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").alias("n_customers"),
        F.count("*").alias("n_orders"),
        money_out(decimal_sum("o_totalprice", 2), "total_spend"),
    )


SQL_AGG_DISTINCT = """
SELECT o_orderpriority,
       count(DISTINCT o_custkey) AS n_customers,
       count(*) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spend
FROM orders GROUP BY o_orderpriority
"""


def q_agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # rollup expands every row into 3 grouping-set copies and partial-
    # aggregates them BEFORE the first exchange — single-task on the
    # testdata's one-row-group scan, so project to the three needed
    # columns (+ the high-cardinality widen key) and widen first (r12 opt
    # round; no-op when the scan is already wide). Decimal sums are
    # partitioning-invariant.
    from movie_data_transformer_spark.operators.sizing import widen_for_compute

    li = widen_for_compute(
        _t(spark, sf_dir, "lineitem").select(
            "l_returnflag", "l_linestatus", "l_quantity", "l_orderkey"
        ),
        "l_orderkey",
    )
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(decimal_sum("l_quantity", 2, "sum_qty"), F.count("*").alias("n_rows"))
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            money_out("sum_qty"),
            "n_rows",
        )
    )


SQL_AGG_ROLLUP = """
SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
       coalesce(l_linestatus, 'ALL') AS linestatus,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       count(*) AS n_rows
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


def q_agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(F.count("*").alias("n_orders"), decimal_sum("o_totalprice", 2, "spend"))
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("orderstatus"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("orderpriority"),
            "n_orders",
            money_out("spend"),
        )
    )


SQL_AGG_CUBE = """
SELECT coalesce(o_orderstatus, 'ALL') AS orderstatus,
       coalesce(o_orderpriority, 'ALL') AS orderpriority,
       count(*) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend
FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""


def q_agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("_gs_lineitem")
    return spark.sql(
        """
        SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
               coalesce(l_linestatus, 'ALL') AS linestatus,
               count(*) AS n_rows
        FROM _gs_lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )


SQL_AGG_GROUPING_SETS = """
SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
       coalesce(l_linestatus, 'ALL') AS linestatus,
       count(*) AS n_rows
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
"""


def q_agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count("*").alias("n_rows"),
        F.min("l_quantity").alias("min_qty"),
        F.max("l_quantity").alias("max_qty"),
        deterministic_avg("l_extendedprice", 2, "avg_price"),
        F.countDistinct("l_suppkey").alias("n_suppliers"),
    )


SQL_AGG_STATS = """
SELECT l_returnflag,
       count(*) AS n_rows,
       min(l_quantity) AS min_qty,
       max(l_quantity) AS max_qty,
       CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) * 1000000 AS HUGEINT)
            // count(l_extendedprice) AS DOUBLE) / 1000000 AS avg_price,
       count(DISTINCT l_suppkey) AS n_suppliers
FROM lineitem GROUP BY l_returnflag
"""


def q_agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(F.count("*").alias("n_orders"), decimal_sum("o_totalprice", 2, "spend"))
        .filter(F.col("n_orders") >= 15)
        .select("o_custkey", "n_orders", money_out("spend"))
    )


SQL_AGG_HAVING = """
SELECT o_custkey, count(*) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend
FROM orders GROUP BY o_custkey HAVING count(*) >= 15
"""


def q_agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot order counts: one row per orderstatus, a column per priority
    bucket (conditional aggregation under the hood)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderstatus")
        .pivot("o_orderpriority", ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
        .count()
        .select(
            "o_orderstatus",
            F.coalesce("1-URGENT", F.lit(0)).alias("urgent"),
            F.coalesce("2-HIGH", F.lit(0)).alias("high"),
            F.coalesce("3-MEDIUM", F.lit(0)).alias("medium"),
            F.coalesce("4-NOT SPECIFIED", F.lit(0)).alias("not_specified"),
            F.coalesce("5-LOW", F.lit(0)).alias("low"),
        )
    )


SQL_AGG_PIVOT = """
SELECT o_orderstatus,
       CAST(count(*) FILTER (o_orderpriority = '1-URGENT') AS BIGINT) AS urgent,
       CAST(count(*) FILTER (o_orderpriority = '2-HIGH') AS BIGINT) AS high,
       CAST(count(*) FILTER (o_orderpriority = '3-MEDIUM') AS BIGINT) AS medium,
       CAST(count(*) FILTER (o_orderpriority = '4-NOT SPECIFIED') AS BIGINT) AS not_specified,
       CAST(count(*) FILTER (o_orderpriority = '5-LOW') AS BIGINT) AS low
FROM orders GROUP BY o_orderstatus
"""


# --- windows -----------------------------------------------------------------


def q_window_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per market segment (windowed row_number; total order
    via the unique orderkey tiebreak)."""
    c, o = _t(spark, sf_dir, "customer"), _t(spark, sf_dir, "orders")
    j = o.join(F.broadcast(c), o.o_custkey == c.c_custkey).select(
        "c_mktsegment", "o_orderkey", "o_totalprice"
    )
    top = top_k_per_group(
        j,
        ["c_mktsegment"],
        [F.col("o_totalprice").desc(), F.col("o_orderkey").asc()],
        k=3,
    )
    return top.select("c_mktsegment", "o_orderkey", "o_totalprice", F.col("rk").cast("int").alias("rk"))


SQL_WINDOW_TOPK_PER_GROUP = """
SELECT c_mktsegment, o_orderkey, o_totalprice, CAST(rk AS INT) AS rk
FROM (
    SELECT c_mktsegment, o_orderkey, o_totalprice,
           row_number() OVER (PARTITION BY c_mktsegment
                              ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
    FROM orders JOIN customer ON o_custkey = c_custkey
) t WHERE rk <= 3
"""


def q_window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative spend per customer in order-date order (rows frame)."""
    o = _t(spark, sf_dir, "orders")
    out = running_sum(
        o.select("o_custkey", "o_orderkey", "o_orderdate", "o_totalprice"),
        ["o_custkey"],
        [F.col("o_orderdate").asc(), F.col("o_orderkey").asc()],
        F.col("o_totalprice").cast("decimal(18,2)"),
    )
    return out.select("o_custkey", "o_orderkey", money_out("cum_spend"))


SQL_WINDOW_RUNNING_SUM = """
SELECT o_custkey, o_orderkey,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
           PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS cum_spend
FROM orders
"""


def q_window_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Days since a customer's previous order (lag over event sequence)."""
    from pyspark.sql import Window

    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.lag("o_orderkey").over(w).alias("prev_orderkey"),
        F.datediff(F.col("o_orderdate").cast("date"), F.lag(F.col("o_orderdate").cast("date")).over(w)).alias(
            "days_since_prev"
        ),
    )


SQL_WINDOW_LAG_LEAD = """
SELECT o_custkey, o_orderkey,
       lag(o_orderkey) OVER w AS prev_orderkey,
       CAST(date_diff('day',
            lag(CAST(o_orderdate AS DATE)) OVER w,
            CAST(o_orderdate AS DATE)) AS INT) AS days_since_prev
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC)
"""


def q_window_rank_dense(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank vs dense_rank with ties: suppliers ranked by account balance
    within nation (s_acctbal can tie)."""
    from pyspark.sql import Window

    s = _t(spark, sf_dir, "supplier")
    w = Window.partitionBy("s_nationkey").orderBy(F.col("s_acctbal").desc(), F.col("s_suppkey").asc())
    return s.select(
        "s_nationkey",
        "s_suppkey",
        F.rank().over(w).cast("int").alias("rnk"),
        F.dense_rank().over(w).cast("int").alias("drnk"),
        F.ntile(4).over(w).cast("int").alias("quartile"),
    )


SQL_WINDOW_RANK_DENSE = """
SELECT s_nationkey, s_suppkey,
       CAST(rank() OVER w AS INT) AS rnk,
       CAST(dense_rank() OVER w AS INT) AS drnk,
       CAST(ntile(4) OVER w AS INT) AS quartile
FROM supplier
WINDOW w AS (PARTITION BY s_nationkey ORDER BY s_acctbal DESC, s_suppkey ASC)
"""


# --- sort / limit / set ops --------------------------------------------------


def q_sort_limit_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-10 (sort+limit: Spark plans TakeOrderedAndProject —
    per-partition top-k then a tiny driver merge, no full sort)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(10)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


SQL_SORT_LIMIT_TOPN = """
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10
"""


def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION/INTERSECT/EXCEPT over customer key sets: BUILDING-segment
    customers vs customers with a >300k order, tagged by membership."""
    c, o = _t(spark, sf_dir, "customer"), _t(spark, sf_dir, "orders")
    a = c.filter(F.col("c_mktsegment") == "BUILDING").select(F.col("c_custkey").alias("custkey"))
    b = o.filter(F.col("o_totalprice") > 300000).select(F.col("o_custkey").alias("custkey")).distinct()
    return (
        a.exceptAll(b).distinct().select(F.lit("only_building").alias("tag"), "custkey")
        .unionAll(a.intersect(b).select(F.lit("both").alias("tag"), "custkey"))
        .unionAll(b.exceptAll(a).distinct().select(F.lit("only_bigspender").alias("tag"), "custkey"))
    )


SQL_SET_OPS = """
WITH a AS (SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'),
     b AS (SELECT DISTINCT o_custkey AS custkey FROM orders WHERE o_totalprice > 300000)
SELECT 'only_building' AS tag, custkey FROM (SELECT custkey FROM a EXCEPT SELECT custkey FROM b)
UNION ALL
SELECT 'both' AS tag, custkey FROM (SELECT custkey FROM a INTERSECT SELECT custkey FROM b)
UNION ALL
SELECT 'only_bigspender' AS tag, custkey FROM (SELECT custkey FROM b EXCEPT SELECT custkey FROM a)
"""


# --- scalar function packs ---------------------------------------------------


def q_scalar_string_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.length("p_name").cast("long").alias("name_len"),
        F.substring("p_name", 1, 3).alias("name_pfx"),
        F.concat_ws("/", "p_brand", "p_type").alias("brand_type"),
        F.col("p_name").contains("red").cast("int").alias("is_red"),
        F.regexp_replace("p_name", "[aeiou]", "").alias("name_novowel"),
        F.split(F.col("p_name"), " ").getItem(0).alias("first_word"),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("size_padded"),
        F.reverse(F.col("p_brand")).alias("brand_rev"),
    )


SQL_SCALAR_STRING_PACK = """
SELECT p_partkey,
       upper(p_name) AS name_upper,
       CAST(length(p_name) AS BIGINT) AS name_len,
       substr(p_name, 1, 3) AS name_pfx,
       concat_ws('/', p_brand, p_type) AS brand_type,
       CAST(contains(p_name, 'red') AS INT) AS is_red,
       regexp_replace(p_name, '[aeiou]', '', 'g') AS name_novowel,
       split_part(p_name, ' ', 1) AS first_word,
       lpad(CAST(p_size AS VARCHAR), 4, '0') AS size_padded,
       reverse(p_brand) AS brand_rev
FROM part
"""


def q_scalar_math_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.floor("l_extendedprice").cast("long").alias("price_floor"),
        F.ceil("l_discount" ).cast("long").alias("disc_ceil"),
        F.abs(F.col("l_quantity") - 25).alias("qty_dev"),
        (F.col("l_partkey") % 7).cast("long").alias("pk_mod"),
        F.greatest("l_tax", "l_discount").alias("max_rate"),
        F.least("l_tax", "l_discount").alias("min_rate"),
        F.when(F.col("l_quantity") < 10, "low")
        .when(F.col("l_quantity") < 40, "mid")
        .otherwise("high")
        .alias("qty_bucket"),
        F.sign(F.col("l_quantity") - 25).cast("int").alias("qty_sign"),
    )


SQL_SCALAR_MATH_PACK = """
SELECT l_orderkey, l_linenumber,
       CAST(floor(l_extendedprice) AS BIGINT) AS price_floor,
       CAST(ceil(l_discount) AS BIGINT) AS disc_ceil,
       abs(l_quantity - 25) AS qty_dev,
       CAST(l_partkey % 7 AS BIGINT) AS pk_mod,
       greatest(l_tax, l_discount) AS max_rate,
       least(l_tax, l_discount) AS min_rate,
       CASE WHEN l_quantity < 10 THEN 'low'
            WHEN l_quantity < 40 THEN 'mid' ELSE 'high' END AS qty_bucket,
       CAST(sign(l_quantity - 25) AS INT) AS qty_sign
FROM lineitem
"""


def q_scalar_date_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    d = F.col("o_orderdate").cast("date")
    return o.select(
        "o_orderkey",
        F.year(d).cast("int").alias("yr"),
        F.month(d).cast("int").alias("mon"),
        F.dayofmonth(d).cast("int").alias("dom"),
        F.quarter(d).cast("int").alias("qtr"),
        F.date_trunc("month", d).cast("date").alias("month_start"),
        F.last_day(d).alias("month_end"),
        F.date_add(d, 30).alias("due_date"),
        F.date_format(d, "yyyy-MM").alias("ym"),
    )


SQL_SCALAR_DATE_PACK = """
SELECT o_orderkey,
       CAST(year(CAST(o_orderdate AS DATE)) AS INT) AS yr,
       CAST(month(CAST(o_orderdate AS DATE)) AS INT) AS mon,
       CAST(day(CAST(o_orderdate AS DATE)) AS INT) AS dom,
       CAST(quarter(CAST(o_orderdate AS DATE)) AS INT) AS qtr,
       CAST(date_trunc('month', CAST(o_orderdate AS DATE)) AS DATE) AS month_start,
       last_day(CAST(o_orderdate AS DATE)) AS month_end,
       CAST(o_orderdate AS DATE) + 30 AS due_date,
       strftime(CAST(o_orderdate AS DATE), '%Y-%m') AS ym
FROM orders
"""


def q_expr_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON path extraction over the events.props payload column."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.select(
            "event_type",
            F.get_json_object("props", "$.k").cast("long").alias("k"),
        )
        .groupBy("event_type")
        .agg(F.sum("k").alias("sum_k"), F.count("k").alias("n_k"))
    )


SQL_EXPR_JSON = """
SELECT event_type,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       count(json_extract_string(props, '$.k')) AS n_k
FROM events GROUP BY event_type
"""


def q_join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The skew-salting join recipe (functions/skew.py) verified against
    the ORACLE of the plain join — salting must never change results."""
    from movie_data_transformer_spark.functions.skew import salted_join

    o = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey"), "o_orderkey", "o_totalprice"
    )
    c = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey"), "c_mktsegment"
    )
    joined = salted_join(o, c, "custkey")
    return (
        joined.groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("spend"),
        )
        .select("c_mktsegment", "n_orders", money_out("spend"))
    )


SQL_JOIN_SKEW_SALTED = """
SELECT c_mktsegment, count(*) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
"""


def q_agg_distinct_per_attrs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q16-style: distinct supplier count per part attribute group."""
    li, p = _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


SQL_AGG_DISTINCT_PER_ATTRS = """
SELECT p_brand, p_type, count(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY p_brand, p_type
"""


def q_agg_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate aggregates (HLL count-distinct, quantile sketches) —
    rows-only by nature; tolerance vs exact pinned in tests.

    Percentiles surface as SCALAR columns (p50/p95), never an array:
    the driver's pandas canonicalization cannot hash list cells."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey").alias("approx_parts"),
        F.expr("approx_percentile(l_extendedprice, 0.5)").alias("price_p50"),
        F.expr("approx_percentile(l_extendedprice, 0.95)").alias("price_p95"),
    )


def q_agg_hll_mergeable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGEABLE distinct-count sketches (Apache DataSketches HLL,
    Spark 3.5+ hll_sketch_agg / hll_union_agg): per-(returnflag, year)
    sketch BLOBs built once from the facts, then merged up to returnflag
    grain and estimated — the pre-aggregated-rollup workflow at 100 TB
    (store fine-grain sketch columns in a summary table; answer ANY
    coarser distinct-count rollup by merging sketches, never rescanning
    facts — mergeability is what approx_count_distinct's scalar output
    cannot give you). Rows-only (sketch binaries are engine-specific);
    the estimate-vs-exact tolerance is gated oracle-style by
    hll_union_gate, and the exact shape twin is agg_sketch_exact."""
    li = _t(spark, sf_dir, "lineitem")
    partials = li.groupBy(
        "l_returnflag", F.year(F.col("l_shipdate").cast("date")).alias("ship_year")
    ).agg(F.expr("hll_sketch_agg(l_partkey)").alias("sk"))
    return partials.groupBy("l_returnflag").agg(
        F.expr("CAST(hll_sketch_estimate(hll_union_agg(sk)) AS BIGINT)").alias(
            "approx_parts"
        ),
        F.count("*").alias("n_partials"),
    )


def q_agg_sketch_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact sibling of agg_approx_sketches (r2 VERDICT advice #7): the
    identical projection computed exactly — count(DISTINCT) instead of HLL,
    percentile() (continuous interpolation; probed bit-equal to DuckDB
    quantile_cont, NOTES.md) instead of the quantile sketch — so the sketch
    entry's shape has a binding oracle row and tests can measure the approx
    error against it. At 100 TB this is the expensive form (exact distinct
    shuffles the full key set); the sketch entry is the scale path."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("exact_parts"),
        F.round(F.expr("percentile(l_extendedprice, 0.5)"), 6).alias("price_p50"),
        F.round(F.expr("percentile(l_extendedprice, 0.95)"), 6).alias("price_p95"),
    )


SQL_AGG_SKETCH_EXACT = """
SELECT l_returnflag,
       count(DISTINCT l_partkey) AS exact_parts,
       round(quantile_cont(l_extendedprice, 0.5), 6) AS price_p50,
       round(quantile_cont(l_extendedprice, 0.95), 6) AS price_p95
FROM lineitem
GROUP BY l_returnflag
"""


def q_fuzzy_name_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution over a dimension's label space: near-identical
    part names by edit distance (levenshtein <= 4) within same-noun
    blocks. DISTINCT the labels FIRST — the quadratic pairwise step then
    runs on |distinct labels|^2, not |rows|^2 (the catalog-harmonization
    shape: label spaces stay small even when fact tables are 100 TB).
    Broadcast self-pairing; both engines compute the identical
    Wagner-Fischer integer DP, so the distance is exactly comparable."""
    p = _t(spark, sf_dir, "part")
    names = p.select("p_name").distinct().select(
        F.col("p_name").alias("name"),
        F.element_at(F.split(F.col("p_name"), " "), -1).alias("noun"),
    )
    a = names.select(F.col("name").alias("name_a"), "noun")
    b = names.select(F.col("name").alias("name_b"), "noun")
    return (
        a.join(F.broadcast(b), "noun")
        .filter(F.col("name_a") < F.col("name_b"))
        .select(
            "name_a",
            "name_b",
            F.levenshtein("name_a", "name_b").alias("edit_dist"),
        )
        .filter(F.col("edit_dist") <= 4)
    )


SQL_FUZZY_NAME_MATCH = """
WITH names AS (
    SELECT DISTINCT p_name AS name,
           string_split(p_name, ' ')[-1] AS noun
    FROM part
)
SELECT a.name AS name_a, b.name AS name_b,
       CAST(levenshtein(a.name, b.name) AS INT) AS edit_dist
FROM names a JOIN names b ON a.noun = b.noun AND a.name < b.name
WHERE levenshtein(a.name, b.name) <= 4
"""


def q_join_bloom_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter join pruning, the classic runtime-filter trick for
    selective joins made explicit and PORTABLE: build a Bloom filter
    (m=65536 bits, k=3, double hashing from two md5 domains) over the
    selective dim side (EUROPE customers), prune the fact side (orders)
    by requiring ALL k probe positions present, then exact-verify the
    survivors. Output is a one-row audit: dim keys, set bits, fact rows,
    BF-pass candidates, exact matches, and false positives — the FP tail
    the exact verify removes (BF guarantees NO false negatives, pinned
    in tests/test_relational.py).

    At 100 TB this is the shape of a semi-join runtime filter: the bit
    table is tiny (<= m rows) and broadcast by AQE; the fact side is
    filtered BEFORE any wide join or shuffle, and only candidates reach
    the exact join. Spark's own runtime BF (might_contain) is not a
    public SQL function on this build — and an engine-native filter
    could not be oracle-checked anyway; md5 double-hashing makes every
    bit position bit-identical in DuckDB, so the WHOLE pruning dataflow
    (not just the final answer) is differentially tested."""
    c, n, r = _t(spark, sf_dir, "customer"), _t(spark, sf_dir, "nation"), _t(spark, sf_dir, "region")
    o = _t(spark, sf_dir, "orders")
    from movie_data_transformer_spark.operators.text import portable_hash

    m, k = 65536, 3
    dim = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(
            F.broadcast(r.filter(F.col("r_name") == "EUROPE")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("c_custkey")
    )
    def hashes(df, key):
        ks = F.col(key).cast("string")
        return df.withColumn("h1", portable_hash(ks)).withColumn(
            "h2", portable_hash(F.concat(F.lit("bf:"), ks))
        )
    pos_expr = f"explode(transform(sequence(0, {k - 1}), i -> (h1 + i * h2) % {m})) AS pos"
    # dim feeds the bit table, the exact verify, and the n_dim_keys
    # audit; bits feeds the probe join and its own count — persist both
    # so the audit assembly's crossJoined aggregates don't re-run the
    # dimension joins / the shuffle-distinct per consumer
    dim = dim.persist()
    bits = hashes(dim, "c_custkey").selectExpr(pos_expr).distinct().persist()
    probes = hashes(o.select("o_orderkey", "o_custkey"), "o_custkey")
    # candidate = fact rows whose k probe positions are ALL set. The old
    # form exploded every fact row k ways, joined the k*n probe rows
    # against the bit table, and re-grouped on (o_orderkey, o_custkey) to
    # count hits — a k-fold fact-grain shuffle for what a Bloom probe
    # does row-locally. k broadcast LEFT SEMI joins (one per hash
    # position, each against the tiny <=m-row bit table) keep the fact
    # side entirely map-side: zero fact shuffles before the exact verify
    # (r12 opt round; guide §3.2's broadcast-semi-join realization of a
    # runtime filter). Pass/fail per row is identical: ALL k positions
    # present == surviving k position semi-joins.
    cand = probes
    for i in range(k):
        cand = cand.join(
            F.broadcast(bits),
            F.expr(f"(h1 + {i} * h2) % {m}") == bits.pos,
            "left_semi",
        )
    cand = cand.select("o_orderkey", "o_custkey")
    # ONE pass over the candidate set computes both the BF-pass count and
    # the exact-match count (left join against the unique dim keys;
    # count(non-null) = matched) — the separate left_semi + two aggregates
    # evaluated the expensive probe-join subtree twice.
    cand_counts = cand.join(
        dim.withColumnRenamed("c_custkey", "_dk"),
        cand.o_custkey == F.col("_dk"),
        "left",
    ).agg(
        F.count("*").alias("n_bf_pass"),
        F.count("_dk").alias("n_exact_match"),
    )
    return (
        dim.agg(F.count("*").alias("n_dim_keys"))
        .crossJoin(bits.agg(F.count("*").alias("n_bits_set")))
        .crossJoin(o.agg(F.count("*").alias("n_fact_rows")))
        .crossJoin(cand_counts)
        .withColumn("n_false_pos", F.col("n_bf_pass") - F.col("n_exact_match"))
    )



SQL_JOIN_BLOOM_PRUNE = f"""
WITH dim AS (
    SELECT c_custkey FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'EUROPE'
),
ks AS (SELECT unnest(range(0, 3)) AS i),
bits AS (
    SELECT DISTINCT (h1 + i * h2) % 65536 AS pos
    FROM (SELECT {_BF_H.format(x="CAST(c_custkey AS VARCHAR)")} AS h1,
                 {_BF_H.format(x="'bf:' || CAST(c_custkey AS VARCHAR)")} AS h2
          FROM dim) CROSS JOIN ks
),
probes AS (
    SELECT o_orderkey, o_custkey, (h1 + i * h2) % 65536 AS pos
    FROM (SELECT o_orderkey, o_custkey,
                 {_BF_H.format(x="CAST(o_custkey AS VARCHAR)")} AS h1,
                 {_BF_H.format(x="'bf:' || CAST(o_custkey AS VARCHAR)")} AS h2
          FROM orders) CROSS JOIN ks
),
cand AS (
    SELECT o_orderkey, o_custkey
    FROM probes JOIN bits USING (pos)
    GROUP BY 1, 2 HAVING count(*) = 3
)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM dim) AS n_dim_keys,
       (SELECT CAST(count(*) AS BIGINT) FROM bits) AS n_bits_set,
       (SELECT CAST(count(*) AS BIGINT) FROM orders) AS n_fact_rows,
       (SELECT CAST(count(*) AS BIGINT) FROM cand) AS n_bf_pass,
       (SELECT CAST(count(*) AS BIGINT) FROM cand
        WHERE o_custkey IN (SELECT c_custkey FROM dim)) AS n_exact_match,
       (SELECT CAST(count(*) AS BIGINT) FROM cand)
       - (SELECT CAST(count(*) AS BIGINT) FROM cand
          WHERE o_custkey IN (SELECT c_custkey FROM dim)) AS n_false_pos
"""


def q_hll_union_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """agg_hll_mergeable invariants (gate_queries pattern, registered
    here so the r05 driver window stays fixed): for EVERY returnflag,
    the merged-sketch estimate is within 5% of the exact distinct-part
    count (HLL lgK=12 gives ~1.6% rse; 5% is the collapse gate, not a
    precision claim), and the merge consumed one partial per ship
    year."""
    approx = q_agg_hll_mergeable(spark, sf_dir).select(
        "l_returnflag", "approx_parts", "n_partials"
    )
    exact = q_agg_sketch_exact(spark, sf_dir).select("l_returnflag", "exact_parts")
    li = _t(spark, sf_dir, "lineitem")
    years = li.groupBy("l_returnflag").agg(
        F.countDistinct(F.year(F.col("l_shipdate").cast("date"))).alias("n_years")
    )
    j = approx.join(exact, "l_returnflag").join(years, "l_returnflag")
    return j.agg(
        F.max(
            F.abs(F.col("approx_parts") - F.col("exact_parts")) * 100
            > F.col("exact_parts") * 5
        ).alias("_bad_tol"),
        F.max(F.col("n_partials") != F.col("n_years")).alias("_bad_merge"),
    ).select(
        (~F.col("_bad_tol")).alias("estimates_within_5pct"),
        (~F.col("_bad_merge")).alias("one_partial_per_year"),
    )


SQL_HLL_UNION_GATE = (
    "SELECT CAST(1 AS BOOLEAN) AS estimates_within_5pct, "
    "CAST(1 AS BOOLEAN) AS one_partial_per_year"
)


def q_agg_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable fixed-grid quantile sketch (the deterministic sibling of
    the KLL/t-digest workflow the HLL entries model for count-distinct):
    bucket `value` into exact $1 bins (integer cents DIV 100), store
    per-(event_type, year, bin) count partials — the sketch a 100 TB
    pipeline persists per partition/day — then MERGE partials to
    event_type grain by plain summation and answer p50/p90/p99 from the
    cumulative bin counts. The estimate brackets the exact ceil-rank
    order statistic within one bin ([est_lo_cents, est_hi_cents), width
    $1 — pinned in tests/test_relational.py), and unlike percentile()
    the stored partials are re-usable and associative: any subset of
    years merges to the same structure. All integer arithmetic -> full
    oracle. Merge-grain mergeability itself is exercised in-plan: the
    partial agg and the merging agg are separate shuffles."""
    ev = load_table(spark, sf_dir, "events")
    partials = (
        ev.selectExpr(
            "event_type",
            "year(ts) AS yr",
            "CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS vc",
        )
        # FLOOR division (not div/trunc) so the one-bin bracket guarantee
        # holds for negative values too: trunc would collapse (-100, 0)
        # into bin 0 and break lo <= exact < hi
        .selectExpr(
            "event_type",
            "yr",
            "CASE WHEN vc >= 0 THEN vc div 100 ELSE -((-vc + 99) div 100) END AS bin",
        )
        .groupBy("event_type", "yr", "bin")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    merged = partials.groupBy("event_type", "bin").agg(
        F.sum("cnt").cast("bigint").alias("n")
    )
    cum = merged.selectExpr(
        "event_type",
        "bin",
        "sum(n) OVER (PARTITION BY event_type ORDER BY bin "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum",
        "sum(n) OVER (PARTITION BY event_type) AS n_total",
    )
    hits = cum.selectExpr(
        "event_type", "bin", "cum", "n_total", "explode(array(50, 90, 99)) AS q"
    ).filter("cum >= (n_total * q + 99) div 100")
    return hits.groupBy("event_type", "q").agg(
        F.max("n_total").alias("n_total"),
        (F.min("bin") * 100).cast("bigint").alias("est_lo_cents"),
        (F.min("bin") * 100 + 100).cast("bigint").alias("est_hi_cents"),
    )


SQL_AGG_QUANTILE_SKETCH = """
WITH cents AS (
    SELECT event_type, year(ts) AS yr,
           CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS vc
    FROM events
),
binned AS (
    SELECT event_type, yr,
           CASE WHEN vc >= 0 THEN vc // 100
                ELSE -((-vc + 99) // 100) END AS bin
    FROM cents
),
partials AS (
    SELECT event_type, yr, bin, count(*) AS cnt FROM binned GROUP BY 1, 2, 3
),
merged AS (
    SELECT event_type, bin, CAST(sum(cnt) AS BIGINT) AS n
    FROM partials GROUP BY 1, 2
),
cum AS (
    SELECT event_type, bin,
           sum(n) OVER (PARTITION BY event_type ORDER BY bin
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
           sum(n) OVER (PARTITION BY event_type) AS n_total
    FROM merged
),
hits AS (
    SELECT c.event_type, c.bin, c.cum, c.n_total, t.q
    FROM cum c CROSS JOIN (VALUES (50), (90), (99)) t(q)
    WHERE c.cum >= (c.n_total * t.q + 99) // 100
)
SELECT event_type, CAST(q AS INT) AS q,
       CAST(max(n_total) AS BIGINT) AS n_total,
       CAST(min(bin) * 100 AS BIGINT) AS est_lo_cents,
       CAST(min(bin) * 100 + 100 AS BIGINT) AS est_hi_cents
FROM hits GROUP BY 1, 2
"""


def q_agg_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min Sketch heavy hitters — the mergeable point-frequency
    sketch completing the sketch family (Bloom = membership, HLL =
    distinct, fixed-grid = quantiles, CMS = frequency). d=3 hash rows x
    w=1024 buckets over per-user event counts; partials are stored at
    (row, bucket, year) grain and MERGED by summation (same
    store-partials workflow as agg_quantile_sketch), estimates are
    min-over-rows of the probed buckets. CMS is fully deterministic
    given its hash functions — md5 via portable_hash, reproducible in
    DuckDB — so unlike the DataSketches HLL entry this sketch carries a
    FULL oracle. The one-sided guarantee (est >= true, over <= e*n/w
    w.h.p.) is pinned for every user in tests/test_relational.py.

    Scale: the sketch is 3 x 1024 rows regardless of corpus size; the
    only full-data shuffle is the partial agg (after a 3x map-side
    explode); probing broadcasts the sketch and touches only the probe
    set. At 100 TB the (row, bucket, day) partials land in the lake and
    any date range re-merges without rescanning events."""
    from movie_data_transformer_spark.operators.text import PORTABLE_HASH_SPARK_SQL

    from movie_data_transformer_spark.operators.sizing import widen_for_compute

    W = 1024
    # the 3x explode + per-copy md5 hashing is the heavy pre-exchange
    # work — widen the one-row-group events scan first (r12 opt round;
    # no-op on an already-wide cluster scan); only (user_id, yr) shuffles
    ev = widen_for_compute(
        load_table(spark, sf_dir, "events").selectExpr("user_id", "year(ts) AS yr"),
        "user_id",
    )
    hash_expr = (
        PORTABLE_HASH_SPARK_SQL.format(
            x="concat('cms:', CAST(r AS STRING), ':', CAST(user_id AS STRING))"
        )
        + f" % {W}"
    )
    hashed = ev.selectExpr("user_id", "yr", "explode(array(0, 1, 2)) AS r").selectExpr(
        "user_id", "yr", "r", f"{hash_expr} AS bucket"
    )
    partials = hashed.groupBy("r", "bucket", "yr").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    cms = partials.groupBy("r", "bucket").agg(F.sum("cnt").cast("bigint").alias("c"))
    probe_rows = (
        ev.select("user_id")
        .distinct()
        .selectExpr("user_id", "explode(array(0, 1, 2)) AS r")
        .selectExpr("user_id", "r", f"{hash_expr} AS bucket")
    )
    est = (
        probe_rows.join(F.broadcast(cms), ["r", "bucket"])
        .groupBy("user_id")
        .agg(F.min("c").cast("bigint").alias("est_n"))
    )
    true_n = ev.groupBy("user_id").agg(F.count(F.lit(1)).cast("bigint").alias("true_n"))
    return (
        est.join(true_n, ["user_id"])
        .selectExpr(
            "user_id", "true_n", "est_n", "CAST(est_n - true_n AS BIGINT) AS overcount"
        )
        .orderBy(F.col("est_n").desc(), F.col("user_id").asc())
        .limit(20)
    )


SQL_AGG_CMS_HEAVY_HITTERS = f"""
WITH ev AS (SELECT user_id, year(ts) AS yr FROM events),
rr AS (SELECT 0 AS r UNION ALL SELECT 1 UNION ALL SELECT 2),
hashed AS (
    SELECT e.user_id, e.yr, rr.r,
           {_BF_H.format(x="'cms:' || rr.r || ':' || e.user_id")} % 1024 AS bucket
    FROM ev e CROSS JOIN rr
),
partials AS (
    SELECT r, bucket, yr, count(*) AS cnt FROM hashed GROUP BY 1, 2, 3
),
cms AS (
    SELECT r, bucket, CAST(sum(cnt) AS BIGINT) AS c FROM partials GROUP BY 1, 2
),
probes AS (SELECT DISTINCT user_id FROM ev),
probe_rows AS (
    SELECT p.user_id, rr.r,
           {_BF_H.format(x="'cms:' || rr.r || ':' || p.user_id")} % 1024 AS bucket
    FROM probes p CROSS JOIN rr
),
est AS (
    SELECT pr.user_id, CAST(min(c.c) AS BIGINT) AS est_n
    FROM probe_rows pr JOIN cms c ON pr.r = c.r AND pr.bucket = c.bucket
    GROUP BY 1
),
tru AS (SELECT user_id, CAST(count(*) AS BIGINT) AS true_n FROM ev GROUP BY 1)
SELECT e.user_id, t.true_n, e.est_n,
       CAST(e.est_n - t.true_n AS BIGINT) AS overcount
FROM est e JOIN tru t ON e.user_id = t.user_id
ORDER BY e.est_n DESC, e.user_id ASC LIMIT 20
"""


QUERIES = {
    "join_multiway": (q_join_multiway, SQL_JOIN_MULTIWAY),
    "fuzzy_name_match": (q_fuzzy_name_match, SQL_FUZZY_NAME_MATCH),
    "agg_approx_sketches": (q_agg_approx, None),
    "agg_hll_mergeable": (q_agg_hll_mergeable, None),
    "hll_union_gate": (q_hll_union_gate, SQL_HLL_UNION_GATE),
    "join_skew_salted": (q_join_skew_salted, SQL_JOIN_SKEW_SALTED),
    "agg_distinct_per_attrs": (q_agg_distinct_per_attrs, SQL_AGG_DISTINCT_PER_ATTRS),
    "join_semi": (q_join_semi, SQL_JOIN_SEMI),
    "join_anti": (q_join_anti, SQL_JOIN_ANTI),
    "join_outer_coalesce": (q_join_outer_coalesce, SQL_JOIN_OUTER_COALESCE),
    "agg_distinct": (q_agg_distinct, SQL_AGG_DISTINCT),
    "agg_rollup": (q_agg_rollup, SQL_AGG_ROLLUP),
    "agg_cube": (q_agg_cube, SQL_AGG_CUBE),
    "agg_grouping_sets": (q_agg_grouping_sets, SQL_AGG_GROUPING_SETS),
    "agg_stats": (q_agg_stats, SQL_AGG_STATS),
    "agg_having": (q_agg_having, SQL_AGG_HAVING),
    "agg_pivot": (q_agg_pivot, SQL_AGG_PIVOT),
    "window_topk_per_group": (q_window_topk_per_group, SQL_WINDOW_TOPK_PER_GROUP),
    "window_running_sum": (q_window_running_sum, SQL_WINDOW_RUNNING_SUM),
    "window_lag_lead": (q_window_lag_lead, SQL_WINDOW_LAG_LEAD),
    "window_rank_dense": (q_window_rank_dense, SQL_WINDOW_RANK_DENSE),
    "sort_limit_topn": (q_sort_limit_topn, SQL_SORT_LIMIT_TOPN),
    "set_ops": (q_set_ops, SQL_SET_OPS),
    "scalar_string_pack": (q_scalar_string_pack, SQL_SCALAR_STRING_PACK),
    "scalar_math_pack": (q_scalar_math_pack, SQL_SCALAR_MATH_PACK),
    "scalar_date_pack": (q_scalar_date_pack, SQL_SCALAR_DATE_PACK),
    "expr_json": (q_expr_json, SQL_EXPR_JSON),
    "join_bloom_prune": (q_join_bloom_prune, SQL_JOIN_BLOOM_PRUNE),
    "agg_quantile_sketch": (q_agg_quantile_sketch, SQL_AGG_QUANTILE_SKETCH),
    "agg_cms_heavy_hitters": (q_agg_cms_heavy_hitters, SQL_AGG_CMS_HEAVY_HITTERS),
}
