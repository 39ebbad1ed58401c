"""TPC-H-shaped analytical queries adapted to the driver tables' columns —
the classic multi-operator compositions (scan+filter+join+agg+sort) that
exercise the optimizer end-to-end, each with a DuckDB oracle.

(The driver schema is TPC-H-ish but trimmed — no commitdate/receiptdate,
no shippriority, etc. — so these are adaptations, cited per query.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from movie_data_transformer_spark.functions import (
    decimal_sum,
    deterministic_avg,
    micro_ratio,
    money_out,
)
from movie_data_transformer_spark.sources.tables import load_table


def _t(spark, sf_dir, name):
    return load_table(spark, sf_dir, name)


def q_tpch_q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q1: pricing summary report — wide aggregate over filtered lineitem.

    The nine decimal partial-aggregates are the heavy per-row work and they
    run BEFORE the first exchange, i.e. at scan parallelism — on the driver
    testdata's single-row-group parquet that is ONE task, so the filtered,
    projected rows are widened first (r12 opt round; no-op on a cluster
    where the scan is already split, same as stats_corr_by_year). Filter
    and project BEFORE the widen so the exchange carries only surviving
    rows of the seven needed columns (guide §2.3). Group sums are exact
    decimals, so partitioning cannot change the result (pinned in
    tests/test_partitioning_invariance.py)."""
    from movie_data_transformer_spark.operators.sizing import widen_for_compute

    li = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        widen_for_compute(
            li.filter(F.col("l_shipdate").cast("date") <= F.lit("1998-09-02")).select(
                "l_returnflag",
                "l_linestatus",
                "l_quantity",
                "l_extendedprice",
                "l_discount",
                "l_tax",
                "l_orderkey",
            ),
            "l_orderkey",
        )
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            money_out(decimal_sum("l_quantity", 2), "sum_qty"),
            money_out(decimal_sum("l_extendedprice", 2), "sum_base_price"),
            money_out(decimal_sum(disc_price, 4), "sum_disc_price"),
            money_out(decimal_sum(charge, 6), "sum_charge"),
            deterministic_avg("l_quantity", 2, "avg_qty"),
            deterministic_avg("l_extendedprice", 2, "avg_price"),
            deterministic_avg("l_discount", 4, "avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


SQL_TPCH_Q1 = """
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
       CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) * 1000000 AS HUGEINT)
            // count(l_quantity) AS DOUBLE) / 1000000 AS avg_qty,
       CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) * 1000000 AS HUGEINT)
            // count(l_extendedprice) AS DOUBLE) / 1000000 AS avg_price,
       CAST(CAST(sum(CAST(l_discount AS DECIMAL(18,4))) * 1000000 AS HUGEINT)
            // count(l_discount) AS DOUBLE) / 1000000 AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE CAST(l_shipdate AS DATE) <= DATE '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def q_tpch_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q3: top unshipped-revenue orders for a segment (adapted: no
    shippriority column; top-10 by revenue with deterministic tiebreak)."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate").cast("date") < F.lit("1998-03-15"))
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate").cast("date") > F.lit("1998-03-15"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", F.col("o_orderdate").cast("date").alias("o_orderdate"))
        .agg(money_out(decimal_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4), "revenue"))
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


SQL_TPCH_Q3 = """
SELECT l_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND CAST(o_orderdate AS DATE) < DATE '1998-03-15'
  AND CAST(l_shipdate AS DATE) > DATE '1998-03-15'
GROUP BY 1, 2
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10
"""


def q_tpch_q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q5: revenue where customer and supplier share a nation, per nation
    (adapted: join on shared nation of customer+supplier, no region cut on
    one side needed since region is tiny here)."""
    li, o = _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "orders")
    c, s = _t(spark, sf_dir, "customer"), _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .filter(c.c_nationkey == s.s_nationkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(money_out(decimal_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4), "revenue"))
    )


SQL_TPCH_Q5 = """
SELECT n_name,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE c_nationkey = s_nationkey
GROUP BY n_name
"""


def q_tpch_q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q6: forecasting revenue change — pure scan+filter+agg (the
    pushdown showcase)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate").cast("date") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate").cast("date") < F.lit("1997-01-01"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            money_out(decimal_sum(F.col("l_extendedprice") * F.col("l_discount"), 4), "revenue"),
            F.count("*").alias("n_items"),
        )
    )


SQL_TPCH_Q6 = """
SELECT CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
       count(*) AS n_items
FROM lineitem
WHERE CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
  AND CAST(l_shipdate AS DATE) < DATE '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


def q_tpch_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q10: customers who returned items, ranked by lost revenue (top 20)."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    o = _t(spark, sf_dir, "orders")
    c, n = _t(spark, sf_dir, "customer"), _t(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name", "c_acctbal")
        .agg(money_out(decimal_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4), "revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


SQL_TPCH_Q10 = """
SELECT c_custkey, c_name, n_name, c_acctbal,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
GROUP BY 1, 2, 3, 4
ORDER BY revenue DESC, c_custkey ASC
LIMIT 20
"""


def q_tpch_q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4: order priority checking — orders with at least one line shipped
    over 60 days after the order date.

    The EXISTS rides the join shuffle instead of a second pass: orders
    join lineitem ONCE on the order key, then a per-order `max(is_late)`
    aggregation reuses that HashPartitioning(o_orderkey) — it satisfies
    the groupBy's clustered distribution, so the any-late reduction
    costs ZERO extra shuffles. The prior form re-joined the distinct
    late order keys back against a SECOND scan of orders (left-semi),
    i.e. orders scanned and shuffled twice. An order with no lines
    cannot satisfy the EXISTS, so the inner join preserves semantics;
    the final by-priority count shuffles only one row per order."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    joined = o.select("o_orderkey", "o_orderdate", "o_orderpriority").join(
        li.select("l_orderkey", "l_shipdate"), F.col("o_orderkey") == F.col("l_orderkey")
    )
    per_order = joined.groupBy("o_orderkey", "o_orderpriority").agg(
        F.max(
            F.datediff(F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date")) > 60
        ).alias("any_late")
    )
    return (
        per_order.filter(F.col("any_late"))
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


SQL_TPCH_Q4 = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE EXISTS (
    SELECT 1 FROM lineitem
    WHERE l_orderkey = o_orderkey
      AND date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) > 60
)
GROUP BY o_orderpriority
"""


def q_tpch_q14_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q14: promotion revenue share — conditional aggregation over a
    broadcast-joined part dimension ('red' parts play PROMO)."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    j = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    agg = j.agg(
        decimal_sum(F.when(F.col("p_name").contains("red"), rev).otherwise(0), 4).alias("_promo"),
        decimal_sum(rev, 4).alias("_total"),
    )
    # pct in exact integer units: floor(promo/total * 100 * 1e6) via
    # micro_ratio(promo*1e6, total*1e4) — both sums are DECIMAL(38,4) so
    # the scaled values are integral; no round(double) call (NOTES.md)
    return agg.select(
        money_out("_promo", "promo_revenue"),
        money_out("_total", "total_revenue"),
        micro_ratio(
            F.col("_promo") * F.lit(1_000_000), F.col("_total") * F.lit(10_000)
        ).alias("promo_pct"),
    )


SQL_TPCH_Q14 = """
SELECT CAST(pr AS DOUBLE) AS promo_revenue,
       CAST(tr AS DOUBLE) AS total_revenue,
       CAST(CAST(pr * 1000000 AS HUGEINT) * 1000000
            // CAST(tr * 10000 AS HUGEINT) AS DOUBLE) / 1000000 AS promo_pct
FROM (
    SELECT sum(CAST(CASE WHEN contains(p_name, 'red')
                         THEN l_extendedprice * (1 - l_discount) ELSE 0 END
               AS DECIMAL(18,4))) AS pr,
           sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS tr
    FROM lineitem JOIN part ON l_partkey = p_partkey
)
"""


def q_tpch_q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q7: volume shipping between distinct nation pairs, by ship year
    (customer nation != supplier nation)."""
    li, o = _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "orders")
    c, s = _t(spark, sf_dir, "customer"), _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    n1 = F.broadcast(n.select(F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")))
    n2 = F.broadcast(n.select(F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(n1, c.c_nationkey == F.col("c_nk"))
        .join(n2, s.s_nationkey == F.col("s_nk"))
        .filter(F.col("cust_nation") != F.col("supp_nation"))
        .groupBy(
            "cust_nation",
            "supp_nation",
            F.year(F.col("l_shipdate").cast("date")).cast("int").alias("ship_year"),
        )
        .agg(money_out(decimal_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4), "volume"))
    )


SQL_TPCH_Q7 = """
SELECT n1.n_name AS cust_nation, n2.n_name AS supp_nation,
       CAST(year(CAST(l_shipdate AS DATE)) AS INT) AS ship_year,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS volume
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n1 ON c_nationkey = n1.n_nationkey
JOIN nation n2 ON s_nationkey = n2.n_nationkey
WHERE n1.n_name <> n2.n_name
GROUP BY 1, 2, 3
"""


def q_tpch_q13_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q13: distribution of customers by order count (incl. zero-order
    customers via left join)."""
    c, o = _t(spark, sf_dir, "customer"), _t(spark, sf_dir, "orders")
    per_cust = (
        c.join(o.filter(F.col("o_orderpriority") != "5-LOW"), c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


SQL_TPCH_Q13 = """
SELECT c_count, count(*) AS custdist
FROM (
    SELECT c_custkey, count(o_orderkey) AS c_count
    FROM customer LEFT JOIN orders
      ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
    GROUP BY c_custkey
) t
GROUP BY c_count
"""


def q_tpch_q19_disjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q19: disjunctive OR-of-ANDs predicates across a join (brand x size
    x quantity bands) — the predicate-pushdown/CNF stress case."""
    li, p = _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "part")
    j = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    cond = (
        ((F.col("p_brand") == "Brand#11") & (F.col("p_size") <= 10) & (F.col("l_quantity") < 15))
        | ((F.col("p_brand") == "Brand#22") & (F.col("p_size") <= 20) & (F.col("l_quantity") < 30))
        | ((F.col("p_brand") == "Brand#33") & (F.col("p_size") <= 30) & (F.col("l_quantity") < 45))
    )
    return j.filter(cond).agg(
        money_out(decimal_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4), "revenue"),
        F.count("*").alias("n_items"),
    )


SQL_TPCH_Q19 = """
SELECT CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
       count(*) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#11' AND p_size <= 10 AND l_quantity < 15)
   OR (p_brand = 'Brand#22' AND p_size <= 20 AND l_quantity < 30)
   OR (p_brand = 'Brand#33' AND p_size <= 30 AND l_quantity < 45)
"""


def q_tpch_q22_global_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q22: customers with above-average balance and no orders (scalar
    subquery + anti join), grouped by nation."""
    c, o = _t(spark, sf_dir, "customer"), _t(spark, sf_dir, "orders")
    # threshold via deterministic_avg (exact micro-unit floor): the old
    # round(sum/count, 6) could land on a 1e-6 midpoint and flip the
    # c_acctbal > a membership across engines (NOTES.md midpoint class)
    avg_bal = c.filter(F.col("c_acctbal") > 0).agg(
        deterministic_avg("c_acctbal", 2, "a")
    )
    rich = c.join(F.broadcast(avg_bal)).filter(F.col("c_acctbal") > F.col("a"))
    big = o.filter(F.col("o_totalprice") > 200000)
    no_big_orders = rich.join(big, rich.c_custkey == big.o_custkey, "left_anti")
    return no_big_orders.groupBy("c_nationkey").agg(
        F.count("*").alias("numcust"),
        money_out(decimal_sum("c_acctbal", 2), "totacctbal"),
    )


SQL_TPCH_Q22 = """
WITH avg_bal AS (
    SELECT CAST(CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) * 1000000 AS HUGEINT)
                // count(c_acctbal) AS DOUBLE) / 1000000 AS a
    FROM customer WHERE c_acctbal > 0
)
SELECT c_nationkey, count(*) AS numcust,
       CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
FROM customer, avg_bal
WHERE c_acctbal > a
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_totalprice > 200000)
GROUP BY c_nationkey
"""


def q_tpch_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q8: market share — fraction of EUROPE-customer revenue supplied by
    suppliers of one nation, per order year."""
    li, o = _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "orders")
    c, s = _t(spark, sf_dir, "customer"), _t(spark, sf_dir, "supplier")
    n, r = _t(spark, sf_dir, "nation"), _t(spark, sf_dir, "region")
    cn = n.select(F.col("n_nationkey").alias("c_nk"), F.col("n_regionkey").alias("c_rk"))
    sn = n.select(F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation"))
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    base = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(cn), c.c_nationkey == F.col("c_nk"))
        .join(F.broadcast(sn), s.s_nationkey == F.col("s_nk"))
        .join(F.broadcast(r.filter(F.col("r_name") == "EUROPE")), F.col("c_rk") == r.r_regionkey)
    )
    yearly = base.groupBy(
        F.year(F.col("o_orderdate").cast("date")).cast("int").alias("o_year")
    ).agg(
        F.sum(
            F.when(F.col("supp_nation") == "NATION_0", rev).otherwise(0).cast("decimal(18,4)")
        ).alias("nation_rev"),
        F.sum(rev.cast("decimal(18,4)")).alias("total_rev"),
    )
    # share in exact integer 1e-4 units (both sums are DECIMAL(38,4), so
    # *10^4 is integral) -> micro_ratio, never round(double/double, 6)
    # (midpoint class, NOTES.md)
    return yearly.select(
        "o_year",
        money_out("nation_rev"),
        money_out("total_rev"),
        micro_ratio(
            F.col("nation_rev") * F.lit(10000), F.col("total_rev") * F.lit(10000)
        ).alias("mkt_share"),
    )


SQL_TPCH_Q8 = """
WITH base AS (
    SELECT l_extendedprice * (1 - l_discount) AS rev,
           CAST(year(CAST(o_orderdate AS DATE)) AS INT) AS o_year,
           n2.n_name AS supp_nation
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation n1 ON c_nationkey = n1.n_nationkey
    JOIN nation n2 ON s_nationkey = n2.n_nationkey
    JOIN region   ON n1.n_regionkey = r_regionkey AND r_name = 'EUROPE'
)
SELECT o_year,
       CAST(nr AS DOUBLE) AS nation_rev,
       CAST(tr AS DOUBLE) AS total_rev,
       CAST(CAST(nr * 10000 AS HUGEINT) * 1000000
            // CAST(tr * 10000 AS HUGEINT) AS DOUBLE) / 1000000 AS mkt_share
FROM (
    SELECT o_year,
           sum(CAST(CASE WHEN supp_nation = 'NATION_0' THEN rev ELSE 0 END
                    AS DECIMAL(18,4))) AS nr,
           sum(CAST(rev AS DECIMAL(18,4))) AS tr
    FROM base GROUP BY o_year
)
"""


def q_tpch_q12_late_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q12: shipping-mode priority split (adapted: no l_shipmode /
    commit/receipt dates, so group by l_linestatus and define "late" as
    shipped > 60 days after order date; the conditional-count shape is
    the point)."""
    li, o = _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "orders")
    late = F.col("l_shipdate").cast("date") > F.date_add(F.col("o_orderdate").cast("date"), 60)
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .filter(late)
        .groupBy("l_linestatus")
        .agg(
            F.count(F.when(high, 1)).alias("high_line_count"),
            F.count(F.when(~high, 1)).alias("low_line_count"),
        )
    )


SQL_TPCH_Q12 = """
SELECT l_linestatus,
       count(*) FILTER (WHERE o_orderpriority IN ('1-URGENT','2-HIGH'))
           AS high_line_count,
       count(*) FILTER (WHERE o_orderpriority NOT IN ('1-URGENT','2-HIGH'))
           AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE CAST(l_shipdate AS DATE) > CAST(o_orderdate AS DATE) + INTERVAL 60 DAY
GROUP BY l_linestatus
"""


def q_tpch_q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q17: small-quantity-order revenue — correlated scalar subquery
    (per-part average quantity) re-expressed as an aggregate + rejoin
    (adapted: p_size < 15 stands in for the missing p_container filter).

    The threshold compare l_quantity < 0.2 * avg(l_quantity) is done in
    exact decimal cross-multiplied form (5 * qty * cnt < sum) so no
    engine-specific double rounding can flip a boundary row.
    """
    li, p = _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "part")
    pp = p.filter((F.col("p_brand") == "Brand#23") & (F.col("p_size") < 15))
    per_part = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("sum_q"),
        F.count("l_quantity").alias("cnt_q"),
    )
    j = (
        li.join(F.broadcast(pp), li.l_partkey == pp.p_partkey)
        .join(F.broadcast(per_part), li.l_partkey == F.col("pk"))
        .filter(
            F.col("l_quantity").cast("decimal(18,2)") * 5 * F.col("cnt_q") < F.col("sum_q")
        )
    )
    return j.agg(
        decimal_sum("l_extendedprice", 2, "total_ext"),
        F.count("*").alias("n_small"),
    ).select(
        money_out("total_ext"),
        "n_small",
        F.round(F.col("total_ext").cast("double") / 7.0, 6).alias("avg_yearly"),
    )


SQL_TPCH_Q17 = """
WITH per_part AS (
    SELECT l_partkey AS pk,
           sum(CAST(l_quantity AS DECIMAL(18,2))) AS sum_q,
           count(l_quantity) AS cnt_q
    FROM lineitem GROUP BY l_partkey
)
SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total_ext,
       count(*) AS n_small,
       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0, 6)
           AS avg_yearly
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN per_part ON l_partkey = pk
WHERE p_brand = 'Brand#23' AND p_size < 15
  AND CAST(l_quantity AS DECIMAL(18,2)) * 5 * cnt_q < sum_q
"""


def q_tpch_q18_large_volume_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q18: large-volume customers — groupBy + HAVING on an exact decimal
    sum, then rejoin to customer/orders for the detail row."""
    li, o = _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("sum_qty"))
        .filter(F.col("sum_qty") > 250)
    )
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            F.col("l_orderkey").alias("o_orderkey"),
            F.col("o_orderdate").cast("date").alias("o_orderdate"),
            "o_totalprice",
            money_out("sum_qty"),
        )
    )


SQL_TPCH_Q18 = """
SELECT c_custkey, c_name, o_orderkey,
       CAST(o_orderdate AS DATE) AS o_orderdate,
       o_totalprice, CAST(sum_qty AS DOUBLE) AS sum_qty
FROM (
    SELECT l_orderkey AS o_orderkey, sum(CAST(l_quantity AS DECIMAL(18,2))) AS sum_qty
    FROM lineitem GROUP BY l_orderkey
    HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 250
) big
JOIN orders USING (o_orderkey)
JOIN customer ON o_custkey = c_custkey
"""


def q_tpch_q21_suppliers_who_kept_waiting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q21: suppliers who kept orders waiting (adapted: "late" is shipped
    > 60 days after order date, standing in for the missing
    commit/receipt dates; multi-supplier orders with status 'F' where
    ONLY this supplier was late).

    The EXISTS / NOT EXISTS pair is computed over ONE pass of the
    order-line relation: a late line qualifies iff its order has a
    second distinct supplier (any line) and exactly one distinct LATE
    supplier (necessarily this one, since the line itself is late) —
    both are `size(collect_set(...))` over an l_orderkey window, so the
    whole per-order logic costs one shuffle on l_orderkey. The prior
    form semi-joined l1 against l2 and anti-joined against l3, i.e.
    THREE scans of lineitem+orders and two sort-merge self-joins — at
    100 TB that is two extra passes over the fact table for information
    the single window already has. Set state per order is bounded by
    suppliers-per-order (a small constant), so the window cannot skew.
    supplier/nation broadcast; the top-20 is a TakeOrdered, never a
    global sort."""
    li, o = _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "orders")
    s, n = _t(spark, sf_dir, "supplier"), _t(spark, sf_dir, "nation")
    f_orders = o.filter(F.col("o_orderstatus") == "F")
    lines = li.join(
        f_orders.select("o_orderkey", "o_orderdate"), li.l_orderkey == F.col("o_orderkey")
    ).select(
        "l_orderkey",
        "l_suppkey",
        (
            F.col("l_shipdate").cast("date") > F.date_add(F.col("o_orderdate").cast("date"), 60)
        ).alias("is_late"),
    )
    w = Window.partitionBy("l_orderkey")
    sole = (
        lines.withColumn("n_supp", F.size(F.collect_set("l_suppkey").over(w)))
        .withColumn(
            "n_late_supp",
            F.size(
                F.collect_set(
                    F.when(F.col("is_late"), F.col("l_suppkey"))
                ).over(w)
            ),
        )
        .filter(F.col("is_late") & (F.col("n_supp") >= 2) & (F.col("n_late_supp") == 1))
    )
    return (
        sole.join(F.broadcast(s), sole.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("s_name", "n_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.col("numwait").desc(), F.col("s_name").asc())
        .limit(20)
    )


SQL_TPCH_Q21 = """
WITH lines AS (
    SELECT l_orderkey, l_suppkey,
           CAST(l_shipdate AS DATE) > CAST(o_orderdate AS DATE) + INTERVAL 60 DAY
               AS is_late
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_orderstatus = 'F'
)
SELECT s_name, n_name, count(*) AS numwait
FROM lines l1
JOIN supplier ON l1.l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
WHERE l1.is_late
  AND EXISTS (SELECT 1 FROM lines l2
              WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lines l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey AND l3.is_late)
GROUP BY s_name, n_name
ORDER BY numwait DESC, s_name ASC
LIMIT 20
"""


def q_tpch_q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2: minimum-cost supplier — the correlated MIN subquery (adapted:
    no partsupp table, so per-pair supply cost is derived as the minimum
    observed unit price min(l_extendedprice/l_quantity) over lineitem,
    and p_type = 'LARGE' stands in for the '%BRASS' suffix filter).

    The correlated `cost = (SELECT min(cost) ... WHERE same part)` is
    re-expressed as a partition-window MIN over the already-filtered
    region slice — one shuffle on p_partkey instead of a re-scan, and
    every dim (supplier/nation/region/part) broadcasts against the
    derived pair relation. Unit price is EXACT INTEGER micro-dollars
    (price-cents x 10000 DIV quantity — both integral in the data), so
    MIN, the equality filter, and the output value are bit-identical
    across engines with no rounding call at all: round(double, 6)
    diverged between Spark (exact-BigDecimal HALF_UP) and DuckDB
    (FP-scaled) on a quotient that landed on an exact 1e-6 midpoint at
    sf0.1 (266.9078125). The final cost is one IEEE division of the
    same bigint by 1e6 on both sides.
    """
    li = _t(spark, sf_dir, "lineitem")
    cost_micro = F.expr(
        "CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT) * 10000"
        " div CAST(l_quantity AS BIGINT)"
    )
    ps = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(cost_micro).alias("cost_micro")
    )
    s, n = _t(spark, sf_dir, "supplier"), _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_type") == "LARGE") & (F.col("p_size") < 15)
    )
    j = (
        ps.join(F.broadcast(s), ps.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .join(F.broadcast(p), ps.l_partkey == p.p_partkey)
    )
    w = Window.partitionBy("p_partkey")
    return (
        j.withColumn("min_cost", F.min("cost_micro").over(w))
        .filter(F.col("cost_micro") == F.col("min_cost"))
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            "p_partkey",
            "p_name",
            (F.col("cost_micro").cast("double") / F.lit(1000000.0)).alias("cost"),
        )
    )


SQL_TPCH_Q2 = """
WITH ps AS (
    SELECT l_partkey, l_suppkey,
           min(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)
               * 10000 // CAST(l_quantity AS BIGINT)) AS cost_micro
    FROM lineitem GROUP BY 1, 2
),
j AS (
    SELECT s_acctbal, s_name, n_name, p_partkey, p_name, cost_micro
    FROM ps
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey AND r_name = 'EUROPE'
    JOIN part     ON l_partkey = p_partkey AND p_type = 'LARGE' AND p_size < 15
)
SELECT s_acctbal, s_name, n_name, p_partkey, p_name,
       CAST(cost_micro AS DOUBLE) / 1000000 AS cost
FROM j
WHERE cost_micro = (SELECT min(cost_micro) FROM j j2 WHERE j2.p_partkey = j.p_partkey)
"""


def q_tpch_q9_product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q9: product-type profit by nation and year — the 5-way join
    (adapted: no partsupp.ps_supplycost, so cost is the 0.9 *
    p_retailprice * l_quantity proxy; '%red%' name filter stands in for
    '%green%'). Profit per row is computed in one fixed double
    expression then cast to exact decimal, so the sum is shuffle- and
    engine-independent. part/supplier/nation all broadcast; the only
    shuffles are lineitem⋈orders and the final (nation, year) agg.
    """
    li, o = _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "orders")
    s, n = _t(spark, sf_dir, "supplier"), _t(spark, sf_dir, "nation")
    p = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    amount = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.lit(0.9) * F.col("p_retailprice") * F.col("l_quantity")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(money_out(decimal_sum(amount, 4), "sum_profit"))
    )


SQL_TPCH_Q9 = """
SELECT n_name AS nation, year(o_orderdate) AS o_year,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                     - 0.9 * p_retailprice * l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_profit
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN part     ON l_partkey = p_partkey AND p_name LIKE '%red%'
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
GROUP BY 1, 2
"""


def q_tpch_q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q11: important stock identification — per-part value with a
    global scalar-subquery threshold (adapted: value is the exact
    decimal sum of l_extendedprice shipped by EUROPE suppliers, standing
    in for ps_supplycost * ps_availqty; the fixed 0.0001/SF fraction
    becomes the scale-free '10% above the mean part value').

    The threshold compare runs in exact integer cents, cross-multiplied
    (value_cents * 10 * part_count > 11 * total_cents) so no double
    rounding can flip a boundary part. The global total/count come from
    a 1-row aggregate over the PERSISTED per-part table, broadcast back
    via crossJoin — lineitem stays a single scan (the InMemoryRelation
    feeds both consumers) and the part grain never funnels through a
    single-partition window exchange.
    """
    li = _t(spark, sf_dir, "lineitem")
    s, n = _t(spark, sf_dir, "supplier"), _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    v = (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("l_partkey")
        .agg(decimal_sum("l_extendedprice", 2, "value"))
    )
    cents = (F.col("value") * 100).cast("bigint")
    # persist the per-part aggregate and broadcast its 1-row stats back:
    # the old window-over-() funneled the whole part grain through
    # Exchange SinglePartition; with the persist there is still exactly
    # one lineitem scan (the InMemoryRelation feeds both the stats agg
    # and the probe side)
    v = v.persist()
    stats = v.select(cents.alias("_cents")).agg(
        F.sum("_cents").alias("total_cents"),
        F.count("*").alias("part_count"),
    )
    return (
        v.crossJoin(F.broadcast(stats))
        .withColumn("cents", cents)
        .filter(F.col("cents") * 10 * F.col("part_count") > 11 * F.col("total_cents"))
        .select("l_partkey", money_out("value"))
    )


SQL_TPCH_Q11 = """
WITH v AS (
    SELECT l_partkey, sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS value
    FROM lineitem
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey AND r_name = 'EUROPE'
    GROUP BY 1
),
stats AS (
    SELECT sum(CAST(value * 100 AS BIGINT)) AS total_cents,
           count(*) AS part_count
    FROM v
)
SELECT l_partkey, CAST(value AS DOUBLE) AS value
FROM v, stats
WHERE CAST(value * 100 AS BIGINT) * 10 * part_count > 11 * total_cents
"""


def q_tpch_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q15: top supplier — the revenue view + scalar MAX subquery
    (original creates VIEW revenue0; here the view is the grouped,
    PERSISTED DataFrame and the MAX is a 1-row broadcast over it).
    Revenue sums are exact decimal so the MAX-equality keeps every tied
    supplier deterministically, as the spec requires. The persist keeps
    lineitem to a single scan (both the scalar and the probe read the
    InMemoryRelation), and the supplier grain never funnels through a
    single-partition window exchange.
    """
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    rev = (
        li.filter(
            (F.col("l_shipdate").cast("date") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate").cast("date") < F.lit("1996-04-01"))
        )
        .groupBy("l_suppkey")
        .agg(
            decimal_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")),
                4,
                "total_revenue",
            )
        )
    )
    # rank() == 1 over a global desc order IS max-equality (keeps every
    # tied supplier): a 1-row broadcast MAX replaces the single-partition
    # rank window; the persisted revenue view feeds both the scalar and
    # the probe, so lineitem is still scanned once
    rev = rev.persist()
    mx = rev.agg(F.max("total_revenue").alias("_max_rev"))
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("_max_rev"))
        .join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .select("s_suppkey", "s_name", money_out("total_revenue"))
    )


SQL_TPCH_Q15 = """
WITH revenue0 AS (
    SELECT l_suppkey,
           sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
               AS total_revenue
    FROM lineitem
    WHERE CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
      AND CAST(l_shipdate AS DATE) <  DATE '1996-04-01'
    GROUP BY 1
)
SELECT s_suppkey, s_name, CAST(total_revenue AS DOUBLE) AS total_revenue
FROM revenue0 JOIN supplier ON l_suppkey = s_suppkey
WHERE total_revenue = (SELECT max(total_revenue) FROM revenue0)
"""


def q_tpch_q16_parts_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q16: parts/supplier relationship counts — distinct-supplier count
    per (brand, type, size) with a NOT IN exclusion (adapted: the
    supplier-part relation is the distinct (l_partkey, l_suppkey) pairs
    of lineitem in place of partsupp; 'complaint' suppliers are those
    with negative account balance). NOT IN becomes a left-anti join
    against the (tiny, broadcast) exclusion list — safe here because
    s_suppkey is non-null; the part dim broadcasts too, so the only
    shuffle is the final count-distinct agg.
    """
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "SMALL")
        & F.col("p_size").isin(1, 5, 10, 15, 20, 25, 30, 35)
    )
    bad = s.filter(F.col("s_acctbal") < 0).select("s_suppkey")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(bad), li.l_suppkey == bad.s_suppkey, "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


SQL_TPCH_Q16 = """
SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#1' AND p_type <> 'SMALL'
  AND p_size IN (1, 5, 10, 15, 20, 25, 30, 35)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY 1, 2, 3
"""


def q_tpch_q20_potential_promotion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q20: potential part promotion — the nested IN chain (adapted: a
    supplier qualifies if some 'red…' part it shipped in 1997 totals
    more than 30 units, standing in for availqty > half of sold; EUROPE
    region filter). part-id list and the qualifying-supplier set both
    broadcast into semi joins; the year filter prunes lineitem before
    its one (suppkey, partkey) agg shuffle. Quantity sums are exact
    decimal so the HAVING boundary cannot flip.
    """
    li = _t(spark, sf_dir, "lineitem")
    s, n = _t(spark, sf_dir, "supplier"), _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    red = _t(spark, sf_dir, "part").filter(F.col("p_name").like("red%")).select(
        "p_partkey"
    )
    qual = (
        li.filter(F.year("l_shipdate") == 1997)
        .join(F.broadcast(red), li.l_partkey == F.col("p_partkey"), "left_semi")
        .groupBy("l_suppkey", "l_partkey")
        .agg(decimal_sum("l_quantity", 2, "qty"))
        .filter(F.col("qty") > 30)
        .select("l_suppkey")
        .distinct()
    )
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .join(F.broadcast(qual), s.s_suppkey == qual.l_suppkey, "left_semi")
        .select("s_name", "s_acctbal")
    )


SQL_TPCH_Q20 = """
SELECT s_name, s_acctbal
FROM supplier
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey AND r_name = 'EUROPE'
WHERE s_suppkey IN (
    SELECT l_suppkey FROM lineitem
    WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'red%')
      AND year(l_shipdate) = 1997
    GROUP BY l_suppkey, l_partkey
    HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 30
)
"""


QUERIES = {
    "tpch_q1_pricing_summary": (q_tpch_q1_pricing_summary, SQL_TPCH_Q1),
    "tpch_q2_min_cost_supplier": (q_tpch_q2_min_cost_supplier, SQL_TPCH_Q2),
    "tpch_q9_product_type_profit": (q_tpch_q9_product_type_profit, SQL_TPCH_Q9),
    "tpch_q11_important_stock": (q_tpch_q11_important_stock, SQL_TPCH_Q11),
    "tpch_q15_top_supplier": (q_tpch_q15_top_supplier, SQL_TPCH_Q15),
    "tpch_q16_parts_supplier_counts": (q_tpch_q16_parts_supplier_counts, SQL_TPCH_Q16),
    "tpch_q20_potential_promotion": (q_tpch_q20_potential_promotion, SQL_TPCH_Q20),
    "tpch_q8_market_share": (q_tpch_q8_market_share, SQL_TPCH_Q8),
    "tpch_q19_disjunctive": (q_tpch_q19_disjunctive, SQL_TPCH_Q19),
    "tpch_q22_global_sales_opportunity": (q_tpch_q22_global_sales_opportunity, SQL_TPCH_Q22),
    "tpch_q7_nation_volume": (q_tpch_q7_nation_volume, SQL_TPCH_Q7),
    "tpch_q13_order_distribution": (q_tpch_q13_order_distribution, SQL_TPCH_Q13),
    "tpch_q4_order_priority": (q_tpch_q4_order_priority, SQL_TPCH_Q4),
    "tpch_q14_promo_share": (q_tpch_q14_promo_share, SQL_TPCH_Q14),
    "tpch_q3_shipping_priority": (q_tpch_q3_shipping_priority, SQL_TPCH_Q3),
    "tpch_q5_local_supplier_volume": (q_tpch_q5_local_supplier_volume, SQL_TPCH_Q5),
    "tpch_q6_forecast_revenue": (q_tpch_q6_forecast_revenue, SQL_TPCH_Q6),
    "tpch_q10_returned_items": (q_tpch_q10_returned_items, SQL_TPCH_Q10),
    "tpch_q12_late_priority": (q_tpch_q12_late_priority, SQL_TPCH_Q12),
    "tpch_q17_small_quantity_revenue": (q_tpch_q17_small_quantity_revenue, SQL_TPCH_Q17),
    "tpch_q18_large_volume_customer": (q_tpch_q18_large_volume_customer, SQL_TPCH_Q18),
    "tpch_q21_suppliers_who_kept_waiting": (
        q_tpch_q21_suppliers_who_kept_waiting,
        SQL_TPCH_Q21,
    ),
}
