"""Round-6 analytics extensions: two period-comparison reports in exact
integer arithmetic.

- `events_topk_movers`: period-over-period activity change per user —
  split the corpus at its midpoint day, count each user's events per
  half, rank the largest absolute changes (exact integer delta;
  ties on (|delta| desc, user_id) are total). The week-over-week "what
  changed" report every ops dashboard runs.
- `orders_abc_classification`: ABC inventory analysis — parts ranked by
  exact-cents revenue, cumulative share in floor micro, class A/B/C at
  the 80% / 95% cumulative cuts, rolled up per class. The cumulative
  window runs over the part dimension (small); revenue aggregation is
  the only data-sized shuffle.

Both FULL oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from movie_data_transformer_spark.fixtures import RATINGS_ORACLE_CTE
from movie_data_transformer_spark.operators.sizing import widen_for_compute
from movie_data_transformer_spark.operators.ordered_stats import (
    attach_order_stats,
    ntile_expr,
)
from movie_data_transformer_spark.sources.tables import load_table

TOP_MOVERS = 20


def q_events_topk_movers(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "events").createOrReplaceTempView("_mv_events")
    halves = spark.sql(
        """
        WITH days AS (
            SELECT user_id, unix_timestamp(ts) DIV 86400 AS day_idx
            FROM _mv_events
        ),
        bounds AS (
            SELECT (min(day_idx) + max(day_idx)) DIV 2 AS mid FROM days
        )
        SELECT user_id,
               CAST(count(CASE WHEN day_idx <= mid THEN 1 END) AS BIGINT)
                   AS n_h1,
               CAST(count(CASE WHEN day_idx > mid THEN 1 END) AS BIGINT)
                   AS n_h2
        FROM days CROSS JOIN bounds
        GROUP BY user_id
        """
    )
    # top-k via orderBy+limit (parallel TakeOrdered) instead of a global
    # row_number window over the user grain; rank re-derived over the
    # <= TOP_MOVERS survivors
    return (
        halves.orderBy(F.expr("abs(n_h2 - n_h1)").desc(), F.col("user_id").asc())
        .limit(TOP_MOVERS)
        .selectExpr(
            "user_id",
            "n_h1",
            "n_h2",
            "n_h2 - n_h1 AS delta",
            "CAST(row_number() OVER ("
            "ORDER BY abs(n_h2 - n_h1) DESC, user_id ASC) AS INT) AS rk",
        )
    )


SQL_EVENTS_TOPK_MOVERS = f"""
WITH days AS (
    SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day_idx
    FROM events
),
bounds AS (SELECT (min(day_idx) + max(day_idx)) // 2 AS mid FROM days),
halves AS (
    SELECT user_id,
           CAST(count(CASE WHEN day_idx <= mid THEN 1 END) AS BIGINT) AS n_h1,
           CAST(count(CASE WHEN day_idx > mid THEN 1 END) AS BIGINT) AS n_h2
    FROM days CROSS JOIN bounds
    GROUP BY user_id
)
SELECT user_id, n_h1, n_h2, n_h2 - n_h1 AS delta, CAST(rk AS INT) AS rk
FROM (
    SELECT *, row_number() OVER (
        ORDER BY abs(n_h2 - n_h1) DESC, user_id ASC) AS rk
    FROM halves
)
WHERE rk <= {TOP_MOVERS}
"""


def q_orders_abc_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("_abc_li")
    rev = spark.sql(
        """
        SELECT l_partkey,
               CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
                   AS BIGINT)) AS BIGINT) AS rev_cents
        FROM _abc_li GROUP BY l_partkey
        """
    )
    # two-pass running sum + 1-row total (ordered_stats): the old form
    # funneled the whole part grain through Exchange SinglePartition for
    # both the cumulative and the global sum
    ranked = attach_order_stats(
        rev,
        [F.col("rev_cents").desc(), F.col("l_partkey").asc()],
        "rev_cents",
        True,
        running={"cum_cents": "rev_cents"},
        totals={"total_cents": "rev_cents"},
    )
    return (
        ranked.selectExpr(
            "rev_cents",
            # cross-multiplied 80%/95% cuts: cum*5 <= total*4 and
            # cum*20 <= total*19 — no *1e6 blowup, exact to ~4e17 cents
            "CASE WHEN cum_cents * 5 <= total_cents * 4 THEN 'A' "
            "WHEN cum_cents * 20 <= total_cents * 19 THEN 'B' "
            "ELSE 'C' END AS abc_class",
        )
        .groupBy("abc_class")
        .agg(
            F.count("*").cast("bigint").alias("n_parts"),
            F.sum("rev_cents").cast("bigint").alias("class_rev_cents"),
        )
    )


SQL_ORDERS_ABC_CLASSIFICATION = """
WITH rev AS (
    SELECT l_partkey,
           CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
               AS BIGINT)) AS BIGINT) AS rev_cents
    FROM lineitem GROUP BY l_partkey
),
ranked AS (
    SELECT l_partkey, rev_cents,
           CAST(sum(rev_cents) OVER (ORDER BY rev_cents DESC,
               l_partkey ASC ROWS BETWEEN UNBOUNDED PRECEDING AND
               CURRENT ROW) AS BIGINT) AS cum_cents,
           CAST(sum(rev_cents) OVER () AS BIGINT) AS total_cents
    FROM rev
),
classed AS (
    SELECT l_partkey, rev_cents,
           CASE WHEN cum_cents * 5 <= total_cents * 4 THEN 'A'
                WHEN cum_cents * 20 <= total_cents * 19 THEN 'B'
                ELSE 'C' END AS abc_class
    FROM ranked
)
SELECT abc_class,
       CAST(count(*) AS BIGINT) AS n_parts,
       CAST(sum(rev_cents) AS BIGINT) AS class_rev_cents
FROM classed GROUP BY abc_class
"""


def q_orders_cohort_ltv_triangle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value triangle: customers grouped by first-order
    YEAR, revenue accumulated per years-since-acquisition — the
    financial complement of retention_cohorts (which counts users at
    fixed ages). Exact cents; two shuffles (first-order agg + triangle
    grain)."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("_ltv_orders")
    return spark.sql(
        """
        WITH first_order AS (
            SELECT o_custkey, min(year(o_orderdate)) AS cohort_year
            FROM _ltv_orders GROUP BY o_custkey
        )
        SELECT f.cohort_year,
               year(o.o_orderdate) - f.cohort_year AS age_years,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(count(DISTINCT o.o_custkey) AS BIGINT) AS n_active,
               CAST(sum(CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100
                   AS BIGINT)) AS BIGINT) AS rev_cents
        FROM _ltv_orders o JOIN first_order f ON o.o_custkey = f.o_custkey
        GROUP BY f.cohort_year, year(o.o_orderdate) - f.cohort_year
        """
    )


SQL_ORDERS_COHORT_LTV_TRIANGLE = """
WITH first_order AS (
    SELECT o_custkey, min(year(o_orderdate)) AS cohort_year
    FROM orders GROUP BY o_custkey
)
SELECT f.cohort_year,
       year(o.o_orderdate) - f.cohort_year AS age_years,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(count(DISTINCT o.o_custkey) AS BIGINT) AS n_active,
       CAST(sum(CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100
           AS BIGINT)) AS BIGINT) AS rev_cents
FROM orders o JOIN first_order f ON o.o_custkey = f.o_custkey
GROUP BY f.cohort_year, year(o.o_orderdate) - f.cohort_year
"""


def q_events_retention_triangle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention triangle: users grouped by first-active epoch-week
    (cohort), distinct-active counts per weeks-since-acquisition, share
    of the cohort retained in floor-micro units — the engagement twin of
    the LTV triangle (which accumulates revenue at yearly grain).

    Shape: distinct (user, week) pairs (one shuffle), per-user min week
    (reuses the user partitioning), triangle-grain agg, then a per-cohort
    window for the age-0 denominator. Exact integer epoch-weeks; at
    100 TB the pair distinct is the only corpus-sized exchange."""
    load_table(spark, sf_dir, "events").createOrReplaceTempView("_ret_events")
    return spark.sql(
        """
        WITH pairs AS (
            SELECT DISTINCT user_id,
                   unix_timestamp(ts) DIV 604800 AS week_idx
            FROM _ret_events
        ),
        first_week AS (
            SELECT user_id, min(week_idx) AS cohort_week
            FROM pairs GROUP BY user_id
        ),
        tri AS (
            SELECT f.cohort_week,
                   p.week_idx - f.cohort_week AS weeks_since,
                   CAST(count(*) AS BIGINT) AS n_active
            FROM pairs p JOIN first_week f ON p.user_id = f.user_id
            GROUP BY f.cohort_week, p.week_idx - f.cohort_week
        )
        SELECT cohort_week, weeks_since, n_active,
               CAST(n_active * 1000000 DIV (max(CASE WHEN weeks_since = 0
                    THEN n_active END) OVER (PARTITION BY cohort_week))
                    AS DOUBLE) / 1000000 AS retention
        FROM tri
        """
    )


SQL_EVENTS_RETENTION_TRIANGLE = """
WITH pairs AS (
    SELECT DISTINCT user_id,
           CAST(floor(epoch(ts)) AS BIGINT) // 604800 AS week_idx
    FROM events
),
first_week AS (
    SELECT user_id, min(week_idx) AS cohort_week
    FROM pairs GROUP BY user_id
),
tri AS (
    SELECT f.cohort_week,
           p.week_idx - f.cohort_week AS weeks_since,
           CAST(count(*) AS BIGINT) AS n_active
    FROM pairs p JOIN first_week f ON p.user_id = f.user_id
    GROUP BY f.cohort_week, p.week_idx - f.cohort_week
)
SELECT cohort_week, weeks_since, n_active,
       CAST(n_active * 1000000 // (max(CASE WHEN weeks_since = 0
            THEN n_active END) OVER (PARTITION BY cohort_week))
            AS DOUBLE) / 1000000 AS retention
FROM tri
"""


_TS_PAIRS = """
    SELECT a.yr,
           b.rev_cents - a.rev_cents AS dy,
           b.day_idx - a.day_idx AS dx
    FROM daily a JOIN daily b
      ON a.yr = b.yr AND a.day_idx < b.day_idx
"""


def q_stats_theil_sen_by_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend of DAILY revenue per ship-year: the lower
    median of all pairwise slopes (rev_b-rev_a)/(day_b-day_a) over the
    year's day-grain revenue series. The estimator is the standard
    outlier-robust alternative to OLS (breakdown point ~29%); computing
    it at DAY grain is what makes it scale-correct — Theil-Sen is
    O(n^2) in points, so the corpus-sized input is first collapsed to
    <= 366 points per year (one shuffle), and the pairwise expansion is
    bounded at ~67k pairs per group FOREVER, independent of corpus size.

    Exactness: slopes are ranked by trunc-micro value (dy*1e6 DIV dx —
    both engines truncate toward zero, probed by classifier_kappa) with
    (dy, dx) tie-breaks; the lower median is row k = (n_pairs+1) DIV 2
    of that total order, so the reported micro-slope is deterministic
    cross-engine even under rational ties. Revenue in exact cents."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("_ts_lineitem")
    return spark.sql(
        f"""
        WITH daily AS (
            SELECT year(l_shipdate) AS yr,
                   datediff(l_shipdate, make_date(year(l_shipdate), 1, 1))
                       AS day_idx,
                   CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
                       AS BIGINT)) AS BIGINT) AS rev_cents
            FROM _ts_lineitem GROUP BY 1, 2
        ),
        pairs AS ({_TS_PAIRS}),
        ranked AS (
            SELECT yr, dy, dx,
                   dy * 1000000 DIV dx AS slope_micro,
                   row_number() OVER (PARTITION BY yr
                       ORDER BY dy * 1000000 DIV dx, dy, dx) AS rk,
                   count(*) OVER (PARTITION BY yr) AS n_pairs
            FROM pairs
        )
        SELECT yr, CAST(n_pairs AS BIGINT) AS n_pairs,
               slope_micro AS ts_slope_micro,
               CAST(slope_micro AS DOUBLE) / 1000000
                   AS ts_slope_cents_per_day
        FROM ranked
        WHERE rk = (n_pairs + 1) DIV 2
        """
    )


SQL_STATS_THEIL_SEN_BY_YEAR = """
WITH daily AS (
    SELECT year(l_shipdate) AS yr,
           datediff('day', make_date(CAST(year(l_shipdate) AS INT), 1, 1),
                    l_shipdate) AS day_idx,
           CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
               AS BIGINT)) AS BIGINT) AS rev_cents
    FROM lineitem GROUP BY 1, 2
),
pairs AS (
    SELECT a.yr,
           b.rev_cents - a.rev_cents AS dy,
           b.day_idx - a.day_idx AS dx
    FROM daily a JOIN daily b
      ON a.yr = b.yr AND a.day_idx < b.day_idx
),
ranked AS (
    SELECT yr, dy, dx,
           dy * 1000000 // dx AS slope_micro,
           row_number() OVER (PARTITION BY yr
               ORDER BY dy * 1000000 // dx, dy, dx) AS rk,
           count(*) OVER (PARTITION BY yr) AS n_pairs
    FROM pairs
)
SELECT yr, CAST(n_pairs AS BIGINT) AS n_pairs,
       CAST(slope_micro AS BIGINT) AS ts_slope_micro,
       CAST(slope_micro AS DOUBLE) / 1000000 AS ts_slope_cents_per_day
FROM ranked
WHERE rk = (n_pairs + 1) // 2
"""


def q_graph_local_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node local clustering coefficient over the customer co-watch
    graph: cc(v) = 2*T(v) / (deg(v)*(deg(v)-1)) for deg(v) >= 2, in
    floor-micro units — the node-level "how clique-like is my
    neighborhood" metric that turns the global triangle count into a
    community-structure profile. Nodes with deg < 2 are excluded (the
    coefficient is undefined); triangle-free nodes report 0.

    Reuses analytics_queries.cowatch_triangles (degree-oriented
    once-per-triangle enumeration — the scale story lives there); adds
    one corner agg + a deg left-join. Exact integers end-to-end.
    """
    from movie_data_transformer_spark.operators.analytics_queries import (
        cowatch_triangles,
    )

    _edges, deg, tri = cowatch_triangles(spark, sf_dir)
    corners = (
        tri.select(F.col("a").alias("node"))
        .union(tri.select(F.col("b").alias("node")))
        .union(tri.select(F.col("c").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("n_tri"))
    )
    return (
        deg.filter(F.col("deg") >= 2)
        .join(corners, "node", "left")
        .selectExpr(
            "node AS customerId",
            "CAST(deg AS BIGINT) AS degree",
            "CAST(coalesce(n_tri, 0) AS BIGINT) AS n_triangles",
            "CAST(coalesce(n_tri, 0) * 2 * 1000000 DIV (deg * (deg - 1))"
            " AS DOUBLE) / 1000000 AS clustering_coeff",
        )
    )


SQL_GRAPH_LOCAL_CLUSTERING = f"""
WITH {RATINGS_ORACLE_CTE},
watched AS (SELECT DISTINCT customerId, movieId FROM ratings),
prs AS (
    SELECT a.customerId AS u, b.customerId AS v, count(*) AS shared
    FROM watched a
    JOIN watched b ON a.movieId = b.movieId AND a.customerId < b.customerId
    GROUP BY 1, 2
),
edges AS (SELECT u, v FROM prs WHERE shared >= 2),
deg AS (
    SELECT node, count(*) AS deg FROM (
        SELECT u AS node FROM edges UNION ALL SELECT v FROM edges
    ) GROUP BY node
),
tri AS (
    SELECT e1.u AS a, e1.v AS b, e2.v AS c
    FROM edges e1
    JOIN edges e2 ON e2.u = e1.v
    JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v
),
corners AS (
    SELECT node, count(*) AS n_tri FROM (
        SELECT a AS node FROM tri
        UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri
    ) GROUP BY node
)
SELECT d.node AS customerId,
       CAST(d.deg AS BIGINT) AS degree,
       CAST(coalesce(c.n_tri, 0) AS BIGINT) AS n_triangles,
       CAST(coalesce(c.n_tri, 0) * 2 * 1000000 // (d.deg * (d.deg - 1))
            AS DOUBLE) / 1000000 AS clustering_coeff
FROM deg d LEFT JOIN corners c ON c.node = d.node
WHERE d.deg >= 2
"""


QUERIES = {
    "events_topk_movers": (q_events_topk_movers, SQL_EVENTS_TOPK_MOVERS),
    "orders_abc_classification": (
        q_orders_abc_classification,
        SQL_ORDERS_ABC_CLASSIFICATION,
    ),
    "orders_cohort_ltv_triangle": (
        q_orders_cohort_ltv_triangle,
        SQL_ORDERS_COHORT_LTV_TRIANGLE,
    ),
    "events_retention_triangle": (
        q_events_retention_triangle,
        SQL_EVENTS_RETENTION_TRIANGLE,
    ),
    "stats_theil_sen_by_year": (
        q_stats_theil_sen_by_year,
        SQL_STATS_THEIL_SEN_BY_YEAR,
    ),
    "graph_local_clustering": (
        q_graph_local_clustering,
        SQL_GRAPH_LOCAL_CLUSTERING,
    ),
}


def q_customers_rfm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation — the canonical customer-value model: per
    customer, Recency (days from the corpus max order date to their
    last order), Frequency (order count), Monetary (exact cents), each
    quintile-scored 1-5 by ntile over a TOTAL order (metric, custkey —
    ntile is only cross-engine deterministic under a total order,
    NOTES.md pitfall), most-recent / most-frequent / biggest-spend = 5.
    Output adds the concatenated segment label ('555' = champions).

    Scale: one customer-grain agg (corpus-sized shuffle, persisted as
    the fork point) + three two-pass global ranks (ordered_stats — no
    single-partition ntile window); the corpus max date is a 1-row
    broadcast off the persisted aggregate, never a second scan. The
    recency rank runs on recency_days DESC, which is the same total
    order as last_order ASC (datediff from a fixed max date is strictly
    decreasing in last_order, tie sets identical), so the quintiles are
    bit-identical to the oracle's ntile."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("_rfm_orders")
    per_cust = spark.sql(
        """
        SELECT o_custkey,
               max(o_orderdate) AS last_order,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                   AS BIGINT)) AS BIGINT) AS spend_cents
        FROM _rfm_orders GROUP BY o_custkey
        """
    ).persist()
    maxd = per_cust.agg(F.max("last_order").alias("_corpus_max"))
    rec = (
        per_cust.crossJoin(F.broadcast(maxd))
        .withColumn(
            "recency_days", F.datediff(F.col("_corpus_max"), F.col("last_order"))
        )
        .drop("_corpus_max")
    )
    s1 = attach_order_stats(
        rec,
        [F.col("recency_days").desc(), F.col("o_custkey").asc()],
        "recency_days",
        True,
        row_number="_rn_r",
        total_count="_n",
        persist_input=False,  # projection over the persisted per_cust
    )
    s2 = attach_order_stats(
        s1,
        [F.col("n_orders").asc(), F.col("o_custkey").asc()],
        "n_orders",
        False,
        row_number="_rn_f",
    )
    s3 = attach_order_stats(
        s2,
        [F.col("spend_cents").asc(), F.col("o_custkey").asc()],
        "spend_cents",
        False,
        row_number="_rn_m",
    )
    return s3.selectExpr(
        "o_custkey AS custkey",
        "CAST(recency_days AS BIGINT) AS recency_days",
        "n_orders",
        "spend_cents",
        ntile_expr("_rn_r", "_n", 5) + " AS r_score",
        ntile_expr("_rn_f", "_n", 5) + " AS f_score",
        ntile_expr("_rn_m", "_n", 5) + " AS m_score",
        "concat("
        f"CAST({ntile_expr('_rn_r', '_n', 5)} AS STRING), "
        f"CAST({ntile_expr('_rn_f', '_n', 5)} AS STRING), "
        f"CAST({ntile_expr('_rn_m', '_n', 5)} AS STRING)"
        ") AS segment",
    )


SQL_CUSTOMERS_RFM_SCORES = """
WITH per_cust AS (
    SELECT o_custkey,
           max(o_orderdate) AS last_order,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
               AS BIGINT)) AS BIGINT) AS spend_cents
    FROM orders GROUP BY o_custkey
),
rec AS (
    SELECT *, datediff('day', last_order, max(last_order) OVER ())
               AS recency_days
    FROM per_cust
)
SELECT o_custkey AS custkey, CAST(recency_days AS BIGINT) AS recency_days,
       n_orders, spend_cents,
       CAST(ntile(5) OVER (ORDER BY last_order ASC, o_custkey ASC)
           AS INT) AS r_score,
       CAST(ntile(5) OVER (ORDER BY n_orders ASC, o_custkey ASC)
           AS INT) AS f_score,
       CAST(ntile(5) OVER (ORDER BY spend_cents ASC, o_custkey ASC)
           AS INT) AS m_score,
       CAST(ntile(5) OVER (ORDER BY last_order ASC, o_custkey ASC) AS VARCHAR)
           || CAST(ntile(5) OVER (ORDER BY n_orders ASC, o_custkey ASC) AS VARCHAR)
           || CAST(ntile(5) OVER (ORDER BY spend_cents ASC, o_custkey ASC) AS VARCHAR)
           AS segment
FROM rec
"""


QUERIES["customers_rfm_scores"] = (q_customers_rfm_scores, SQL_CUSTOMERS_RFM_SCORES)


def q_stats_weighted_median_by_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted median line price per ship-year — the weighted
    order statistic (what a 'typical unit sold' costs, robust to a few
    huge lines). EXACT via the crossing-row formulation: in the total
    order (price_cents, orderkey, linenumber, partkey, suppkey — the
    testdata needs all four tiebreaks, NOTES.md pitfall), the weighted
    median is the unique row where the cumulative weight crosses half:
    2*(cumw - w) < W <= 2*cumw. One cumulative window per year, one
    filter — no second pass, no interpolation, engine-identical.

    Scale: one shuffle to (year) window partitioning; the crossing
    filter is row-local on the windowed output."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("_wm_li")
    return spark.sql(
        """
        WITH rows_w AS (
            SELECT year(l_shipdate) AS yr,
                   CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
                       AS BIGINT) AS price_cents,
                   CAST(l_quantity AS BIGINT) AS w,
                   l_orderkey, l_linenumber, l_partkey, l_suppkey
            FROM _wm_li
        ),
        c AS (
            SELECT yr, price_cents, w,
                   sum(w) OVER (PARTITION BY yr ORDER BY price_cents,
                       l_orderkey, l_linenumber, l_partkey, l_suppkey
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS cumw,
                   sum(w) OVER (PARTITION BY yr) AS tw
            FROM rows_w
        )
        SELECT yr, CAST(tw AS BIGINT) AS total_weight,
               price_cents AS weighted_median_cents
        FROM c
        WHERE 2 * (cumw - w) < tw AND tw <= 2 * cumw
        """
    )


SQL_STATS_WEIGHTED_MEDIAN_BY_YEAR = """
WITH rows_w AS (
    SELECT year(l_shipdate) AS yr,
           CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
               AS BIGINT) AS price_cents,
           CAST(l_quantity AS BIGINT) AS w,
           l_orderkey, l_linenumber, l_partkey, l_suppkey
    FROM lineitem
),
c AS (
    SELECT yr, price_cents, w,
           CAST(sum(w) OVER (PARTITION BY yr ORDER BY price_cents,
               l_orderkey, l_linenumber, l_partkey, l_suppkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cumw,
           CAST(sum(w) OVER (PARTITION BY yr) AS BIGINT) AS tw
    FROM rows_w
)
SELECT yr, tw AS total_weight, price_cents AS weighted_median_cents
FROM c
WHERE 2 * (cumw - w) < tw AND tw <= 2 * cumw
"""


QUERIES["stats_weighted_median_by_year"] = (
    q_stats_weighted_median_by_year,
    SQL_STATS_WEIGHTED_MEDIAN_BY_YEAR,
)


ATTR_WINDOW_S = 7 * 86400


def q_attribution_position_based(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-based (U-shaped, 40/20/40) multi-touch attribution: each
    purchase distributes exactly 1,000,000 micro-credits over the user's
    view/click touches in the trailing 7 days — 40% to the first touch,
    40% to the last, 20% split across the middles — the standard
    marketing-mix model beyond last-touch (which the as-of join family
    already covers). Edge conventions: one touch takes all; two touches
    split 50/50; middles use a LARGEST-REMAINDER split (floor share +1
    for the first `rem` middles in touch order) so per-purchase credit
    sums to exactly 1e6 — an invariant the pytest pins. Touch order is
    the total (ts, event_id).

    Output: credit mass and touch counts per (touch_type, position
    class) — the 'which channel earns conversions, and in which role'
    report. Scale: the purchase x touch join is user-keyed and bounded
    by the 7-day window per user; ranks are per-purchase windows."""
    load_table(spark, sf_dir, "events").createOrReplaceTempView("_at_events")
    return spark.sql(
        f"""
        WITH purchases AS (
            SELECT user_id, ts AS p_ts, event_id AS p_id
            FROM _at_events WHERE event_type = 'purchase'
        ),
        touches AS (
            SELECT user_id, ts, event_id, event_type
            FROM _at_events WHERE event_type IN ('view', 'click')
        ),
        joined AS (
            SELECT p.p_id, t.event_type, t.ts, t.event_id
            FROM purchases p JOIN touches t
              ON t.user_id = p.user_id
             AND t.ts < p.p_ts
             AND t.ts >= p.p_ts - INTERVAL {ATTR_WINDOW_S} SECOND
        ),
        ranked AS (
            SELECT p_id, event_type,
                   CAST(row_number() OVER (PARTITION BY p_id
                       ORDER BY ts, event_id) AS BIGINT) AS pos,
                   CAST(count(*) OVER (PARTITION BY p_id) AS BIGINT) AS k
            FROM joined
        ),
        credited AS (
            SELECT p_id, event_type,
                   CASE WHEN k = 1 THEN 1000000
                        WHEN k = 2 THEN 500000
                        WHEN pos = 1 OR pos = k THEN 400000
                        ELSE 200000 DIV (k - 2)
                             + CASE WHEN pos - 1 <= 200000 % (k - 2)
                                    THEN 1 ELSE 0 END
                   END AS credit_micro,
                   CASE WHEN pos = 1 THEN 'first'
                        WHEN pos = k THEN 'last'
                        ELSE 'middle' END AS position_class
            FROM ranked
        )
        SELECT event_type AS touch_type, position_class,
               CAST(count(*) AS BIGINT) AS n_touches,
               CAST(sum(credit_micro) AS BIGINT) AS credit_micro
        FROM credited
        GROUP BY event_type, position_class
        """
    )


SQL_ATTRIBUTION_POSITION_BASED = f"""
WITH purchases AS (
    SELECT user_id, ts AS p_ts, event_id AS p_id
    FROM events WHERE event_type = 'purchase'
),
touches AS (
    SELECT user_id, ts, event_id, event_type
    FROM events WHERE event_type IN ('view', 'click')
),
joined AS (
    SELECT p.p_id, t.event_type, t.ts, t.event_id
    FROM purchases p JOIN touches t
      ON t.user_id = p.user_id
     AND t.ts < p.p_ts
     AND t.ts >= p.p_ts - INTERVAL {ATTR_WINDOW_S} SECOND
),
ranked AS (
    SELECT p_id, event_type,
           CAST(row_number() OVER (PARTITION BY p_id
               ORDER BY ts, event_id) AS BIGINT) AS pos,
           CAST(count(*) OVER (PARTITION BY p_id) AS BIGINT) AS k
    FROM joined
),
credited AS (
    SELECT p_id, event_type,
           CASE WHEN k = 1 THEN 1000000
                WHEN k = 2 THEN 500000
                WHEN pos = 1 OR pos = k THEN 400000
                ELSE 200000 // (k - 2)
                     + CASE WHEN pos - 1 <= 200000 % (k - 2)
                            THEN 1 ELSE 0 END
           END AS credit_micro,
           CASE WHEN pos = 1 THEN 'first'
                WHEN pos = k THEN 'last'
                ELSE 'middle' END AS position_class
    FROM ranked
)
SELECT event_type AS touch_type, position_class,
       CAST(count(*) AS BIGINT) AS n_touches,
       CAST(sum(credit_micro) AS BIGINT) AS credit_micro
FROM credited
GROUP BY event_type, position_class
"""


QUERIES["attribution_position_based"] = (
    q_attribution_position_based,
    SQL_ATTRIBUTION_POSITION_BASED,
)


BOOT_B = 50
# Poisson(1) CDF in micro units (1e6): P(X<=k) for k = 0..4; mass above
# 5 (~0.06%) is folded into count 5 (declared truncation).
BOOT_CDF = [367879, 735759, 919699, 981012, 996340]


def _boot_count_expr(u: str) -> str:
    branches = " ".join(
        f"WHEN {u} < {t} THEN {k}" for k, t in enumerate(BOOT_CDF)
    )
    return f"CASE {branches} ELSE 5 END"


def q_stats_poisson_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson bootstrap 95% CI for the mean order value — the
    distributed bootstrap (resample multiplicities drawn per (row,
    replicate) instead of sampling rows, so each replicate is ONE
    map-side weighted aggregate and the corpus is never materialized B
    times per machine). Multiplicities are DETERMINISTIC: the portable
    hash of (orderkey, replicate) maps through the Poisson(1) CDF in
    micro constants (the Benford-style literal-table technique), so the
    whole procedure is exact, reproducible, and FULLY oracle-checked —
    no RNG, no seed drift between engines.

    Replicate means are floor-micro cents (remainder-subtract in
    DECIMAL — sum(c*cents)*1e6 clears int64 at warehouse scale); the CI
    is the order-statistic pair (rank 2, rank B-1 of the B sorted
    replicate means). Scale: one fanout of B rows per input row, all
    partial-aggregated map-side per replicate — the textbook
    shuffle-light bootstrap."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("_boot_orders")
    cnt = _boot_count_expr("u")
    # widen the B-fold fanout stage: the explode + per-(row, replicate)
    # md5 ran in the single test-scale scan task (r13 sweep: 6.7s);
    # repartition the 2-column base first so the 50x hash work is
    # core-wide (no-op on a wide production scan)
    widen_for_compute(
        spark.sql(
            """
            SELECT o_orderkey,
                   CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                       AS cents
            FROM _boot_orders
            """
        ),
        key="o_orderkey",
    ).createOrReplaceTempView("_boot_base")
    return spark.sql(
        f"""
        WITH base AS (SELECT * FROM _boot_base),
        fan AS (
            SELECT b, cents,
                   CAST(conv(substr(md5(concat(CAST(o_orderkey AS STRING),
                       ':', CAST(b AS STRING))), 1, 8), 16, 10) AS BIGINT)
                       % 1000000 AS u
            FROM base LATERAL VIEW explode(sequence(1, {BOOT_B})) t AS b
        ),
        reps AS (
            SELECT b,
                   CAST(sum(({cnt}) * cents) AS DECIMAL(38,0)) * 1000000 AS m,
                   CAST(sum({cnt}) AS DECIMAL(38,0)) AS d
            FROM fan GROUP BY b
        ),
        means AS (
            SELECT b, CAST((m - (m % d)) / d AS BIGINT) AS mean_micro_cents
            FROM reps
        ),
        ranked AS (
            SELECT mean_micro_cents,
                   row_number() OVER (ORDER BY mean_micro_cents, b) AS rk
            FROM means
        ),
        full_mean AS (
            SELECT CAST(cnt AS BIGINT) AS n,
                   CAST((fm - (fm % fd)) / fd AS BIGINT) AS mean_micro_cents
            FROM (
                SELECT count(*) AS cnt,
                       CAST(sum(cents) AS DECIMAL(38,0)) * 1000000 AS fm,
                       CAST(count(*) AS DECIMAL(38,0)) AS fd
                FROM base
            )
        )
        SELECT f.n, f.mean_micro_cents,
               (SELECT mean_micro_cents FROM ranked WHERE rk = 2) AS ci_lo_micro,
               (SELECT mean_micro_cents FROM ranked WHERE rk = {BOOT_B - 1})
                   AS ci_hi_micro
        FROM full_mean f
        """
    )


def _boot_sql() -> str:
    cnt = _boot_count_expr("u")
    return f"""
WITH base AS (
    SELECT o_orderkey,
           CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
    FROM orders
),
fan AS (
    SELECT t.b, cents,
           CAST('0x' || substr(md5(CAST(o_orderkey AS VARCHAR) || ':' ||
               CAST(t.b AS VARCHAR)), 1, 8) AS BIGINT) % 1000000 AS u
    FROM base, unnest(range(1, {BOOT_B} + 1)) t(b)
),
reps AS (
    SELECT b,
           CAST(sum(({cnt}) * cents) AS HUGEINT) * 1000000 AS m,
           CAST(sum({cnt}) AS HUGEINT) AS d
    FROM fan GROUP BY b
),
means AS (
    SELECT b, CAST((m - (m % d)) // d AS BIGINT) AS mean_micro_cents FROM reps
),
ranked AS (
    SELECT mean_micro_cents,
           row_number() OVER (ORDER BY mean_micro_cents, b) AS rk
    FROM means
),
full_mean AS (
    SELECT CAST(cnt AS BIGINT) AS n,
           CAST((fm - (fm % fd)) // fd AS BIGINT) AS mean_micro_cents
    FROM (
        SELECT count(*) AS cnt,
               CAST(sum(cents) AS HUGEINT) * 1000000 AS fm,
               CAST(count(*) AS HUGEINT) AS fd
        FROM base
    )
)
SELECT f.n, f.mean_micro_cents,
       (SELECT mean_micro_cents FROM ranked WHERE rk = 2) AS ci_lo_micro,
       (SELECT mean_micro_cents FROM ranked WHERE rk = {BOOT_B - 1})
           AS ci_hi_micro
FROM full_mean f
"""


QUERIES["stats_poisson_bootstrap_ci"] = (
    q_stats_poisson_bootstrap_ci,
    _boot_sql(),
)


SEQ_TOP = 20


def q_seq_rules_brand_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEQUENTIAL market-basket rules ("bought brand A, came back for
    brand B"): ordered pairs of part brands across a customer's
    ADJACENT orders by date — the temporal complement of
    assoc_rules_topk, which only sees co-occurrence inside one basket.
    support = adjacent-order pairs exhibiting A-then-B; confidence =
    support / occurrences of A in any order with a successor (exact
    floor micro); top-20 by (confidence, support, a, b) total order.

    Scale: order sequence numbers are one per-customer window; brands
    ride a broadcast part join; the A-then-B join is keyed on
    (custkey, rn) — adjacent only, so the expansion is bounded by
    basket_size^2 per order pair, never orders^2."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("_sq_orders")
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("_sq_li")
    load_table(spark, sf_dir, "part").createOrReplaceTempView("_sq_part")
    # baskets feeds THREE consumers (both pair sides + the antecedent
    # agg); Spark inlines CTEs, so materialize the fact-sized join once
    baskets = spark.sql(
        """
        WITH seq AS (
            SELECT o_orderkey, o_custkey,
                   row_number() OVER (PARTITION BY o_custkey
                       ORDER BY o_orderdate, o_orderkey) AS rn,
                   count(*) OVER (PARTITION BY o_custkey) AS n_orders
            FROM _sq_orders
        )
        SELECT DISTINCT s.o_custkey, s.rn, s.n_orders, p.p_brand
        FROM seq s
        JOIN _sq_li l ON l.l_orderkey = s.o_orderkey
        JOIN _sq_part p ON p.p_partkey = l.l_partkey
        """
    ).persist()
    baskets.createOrReplaceTempView("_sq_baskets")
    # nested subqueries, NOT a WITH: a persisted temp view referenced
    # from inside a non-trivial CTE definition is not substituted with
    # its InMemoryRelation on Spark 4.1 (the winnowing probe,
    # late_r6_queries.py) — this persist was silently dead in CTE form
    return spark.sql(
        f"""
        SELECT brand_a, brand_b, support,
               CAST(support * 1000000 DIV n_ant AS DOUBLE) / 1000000
                   AS confidence,
               CAST(rk AS INT) AS rk
        FROM (
            SELECT p.*, a.n_ant,
                   row_number() OVER (ORDER BY
                       support * 1000000 DIV n_ant DESC,
                       support DESC, brand_a ASC, brand_b ASC) AS rk
            FROM (
                SELECT a.p_brand AS brand_a, b.p_brand AS brand_b,
                       CAST(count(*) AS BIGINT) AS support
                FROM _sq_baskets a JOIN _sq_baskets b
                  ON b.o_custkey = a.o_custkey AND b.rn = a.rn + 1
                GROUP BY 1, 2
            ) p
            JOIN (
                SELECT p_brand AS brand_a, CAST(count(*) AS BIGINT) AS n_ant
                FROM _sq_baskets WHERE rn < n_orders
                GROUP BY 1
            ) a USING (brand_a)
        )
        WHERE rk <= {SEQ_TOP}
        """
    )


SQL_SEQ_RULES_BRAND_TOPK = f"""
WITH seq AS (
    SELECT o_orderkey, o_custkey,
           row_number() OVER (PARTITION BY o_custkey
               ORDER BY o_orderdate, o_orderkey) AS rn,
           count(*) OVER (PARTITION BY o_custkey) AS n_orders
    FROM orders
),
baskets AS (
    SELECT DISTINCT s.o_custkey, s.rn, s.n_orders, p.p_brand
    FROM seq s
    JOIN lineitem l ON l.l_orderkey = s.o_orderkey
    JOIN part p ON p.p_partkey = l.l_partkey
),
prs AS (
    SELECT a.p_brand AS brand_a, b.p_brand AS brand_b,
           CAST(count(*) AS BIGINT) AS support
    FROM baskets a JOIN baskets b
      ON b.o_custkey = a.o_custkey AND b.rn = a.rn + 1
    GROUP BY 1, 2
),
antecedent AS (
    SELECT p_brand AS brand_a, CAST(count(*) AS BIGINT) AS n_ant
    FROM baskets WHERE rn < n_orders
    GROUP BY 1
)
SELECT brand_a, brand_b, support,
       CAST(support * 1000000 // n_ant AS DOUBLE) / 1000000 AS confidence,
       CAST(rk AS INT) AS rk
FROM (
    SELECT p.*, a.n_ant,
           row_number() OVER (ORDER BY support * 1000000 // n_ant DESC,
               support DESC, brand_a ASC, brand_b ASC) AS rk
    FROM prs p JOIN antecedent a USING (brand_a)
)
WHERE rk <= {SEQ_TOP}
"""


QUERIES["seq_rules_brand_topk"] = (
    q_seq_rules_brand_topk,
    SQL_SEQ_RULES_BRAND_TOPK,
)
