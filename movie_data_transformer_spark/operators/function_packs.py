"""Additional scalar/analytic function coverage: arrays, maps, null
handling, value-window analytics, correlated subqueries — each family one
oracle-checked query."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from movie_data_transformer_spark.operators.sizing import widen_for_compute
from movie_data_transformer_spark.sources.tables import load_table


def q_array_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array construction + higher-order functions over embeddings."""
    emb = load_table(spark, sf_dir, "embeddings")
    v = F.transform("embedding", lambda x: x.cast("double"))
    return emb.select(
        "vec_id",
        F.size("embedding").cast("long").alias("dim"),
        F.round(F.aggregate(v, F.lit(0.0), lambda a, x: a + x), 6).alias("vsum"),
        F.round(F.array_max(v), 6).alias("vmax"),
        F.round(F.array_min(v), 6).alias("vmin"),
        F.size(F.filter(v, lambda x: x > 0)).cast("long").alias("n_pos"),
        F.round(F.element_at(v, 1), 6).alias("first_dim"),
        F.round(
            F.aggregate(F.slice(v, 1, 8), F.lit(0.0), lambda a, x: a + x), 6
        ).alias("head8_sum"),
        F.exists(v, lambda x: x > 0.3).cast("int").alias("has_big"),
    )


SQL_ARRAY_FUNCTIONS = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
SELECT vec_id,
       CAST(len(v) AS BIGINT) AS dim,
       round(list_aggregate(v, 'sum'), 6) AS vsum,
       round(list_max(v), 6) AS vmax,
       round(list_min(v), 6) AS vmin,
       CAST(len(list_filter(v, x -> x > 0)) AS BIGINT) AS n_pos,
       round(v[1], 6) AS first_dim,
       round(list_aggregate(v[1:8], 'sum'), 6) AS head8_sum,
       CAST(len(list_filter(v, x -> x > 0.3)) > 0 AS INT) AS has_big
FROM e
"""


def q_map_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map construction/access: per-orderstatus price map per customer."""
    o = load_table(spark, sf_dir, "orders")
    agg = o.groupBy("o_custkey", "o_orderstatus").agg(F.count("*").alias("n"))
    m = agg.groupBy("o_custkey").agg(
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct("o_orderstatus", "n")))
        ).alias("status_counts")
    )
    return m.select(
        "o_custkey",
        F.coalesce(F.element_at("status_counts", "O"), F.lit(0)).alias("n_open"),
        F.coalesce(F.element_at("status_counts", "F"), F.lit(0)).alias("n_filled"),
        F.coalesce(F.element_at("status_counts", "P"), F.lit(0)).alias("n_pending"),
        F.size("status_counts").cast("long").alias("n_statuses"),
    )


SQL_MAP_FUNCTIONS = """
SELECT o_custkey,
       count(*) FILTER (o_orderstatus = 'O') AS n_open,
       count(*) FILTER (o_orderstatus = 'F') AS n_filled,
       count(*) FILTER (o_orderstatus = 'P') AS n_pending,
       CAST(count(DISTINCT o_orderstatus) AS BIGINT) AS n_statuses
FROM orders GROUP BY o_custkey
"""


def q_null_handling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-producing expressions + coalesce/nullif/nvl2 family."""
    li = load_table(spark, sf_dir, "lineitem")
    qty0 = F.nullif(F.col("l_quantity"), F.lit(25.0))  # 25 -> NULL
    return li.select(
        "l_orderkey",
        "l_linenumber",
        qty0.alias("qty_nullable"),
        F.coalesce(qty0, F.lit(-1.0)).alias("qty_or_default"),
        F.when(qty0.isNull(), "was_25").otherwise("other").alias("null_tag"),
        F.isnull(qty0).cast("int").alias("is_null_flag"),
        (F.try_divide(F.lit(1.0), qty0 - 25)).alias("try_div"),  # NULL, never error
    )


SQL_NULL_HANDLING = """
SELECT l_orderkey, l_linenumber,
       nullif(l_quantity, 25.0) AS qty_nullable,
       coalesce(nullif(l_quantity, 25.0), -1.0) AS qty_or_default,
       CASE WHEN nullif(l_quantity, 25.0) IS NULL THEN 'was_25' ELSE 'other' END AS null_tag,
       CAST(nullif(l_quantity, 25.0) IS NULL AS INT) AS is_null_flag,
       CASE WHEN nullif(l_quantity, 25.0) - 25 = 0 THEN NULL
            ELSE 1.0 / (nullif(l_quantity, 25.0) - 25) END AS try_div
FROM lineitem
"""


def q_window_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-window analytics: first/last/nth, percent_rank, cume_dist,
    plus a RANGE frame (all peers of the current value)."""
    s = load_table(spark, sf_dir, "supplier")
    w = Window.partitionBy("s_nationkey").orderBy(F.col("s_acctbal").asc(), F.col("s_suppkey").asc())
    wr = (
        Window.partitionBy("s_nationkey")
        .orderBy(F.col("s_acctbal").asc())
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return s.select(
        "s_nationkey",
        "s_suppkey",
        F.first("s_suppkey").over(w).alias("poorest"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
        F.count("*").over(wr).cast("long").alias("n_le_bal"),
    )


SQL_WINDOW_ANALYTICS = """
SELECT s_nationkey, s_suppkey,
       first_value(s_suppkey) OVER w AS poorest,
       round(percent_rank() OVER w, 6) AS pct_rank,
       round(cume_dist() OVER w, 6) AS cume,
       count(*) OVER (PARTITION BY s_nationkey ORDER BY s_acctbal ASC
                      RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_le_bal
FROM supplier
WINDOW w AS (PARTITION BY s_nationkey ORDER BY s_acctbal ASC, s_suppkey ASC)
"""


def q_correlated_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar correlated subquery: orders above their customer's average."""
    o = load_table(spark, sf_dir, "orders")
    o.createOrReplaceTempView("_cs_orders")
    return spark.sql(
        """
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM _cs_orders a
        WHERE o_totalprice > 2 * (
            SELECT avg(o_totalprice) FROM _cs_orders b
            WHERE b.o_custkey = a.o_custkey
        )
        """
    )


SQL_CORRELATED_SUBQUERY = """
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders a
WHERE o_totalprice > 2 * (
    SELECT avg(o_totalprice) FROM orders b WHERE b.o_custkey = a.o_custkey
)
"""


def q_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event funnel: per user, did signup -> view -> purchase occur in
    order (by first occurrence of each step)?"""
    ev = load_table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias("t_signup"),
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t_view"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("t_purchase"),
    )
    step2 = F.col("t_signup").isNotNull() & F.col("t_view").isNotNull() & (
        F.col("t_view") > F.col("t_signup")
    )
    step3 = step2 & F.col("t_purchase").isNotNull() & (F.col("t_purchase") > F.col("t_view"))
    return firsts.select(
        "user_id",
        F.col("t_signup").isNotNull().cast("int").alias("did_signup"),
        step2.cast("int").alias("did_view_after"),
        step3.cast("int").alias("did_purchase_after"),
    )


SQL_FUNNEL_CONVERSION = """
WITH firsts AS (
    SELECT user_id,
           min(ts) FILTER (event_type = 'signup') AS t_signup,
           min(ts) FILTER (event_type = 'view') AS t_view,
           min(ts) FILTER (event_type = 'purchase') AS t_purchase
    FROM events GROUP BY user_id
)
SELECT user_id,
       CAST(t_signup IS NOT NULL AS INT) AS did_signup,
       CAST(t_signup IS NOT NULL AND t_view IS NOT NULL AND t_view > t_signup AS INT)
           AS did_view_after,
       CAST(t_signup IS NOT NULL AND t_view IS NOT NULL AND t_view > t_signup
            AND t_purchase IS NOT NULL AND t_purchase > t_view AS INT)
           AS did_purchase_after
FROM firsts
"""


def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by first-seen day; how many were
    active again N days later (N = 1, 7)."""
    ev = load_table(spark, sf_dir, "events")
    first_day = ev.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("cohort_day")
    )
    active = ev.select("user_id", F.col("ts").cast("date").alias("day")).distinct()
    j = active.join(first_day, "user_id").select(
        "user_id", "cohort_day", F.datediff("day", "cohort_day").alias("age")
    )
    return j.groupBy("cohort_day").agg(
        F.countDistinct("user_id").alias("cohort_size"),
        F.countDistinct(F.when(F.col("age") == 1, F.col("user_id"))).alias("d1_retained"),
        F.countDistinct(F.when(F.col("age") == 7, F.col("user_id"))).alias("d7_retained"),
    )


SQL_RETENTION_COHORTS = """
WITH first_day AS (
    SELECT user_id, min(CAST(ts AS DATE)) AS cohort_day FROM events GROUP BY user_id
),
active AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
j AS (
    SELECT a.user_id, f.cohort_day, date_diff('day', f.cohort_day, a.day) AS age
    FROM active a JOIN first_day f ON a.user_id = f.user_id
)
SELECT cohort_day,
       count(DISTINCT user_id) AS cohort_size,
       count(DISTINCT user_id) FILTER (age = 1) AS d1_retained,
       count(DISTINCT user_id) FILTER (age = 7) AS d7_retained
FROM j GROUP BY cohort_day
"""


def q_agg_percentiles_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles (continuous interpolation) per group."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_quantity, 0.5)"), 6).alias("p50_qty"),
        F.round(F.expr("percentile(l_extendedprice, 0.9)"), 6).alias("p90_price"),
        F.round(F.expr("percentile(l_discount, 0.25)"), 6).alias("p25_disc"),
    )


SQL_AGG_PERCENTILES = """
SELECT l_returnflag,
       round(quantile_cont(l_quantity, 0.5), 6) AS p50_qty,
       round(quantile_cont(l_extendedprice, 0.9), 6) AS p90_price,
       round(quantile_cont(l_discount, 0.25), 6) AS p25_disc
FROM lineitem GROUP BY l_returnflag
"""


def q_histogram_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of event values (bucket = floor(v/25))."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.select(F.floor(F.col("value") / 25).cast("long").alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").alias("n"))
    )


SQL_HISTOGRAM_VALUES = """
SELECT CAST(floor(value / 25) AS BIGINT) AS bucket, count(*) AS n
FROM events GROUP BY 1
"""


def q_unpivot_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot/melt: wide (tax, discount) columns -> long (rate_type,
    rate) rows."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.select("l_orderkey", "l_linenumber", "l_tax", "l_discount").unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_tax", "l_discount"],
        "rate_type",
        "rate",
    )


SQL_UNPIVOT_RATES = """
SELECT l_orderkey, l_linenumber, 'l_tax' AS rate_type, l_tax AS rate FROM lineitem
UNION ALL
SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem
"""


def q_date_spine_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar spine + gap fill: every day of January 2024 with that
    day's event count, zero-filled for quiet days (sequence explode =
    calendar generation, left join = gap fill)."""
    ev = load_table(spark, sf_dir, "events")
    spine = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit("2024-01-01").cast("date"),
                F.lit("2024-01-31").cast("date"),
                F.expr("interval 1 day"),
            )
        ).alias("day")
    )
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(F.count("*").alias("_n"))
    return spine.join(daily, "day", "left").select(
        "day", F.coalesce("_n", F.lit(0)).alias("n_events")
    )


SQL_DATE_SPINE_GAP_FILL = """
WITH spine AS (
    SELECT CAST(unnest(generate_series(DATE '2024-01-01', DATE '2024-01-31',
                                       INTERVAL 1 DAY)) AS DATE) AS day
),
daily AS (
    SELECT CAST(ts AS DATE) AS day, count(*) AS _n FROM events GROUP BY 1
)
SELECT spine.day, coalesce(_n, 0) AS n_events
FROM spine LEFT JOIN daily ON spine.day = daily.day
"""


def q_agg_ordered_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation per group (listagg/string_agg)."""
    c = load_table(spark, sf_dir, "customer")
    return c.groupBy("c_mktsegment").agg(
        F.concat_ws(
            ",",
            F.sort_array(F.collect_set(F.col("c_nationkey").cast("string").alias("nk"))),
        ).alias("nations_csv"),
        F.count("*").alias("n_customers"),
    )


# NOTE: both sides sort the DISTINCT nation keys as STRINGS ('10' < '2')
SQL_AGG_ORDERED_CONCAT = """
SELECT c_mktsegment,
       string_agg(DISTINCT CAST(c_nationkey AS VARCHAR), ','
                  ORDER BY CAST(c_nationkey AS VARCHAR)) AS nations_csv,
       count(*) AS n_customers
FROM customer GROUP BY c_mktsegment
"""


def q_df_transpose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4's DataFrame.transpose() reshape surface: per-region
    nation/customer counts flipped so regions become columns and each
    metric becomes a row — the dashboard/report orientation. transpose()
    reads the index column's values on the driver to name the output
    columns, so it is inherently an aggregate-sized reshape (bounded
    column count); at 100 TB you transpose the final rollup, never a
    fact table. The oracle rebuilds the same pivoted shape from the
    five fixed TPC-H region names with conditional aggregation."""
    region = load_table(spark, sf_dir, "region")
    nation = load_table(spark, sf_dir, "nation")
    customer = load_table(spark, sf_dir, "customer")
    per = (
        region.join(nation, region.r_regionkey == nation.n_regionkey)
        .join(
            customer,
            nation.n_nationkey == customer.c_nationkey,
            "left",
        )
        .groupBy("r_name")
        .agg(
            F.countDistinct("n_nationkey").cast("bigint").alias("n_nations"),
            F.count("c_custkey").cast("bigint").alias("n_customers"),
        )
    )
    # row order of the index column becomes transposed column order:
    # pin it (the driver's compare sorts columns by name anyway)
    return per.orderBy("r_name").transpose()


def _transpose_metric_row_sql(metric: str) -> str:
    cols = ", ".join(
        f"""CAST(max(CASE WHEN r_name = '{name}' THEN {metric} END) AS BIGINT)
            AS "{name}\""""
        for name in ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
    )
    return f"SELECT '{metric}' AS key, {cols} FROM per"


SQL_DF_TRANSPOSE = f"""
WITH per AS (
    SELECT r_name,
           count(DISTINCT n.n_nationkey) AS n_nations,
           count(c.c_custkey) AS n_customers
    FROM region r
    JOIN nation n ON r.r_regionkey = n.n_regionkey
    LEFT JOIN customer c ON n.n_nationkey = c.c_nationkey
    GROUP BY r_name
)
{_transpose_metric_row_sql('n_nations')}
UNION ALL
{_transpose_metric_row_sql('n_customers')}
"""


def q_union_by_name_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution union: an OLD snapshot (pre-1997 orders, written
    before `o_orderpriority` existed) unioned with the NEW schema via
    unionByName(allowMissingColumns=True) — positions differ and the
    missing column back-fills NULL, the lakehouse append pattern when a
    table gains a column mid-history. Aggregated per priority (the NULL
    group = legacy rows) in exact integer cents. Oracle = DuckDB's
    UNION ALL BY NAME, the same by-name resolution."""
    orders = load_table(spark, sf_dir, "orders")
    cents = "CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)"
    old = orders.filter("o_orderdate < TIMESTAMP '1997-01-01'").selectExpr(
        f"{cents} AS price_cents", "o_orderkey"  # old layout: no priority
    )
    new = orders.filter("o_orderdate >= TIMESTAMP '1997-01-01'").selectExpr(
        "o_orderkey", "o_orderpriority", f"{cents} AS price_cents"
    )
    return (
        old.unionByName(new, allowMissingColumns=True)
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            F.sum("price_cents").alias("sum_price_cents"),
        )
    )


SQL_UNION_BY_NAME = """
WITH u AS (
    SELECT CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
               AS price_cents,
           o_orderkey
    FROM orders WHERE o_orderdate < TIMESTAMP '1997-01-01'
    UNION ALL BY NAME
    SELECT o_orderkey, o_orderpriority,
           CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
               AS price_cents
    FROM orders WHERE o_orderdate >= TIMESTAMP '1997-01-01'
)
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(price_cents) AS BIGINT) AS sum_price_cents
FROM u GROUP BY 1
"""


def q_window_running_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running DISTINCT count over an event-time window — an operator
    Spark's window functions don't offer directly (count(DISTINCT ...)
    OVER is rejected); expressed as the standard composition
    size(collect_set(x) OVER w). The oracle uses DuckDB's native
    count(DISTINCT) OVER, so the composition is held to the real
    operator's semantics. Set state is bounded by |distinct types| per
    user (5 here) — at 100 TB running-distinct over a high-cardinality
    column would swap collect_set for an HLL sketch column
    (agg_hll_mergeable's pattern) with approximate semantics."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "user_id",
        "event_id",
        F.size(F.collect_set("event_type").over(w))
        .cast("bigint")
        .alias("n_distinct_types"),
    )


SQL_WINDOW_RUNNING_DISTINCT = """
SELECT user_id, event_id,
       CAST(count(DISTINCT event_type) OVER (
            PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS n_distinct_types
FROM events
"""


def q_expr_try_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ANSI-mode safety valves in one sweep: this engine runs Spark 4
    ANSI (errors on bad casts/overflow), so try_cast / try_divide /
    try_add / try_element_at are THE production pattern for dirty data —
    each returns NULL where the strict form throws. The oracle
    reproduces each NULL site explicitly (DuckDB also errors on bigint
    overflow, so the add is computed in HUGEINT and NULLed past
    int64 max rather than guarded by branch order)."""
    o = load_table(spark, sf_dir, "orders")
    # widen: the try_* family absorbs per-row JVM exceptions (bad casts,
    # overflow), which are expensive; at test scale the whole map ran in
    # the single scan task (r13 sweep: 6.2s) — spread it core-wide
    o = widen_for_compute(
        o.select("o_orderkey", "o_orderpriority", "o_totalprice", "o_custkey"),
        key="o_orderkey",
    )
    return o.selectExpr(
        "o_orderkey",
        # '1-URGENT' etc. -> NULL (non-numeric)
        "try_cast(o_orderpriority AS INT) AS pri_int",
        # custkey % 3 == 0 -> division by zero -> NULL
        "try_divide(o_totalprice, o_custkey % 3) AS div_val",
        # overflows int64 for orderkey > 7 -> NULL
        "try_add(o_orderkey, 9223372036854775800L) AS add_guard",
        # split gives 2 parts; index 5 is out of bounds -> NULL
        "try_element_at(split(o_orderpriority, '-'), 5) AS elem5",
        "try_cast(substring(o_orderpriority, 1, 1) AS INT) AS pri_digit",
    )


SQL_EXPR_TRY_PACK = """
SELECT o_orderkey,
       TRY_CAST(o_orderpriority AS INT) AS pri_int,
       CASE WHEN o_custkey % 3 = 0 THEN NULL
            ELSE o_totalprice / (o_custkey % 3) END AS div_val,
       CAST(CASE WHEN CAST(o_orderkey AS HUGEINT) + 9223372036854775800
                      > 9223372036854775807 THEN NULL
                 ELSE CAST(o_orderkey AS HUGEINT) + 9223372036854775800 END
            AS BIGINT) AS add_guard,
       string_split(o_orderpriority, '-')[5] AS elem5,
       TRY_CAST(substr(o_orderpriority, 1, 1) AS INT) AS pri_digit
FROM orders
"""


def q_url_functions_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """parse_url / url_encode / url_decode over a synthesized per-doc
    URL (https://<source>.example.com/docs/<id>?lang=<lang>&q=<text>):
    the extraction binds because the oracle recomputes every component
    from the BASE columns, so parse_url must exactly invert the
    construction. The corpus text is [a-z0-9 ] (verified), where
    x-www-form-urlencoded is exactly space->'+' — the one encoding rule
    DuckDB (no url_encode builtin) can replay with replace(). The
    decode roundtrip is asserted IN the query (url_decode(url_encode(q))
    vs q) and surfaced as a hashed column. All map-side."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.selectExpr(
        "doc_id",
        "concat('https://', source, '.example.com/docs/', CAST(doc_id AS STRING),"
        " '?lang=', lang, '&q=', url_encode(text)) AS url",
        "text",
    ).selectExpr(
        "doc_id",
        "parse_url(url, 'PROTOCOL') AS proto",
        "parse_url(url, 'HOST') AS host",
        "parse_url(url, 'PATH') AS path",
        "parse_url(url, 'QUERY', 'lang') AS qlang",
        "parse_url(url, 'QUERY', 'q') AS q_enc",
        "CAST(url_decode(parse_url(url, 'QUERY', 'q')) = text AS INT)"
        " AS roundtrip_ok",
    )


SQL_URL_FUNCTIONS_PACK = """
SELECT doc_id,
       'https' AS proto,
       source || '.example.com' AS host,
       '/docs/' || CAST(doc_id AS VARCHAR) AS path,
       lang AS qlang,
       replace(text, ' ', '+') AS q_enc,
       1 AS roundtrip_ok
FROM documents
"""


def q_agg_ansi_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The newer ANSI aggregate family in one oracle-checked sweep:
    count_if, bool_and/bool_or, interpolated median (== DuckDB median,
    the percentile() bit-exactness probed in r5), and DETERMINISTIC
    mode — Spark's mode(expr, true) picks the smallest value among
    tied-frequency candidates, which the oracle reproduces with an
    explicit (count desc, value asc) arg-min (DuckDB's mode() breaks
    ties arbitrarily, so the built-in is only usable on the Spark
    side). One hash aggregation; the mode recompute in the oracle is a
    windowed subquery over the (type, hour) counts."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.expr("count_if(value > 50)").cast("bigint").alias("n_high"),
        F.expr("bool_and(value > 0)").alias("all_positive"),
        F.expr("bool_or(value > 300)").alias("any_extreme"),
        F.expr("median(value)").alias("med_value"),
        F.expr("mode(hour(ts), true)").cast("bigint").alias("mode_hour"),
    )


SQL_AGG_ANSI_PACK = """
WITH hc AS (
    SELECT event_type, hour(ts) AS h, count(*) AS c
    FROM events GROUP BY 1, 2
),
md AS (
    SELECT event_type, h AS mode_hour
    FROM (SELECT event_type, h,
                 row_number() OVER (PARTITION BY event_type
                                    ORDER BY c DESC, h ASC) AS rn
          FROM hc)
    WHERE rn = 1
)
SELECT e.event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(count_if(e.value > 50) AS BIGINT) AS n_high,
       bool_and(e.value > 0) AS all_positive,
       bool_or(e.value > 300) AS any_extreme,
       median(e.value) AS med_value,
       CAST(any_value(m.mode_hour) AS BIGINT) AS mode_hour
FROM events e JOIN md m USING (event_type)
GROUP BY e.event_type
"""


# Dict order is load-bearing for the driver's 50-entry window (registry
# module order x dict order = entry order). r09 rotation: the SIX entries
# that have never had a driver row (added r05, after this module's r04
# window) lead the dict so the window boundary (function_packs is the
# truncated final r09 module, slots 41-50 = first 10 entries) covers all
# six plus the four oldest r04 re-greens.
QUERIES = {
    "df_transpose": (q_df_transpose, SQL_DF_TRANSPOSE),
    "union_by_name_evolution": (q_union_by_name_evolution, SQL_UNION_BY_NAME),
    "agg_ansi_pack": (q_agg_ansi_pack, SQL_AGG_ANSI_PACK),
    "url_functions_pack": (q_url_functions_pack, SQL_URL_FUNCTIONS_PACK),
    "expr_try_pack": (q_expr_try_pack, SQL_EXPR_TRY_PACK),
    "window_running_distinct": (q_window_running_distinct, SQL_WINDOW_RUNNING_DISTINCT),
    "array_functions": (q_array_functions, SQL_ARRAY_FUNCTIONS),
    "agg_ordered_concat": (q_agg_ordered_concat, SQL_AGG_ORDERED_CONCAT),
    "date_spine_gap_fill": (q_date_spine_gap_fill, SQL_DATE_SPINE_GAP_FILL),
    "agg_percentiles_exact": (q_agg_percentiles_exact, SQL_AGG_PERCENTILES),
    "histogram_values": (q_histogram_values, SQL_HISTOGRAM_VALUES),
    "unpivot_rates": (q_unpivot_rates, SQL_UNPIVOT_RATES),
    "map_functions": (q_map_functions, SQL_MAP_FUNCTIONS),
    "null_handling": (q_null_handling, SQL_NULL_HANDLING),
    "window_analytics": (q_window_analytics, SQL_WINDOW_ANALYTICS),
    "correlated_subquery": (q_correlated_subquery, SQL_CORRELATED_SUBQUERY),
    "funnel_conversion": (q_funnel_conversion, SQL_FUNNEL_CONVERSION),
    "retention_cohorts": (q_retention_cohorts, SQL_RETENTION_COHORTS),
}
