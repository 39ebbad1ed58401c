"""Spark 4 SQL-surface extensions: WITH RECURSIVE and the VARIANT type.

The reference engine's query surface is a fixed Java pipeline
(DataTransformationService.java) — no SQL at all. A user switching to
this engine gets Spark's full SQL front end, and these entries put the
two NEWEST surfaces (recursive CTEs landed in Spark 4.0, VARIANT in
4.0) behind the same DuckDB oracle gate as every other operator, so the
"it's standard SQL" claim is hash-checked, not asserted.

- sql_recursive_cte: iterative graph traversal expressed DECLARATIVELY.
  The engine package already runs its iterative algorithms as manual
  fixpoint loops (dedup_clusters min-label propagation, graph_pagerank)
  because they need checkpoint control; this entry pins the other path —
  letting the engine's recursion execute a multi-level hierarchy walk in
  ONE statement. DuckDB shares the WITH RECURSIVE dialect almost
  verbatim (integer division spelled DIV vs //), so the oracle is the
  same traversal on the other engine.

- expr_variant: semi-structured payloads through the open VARIANT type
  (parse_json -> variant_get typed paths -> try_variant_get miss
  handling). The oracle recomputes every extracted value from the PLAIN
  source columns, so a wrong path, a lost field (e.g. to_json null
  handling), or a mis-typed get breaks the value hash.

Scale: the recursive CTE's per-level step is one hash join per
iteration — exactly the shuffle budget of the manual loop, with AQE
sizing each level; depth is log10(|customer|) so the plan stays
shallow. VARIANT columns are binary-encoded (no re-parse per access)
and variant_get is a JVM expression — whole-stage codegen, no UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from movie_data_transformer_spark.operators.sizing import widen_for_compute
from movie_data_transformer_spark.sources.tables import load_table

# decimal-digit hierarchy over the dense customer keys: parent(node) =
# node div 10, roots are the single-digit keys. Dense keys 0..N-1 make
# every node reachable; depth is bounded by the key's digit count.
_RECURSIVE_BODY = """
WITH RECURSIVE h AS (
    SELECT c_custkey AS node, c_custkey AS root, 0 AS depth
    FROM {table} WHERE c_custkey <= 9
    UNION ALL
    SELECT c.c_custkey AS node, h.root AS root, h.depth + 1 AS depth
    FROM {table} c JOIN h ON c.c_custkey {div} 10 = h.node
    WHERE c.c_custkey > 9
)
SELECT CAST(root AS BIGINT) AS root,
       CAST(depth AS BIGINT) AS depth,
       CAST(count(*) AS BIGINT) AS n_nodes,
       CAST(sum(node) AS BIGINT) AS sum_keys,
       CAST(min(node) AS BIGINT) AS min_key,
       CAST(max(node) AS BIGINT) AS max_key
FROM h GROUP BY root, depth
"""


def q_sql_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-level hierarchy rollup in one declarative WITH RECURSIVE
    statement (per (root, level): subtree size + key stats)."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("_rc_customer")
    return spark.sql(_RECURSIVE_BODY.format(table="_rc_customer", div="DIV"))


SQL_SQL_RECURSIVE_CTE = _RECURSIVE_BODY.format(table="customer", div="//")


def q_expr_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured round trip through VARIANT: build a nested JSON
    payload from the event columns, parse_json it into a VARIANT, then
    read it back with typed variant_get paths (struct field, array
    element, json-string-embedded integer) and a try_variant_get miss.
    Integer-only payload fields keep the loop bit-exact cross-engine."""
    ev = load_table(spark, sf_dir, "events")
    payload = ev.selectExpr(
        "event_type",
        "parse_json(to_json(named_struct("
        "  'meta', named_struct('type', event_type,"
        "                       'k', CAST(get_json_object(props, '$.k') AS BIGINT)),"
        "  'ids', array(user_id, event_id)))) AS v",
    )
    extracted = payload.selectExpr(
        "event_type",
        "variant_get(v, '$.meta.k', 'bigint') AS k",
        "variant_get(v, '$.ids[0]', 'bigint') AS uid",
        "variant_get(v, '$.ids[1]', 'bigint') AS eid",
        "try_variant_get(v, '$.meta.absent', 'bigint') AS missing",
    )
    return extracted.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.sum("k").cast("bigint").alias("sum_k"),
        F.sum("uid").cast("bigint").alias("sum_uid"),
        F.sum("eid").cast("bigint").alias("sum_eid"),
        F.count("missing").cast("bigint").alias("n_missing"),
    )


SQL_EXPR_VARIANT = """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       CAST(sum(user_id) AS BIGINT) AS sum_uid,
       CAST(sum(event_id) AS BIGINT) AS sum_eid,
       CAST(0 AS BIGINT) AS n_missing
FROM events GROUP BY event_type
"""


def q_variant_explode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The VARIANT table-generator: variant_explode unpacks each event's
    semi-structured object into (pos, key, value) rows — the schema-
    on-read path for payloads whose keys aren't known at write time.
    Per key: row count and the sum of values that cast to bigint
    (try_variant_get absorbs the non-numeric 'type' field as NULL)."""
    ev = load_table(spark, sf_dir, "events")
    ev.createOrReplaceTempView("_vx_events")
    return spark.sql(
        """
        SELECT x.key,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(CAST(try_variant_get(x.value, '$', 'bigint') AS BIGINT))
                    AS BIGINT) AS sum_bigint
        FROM (
            SELECT parse_json(to_json(named_struct(
                       'type', event_type,
                       'k', CAST(get_json_object(props, '$.k') AS BIGINT)))) AS v
            FROM _vx_events
        ), LATERAL variant_explode(v) AS x
        GROUP BY x.key
        """
    )


# the 'k' row counts only rows where props actually has a numeric k:
# to_json omits null struct fields (ignoreNullFields default), so a
# k-less event contributes no 'k' entry to the exploded variant — the
# oracle must count the same way, not count(*) (review finding).
SQL_VARIANT_EXPLODE_STATS = """
SELECT 'k' AS key,
       CAST(count(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT))
            AS BIGINT) AS n_rows,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
           AS sum_bigint
FROM events
UNION ALL
SELECT 'type' AS key, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(NULL AS BIGINT) AS sum_bigint
FROM events
"""


def q_expr_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level XML through to_xml + the xpath extraction family (the
    string-level complement of the file-level source_xml_scan): each
    event serializes to an XML fragment and is read back with typed
    xpath_long / xpath_string; the oracle recomputes from the plain
    columns, so element naming, escaping, and path typing are all
    hash-bound.

    Perf note (deliberate): each xpath_* call re-parses the document,
    so three extractions cost three DOM parses per row — this entry
    exercises that surface; a hot path would from_xml ONCE into a
    struct (the typed decode source_xml_scan uses) and project fields.
    """
    ev = load_table(spark, sf_dir, "events")
    # widen the 4-DOM-parses-per-row chain off the narrow test-scale
    # scan (guide §2.5; r13 sweep: 15.2s single-task -> core-wide); only
    # the three consumed columns shuffle
    xml = widen_for_compute(
        ev.select("event_type", "user_id", "event_id"), key="event_id"
    ).selectExpr(
        "to_xml(named_struct('etype', event_type, 'uid', user_id,"
        "                    'eid', event_id)) AS x"
    )
    back = xml.selectExpr(
        "xpath_string(x, '/ROW/etype') AS event_type",
        "xpath_long(x, '/ROW/uid') AS uid",
        "xpath_long(x, '/ROW/eid') AS eid",
    )
    return back.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.sum("uid").cast("bigint").alias("sum_uid"),
        F.sum("eid").cast("bigint").alias("sum_eid"),
    )


SQL_EXPR_XML_ROUNDTRIP = """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(user_id) AS BIGINT) AS sum_uid,
       CAST(sum(event_id) AS BIGINT) AS sum_eid
FROM events GROUP BY event_type
"""


QUERIES = {
    "sql_recursive_cte": (q_sql_recursive_cte, SQL_SQL_RECURSIVE_CTE),
    "expr_variant": (q_expr_variant, SQL_EXPR_VARIANT),
    "variant_explode_stats": (q_variant_explode_stats, SQL_VARIANT_EXPLODE_STATS),
    "expr_xml_roundtrip": (q_expr_xml_roundtrip, SQL_EXPR_XML_ROUNDTRIP),
}
