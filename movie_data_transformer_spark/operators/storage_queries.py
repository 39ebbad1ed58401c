"""Lakehouse maintenance planning + ANALYZE-style stats collection —
the two metadata-scale jobs a table service runs between queries.

- `compaction_plan_bins`: turn the small-files inventory
  (layout_queries.small_files_report's landing zone) into an actionable
  compaction PLAN: sort files by size DESC and assign them to target-size
  output groups by running-byte-sum ("next-fit decreasing" — each file
  goes to the bin its cumulative start offset falls in). Per bin:
  file count, byte total, min/max file size, doc-id checksum. FULL
  oracle: file sizes re-derived from the wav container formula
  (44 + 2*(400 + doc_id % 400)) exactly as small_files_report binds
  them, so a lost/miscounted file breaks the hash.
  Scale: the plan works on LISTING METADATA — one row per file, never
  content. At 100 TB with 10^7 files that is a few hundred MB through
  one sort; the global order is what makes bins deterministic, and the
  sort key cardinality (file size) is naturally spread. Executing the
  plan is then an embarrassingly-parallel per-bin concat.

- `stats_equidepth_histogram`: 8-bucket equi-depth histogram + per-bucket
  ndv/min/max over orders.o_totalprice in exact cents — the column-stats
  collection (ANALYZE TABLE) a cost-based optimizer feeds on. Exact
  total-order ntile (cents, orderkey tiebreak) so both engines bucket
  identically. Scale: exact equi-depth needs a global sort; at 100 TB
  the documented swap is the mergeable KLL sketch (agg_kll_quantiles)
  for boundaries + one grouped pass for the per-bucket stats — same
  output grain, sketch error instead of a total sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from movie_data_transformer_spark.operators.ordered_stats import (
    attach_order_stats,
    ntile_expr,
)
from movie_data_transformer_spark.sources.tables import load_table

TARGET_BIN_BYTES = 16384
N_HIST_BUCKETS = 8


def compaction_plan(files: DataFrame) -> DataFrame:
    """files: (file_id, file_bytes) -> per-bin plan rows. Deterministic
    next-fit-decreasing by running sum over (bytes DESC, id ASC)."""
    # two-pass running sum (ordered_stats): the un-partitioned window was
    # Exchange SinglePartition over the file manifest — millions of rows
    # on a 100 TB table
    binned = attach_order_stats(
        files.select("file_id", "file_bytes"),
        [F.col("file_bytes").desc(), F.col("file_id").asc()],
        "file_bytes",
        True,
        running={"_cum": "file_bytes"},
    ).selectExpr(
        "file_id",
        "file_bytes",
        f"CAST((_cum - file_bytes) DIV {TARGET_BIN_BYTES} AS BIGINT) AS bin_id",
    )
    return binned.groupBy("bin_id").agg(
        F.count("*").cast("long").alias("n_files"),
        F.sum("file_bytes").cast("long").alias("total_bytes"),
        F.min("file_bytes").alias("min_bytes"),
        F.max("file_bytes").alias("max_bytes"),
        F.sum("file_id").cast("long").alias("file_id_sum"),
    )


def q_compaction_plan_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    from movie_data_transformer_spark.operators.format_queries import (
        binaryfile_fixture_dir,
    )

    d = binaryfile_fixture_dir(spark, sf_dir)
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.wav")
        .load(d)
        .selectExpr(
            r"CAST(regexp_extract(path, 'doc_(\\d+)\\.wav$', 1) AS BIGINT)"
            " AS file_id",
            "CAST(length AS BIGINT) AS file_bytes",
        )
    )
    return compaction_plan(files)


def _sql_compaction_plan() -> str:
    from movie_data_transformer_spark.operators.format_queries import WAV_SUBSET_MOD

    return f"""
WITH files AS (
    SELECT doc_id AS file_id,
           CAST(44 + 2 * (400 + doc_id % 400) AS BIGINT) AS file_bytes
    FROM documents WHERE doc_id % {WAV_SUBSET_MOD} = 0
),
binned AS (
    SELECT file_id, file_bytes,
           CAST((sum(file_bytes) OVER (ORDER BY file_bytes DESC, file_id ASC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 - file_bytes) // {TARGET_BIN_BYTES} AS BIGINT) AS bin_id
    FROM files
)
SELECT bin_id,
       CAST(count(*) AS BIGINT) AS n_files,
       CAST(sum(file_bytes) AS BIGINT) AS total_bytes,
       CAST(min(file_bytes) AS BIGINT) AS min_bytes,
       CAST(max(file_bytes) AS BIGINT) AS max_bytes,
       CAST(sum(file_id) AS BIGINT) AS file_id_sum
FROM binned
GROUP BY bin_id
"""


def q_stats_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cents = orders.selectExpr(
        "o_orderkey",
        "CAST(floor(CAST(o_totalprice AS DOUBLE) * 100) AS BIGINT) AS cents",
    )
    # two-pass global rank + integer ntile (ordered_stats) — bit-identical
    # to the builtin, no single-partition window at order grain
    bucketed = attach_order_stats(
        cents,
        [F.col("cents").asc(), F.col("o_orderkey").asc()],
        "cents",
        False,
        row_number="_rn",
        total_count="_n",
        persist_input=False,
    ).selectExpr("cents", ntile_expr("_rn", "_n", N_HIST_BUCKETS) + " AS bucket")
    return bucketed.groupBy("bucket").agg(
        F.count("*").cast("long").alias("n_rows"),
        F.countDistinct("cents").alias("n_distinct"),
        F.min("cents").alias("lo_cents"),
        F.max("cents").alias("hi_cents"),
    )


SQL_STATS_EQUIDEPTH_HISTOGRAM = f"""
WITH cents AS (
    SELECT o_orderkey,
           CAST(floor(CAST(o_totalprice AS DOUBLE) * 100) AS BIGINT) AS cents
    FROM orders
),
bucketed AS (
    SELECT cents,
           ntile({N_HIST_BUCKETS}) OVER (ORDER BY cents, o_orderkey) AS bucket
    FROM cents
)
SELECT bucket,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(DISTINCT cents) AS BIGINT) AS n_distinct,
       CAST(min(cents) AS BIGINT) AS lo_cents,
       CAST(max(cents) AS BIGINT) AS hi_cents
FROM bucketed
GROUP BY bucket
"""


QUERIES = {
    "compaction_plan_bins": (q_compaction_plan_bins, _sql_compaction_plan()),
    "stats_equidepth_histogram": (
        q_stats_equidepth_histogram,
        SQL_STATS_EQUIDEPTH_HISTOGRAM,
    ),
}
