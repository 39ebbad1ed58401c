"""Physical data-layout planning as oracle-checked relational ops.

This module puts the LAYOUT MATH of a clustered lake table behind the
driver's DuckDB gate: per-tile statistics of a two-dimensional Morton
(Z-order) tiling vs a one-dimensional linear tiling of the same data.
The per-tile min/max table IS the file-skipping index a 100 TB lake
navigates (parquet footer stats / table-format manifests), so binding
it to an oracle binds the whole clustering story: bucket quantization,
bit interleave, and tile assignment.

Everything is map-side arithmetic (one tiny min/max agg + one shuffle
to tile grain): tiles are FIXED Morton ranges (zkey div tile_span),
not an ntile over a global sort — the tiling a range-exchange
clustered write produces, without a single-reducer window.

The cross-engine contract: bucket ids use the identical IEEE double
expression tree ((v - lo) / (hi - lo) * 256, floored, clamped) on both
engines, and the interleave is integer div/mod arithmetic generated
once for both SQL dialects (DIV vs //).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from movie_data_transformer_spark.sources.tables import load_table

BITS = 8  # 256 buckets per dimension -> zkey in [0, 65536)
N_TILES = 16  # zkey div 4096


def _morton_sql(div: str) -> str:
    """sum_i ((b1 div 2^i) % 2) * 4^i + ((b2 div 2^i) % 2) * 2*4^i —
    the canonical bit interleave spelled in portable integer arithmetic."""
    terms = []
    for i in range(BITS):
        p, m = 1 << i, 1 << (2 * i)
        terms.append(f"((b1 {div} {p}) % 2) * {m} + ((b2 {div} {p}) % 2) * {2 * m}")
    return " + ".join(terms)


def _layout_sql(table: str, div: str) -> str:
    tile_span = (1 << (2 * BITS)) // N_TILES
    lin_span = (1 << BITS) // N_TILES
    return f"""
WITH s AS (SELECT min(user_id) AS lo1, max(user_id) AS hi1,
                  min(value) AS lo2, max(value) AS hi2
           FROM {table}),
b AS (SELECT least(greatest(CAST(floor((CAST(e.user_id AS DOUBLE) - CAST(s.lo1 AS DOUBLE))
                  / (CAST(s.hi1 AS DOUBLE) - CAST(s.lo1 AS DOUBLE)) * 256) AS BIGINT),
                  0), 255) AS b1,
             least(greatest(CAST(floor((e.value - s.lo2)
                  / (s.hi2 - s.lo2) * 256) AS BIGINT), 0), 255) AS b2
      FROM {table} e, s),
z AS (SELECT b1, b2, {_morton_sql(div)} AS zkey FROM b),
tiles AS (
    SELECT 'zorder' AS layout, zkey {div} {tile_span} AS tile_id, b1, b2 FROM z
    UNION ALL
    SELECT 'linear' AS layout, b1 {div} {lin_span} AS tile_id, b1, b2 FROM z
)
SELECT layout, CAST(tile_id AS BIGINT) AS tile_id,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(min(b1) AS BIGINT) AS min_b1, CAST(max(b1) AS BIGINT) AS max_b1,
       CAST(min(b2) AS BIGINT) AS min_b2, CAST(max(b2) AS BIGINT) AS max_b2
FROM tiles GROUP BY layout, tile_id
"""


def q_zorder_tile_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-tile skipping index of events under a Morton tiling of
    (user_id, value) next to a linear tiling of user_id alone: the
    zorder tiles carry tight min/max on BOTH dimensions (every tile can
    be skipped by a selective filter on either), the linear tiles only
    on one — the quantified case for Z-order clustering, held to a full
    oracle (asserted over the emitted stats in tests/test_sql_surface.py)."""
    load_table(spark, sf_dir, "events").createOrReplaceTempView("_zf_events")
    return spark.sql(_layout_sql("_zf_events", "DIV"))


SQL_ZORDER_TILE_STATS = _layout_sql("events", "//")


def q_small_files_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Layout-health inventory over a loose-object landing zone — the
    operational report that decides WHERE to run compaction at 100 TB:
    file counts and byte totals per 256-byte size band, from the
    binaryFile source's LISTING metadata (never reading content). The
    oracle recomputes every file's size from the wav container formula
    44 + 2*(400 + doc_id % 400) over the fixture's doc subset, so a
    wrong listing, a lost file, or a framing change breaks the hash —
    the same data-derived-bytes binding as source_binaryfile_scan, here
    aggregated to the report grain."""
    from movie_data_transformer_spark.operators.format_queries import (
        binaryfile_fixture_dir,
    )

    d = binaryfile_fixture_dir(spark, sf_dir)
    return small_files_inventory(spark, d, glob="*.wav")


def small_files_inventory(
    spark: SparkSession, path: str, glob: str = "*", recursive: bool = False
) -> DataFrame:
    """The report grain itself, reusable over ANY loose-object directory
    (landing zones, AppendOnlyStore state roots): per-256-byte-band file
    counts and byte totals from binaryFile LISTING metadata only. With
    recursive=True it walks nested layout dirs (e.g. ingest=<id>
    subdirs) — the compaction-health probe the streaming dedup store's
    compact() lifecycle is watched with (tests/test_dedup.py)."""
    reader = spark.read.format("binaryFile").option("pathGlobFilter", glob)
    if recursive:
        reader = reader.option("recursiveFileLookup", "true")
    files = reader.load(path).selectExpr("length AS file_bytes")
    return files.selectExpr("file_bytes DIV 256 AS size_band", "file_bytes").groupBy(
        "size_band"
    ).agg(
        F.count("*").cast("bigint").alias("n_files"),
        F.sum("file_bytes").cast("bigint").alias("total_bytes"),
        F.min("file_bytes").alias("min_bytes"),
        F.max("file_bytes").alias("max_bytes"),
    )


# the wav-subset predicate is interpolated from format_queries so the
# fixture and this oracle can never drift apart; the 44 + 2n container
# formula is the same one SQL_SOURCE_BINARYFILE_SCAN binds (n per
# multimodal._wav_params)
from movie_data_transformer_spark.operators.format_queries import (  # noqa: E402
    WAV_SUBSET_MOD as _WAV_MOD,
)

SQL_SMALL_FILES_REPORT = f"""
WITH f AS (
    SELECT CAST(44 + 2 * (400 + doc_id % 400) AS BIGINT) AS file_bytes
    FROM documents WHERE doc_id % {_WAV_MOD} = 0
)
SELECT file_bytes // 256 AS size_band,
       CAST(count(*) AS BIGINT) AS n_files,
       CAST(sum(file_bytes) AS BIGINT) AS total_bytes,
       min(file_bytes) AS min_bytes,
       max(file_bytes) AS max_bytes
FROM f GROUP BY 1
"""


QUERIES = {
    "zorder_tile_stats": (q_zorder_tile_stats, SQL_ZORDER_TILE_STATS),
    "small_files_report": (q_small_files_report, SQL_SMALL_FILES_REPORT),
}
