"""File-format source connectors beyond parquet/JSONL: CSV (with the
reference's full listing/decode failure-mode battery replayed in a second
text format) and ORC (the second columnar format Spark ships natively).

Reference analog: the engine's only ingest path is the hand-rolled S3
JSONL listing+decode (DataTransformationService.java:78-94,131-144).
A user switching engines expects the standard format matrix, so these
entries put CSV and ORC behind the same oracle gate as every other
source: the fixture is DERIVED from the customer parquet table by a
distributed Spark write, so the round-trip (project -> write format X ->
list -> filtered glob -> typed decode -> DataFrame) is hash-equal to
projecting the source table directly — iff listing filter, malformed-row
policy, and type mapping are all exactly right.

Planted failure modes (CSV):
- `README.txt` decoy containing a syntactically valid CSV line — the
  `pathGlobFilter=*.csv` suffix filter must skip the file (op 2's
  `.json`-suffix semantic, in CSV form);
- one row with a non-numeric key and one wrong-arity row appended to a
  data file — `mode=DROPMALFORMED` must drop exactly those rows (op 15's
  permissive row-level error semantic).

Money survives the text round-trip EXACTLY by shipping integer cents
(CAST(DECIMAL(12,2) * 100 AS BIGINT)) instead of a double: no
float-format/parse dependency in the fixture bytes at all.

Scale: the fixture build is a one-time distributed write (no driver
collect); the reads are plain multi-file scans that split and
schedule like any file source. ORC keeps column pruning + predicate
pushdown (verified in tests/test_format_sources.py).

Engine caveat (pinned by test): under DROPMALFORMED, queries that parse
no columns (a bare count()) skip field parsing via CSV column pruning
and therefore count raw lines INCLUDING malformed ones; any full-row
read (the driver's collect, a projection of all columns) drops them.
"""

from __future__ import annotations

import glob as globmod
import os
import shutil

from pyspark.sql import DataFrame, SparkSession

from movie_data_transformer_spark.fixtures import fixture_cache_dir, publish_fixture_dir
from movie_data_transformer_spark.sources.tables import load_table

#: the projection shipped through both formats — exact (integer cents)
_PROJ = [
    "CAST(c_custkey AS BIGINT) AS c_custkey",
    "c_name",
    "CAST(c_nationkey AS BIGINT) AS c_nationkey",
    "c_mktsegment",
    "CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) AS acctbal_cents",
]

CSV_SCHEMA = (
    "c_custkey BIGINT, c_name STRING, c_nationkey BIGINT, "
    "c_mktsegment STRING, acctbal_cents BIGINT"
)

_ORACLE = """
SELECT CAST(c_custkey AS BIGINT) AS c_custkey,
       c_name,
       CAST(c_nationkey AS BIGINT) AS c_nationkey,
       c_mktsegment,
       CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) AS acctbal_cents
FROM customer
"""


def _projected_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "customer").selectExpr(*_PROJ)


def _staged_format_write(df: DataFrame, out: str, fmt: str, ext: str) -> None:
    """Distributed 4-part write of `df` as `fmt`, renamed to stable
    customer_{i}.{ext} names (listing order = sorted part order, like the
    reference's S3 objects)."""
    stage = out + "_stage"
    writer = df.repartition(4).write.mode("overwrite")
    if fmt == "csv":
        writer = writer.option("header", "false")
    getattr(writer, fmt)(stage)
    for i, p in enumerate(sorted(globmod.glob(os.path.join(stage, f"part-*.{ext}")))):
        shutil.move(p, os.path.join(out, f"customer_{i}.{ext}"))
    shutil.rmtree(stage, ignore_errors=True)


def csv_fixture_dir(spark: SparkSession, sf_dir: str) -> str:
    """Cached-per-(sf, source-fingerprint) CSV fixture: 4 part files with
    stable names + the planted decoy/malformed rows."""
    d = fixture_cache_dir("mdt_csv_v1", sf_dir)

    def _build(out: str) -> None:
        _staged_format_write(_projected_customer(spark, sf_dir), out, "csv", "csv")
        with open(os.path.join(out, "customer_0.csv"), "a") as f:
            f.write("not_a_number,Bad Row,7,AUTOMOBILE,123\n")  # key fails BIGINT
            f.write("99,short row\n")  # wrong arity
        with open(os.path.join(out, "README.txt"), "w") as f:
            f.write("424242,Decoy Customer,1,MACHINERY,100\n")  # valid line, wrong suffix

    return publish_fixture_dir(_build, d)


def read_customer_csv(spark: SparkSession, path: str) -> DataFrame:
    """Typed CSV scan with the engine's listing+decode policy: `*.csv`
    suffix filter, declared schema, malformed rows dropped."""
    return (
        spark.read.schema(CSV_SCHEMA)
        .option("pathGlobFilter", "*.csv")
        .option("mode", "DROPMALFORMED")
        .option("header", "false")
        .csv(path)
    )


def q_source_csv_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    return read_customer_csv(spark, csv_fixture_dir(spark, sf_dir))


def orc_fixture_dir(spark: SparkSession, sf_dir: str) -> str:
    d = fixture_cache_dir("mdt_orc_v1", sf_dir)

    def _build(out: str) -> None:
        _staged_format_write(_projected_customer(spark, sf_dir), out, "orc", "orc")

    return publish_fixture_dir(_build, d)


def q_source_orc_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.orc(orc_fixture_dir(spark, sf_dir))


def xml_fixture_dir(spark: SparkSession, sf_dir: str) -> str:
    """Spark 4's NATIVE XML source (spark-xml merged upstream): the
    third text format in the matrix."""
    d = fixture_cache_dir("mdt_xml_v1", sf_dir)

    def _build(out: str) -> None:
        stage = out + "_stage"
        (
            _projected_customer(spark, sf_dir)
            .repartition(4)
            .write.mode("overwrite")
            .format("xml")
            .option("rowTag", "customer")
            .save(stage)
        )
        for i, p in enumerate(sorted(globmod.glob(os.path.join(stage, "part-*")))):
            shutil.move(p, os.path.join(out, f"customer_{i}.xml"))
        shutil.rmtree(stage, ignore_errors=True)

    return publish_fixture_dir(_build, d)


def q_source_xml_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        spark.read.schema(CSV_SCHEMA)  # same projection, declared types
        .format("xml")
        .option("rowTag", "customer")
        .load(xml_fixture_dir(spark, sf_dir))
    )


#: every 7th doc gets a loose .wav on disk — bounds the fixture at
#: ~700 files at sf0.1 while keeping a spread of _wav_params shapes
WAV_SUBSET_MOD = 7


def binaryfile_fixture_dir(spark: SparkSession, sf_dir: str) -> str:
    """Loose-file multimodal landing zone: one REAL .wav per subset doc
    (the blobs mm_wav_decode synthesizes), written EXECUTOR-side via
    foreachPartition — the raw-object-store layout a media pipeline
    ingests from, as opposed to blobs already inside parquet. Plus a
    README.txt decoy for the suffix filter."""
    from movie_data_transformer_spark.operators.multimodal import (
        synthesize_wav_media,
    )
    from movie_data_transformer_spark.sources.tables import load_table

    d = fixture_cache_dir("mdt_binwav_v1", sf_dir)

    def _build(out: str) -> None:
        docs = load_table(spark, sf_dir, "documents").filter(
            f"doc_id % {WAV_SUBSET_MOD} = 0"
        )

        def write_part(rows) -> None:
            for r in rows:
                with open(os.path.join(out, f"doc_{r.doc_id:08d}.wav"), "wb") as f:
                    f.write(bytes(r.content))

        synthesize_wav_media(docs).foreachPartition(write_part)
        with open(os.path.join(out, "README.txt"), "w") as f:
            f.write("decoy: listing must keep *.wav only\n")

    return publish_fixture_dir(_build, d)


def q_source_binaryfile_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's binaryFile source over the loose-wav landing zone: list +
    suffix-filter + read (path, length, content), doc_id recovered from
    the object name, RIFF container decoded to exact-integer features.
    file_bytes comes from the SOURCE's length metadata column (not from
    the blob), so the oracle's 44 + 2*n formula binds the listing
    metadata, the wave-writer framing, and the decode at once.

    Scale: binaryFile splits by file (maxPartitionBytes-aware listing);
    the decode is the same Arrow mapInPandas as mm_wav_decode — no
    driver-side file I/O anywhere.
    """
    from movie_data_transformer_spark.operators.multimodal import wav_features

    d = binaryfile_fixture_dir(spark, sf_dir)
    bf = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.wav")
        .load(d)
        .selectExpr(
            r"CAST(regexp_extract(path, 'doc_(\\d+)\\.wav$', 1) AS BIGINT) AS doc_id",
            "content",
            "CAST(length AS BIGINT) AS file_bytes",
        )
    )
    # one scan: the length metadata rides through the decode as a
    # passthrough column (no second listing, no self-join)
    return wav_features(bf, passthrough=("file_bytes",))


# the mm_wav_decode generative oracle, restricted to the on-disk subset,
# plus the container-size formula for the listing's length column:
# 44-byte canonical RIFF/fmt/data header + 2 bytes per 16-bit sample.
SQL_SOURCE_BINARYFILE_SCAN = f"""
WITH p AS (SELECT doc_id, 400 + doc_id % 400 AS n, 64 + doc_id % 1000 AS step
           FROM documents WHERE doc_id % {WAV_SUBSET_MOD} = 0),
s AS (SELECT doc_id, n, step, unnest(range(0, n)) AS i FROM p),
v AS (SELECT doc_id, n, i, ((i * step) % 65536) - 32768 AS x FROM s),
lagged AS (SELECT doc_id, n, x,
                  lag(x) OVER (PARTITION BY doc_id ORDER BY i) AS prev
           FROM v)
SELECT doc_id,
       CAST(n AS BIGINT) AS n_samples,
       CAST(8000 AS BIGINT) AS sample_rate,
       CAST(max(abs(x)) AS BIGINT) AS peak_abs,
       CAST(sum(CASE WHEN prev IS NOT NULL AND ((prev < 0) <> (x < 0))
                     THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings,
       CAST(sum(x * x) AS BIGINT) AS energy,
       CAST(44 + 2 * n AS BIGINT) AS file_bytes
FROM lagged
GROUP BY doc_id, n
"""


QUERIES = {
    "source_csv_scan": (q_source_csv_scan, _ORACLE),
    "source_orc_scan": (q_source_orc_scan, _ORACLE),
    "source_xml_scan": (q_source_xml_scan, _ORACLE),
    "source_binaryfile_scan": (q_source_binaryfile_scan, SQL_SOURCE_BINARYFILE_SCAN),
}
