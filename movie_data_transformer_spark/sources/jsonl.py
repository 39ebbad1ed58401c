"""JSONL file source: scan + listing filters + typed decode, as a batch
read (`read_movies_jsonl`) or a file stream (`stream_jsonl`, which every
JSONL stream of the engine reads through; op 12's file slices).

Covers reference ops 1-3 and 15 (SURVEY.md §2.1):
  - op 1  object-store listing with prefix pushdown
          (DataTransformationService.java:78-94) -> Hadoop FS path listing;
          pass the prefix directory as the path and Spark's file index does
          paginated listing natively (and distributed for huge listings).
  - op 2  `.json` suffix filter applied at listing time
          (DataTransformationService.java:88) -> pathGlobFilter, which prunes
          at scan *planning*, before any file is opened.
  - op 3  per-line JSON decode against the fixed schema
          (DataTransformationService.java:131-144) -> Spark's JSON source is
          newline-delimited by default; schema is supplied, never inferred,
          so the scan does a single pass with nested-column pruning.
  - op 15 permissive record-level error handling
          (DataTransformationService.java:141-143): the reference fails the
          whole file on one bad line and retries it; we do strictly better —
          DROPMALFORMED drops only the bad *line* and keeps the rest of
          the file; `corrupt_records()` returns the dropped lines.

At 100 TB: listing is metadata-parallel, decode is one task per file split
(`spark.sql.files.maxPartitionBytes` sizes splits), and the whole
decode->explode->project->partial-agg chain fuses into one codegen stage —
the same fusion the reference hand-wrote per file (op 13), minus the
single-JVM ceiling.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from movie_data_transformer_spark.schemas import MOVIE_INPUT

CORRUPT_COL = "_corrupt_record"
#: the reference's `.json` suffix predicate (DataTransformationService.java:88),
#: applied at listing time
_JSON_GLOB = "*.json"
_MOVIE_INPUT_WITH_CORRUPT = StructType(
    list(MOVIE_INPUT.fields) + [StructField(CORRUPT_COL, StringType())]
)


def _jsonl_reader(reader, schema):
    """The one JSONL decode, for `spark.read` and `spark.readStream`:
    the caller's fixed schema (never inferred), the `.json` listing
    filter, and DROPMALFORMED — "parse what you can, drop bad lines", the
    reference's net effect (it fails+retries+skips the whole file,
    DataTransformationService.java:124-126; we drop only the bad LINE).
    Dropping scan-side also avoids Spark's restriction on queries that
    reference only the corrupt-record column."""
    return (
        reader.schema(schema)
        .option("mode", "DROPMALFORMED")
        .option("pathGlobFilter", _JSON_GLOB)
    )


def read_movies_jsonl(spark: SparkSession, path: str) -> DataFrame:
    """Read newline-delimited MovieInput JSON under `path`.

    `path` plays the role of the reference's bucket+prefix
    (application.properties:8, prefix `movies/`).
    """
    return _jsonl_reader(spark.read, MOVIE_INPUT).json(path)


def stream_jsonl(
    spark: SparkSession, schema: StructType | str, path: str, max_files_per_trigger: int
) -> DataFrame:
    """The JSONL files under `path` as a file stream with the batch
    reader's decode: each micro-batch decodes at most
    `max_files_per_trigger` new files (the reference's BATCH_SIZE slices,
    DataTransformationService.java:60-68). Every JSONL stream of the
    engine reads through here."""
    reader = spark.readStream.option("maxFilesPerTrigger", max_files_per_trigger)
    return _jsonl_reader(reader, schema).json(path)


def _parse_lines(spark: SparkSession, path: str) -> DataFrame:
    """Raw lines of the matching files parsed PERMISSIVE: `_file` is the
    source file, `r` the MovieInput struct plus `_corrupt_record`, which
    holds the raw text of a line that failed to parse."""
    return (
        spark.read.option("pathGlobFilter", _JSON_GLOB)
        .text(path)
        .select(
            F.input_file_name().alias("_file"),
            F.from_json(
                "value",
                _MOVIE_INPUT_WITH_CORRUPT,
                {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": CORRUPT_COL},
            ).alias("r"),
        )
    )


def read_movies_jsonl_skip_bad_files(spark: SparkSession, path: str) -> DataFrame:
    """Op 14 — per-file retry-then-skip (DataTransformationService.java:112-129).

    The reference processes file-by-file, retries a failing file up to 3
    times, then skips the WHOLE file. Deterministic corruption never heals
    on retry, so the distributed equivalent is: decode permissively with
    `input_file_name()` attached, derive the (tiny) set of files containing
    at least one undecodable line, and broadcast-anti-join their rows away.
    File-level skip, not line-level drop — valid rows in a bad file are
    lost, exactly the reference's semantics (and unlike op 15's
    DROPMALFORMED, which keeps them).

    At 100 TB: the data side is one scan, never shuffled — the bad-file
    list is bounded by the file count and broadcasts; the anti-join is
    map-side.
    """
    parsed = _parse_lines(spark, path)
    # A line like a literal `null` (or anything from_json maps to a NULL
    # struct WITHOUT setting the corrupt column) is also a decode failure
    # under the reference's whole-file-fails semantics — without the
    # r IS NULL clause such a line would neither mark the file bad nor be
    # dropped, leaking an all-null phantom row through r.* (ADVICE r3).
    bad_files = (
        parsed.filter(F.col(f"r.{CORRUPT_COL}").isNotNull() | F.col("r").isNull())
        .select("_file")
        .distinct()
    )
    good = parsed.join(F.broadcast(bad_files), "_file", "left_anti")
    return good.select("r.*").drop(CORRUPT_COL)


def corrupt_records(spark: SparkSession, path: str) -> DataFrame:
    """The complement: raw text of lines that failed to parse (op 14/15
    observability — the reference only logs and skips; we expose them)."""
    # Spark's JSON relation forbids queries that reference only the
    # corrupt-record column, so take the expression route instead: the
    # text source plus from_json carrying a corrupt-record field.
    bad = F.col(f"r.{CORRUPT_COL}")
    return _parse_lines(spark, path).filter(bad.isNotNull()).select(bad.alias("raw_line"))
