"""Parquet loaders for the driver's synthetic tables (TESTDATA.md).

Tables: region nation customer supplier part orders lineitem events
documents embeddings — one parquet per table under /root/testdata/sf*/.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # Deterministic date/time rendering: every date_format / cast-to-date
    # downstream must agree with the (timezone-naive) DuckDB oracle no
    # matter what session the harness hands us. UTC is the engine's
    # canonical zone (session.py); pin it here at the single chokepoint
    # every query loads tables through.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        # events.ts is parquet TIMESTAMP(MICROS) in the generated sf*
        # data but TIMESTAMP(NANOS) in files pandas writes (the planted
        # test fixtures). Spark 4.1.2 rejects NANOS (PARQUET_TYPE_ILLEGAL)
        # unless spark.sql.legacy.parquet.nanosAsLong reads it as int64
        # nanos; MICROS reads as timestamp_ntz whatever the conf. Either
        # way the result is a µs TimestampType equal to DuckDB's
        # downcast (probed value-identical at the µs boundary).
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        ts_type = dict(df.dtypes)["ts"]
        if ts_type == "bigint":  # legacy nanosAsLong path
            return df.withColumn(
                "ts", F.timestamp_micros((F.col("ts") / 1000).cast("long"))
            )
        # timestamp_ntz (MICROS): wall clock == UTC instant (session
        # tz pinned above), so a plain cast reinterprets losslessly
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def load_events_raw_ns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events with ts as RAW int64 epoch-nanos — the dtype-unambiguous form
    the pandas-grouped operators consume. Built on load_table, so it reads
    either timestamp unit (a µs-truncated reconstruction, identical for
    every consumer since all downstream math is >= second granularity)."""
    df = load_table(spark, sf_dir, "events")
    return df.withColumn("ts", F.unix_micros("ts") * F.lit(1000).cast("long"))


def load_events_stream(
    spark: SparkSession, sf_dir: str, raw_ns: bool = False, **options: str
) -> DataFrame:
    """Streaming read of events.parquet with a µs TimestampType `ts`
    (raw_ns=True: int64 epoch-nanos instead, for the pandas-stateful
    operators whose arithmetic wants a dtype-unambiguous integer).

    Reads either timestamp unit, as load_table does: the stream schema
    must be declared up front, and declaring `ts` as the WRONG surface
    type hangs or mis-decodes the scan (under nanosAsLong a
    TIMESTAMP(NANOS) column resolves to bigint, a TIMESTAMP(MICROS) one to
    timestamp_ntz). So: probe the batch reader's resolved schema (a
    footer-only read) and declare exactly that, then normalize."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    resolved = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    reader = spark.readStream.schema(resolved).option("pathGlobFilter", "events.parquet")
    for k, v in options.items():
        reader = reader.option(k, v)
    stream = reader.parquet(sf_dir)
    ts_type = dict(stream.dtypes)["ts"]
    if ts_type == "bigint":  # legacy read: already raw nanos
        if raw_ns:
            return stream
        return stream.withColumn(
            "ts", F.timestamp_micros((F.col("ts") / 1000).cast("long"))
        )
    stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    if raw_ns:
        stream = stream.withColumn("ts", F.unix_micros("ts") * F.lit(1000).cast("long"))
    return stream
