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
        # events.ts is parquet TIMESTAMP(NANOS). The read path is Spark-
        # version-dependent: <=4.0 rejects it unless
        # spark.sql.legacy.parquet.nanosAsLong reads it as int64 nanos;
        # 4.1+ reads it natively as timestamp_ntz (truncated to µs) and
        # IGNORES the legacy conf. Handle both so the engine survives the
        # runtime being upgraded under it; either way the result is a µs
        # TimestampType equal to DuckDB's TIMESTAMP_NS downcast (probed
        # value-identical at the µs boundary).
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        ts_type = dict(df.dtypes)["ts"]
        if ts_type == "bigint":  # legacy nanosAsLong path
            return df.withColumn(
                "ts", F.timestamp_micros((F.col("ts") / 1000).cast("long"))
            )
        # timestamp_ntz (4.1+ native): wall clock == UTC instant (session
        # tz pinned above), so a plain cast reinterprets losslessly
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def load_events_raw_ns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events with ts as RAW int64 epoch-nanos — the dtype-unambiguous form
    the pandas-grouped operators consume. Version-robust like load_table
    (legacy long read, or µs-truncated reconstruction on Spark 4.1+, which
    is identical for every consumer since all downstream math is >= second
    granularity)."""
    df = load_table(spark, sf_dir, "events")
    return df.withColumn("ts", F.unix_micros("ts") * F.lit(1000).cast("long"))


def load_events_stream(
    spark: SparkSession, sf_dir: str, raw_ns: bool = False, **options: str
) -> DataFrame:
    """Streaming read of events.parquet with a µs TimestampType `ts`
    (raw_ns=True: int64 epoch-nanos instead, for the pandas-stateful
    operators whose arithmetic wants a dtype-unambiguous integer).

    Version-robust the same way load_table is: the stream schema must be
    declared up front, and declaring `ts` as the WRONG surface type for the
    running Spark hangs or mis-decodes the scan (pyspark 4.1.2 reads
    TIMESTAMP(NANOS) natively as timestamp_ntz and ignores
    nanosAsLong; <=4.0 needs the legacy long read). So: probe the batch
    reader's resolved schema (a footer-only read) and declare exactly
    that, then normalize."""
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
