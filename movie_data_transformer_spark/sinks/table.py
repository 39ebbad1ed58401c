"""Partitioned parquet table sink — the lake-layout companion to the KV
sink: write fact data partitioned by a low-cardinality key so downstream
scans prune at planning time.

100 TB note: partition by coarse time (year/month) or enum columns only —
high-cardinality partition keys (customer ids!) create a small-files
catastrophe. Within partitions rely on parquet row-group statistics +
filter pushdown for finer pruning."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def write_partitioned(
    df: DataFrame, path: str, partition_cols: list[str], mode: str = "overwrite"
) -> None:
    df.write.mode(mode).partitionBy(*partition_cols).parquet(path)


def read_partitioned(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def write_partitioned_bucketed(
    df: DataFrame,
    table_name: str,
    path: str,
    partition_cols: list[str],
    bucket_col: str,
    n_buckets: int,
    mode: str = "overwrite",
) -> None:
    """The combined lake layout: coarse partitions (time/enum) for
    planner-time pruning PLUS hash buckets on the join/merge key inside
    each partition for shuffle-free joins.

    100 TB note: this is the state-table layout for incremental merges —
    a date-partitioned, key-bucketed table lets a daily MERGE prune to
    one partition AND join against the batch without shuffling the
    (huge) state side. Buckets must be sized so each bucket file stays
    in the 128 MB - 1 GB band; n_buckets is fixed at table creation, so
    pick it for the TARGET size, not today's.
    """
    (
        df.write.mode(mode)
        .partitionBy(*partition_cols)
        .bucketBy(n_buckets, bucket_col)
        .sortBy(bucket_col)
        .option("path", path)
        .saveAsTable(table_name)
    )


def _zorder_column(c1: Column, c2: Column, bits: int) -> Column:
    """Interleave the low `bits` bits of two bucket ids (Morton code).
    Pure JVM bit expressions — stays inside whole-stage codegen."""
    z = F.lit(0).cast("long")
    for i in range(bits):
        b1 = F.shiftright(c1, i).bitwiseAND(F.lit(1))
        b2 = F.shiftright(c2, i).bitwiseAND(F.lit(1))
        z = z.bitwiseOR(F.shiftleft(b1, 2 * i)).bitwiseOR(F.shiftleft(b2, 2 * i + 1))
    return z


def write_zorder(
    df: DataFrame,
    path: str,
    col1: str,
    col2: str,
    n_files: int = 16,
    bits: int = 8,
    mode: str = "overwrite",
) -> None:
    """Z-order (Morton-curve) clustering on TWO columns: each column is
    mapped to a 2^bits uniform bucket between its min and max, the bucket
    ids are bit-interleaved, and the data is range-partitioned + sorted on
    the interleaved key. Files then have tight min/max ranges on BOTH
    columns, so selective filters on EITHER dimension skip most files via
    parquet footer statistics — linear sort can only serve one dimension.

    100 TB note: the only driver-side work is one min/max agg (a full scan
    but a tiny shuffle); everything else is a single range exchange sized
    by n_files. Size n_files so files land in the 128 MB - 1 GB band.
    Uniform buckets are used instead of quantiles for determinism; for
    heavily skewed columns substitute approxQuantile boundaries.
    """
    stats = df.agg(
        F.min(col1).alias("lo1"),
        F.max(col1).alias("hi1"),
        F.min(col2).alias("lo2"),
        F.max(col2).alias("hi2"),
    ).first()
    if stats.lo1 is None or stats.lo2 is None:
        # empty (or all-NULL cluster-column) input: nothing to cluster —
        # write as-is instead of calling float(None) below
        df.write.mode(mode).parquet(path)
        return
    n_buckets = 1 << bits

    def bucket(col: str, lo, hi) -> Column:
        c = F.col(col).cast("double")
        span = float(hi) - float(lo) or 1.0
        raw = F.floor((c - F.lit(float(lo))) / F.lit(span) * n_buckets).cast("long")
        return F.least(F.greatest(raw, F.lit(0)), F.lit(n_buckets - 1))

    z = _zorder_column(bucket(col1, stats.lo1, stats.hi1), bucket(col2, stats.lo2, stats.hi2), bits)
    (
        df.withColumn("_z", z)
        .repartitionByRange(n_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode(mode)
        .parquet(path)
    )


def compact_small_files(
    spark: SparkSession, path: str, target_file_bytes: int = 128 * 1024 * 1024
) -> tuple[int, int]:
    """Small-files compaction — the table-maintenance op every streaming
    ingest eventually needs (micro-batches write a file per trigger per
    partition; a month later the scan is metadata-bound). Bin-packs the
    table into ceil(total_bytes / target_file_bytes) files via a single
    round-robin repartition, staged then atomically swapped in.

    Raises on a hive-partitioned layout (partition subdirectories): a
    flat rewrite would silently flatten the partition structure — compact
    each partition directory individually instead.

    100 TB note: compact per partition (loop partitions, same logic) so
    a single compaction never rewrites the whole table; target 128 MB-1 GB
    files to match parquet row-group + HDFS/S3 block economics. Returns
    (n_files_before, n_files_after).
    """
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(hconf)

    def _data_files(p):
        out = []
        for st in fs.listStatus(p):
            name = st.getPath().getName()
            if st.isDirectory() and not name.startswith(("_", ".")):
                raise ValueError(
                    f"compact_small_files: {p} contains partition directory "
                    f"{name!r}; compact each partition directory separately"
                )
            if st.isFile() and name.endswith(".parquet"):
                out.append((st.getPath(), st.getLen()))
        return out

    before = _data_files(jpath)
    total = sum(sz for _, sz in before)
    n_out = max(1, -(-total // target_file_bytes))
    staged = jvm.org.apache.hadoop.fs.Path(path.rstrip("/") + "_compacting")
    spark.read.parquet(path).repartition(int(n_out)).write.mode("overwrite").parquet(
        str(staged)
    )
    # swap via two renames, never delete-then-rename: a crash between the
    # renames leaves the table findable at `_old`, not vanished
    old = jvm.org.apache.hadoop.fs.Path(path.rstrip("/") + "_old")
    if fs.exists(old):
        fs.delete(old, True)
    fs.rename(jpath, old)
    fs.rename(staged, jpath)
    fs.delete(old, True)
    return len(before), len(_data_files(jpath))
