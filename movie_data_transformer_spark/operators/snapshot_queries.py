"""Time travel over the versioned snapshot store (sinks/snapshot.py).

`table_time_travel` materializes a keyed aggregate state TWICE through
the store — version 1 from the first 19 days of purchases, version 2 by
an additive copy-on-write merge of the remaining days — then reads BOTH
versions back THROUGH THE MANIFESTS and emits them side by side. The
oracle recomputes each version's state directly from events, so the
hash binds the full write -> manifest -> time-travel-read round trip:
a merge that corrupts untouched buckets, a manifest that drops a
carried-forward directory, or a versioned read that leaks v2 rows into
v1 all break it.

Scale: the v2 commit costs (touched buckets + batch), never table size
— the property that makes MERGE affordable at 100 TB; old versions stay
readable because data files are immutable and manifests only add
references. The COW file-sharing and snapshot-isolation invariants are
pinned at file level in tests/test_snapshot_store.py.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from movie_data_transformer_spark.fixtures import (
    fixture_cache_dir,
    publish_fixture_dir,
    write_jsonl_feed,
)
from movie_data_transformer_spark.sinks.snapshot import SnapshotTable
from movie_data_transformer_spark.sources.jsonl import stream_jsonl
from movie_data_transformer_spark.sources.tables import load_table
from movie_data_transformer_spark.streaming.harness import run_available_now

_CUT = "2024-01-20"
_END = "2024-02-01"


def _purchase_state(ev: DataFrame, lo: str | None, hi: str) -> DataFrame:
    f = ev.filter(F.col("event_type") == "purchase").filter(
        F.col("ts") < F.lit(hi).cast("timestamp")
    )
    if lo is not None:
        f = f.filter(F.col("ts") >= F.lit(lo).cast("timestamp"))
    return f.groupBy("user_id").agg(
        F.sum(F.col("value").cast("decimal(18,4)")).alias("total"),
        F.count("*").cast("bigint").alias("n"),
    )


def _snapshot_store_dir(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per sf + source fingerprint) the two-version snapshot
    store — the FIRST build exercises the full commit+merge write path;
    later invocations measure the time-travel READ path, which is what
    production does (the dedup_incremental_minhash precedent). Manifest
    paths are root-relative, so the publish-then-rename is safe."""
    d = fixture_cache_dir("mdt_snapstore_v3", sf_dir)

    def _build(out: str) -> None:
        ev = load_table(spark, sf_dir, "events")
        st = SnapshotTable(spark, out, n_buckets=8)
        st.commit_full(_purchase_state(ev, None, _CUT), "user_id", version=1)
        st.merge_additive(
            _purchase_state(ev, _CUT, _END),
            "user_id",
            ["total", "n"],
            from_version=1,
            new_version=2,
        )

    return publish_fixture_dir(_build, d)


def q_table_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    st = SnapshotTable(spark, _snapshot_store_dir(spark, sf_dir), n_buckets=8)
    outs = []
    for v in (1, 2):
        outs.append(
            st.read(v).select(
                F.lit(v).cast("int").alias("version"),
                "user_id",
                F.col("total").cast("double").alias("total"),
                F.col("n").cast("bigint").alias("n"),
            )
        )
    return outs[0].unionByName(outs[1])


SQL_TABLE_TIME_TRAVEL = f"""
WITH p AS (
    SELECT user_id, ts, CAST(value AS DECIMAL(18,4)) AS v
    FROM events WHERE event_type = 'purchase'
),
v1 AS (
    SELECT 1 AS version, user_id,
           CAST(sum(v) AS DOUBLE) AS total, CAST(count(*) AS BIGINT) AS n
    FROM p WHERE ts < TIMESTAMP '{_CUT}' GROUP BY user_id
),
v2 AS (
    SELECT 2 AS version, user_id,
           CAST(sum(v) AS DOUBLE) AS total, CAST(count(*) AS BIGINT) AS n
    FROM p WHERE ts < TIMESTAMP '{_END}' GROUP BY user_id
)
SELECT * FROM v1 UNION ALL SELECT * FROM v2
"""


def _purchase_jsonl_dir(spark: SparkSession, sf_dir: str) -> str:
    """Publish (once per sf + source fingerprint) the purchase events as
    4 JSONL files so availableNow slices them into micro-batches."""
    d = fixture_cache_dir("mdt_snapstream_v1", sf_dir)

    def _build(out: str) -> None:
        ev = load_table(spark, sf_dir, "events")
        rows = ev.filter(F.col("event_type") == "purchase").select(
            "user_id",
            F.expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)").alias("cents"),
            "event_id",
        )
        write_jsonl_feed(rows.repartition(4), out, "purchases")

    return publish_fixture_dir(_build, d)


def run_stream_snapshot_merge(
    spark: SparkSession, input_dir: str, root: str
) -> "SnapshotTable":
    """availableNow stream -> one COW snapshot version per micro-batch.
    version = batch_id + 1 (batch 0 seeds via commit_full), so a
    foreachBatch REPLAY rewrites its own version deterministically
    (mode=overwrite data, atomically re-published manifest derived from
    manifest(batch_id)) instead of double-counting — the idempotency
    contract AppendOnlyStore gets from ingest ids, expressed in
    manifest arithmetic. The feed is decoded by `stream_jsonl`, so a
    line that is not JSON is dropped, not merged as a null-key row."""
    st = SnapshotTable(spark, root, n_buckets=8)
    stream = stream_jsonl(spark, "user_id long, cents long, event_id long", input_dir, 1)

    def _merge_batch(batch: DataFrame, batch_id: int) -> None:
        agg = batch.groupBy("user_id").agg(
            F.sum("cents").alias("total_cents"),
            F.count("*").cast("bigint").alias("n"),
        )
        if batch_id == 0:
            st.commit_full(agg, "user_id", version=1)
        else:
            st.merge_additive(
                agg,
                "user_id",
                ["total_cents", "n"],
                from_version=batch_id,
                new_version=batch_id + 1,
            )

    run_available_now(stream, _merge_batch, os.path.join(root, "ckpt"), "append")
    return st


def q_stream_snapshot_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous CDC into the snapshot store: purchases stream in 4
    micro-batches, each committing one COW version; the entry emits the
    FINAL version's state, which is slicing-invariant (additive merge is
    associative), so the oracle is the plain batch aggregate — the same
    stream==batch contract as stream_incremental_dedup. Intermediate
    versions (time travel across batch history) are pinned in
    tests/test_snapshot_store.py."""
    d = fixture_cache_dir("mdt_snapstream_store_v3", sf_dir)

    def _build(out: str) -> None:
        run_stream_snapshot_merge(spark, _purchase_jsonl_dir(spark, sf_dir), out)

    st = SnapshotTable(spark, publish_fixture_dir(_build, d), n_buckets=8)
    final = st.versions()[-1]
    return st.read(final).select(
        "user_id",
        F.col("total_cents").cast("bigint").alias("total_cents"),
        F.col("n").cast("bigint").alias("n"),
    )


SQL_STREAM_SNAPSHOT_MERGE = """
SELECT user_id,
       CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT)
           AS total_cents,
       CAST(count(*) AS BIGINT) AS n
FROM events WHERE event_type = 'purchase'
GROUP BY user_id
"""


QUERIES = {
    "table_time_travel": (q_table_time_travel, SQL_TABLE_TIME_TRAVEL),
    "stream_snapshot_merge": (q_stream_snapshot_merge, SQL_STREAM_SNAPSHOT_MERGE),
}
