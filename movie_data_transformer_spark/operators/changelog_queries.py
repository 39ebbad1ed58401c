"""Tombstone-aware CDC changelog apply — the missing piece of the repo's
CDC story (dedup_cdc_chunks does content chunking; merge.py does LWW
upserts): applying an ordered Insert/Update/DELETE feed to keyed state,
where a trailing delete must ERASE the key, not just lose a tiebreak.
This is Debezium/Delta CDF semantics: per key, ops apply in feed order
and the final state is the last op's value — or nothing, if the last op
is a tombstone.

Changelog fixture: events as the feed — purchase = upsert (value in
cents), error = tombstone, other types are no-ops; op order per key is
(ts, event_id), a total order both engines share. Output = surviving
keys only, with the applied value, the op sequence number, and how many
ops the key saw (the audit columns a CDC sink reports). FULL oracle.

Scale: last-op-wins is ONE max_by-style hash aggregation on the key —
no window sort needed (here with tombstone filtering after the
fold). At 100 TB this is a single shuffle on key with map-side partial
max_by; the changelog never needs to be ordered globally, only the
per-key argmax survives.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from movie_data_transformer_spark.sources.tables import load_table


def q_cdc_apply_tombstones(spark: SparkSession, sf_dir: str) -> DataFrame:
    ops = load_table(spark, sf_dir, "events").selectExpr(
        "user_id",
        "CASE WHEN event_type = 'purchase' THEN 'U'"
        "     WHEN event_type = 'error' THEN 'D' END AS op",
        "CAST(floor(value * 100) AS BIGINT) AS cents",
        "ts",
        "event_id",
    ).filter("op IS NOT NULL")
    folded = ops.groupBy("user_id").agg(
        F.expr("max_by(op, struct(ts, event_id))").alias("last_op"),
        F.expr("max_by(cents, struct(ts, event_id))").alias("last_cents"),
        F.expr("max_by(event_id, struct(ts, event_id))").alias("last_op_seq"),
        F.count("*").cast("long").alias("n_ops"),
    )
    return folded.filter("last_op = 'U'").select(
        "user_id", "last_cents", "last_op_seq", "n_ops"
    )


SQL_CDC_APPLY_TOMBSTONES = """
WITH ops AS (
    SELECT user_id,
           CASE WHEN event_type = 'purchase' THEN 'U'
                WHEN event_type = 'error' THEN 'D' END AS op,
           CAST(floor(value * 100) AS BIGINT) AS cents,
           ts, event_id
    FROM events
    WHERE event_type IN ('purchase', 'error')
),
folded AS (
    -- DuckDB's arg_max can't take a composite ordering key, so the
    -- oracle uses the window LWW form (same semantics as the engine's
    -- sort-free max_by fold)
    SELECT user_id, op AS last_op, cents AS last_cents,
           event_id AS last_op_seq,
           CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS n_ops,
           row_number() OVER (PARTITION BY user_id
                              ORDER BY ts DESC, event_id DESC) AS rn
    FROM ops
)
SELECT user_id, last_cents, last_op_seq, n_ops
FROM folded
WHERE rn = 1 AND last_op = 'U'
"""


def _cdc_jsonl_dir(spark: SparkSession, sf_dir: str) -> str:
    """Publish (once per sf + source fingerprint) the I/U/D changelog as
    4 JSONL files so availableNow slices it into micro-batches. ts rides
    as epoch micros (JSON round-trips longs exactly; timestamps don't)."""
    import glob as globmod
    import os
    import shutil

    from movie_data_transformer_spark.operators.jsonl_queries import (
        fixture_cache_dir,
        publish_fixture_dir,
    )

    d = fixture_cache_dir("mdt_cdcstream_v1", sf_dir)

    def _build(out: str) -> None:
        ops = load_table(spark, sf_dir, "events").selectExpr(
            "user_id",
            "CASE WHEN event_type = 'purchase' THEN 'U'"
            "     WHEN event_type = 'error' THEN 'D' END AS op",
            "CAST(floor(value * 100) AS BIGINT) AS cents",
            "unix_micros(CAST(ts AS TIMESTAMP)) AS ts_us",
            "event_id",
        ).filter("op IS NOT NULL")
        stage = out + "_stage"
        (
            ops.repartition(4)
            .select(F.to_json(F.struct(*ops.columns)).alias("value"))
            .write.mode("overwrite")
            .text(stage)
        )
        for i, p in enumerate(sorted(globmod.glob(os.path.join(stage, "part-*")))):
            shutil.move(p, os.path.join(out, f"ops_{i}.json"))
        shutil.rmtree(stage, ignore_errors=True)

    return publish_fixture_dir(_build, d)


def _fold_ops(df: DataFrame) -> DataFrame:
    """Associative LWW fold of op rows (or folded state treated as op
    rows): per key, the (ts_us, event_id)-max op + additive op count."""
    return df.groupBy("user_id").agg(
        F.expr("max_by(op, struct(ts_us, event_id))").alias("op"),
        F.expr("max_by(cents, struct(ts_us, event_id))").alias("cents"),
        F.max(F.struct("ts_us", "event_id")).alias("_k"),
        F.sum("n_ops").cast("long").alias("n_ops"),
    ).selectExpr("user_id", "op", "cents", "_k.ts_us AS ts_us",
                 "_k.event_id AS event_id", "n_ops")


def q_stream_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of cdc_apply_tombstones: the changelog arrives as 4
    micro-batches (availableNow); foreachBatch folds each batch into a
    versioned keyed state (state_{i+1} = fold(state_i ∪ fold(batch)) —
    the fold is ASSOCIATIVE, so any micro-batch slicing yields the same
    final state and the entry carries the SAME full oracle as the batch
    form. Tombstones are RETAINED in state (a later batch may carry an
    older op that must still lose the LWW race) and filtered only at
    read. State versions are keyed by batch_id and written
    mode=overwrite, so a foreachBatch replay rewrites its own version
    idempotently (the stream_snapshot_merge contract).

    Scale: per-trigger work is O(batch + touched state) — one fold agg;
    at 100 TB the state union becomes a keyed MERGE into the table,
    same algebra."""
    import os

    from movie_data_transformer_spark.operators.jsonl_queries import (
        fixture_cache_dir,
        publish_fixture_dir,
    )

    input_dir = _cdc_jsonl_dir(spark, sf_dir)
    root = fixture_cache_dir("mdt_cdcstate_v1", sf_dir)

    def _build(out: str) -> None:
        stream = (
            spark.readStream.schema(
                "user_id long, op string, cents long, ts_us long, event_id long"
            )
            .option("maxFilesPerTrigger", "1")
            .option("pathGlobFilter", "*.json")
            .json(input_dir)
        )

        def _apply(batch: DataFrame, batch_id: int) -> None:
            folded = _fold_ops(batch.withColumn("n_ops", F.lit(1).cast("long")))
            prev = os.path.join(out, f"state_{batch_id}")
            if os.path.exists(prev):
                folded = _fold_ops(
                    spark.read.parquet(prev).unionByName(folded)
                )
            folded.write.mode("overwrite").parquet(
                os.path.join(out, f"state_{batch_id + 1}")
            )

        q = (
            stream.writeStream.foreachBatch(_apply)
            .option("checkpointLocation", os.path.join(out, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    publish_fixture_dir(_build, root)
    import glob as globmod

    states = globmod.glob(os.path.join(root, "state_*"))
    if not states:
        # r7 ADVICE #2: a zero-micro-batch stream (empty/missing feed)
        # would otherwise surface as max()'s opaque ValueError; name the
        # failure the way AppendOnlyStore.read names "no committed
        # ingests" so the fixture dir is diagnosable.
        raise RuntimeError(
            f"stream_cdc_apply fixture at {root} produced no state_* "
            "snapshots (the availableNow stream saw zero micro-batches); "
            "delete the dir to rebuild, and check the changelog feed"
        )
    final = max(states, key=lambda p: int(p.rsplit("_", 1)[1]))
    return (
        spark.read.parquet(final)
        .filter("op = 'U'")
        .selectExpr(
            "user_id", "cents AS last_cents", "event_id AS last_op_seq", "n_ops"
        )
    )


QUERIES = {
    "cdc_apply_tombstones": (q_cdc_apply_tombstones, SQL_CDC_APPLY_TOMBSTONES),
    "stream_cdc_apply": (q_stream_cdc_apply, SQL_CDC_APPLY_TOMBSTONES),
}
