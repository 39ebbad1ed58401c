"""Registry entry for the stream-stream join (streaming/joins.py) —
binding oracle evidence for the two-continuous-inputs surface.

`range_join_conversions` answers view->purchase conversion attribution as
a batch range join; this entry runs the SAME semantics as a REAL
Structured Streaming stream-stream inner join (two independent streaming
sources, watermark-bounded state on both sides, append-mode emissions
through foreachBatch to parquet — no memory-sink driver collect) and is
held to the SAME DuckDB oracle, because an inner stream-stream join's
emitted set equals the batch join for any arrival order in which
watermark eviction never outruns a pending match (availableNow over the
source file guarantees that here; the multi-slicing equivalence is
tests/test_stream_stream_join.py).

Scale: both sides' state is watermark-evicted (a view older than the
20-minute horizon can never match a future purchase), so state is
bounded by the event rate x horizon, not the corpus; the join itself
shuffles both streams on user_id exactly like the batch form.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from movie_data_transformer_spark.operators.temporal_queries import (
    SQL_RANGE_JOIN_CONVERSIONS,
)
from movie_data_transformer_spark.sources.tables import load_events_stream
from movie_data_transformer_spark.streaming.harness import run_availablenow_to_df
from movie_data_transformer_spark.streaming.joins import stream_conversions


def q_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    views = load_events_stream(spark, sf_dir).filter(F.col("event_type") == "view")
    purchases = load_events_stream(spark, sf_dir).filter(
        F.col("event_type") == "purchase"
    )
    return run_availablenow_to_df(
        stream_conversions(views, purchases), "append", "mdt_ssj_"
    )


#: every LATE_MOD-th event is replayed 48h stale in a second file
LATE_MOD = 4
LATE_SHIFT_HOURS = 48
_EVENTS_SCHEMA = (
    "event_id BIGINT, ts TIMESTAMP, event_type STRING, user_id BIGINT, value DOUBLE"
)


def late_fixture_dir(spark: SparkSession, sf_dir: str) -> str:
    """Three-file replay fixture with a DETERMINISTIC arrival order
    (FileStreamSource processes by modification time under
    maxFilesPerTrigger=1): a1/a2 = on-time rows split in two files, b =
    the remaining rows with ts shifted 48h into the past (stale
    arrivals). TWO on-time batches are load-bearing: the input-side
    late-row filter applies the watermark committed BEFORE the current
    batch (one-batch lag — measured, see the entry docstring), so the
    stale file must arrive at least two batches after the rows that
    advanced the watermark for the drop to be guaranteed."""
    import glob as globmod
    import time

    from movie_data_transformer_spark.operators.jsonl_queries import (
        fixture_cache_dir,
        publish_fixture_dir,
    )
    from movie_data_transformer_spark.sources.tables import load_table

    d = fixture_cache_dir("mdt_late_v2", sf_dir)

    def _build(out: str) -> None:
        ev = load_table(spark, sf_dir, "events").select(
            "event_id", "ts", "event_type", "user_id", "value"
        )
        parts = (
            ("a1_ontime", ev.filter(F.expr(f"event_id % {LATE_MOD} IN (1, 2)")), 300),
            ("a2_ontime", ev.filter(F.expr(f"event_id % {LATE_MOD} = 3")), 200),
            (
                "b_late",
                ev.filter(F.expr(f"event_id % {LATE_MOD} = 0")).withColumn(
                    "ts", F.expr(f"ts - INTERVAL {LATE_SHIFT_HOURS} HOURS")
                ),
                100,
            ),
        )
        now = time.time()
        for name, df, age_s in parts:
            stage = os.path.join(out, name + "_stage")
            df.coalesce(1).write.parquet(stage)
            part = sorted(globmod.glob(os.path.join(stage, "part-*.parquet")))[0]
            dest = os.path.join(out, name + ".parquet")
            shutil.move(part, dest)
            shutil.rmtree(stage, ignore_errors=True)
            os.utime(dest, (now - age_s, now - age_s))

    return publish_fixture_dir(_build, d)


def q_stream_late_data_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark LATE-DATA policy as driver evidence: append-mode
    tumbling counts over the three-file replay. The on-time batches
    advance the watermark to max(on-time ts) - 1h; the final batch's
    48h-stale rows all target windows the watermark already closed, so
    Spark DROPS every one of them (pinned via numRowsDroppedByWatermark
    in tests/test_streaming_extras.py). The oracle recomputes exactly
    the on-time windows whose end the final watermark passed — a row
    surviving the drop, a mis-advanced watermark, or an eviction-
    predicate off-by-one all break the value hash.

    Measured engine nuance the fixture encodes: the input-side late
    filter uses the watermark committed BEFORE the current batch (one
    batch of lag; progress JSON reports the post-batch value), while
    end-of-batch eviction uses the freshly advanced one. Stale data
    must therefore trail the watermark-advancing rows by >= 2 batches
    to be deterministically dropped — which is also why single-batch
    "late" data is silently absorbed (the existing window entries'
    batch == stream equivalence). This entry makes the DROP itself the
    checked semantic.
    """
    d = late_fixture_dir(spark, sf_dir)
    stream = (
        spark.readStream.schema(_EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "*.parquet")
        .parquet(d)
    )
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").cast("bigint").alias("n_events"))
        .select(
            F.col("w.start").cast("long").alias("bucket_start"),
            "event_type",
            "n_events",
        )
    )
    return run_availablenow_to_df(agg, "append", "mdt_late_")


# append mode emits a window exactly once, when the watermark (max
# on-time event time - 1h) passes its end; the stale file contributes
# nothing (every shifted row is > 47h behind the watermark).
SQL_STREAM_LATE_DATA_DROP = f"""
WITH a AS (SELECT ts, event_type FROM events WHERE event_id % {LATE_MOD} <> 0),
wm AS (SELECT max(ts) - INTERVAL 1 HOUR AS w FROM a)
SELECT CAST(floor(epoch(a.ts) / 3600) * 3600 AS BIGINT) AS bucket_start,
       a.event_type,
       CAST(count(*) AS BIGINT) AS n_events
FROM a, wm
WHERE date_trunc('hour', a.ts) + INTERVAL 1 HOUR <= wm.w
GROUP BY 1, 2
"""


QUERIES = {
    "stream_stream_join": (q_stream_stream_join, SQL_RANGE_JOIN_CONVERSIONS),
    "stream_late_data_drop": (q_stream_late_data_drop, SQL_STREAM_LATE_DATA_DROP),
}
