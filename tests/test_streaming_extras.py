"""dropDuplicatesWithinWatermark + stream-static enrichment join."""

from __future__ import annotations

import glob
import os
import tempfile

from pyspark.sql import functions as F

from movie_data_transformer_spark.sources.tables import load_events_stream, load_table


def _event_stream(spark, sf_dir):
    return load_events_stream(spark, sf_dir)


def test_drop_duplicates_within_watermark(spark, sf_dir, tmp_path):
    """Keyed streaming dedup with bounded state: duplicates of
    (user_id, event_type, day) within the watermark horizon are dropped."""
    stream = (
        _event_stream(spark, sf_dir)
        .withColumn("day", F.date_format("ts", "yyyy-MM-dd"))
        .withWatermark("ts", "10 days")
        .dropDuplicatesWithinWatermark(["user_id", "event_type", "day"])
    )
    q = (
        stream.select("user_id", "event_type", "day")
        .writeStream.format("memory")
        .queryName("dedup_wm")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.sql("select count(*) n, count(distinct user_id, event_type, day) d from dedup_wm").collect()[0]
    # every surviving row unique; horizon covers the whole 30-day fixture?
    # no — 10d watermark means far-apart repeats may both survive, but
    # WITHIN the horizon there are no dupes:
    assert got.n == got.d  # emitted rows are unique on the key


def test_stream_static_enrichment_join(spark, sf_dir, tmp_path):
    """Stream-static join: enrich the event stream with the (static)
    customer dimension — no watermark needed on the static side."""
    customers = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_key"), "c_mktsegment"
    )
    stream = _event_stream(spark, sf_dir).withColumn(
        "user_key", F.col("user_id") % 150
    )
    enriched = stream.join(F.broadcast(customers), "user_key").select(
        "event_id", "user_id", "c_mktsegment"
    )
    q = (
        enriched.writeStream.format("memory")
        .queryName("enriched")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    n_stream = spark.sql("select count(*) n from enriched").collect()[0].n
    n_batch = load_table(spark, sf_dir, "events").count()
    assert n_stream == n_batch  # every event matched exactly one customer
    segs = {r.c_mktsegment for r in spark.sql("select distinct c_mktsegment from enriched").collect()}
    assert len(segs) >= 2


def test_late_file_rows_are_all_dropped_by_watermark(spark, sf_dir, tmp_path):
    """The stale third file's rows are ALL dropped by the watermark
    (numRowsDroppedByWatermark == |late file|) — the metric-level twin of
    the stream_late_data_drop oracle. Also pins the one-batch watermark
    lag: the drop happens in the late file's batch, not earlier."""
    import json

    from movie_data_transformer_spark.operators.streaming_extras_queries import (
        _EVENTS_SCHEMA,
        LATE_MOD,
        late_fixture_dir,
    )

    d = late_fixture_dir(spark, sf_dir)
    stream = (
        spark.readStream.schema(_EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "*.parquet")
        .parquet(d)
    )
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .count()
    )
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("late_drop_metrics")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    progress = [json.loads(p.json) for p in q.recentProgress]
    dropped = {
        p["batchId"]: p["stateOperators"][0]["numRowsDroppedByWatermark"]
        for p in progress
        if p["stateOperators"]
    }
    n_late = (
        load_table(spark, sf_dir, "events")
        .filter(f"event_id % {LATE_MOD} = 0")
        .count()
    )
    # batches 0/1 (on-time files) drop nothing; the late batch drops all
    assert dropped.get(0, 0) == 0 and dropped.get(1, 0) == 0
    assert dropped.get(2) == n_late


def test_harness_zero_microbatches_returns_empty(spark, tmp_path):
    """r6 ADVICE: an availableNow stream whose source yields NO files
    runs zero micro-batches, so foreachBatch never writes the emissions
    dir — the harness must return an empty DataFrame with the stream's
    schema, not crash on the missing parquet path."""
    from pyspark.sql.types import LongType, StructField, StructType

    from movie_data_transformer_spark.streaming.harness import (
        run_availablenow_to_df,
    )

    src = str(tmp_path)
    schema = StructType(
        [StructField("user_id", LongType()), StructField("value", LongType())]
    )
    stream = (
        spark.readStream.schema(schema).option("pathGlobFilter", "*.json").json(src)
    )
    out = run_availablenow_to_df(stream, "append", "mdt_empty_stream_")
    assert out.columns == ["user_id", "value"]
    assert out.count() == 0


def test_stream_and_export_entries_register_their_dirs(spark, sf_dir):
    """The dir each of these entries leaves on disk for its lazy read is
    registered for removal at process exit. The first pass builds the
    entries' shared input fixtures; every mdt_* dir the second pass
    leaves behind must be one the process owns."""
    import __spark_entry__ as e

    from movie_data_transformer_spark.streaming import harness

    names = ("stream_incremental_dedup", "stream_ann_ingest", "export_training_manifest")
    qs = e.queries()
    pattern = os.path.join(tempfile.gettempdir(), "mdt_*")
    for name in names:
        qs[name](spark, sf_dir).collect()
    before = set(glob.glob(pattern))
    for name in names:
        qs[name](spark, sf_dir).collect()
    left = set(glob.glob(pattern)) - before
    assert len(left) == len(names)
    assert left <= set(harness._OWNED_STABLE_DIRS), sorted(left)
