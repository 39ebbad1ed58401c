"""Event-time windows: the streaming form must equal the batch replay."""

from __future__ import annotations

from movie_data_transformer_spark.sources.tables import load_events_stream, load_table
from movie_data_transformer_spark.streaming.windows import tumbling_counts


def test_streaming_tumbling_equals_batch(spark, sf_dir, tmp_path):
    # version-robust streaming read (nanos parquet) — sources/tables.py
    stream = load_events_stream(spark, sf_dir)
    agg = tumbling_counts(stream.withWatermark("ts", "2 hours"))
    q = (
        agg.writeStream.format("memory")
        .queryName("tumbling_test")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.bucket_start, r.event_type): (r.n_events, r.sum_value)
        for r in spark.sql("select * from tumbling_test").collect()
    }
    want = {
        (r.bucket_start, r.event_type): (r.n_events, r.sum_value)
        for r in tumbling_counts(load_table(spark, sf_dir, "events")).collect()
    }
    assert got == want and len(got) > 0
