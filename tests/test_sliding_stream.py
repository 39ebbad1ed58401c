"""Sliding windows in actual streaming mode equal the batch replay."""

from __future__ import annotations

from movie_data_transformer_spark.sources.tables import load_events_stream, load_table
from movie_data_transformer_spark.streaming.windows import sliding_counts


def test_streaming_sliding_equals_batch(spark, sf_dir, tmp_path):
    stream = load_events_stream(spark, sf_dir).withWatermark("ts", "2 hours")
    q = (
        sliding_counts(stream)
        .writeStream.format("memory")
        .queryName("sliding_test")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.bucket_start, r.event_type): r.n_events
        for r in spark.sql("select * from sliding_test").collect()
    }
    want = {
        (r.bucket_start, r.event_type): r.n_events
        for r in sliding_counts(load_table(spark, sf_dir, "events")).collect()
    }
    assert got == want and len(got) > 0
