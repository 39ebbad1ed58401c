"""Stream-stream join equals the batch range join on replay."""

from __future__ import annotations

from pyspark.sql import functions as F

from movie_data_transformer_spark.operators.temporal_queries import q_range_join_conversions
from movie_data_transformer_spark.sources.tables import load_events_stream
from movie_data_transformer_spark.streaming.joins import stream_conversions


def test_stream_conversions_equals_batch_range_join(spark, sf_dir, tmp_path):
    def _stream():
        return load_events_stream(spark, sf_dir)

    views = _stream().filter(F.col("event_type") == "view")
    purchases = _stream().filter(F.col("event_type") == "purchase")
    q = (
        stream_conversions(views, purchases)
        .writeStream.format("memory")
        .queryName("conversions")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.view_id, r.purchase_id, r.delta_s)
        for r in spark.sql("select * from conversions").collect()
    }
    want = {
        (r.view_id, r.purchase_id, r.delta_s)
        for r in q_range_join_conversions(spark, sf_dir).collect()
    }
    assert got == want and len(want) > 0
