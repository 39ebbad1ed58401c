"""End-to-end streaming flagship: JSONL files -> micro-batch incremental
merge -> per-batch KV publish. This is the complete reference system
(§3.1's whole lifecycle) running on Structured Streaming + the KV sink."""

from __future__ import annotations

import json

from movie_data_transformer_spark.operators.movie_pipeline import group_watched, kv_serialize
from movie_data_transformer_spark.sinks import FileKVClient, kv, write_kv
from movie_data_transformer_spark.streaming import run_incremental_merge
from tests.test_streaming_merge import _movie, _write_file


def test_integrated_per_batch_kv_publish(spark, tmp_path, monkeypatch):
    """kv_client_factory wired into the stream: each batch publishes the
    merged state of touched customers (last publish wins per key). The
    publish goes through `sinks.kv.write_kv` looked up at call time, so a
    wrapper installed after import sees every batch."""
    published = []

    def traced_write_kv(kv_df, factory):
        published.append(kv_df.count())
        real_write_kv(kv_df, factory)

    real_write_kv = kv.write_kv
    monkeypatch.setattr(kv, "write_kv", traced_write_kv)
    inp = tmp_path / "in2"
    inp.mkdir()
    _write_file(inp, "a.json", [_movie("m1", [("c1", 2, "2024-01-01")])])
    _write_file(inp, "b.json", [_movie("m1", [("c1", 5, "2024-05-01")])])
    kv_root = str(tmp_path / "kv2")
    run_incremental_merge(
        spark,
        str(inp),
        str(tmp_path / "state2"),
        str(tmp_path / "ckpt2"),
        max_files_per_trigger=1,
        kv_client_factory=lambda: FileKVClient(kv_root),
    )
    stored = {k: json.loads(v) for k, v in FileKVClient.read_all(kv_root).items()}
    (m,) = stored["customer:c1"]["watchedMovies"]
    assert (m["rating"], m["date"]) == (5, "2024-05-01")
    assert published == [1, 1]  # one publish per batch, one touched customer each


def test_stream_merge_then_kv_publish(spark, tmp_path):
    inp = tmp_path / "in"
    inp.mkdir()
    _write_file(inp, "f1.json", [_movie("m1", [("c1", 3, "2024-01-01"), ("c2", 4, "2024-01-02")])])
    _write_file(inp, "f2.json", [_movie("m1", [("c1", 5, "2024-03-01")])])  # newer for c1

    store = run_incremental_merge(
        spark, str(inp), str(tmp_path / "state"), str(tmp_path / "ckpt"), max_files_per_trigger=1
    )
    kv = kv_serialize(group_watched(store.read()))
    kv_root = str(tmp_path / "kv")
    write_kv(kv, lambda: FileKVClient(kv_root))

    stored = {k: json.loads(v) for k, v in FileKVClient.read_all(kv_root).items()}
    assert set(stored) == {"customer:c1", "customer:c2"}
    (c1_movie,) = stored["customer:c1"]["watchedMovies"]
    assert (c1_movie["rating"], c1_movie["date"]) == (5, "2024-03-01")  # LWW applied
    (c2_movie,) = stored["customer:c2"]["watchedMovies"]
    assert c2_movie["rating"] == 4
