"""Incremental merge: the reference's micro-batch loop as Structured
Streaming (SURVEY.md §2.1 ops 12, 9, 14; §7 M2).

Reference: files are processed in slices of BATCH_SIZE=10
(DataTransformationService.java:32, :60-68) and each slice is flushed into
Redis by read-modify-write (:169-204). Spark form: file streaming source
with maxFilesPerTrigger=10 + foreachBatch running the same merge_flat the
batch path uses — ONE code path for batch and streaming.

State store: versioned parquet directories with a `_CURRENT` pointer file.
Spark cannot overwrite a path it is reading in the same job, so each batch
writes state version N+1 from (state N  MERGE  batch) and flips the
pointer — a poor man's Delta commit protocol (atomic pointer rename,
stale versions pruned). On a real deployment this is `MERGE INTO` on a
Delta/Iceberg table partitioned/clustered by customerId; the semantics
here are identical and snapshot-consistent, unlike the reference's
non-atomic per-key GET/SET (:180-193).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from movie_data_transformer_spark.operators.merge import FLAT_COLS, merge_flat
from movie_data_transformer_spark.operators.movie_pipeline import (
    explode_watched,
    group_watched,
    kv_serialize,
)
from movie_data_transformer_spark.sinks import kv
from movie_data_transformer_spark.sources.jsonl import stream_movies_jsonl


class ParquetStateStore:
    """Versioned keyed state (flat rating rows) on parquet."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    @property
    def _pointer(self) -> str:
        return os.path.join(self.root, "_CURRENT")

    def current_version(self) -> int | None:
        try:
            with open(self._pointer) as f:
                return int(f.read().strip())
        except FileNotFoundError:
            return None

    def read(self) -> DataFrame | None:
        v = self.current_version()
        if v is None:
            return None
        return self.spark.read.parquet(os.path.join(self.root, f"v{v}"))

    def commit(self, df: DataFrame) -> int:
        v = (self.current_version() or 0) + 1
        path = os.path.join(self.root, f"v{v}")
        df.write.mode("overwrite").parquet(path)
        tmp = self._pointer + ".tmp"
        with open(tmp, "w") as f:
            f.write(str(v))
        os.replace(tmp, self._pointer)  # atomic pointer flip
        self._prune(keep=v)
        return v

    def _prune(self, keep: int, retain: int = 2) -> None:
        for name in os.listdir(self.root):
            if name.startswith("v") and name[1:].isdigit() and int(name[1:]) < keep - retain:
                shutil.rmtree(os.path.join(self.root, name), ignore_errors=True)


def run_incremental_merge(
    spark: SparkSession,
    input_dir: str,
    state_root: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 10,
    kv_client_factory=None,
) -> ParquetStateStore:
    """Consume JSONL movie files from input_dir in micro-batches of
    `max_files_per_trigger` files (op 12 fidelity) and merge each batch
    into the state store. Processes everything currently available, then
    stops (availableNow trigger); restartable via the checkpoint (op 14's
    at-least-once retry, but with exactly-once batch replay semantics).

    kv_client_factory: optional sinks/kv.py client factory; when given,
    each batch also PUBLISHES the merged state of the customers touched by
    that batch as KV rows — the complete per-batch saveToMemoryDB loop of
    the reference (DataTransformationService.java:169-204), minus the
    serial driver round-trips."""
    store = ParquetStateStore(spark, state_root)
    stream = stream_movies_jsonl(spark, input_dir, max_files_per_trigger)

    def _merge_batch(batch_movies: DataFrame, batch_id: int) -> None:
        batch_flat = explode_watched(batch_movies)
        # an empty store merges as an empty state: the optimizer drops the
        # empty side of the join, leaving the plan of dedup_latest(batch)
        state = store.read() or batch_flat.limit(0)
        store.commit(merge_flat(state, batch_flat).select(FLAT_COLS))
        if kv_client_factory is not None:
            touched = batch_flat.select("customerId").distinct()
            changed = store.read().join(F.broadcast(touched), "customerId", "left_semi")
            # looked up at call time, so a wrapped kv.write_kv sees the publish
            kv.write_kv(kv_serialize(group_watched(changed)), kv_client_factory)

    q = (
        stream.writeStream.foreachBatch(_merge_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return store
