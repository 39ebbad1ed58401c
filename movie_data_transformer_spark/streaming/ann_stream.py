"""Continuous embedding ingest into a frozen-centroid IVF index —
the vector-store twin of streaming/dedup_stream.py.

A production vector store ingests embeddings continuously; the IVF
index it serves queries from is (a) coarse centroids, retrained OFFLINE
and frozen between retrains, and (b) a cell-partitioned vector table
that only ever APPENDS. This module runs that loop as Structured
Streaming:

  - centroids are computed ONCE from the seed corpus
    (similarity.frozen_centroids_micro — exact integer micro-units) and
    localCheckpoint'd; every micro-batch broadcasts the 10-row table.
  - per micro-batch (foreachBatch): assign each new vector to its
    nearest centroid (map-side exact integer L2 — NO state read, NO
    shuffle beyond the per-vector argmin agg) and append the
    assignment log and the (cell, vec_id) index rows via AppendOnlyStore
    (idempotent `ingest=<id>` subdirs, replay-safe — same machinery and
    guarantees as the dedup stream).
  - assignment is stateless per row, so the accumulated log is EXACTLY
    the batch-form result under ANY micro-batch slicing — one DuckDB
    oracle (recall_queries.SQL_ANN_IVF_INCREMENTAL_ASSIGN) checks both
    forms.

At 100 TB the index is an append-only Delta/Iceberg table partitioned
by cell, per-ingest cost is O(|batch|) with zero state reads, and the
query path (similarity.ivf_topk) probes cells unchanged.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from movie_data_transformer_spark.operators.similarity import (
    frozen_centroids_micro,
    ivf_assign_from_centroids,
)
from movie_data_transformer_spark.sources.jsonl import stream_jsonl
from movie_data_transformer_spark.streaming.dedup_stream import AppendOnlyStore
from movie_data_transformer_spark.streaming.harness import run_available_now

#: JSONL schema of ingested embedding rows (doubles: the augmentation
#: arithmetic promotes the parquet floats, and JSON round-trips the
#: shortest-repr double exactly).
EMB_INPUT = StructType(
    [
        StructField("vec_id", LongType()),
        StructField("embedding", ArrayType(DoubleType())),
        StructField("label", IntegerType()),
    ]
)


def run_streaming_ann_ingest(
    spark: SparkSession,
    input_dir: str,
    seed_embeddings: DataFrame,
    work_dir: str,
    max_files_per_trigger: int = 1,
) -> str:
    """Stream JSONL embedding files from input_dir in micro-batches,
    assign each batch against the frozen seed centroids, append the
    cell index, and return the path of the assignment log
    (vec_id, cell, dist_micro). Read by `sources.jsonl.stream_jsonl`
    and run by `harness.run_available_now`, with the checkpoint under
    `work_dir`, like every other stream."""
    cents = frozen_centroids_micro(seed_embeddings).localCheckpoint()
    assign_store = AppendOnlyStore(spark, os.path.join(work_dir, "assignments"))
    index_store = AppendOnlyStore(spark, os.path.join(work_dir, "index"))

    stream = stream_jsonl(spark, EMB_INPUT, input_dir, max_files_per_trigger)

    def _ingest(batch: DataFrame, batch_id: int) -> None:
        ingest_id = str(batch_id)
        assigned = ivf_assign_from_centroids(cents, batch).persist()
        try:
            assign_store.append(assigned, ingest_id)
            # the served index: cell-keyed rows, appended — O(|batch|)
            index_store.append(assigned.select("cell", "vec_id"), ingest_id)
        finally:
            assigned.unpersist(blocking=False)

    run_available_now(stream, _ingest, os.path.join(work_dir, "ckpt"), "append")
    return assign_store.root
