"""Incremental merge: the reference's micro-batch loop as Structured
Streaming (SURVEY.md §2.1 ops 12, 9, 14; §7 M2).

Reference: files are processed in slices of BATCH_SIZE=10
(DataTransformationService.java:32, :60-68) and each slice is flushed into
Redis by read-modify-write (:169-204). Spark form: the JSONL file stream
(`sources.jsonl.stream_jsonl`, maxFilesPerTrigger=10) run by
`harness.run_available_now`, whose per-batch callback runs the same
merge_flat the batch path uses — ONE code path for batch and streaming.

Like the reference's per-customer GET/merge/SET, a batch costs in
proportion to the keys it touches, not to the whole state: the state is
read restricted to the batch's (customerId, movieId) keys by a broadcast
semi join, only those rows are merged, and the merged rows are committed
as a delta version of a merge-on-read store (ParquetStateStore). No job
shuffles the stored state; a commit sorts what it writes within each
partition. A `_CURRENT` pointer file flips atomically per commit, so
reads are snapshot-consistent, unlike the reference's non-atomic per-key
GET/SET (:180-193). On a real deployment this is `MERGE INTO` on a
Delta/Iceberg table with deletion vectors or merge-on-read positional
deletes.

Divergence: ratings whose customerId or movieId is null are dropped
before the merge. A null key matches no stored row, so such rows would
only accumulate, and a replayed batch would add them a second time; the
batch path (`run_pipeline`) still groups them under a null key.
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
from movie_data_transformer_spark.schemas import MOVIE_INPUT, RATING_FLAT
from movie_data_transformer_spark.sinks import kv
from movie_data_transformer_spark.sources.jsonl import stream_jsonl
from movie_data_transformer_spark.streaming.harness import run_available_now

_KEYS = ["customerId", "movieId"]
#: marker file inside a version directory that holds a full base
_BASE = "_BASE"
#: a base carries at most this many deltas; the next commit folds the
#: chain into a new base. Each delta adds a broadcast join, and a Spark
#: job, to every read: ~0.25 s per batch per delta on a ~75k-row state
#: (2 Spark cores, 4-vCPU VM). 27 such batches took 53-65 s at a cap of
#: 2, 54-56 s at 1 (a fold every other batch), 67-74 s at 4, 80-85 s at
#: 8 and 147-167 s with no fold.
_MAX_DELTAS = 2
#: versions before the current one that stay readable
_RETAIN = 2


def _upsert(state: DataFrame, delta: DataFrame) -> DataFrame:
    """`state` with `delta`'s rows replacing those of the same key: a
    broadcast anti join, so `state` is never shuffled. Null keys never
    match, so a null-key row of either side is kept."""
    kept = state.join(F.broadcast(delta.select(_KEYS)), _KEYS, "left_anti")
    return kept.select(state.columns).unionByName(delta)


class ParquetStateStore:
    """Versioned merge-on-read keyed state: flat `RATING_FLAT` rows, one
    per (customerId, movieId).

    Version n lives in `v{n}/` and is either a full base (the directory
    holds a `_BASE` marker) or a delta of the rows upserted at version n.
    Reading version n applies, in order, each delta after the newest base
    at or below n; the newest row wins per key. `_CURRENT` names the
    committed version. Deltas stay small, so each commit writes in
    proportion to its input; once a base carries `_MAX_DELTAS` deltas, the
    next commit folds the chain into a new base, which bounds the joins a
    read makes. Directories are relative to `root`, so a copied store
    reads the same.

    Every version (first base, delta or fold) is zstd parquet, each part
    file sorted by (movieId, customerId): a local sort, no shuffle. One
    JSONL document is one movie with its viewers, so in that order
    `movieId`, `title` and `yearOfRelease` form long dictionary/RLE runs;
    in customerId order (~1.4 rows per customer) they scatter. One
    72,881-row base as one file: 688 KB snappy unsorted, 477 KB zstd
    unsorted, 649 KB zstd by (customerId, movieId), 403 KB zstd by
    (movieId, customerId). The session's default parquet codec is left
    as it is for every other write."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    @property
    def _pointer(self) -> str:
        return os.path.join(self.root, "_CURRENT")

    def _dir(self, v: int) -> str:
        return os.path.join(self.root, f"v{v}")

    def _chain(self, v: int) -> list[int]:
        """The versions a read of `v` combines: its base, then each delta."""
        chain = [v]
        while not os.path.exists(os.path.join(self._dir(chain[-1]), _BASE)):
            if not os.path.isdir(self._dir(chain[-1] - 1)):
                raise FileNotFoundError(f"version {v} has no base under {self.root}")
            chain.append(chain[-1] - 1)
        return chain[::-1]

    def _read_chain(self, chain: list[int]) -> DataFrame:
        # the declared schema spares each read a schema-inference job
        base, *deltas = (self.spark.read.schema(RATING_FLAT).parquet(self._dir(v)) for v in chain)
        for delta in deltas:
            base = _upsert(base, delta)
        return base

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
        return self._read_chain(self._chain(v))

    def commit(self, df: DataFrame) -> int:
        """Upsert `df` as the next version and return its number.

        Precondition: `df` is unique per (customerId, movieId); rows with a
        null key never match and are all kept. `merge_flat` output meets
        it. The first commit writes a base; each later one writes `df` as
        a delta, unless the chain is due a fold, when it writes `read()`
        with `df` applied as a new base."""
        cur = self.current_version()
        v = (cur or 0) + 1
        path = self._dir(v)
        base = cur is None
        if not base:
            chain = self._chain(cur)
            if len(chain) > _MAX_DELTAS:
                df, base = _upsert(self._read_chain(chain), df), True
        df.sortWithinPartitions("movieId", "customerId").write.mode("overwrite").option(
            "compression", "zstd"
        ).parquet(path)
        if base:
            with open(os.path.join(path, _BASE), "w"):
                pass
        tmp = self._pointer + ".tmp"
        with open(tmp, "w") as f:
            f.write(str(v))
        os.replace(tmp, self._pointer)  # atomic pointer flip
        self._prune(v)
        return v

    def _prune(self, cur: int) -> None:
        """Delete the versions no read of `cur` or the `_RETAIN` before it
        needs: everything older than the base of `cur - _RETAIN`."""
        if cur - _RETAIN < 1:
            return
        oldest = self._chain(cur - _RETAIN)[0]
        for name in os.listdir(self.root):
            if name.startswith("v") and name[1:].isdigit() and int(name[1:]) < oldest:
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
    stream = stream_jsonl(spark, MOVIE_INPUT, input_dir, max_files_per_trigger)

    def _merge_batch(batch_movies: DataFrame, batch_id: int) -> None:
        # a watcher without a customer-id (or a movie without an id) has no
        # key to merge on and is dropped: kept, it would match nothing and
        # pile up, once more per replay of its batch
        batch_flat = explode_watched(batch_movies).dropna(subset=_KEYS)
        # only the state rows of the batch's keys take part in the merge;
        # an empty store merges as an empty state: the optimizer drops the
        # empty side of the join, leaving the plan of dedup_latest(batch)
        state = store.read() or batch_flat.limit(0)
        # a semi join needs no distinct keys; distinct would add a shuffle
        # stage to every batch
        keys = F.broadcast(batch_flat.select(_KEYS))
        hit = state.join(keys, _KEYS, "left_semi")
        store.commit(merge_flat(hit, batch_flat).select(FLAT_COLS))
        if kv_client_factory is not None:
            touched = batch_flat.select("customerId")
            changed = store.read().join(F.broadcast(touched), "customerId", "left_semi")
            # looked up at call time, so a wrapped kv.write_kv sees the publish
            kv.write_kv(kv_serialize(group_watched(changed)), kv_client_factory)

    run_available_now(stream, _merge_batch, checkpoint_dir, "append")
    return store
