"""The one place a stream is started. `run_available_now` runs a stream
to completion under an availableNow trigger with a foreachBatch
callback; every streaming entry goes through it. On top of it:

  - `run_availablenow_to_df`: update/append emissions appended to
    parquet (a distributed write — no memory-sink driver collect),
    optional finalize step over the emissions log, result staged to a
    stable dir that outlives the work-dir cleanup;
  - `fold_batch_versions`: an associative fold of each micro-batch into
    batch-versioned state (`state_{n}`), cached as a fixture.

Stable dirs are per-invocation (mkdtemp) so concurrent harness/pytest
runs never collide; stale ones from previous runs are swept on the next
invocation once they are old enough that no live session can still be
lazily reading them.
"""

from __future__ import annotations

import atexit
import glob as globmod
import os
import shutil
import tempfile
import time
from collections.abc import Callable

from pyspark.sql import DataFrame

from movie_data_transformer_spark.fixtures import publish_fixture_dir

#: a stable dir older than this is fair game for the sweeper — far past
#: any realistic gap between `return spark.read.parquet(stable)` and the
#: caller's collect
_STALE_S = 6 * 3600

#: every stable dir THIS process created — removed at process exit, so a
#: one-off prefix can't leak its dir for 6h waiting on a same-prefix
#: successor run (and in-process lazy readers are necessarily done by
#: then). The prefix sweep stays as the cross-process backstop.
_OWNED_STABLE_DIRS: list[str] = []


@atexit.register
def _cleanup_owned() -> None:
    for d in _OWNED_STABLE_DIRS:
        shutil.rmtree(d, ignore_errors=True)


def register_cleanup_dir(path: str) -> str:
    """Public hook: register any per-invocation output dir for removal
    at process exit (used by write-surface registry entries so repeated
    sweeps don't accumulate /tmp litter). Returns the path."""
    _OWNED_STABLE_DIRS.append(path)
    return path


def _sweep_stale(prefix: str) -> None:
    cutoff = time.time() - _STALE_S
    for d in globmod.glob(os.path.join(tempfile.gettempdir(), prefix + "*")):
        try:
            if os.path.getmtime(d) < cutoff:
                shutil.rmtree(d, ignore_errors=True)
        except OSError:
            pass  # concurrently removed


def run_available_now(
    stream: DataFrame,
    per_batch: Callable[[DataFrame, int], None],
    checkpoint_dir: str,
    output_mode: str,
) -> None:
    """Run `stream` until everything available now is consumed, calling
    `per_batch(batch_df, batch_id)` once per micro-batch, then return.
    The checkpoint makes a rerun resume after the last committed batch
    (a failed batch is replayed with its batch id)."""
    q = (
        stream.writeStream.outputMode(output_mode)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .foreachBatch(per_batch)
        .start()
    )
    q.awaitTermination()


def run_availablenow_to_df(
    stream_df: DataFrame,
    output_mode: str,
    prefix: str,
    finalize: Callable[[DataFrame], DataFrame] | None = None,
    result_from_ckpt: Callable[[str], DataFrame] | None = None,
) -> DataFrame:
    """Run `stream_df` to completion under an availableNow trigger,
    return (finalize of) the accumulated emissions as a batch DataFrame
    backed by a stable parquet staging dir.

    `result_from_ckpt`, if given, derives the result from the query's
    CHECKPOINT directory instead of the emissions log (e.g. the
    statestore reader) — it runs before the work dir is removed.

    Work dirs get a `run_` infix so the stale sweep can never prefix-
    match a caller's persistent fixture cache (e.g. mdt_late_v2_*,
    which shares the mdt_late_ stem with its entry's run dirs)."""
    spark = stream_df.sparkSession
    run_prefix = prefix + "run_"
    _sweep_stale(run_prefix)
    work = tempfile.mkdtemp(prefix=run_prefix)
    out = os.path.join(work, "emissions")

    def _sink(batch_df: DataFrame, _batch_id: int) -> None:
        batch_df.write.mode("append").parquet(out)

    run_available_now(stream_df, _sink, os.path.join(work, "ckpt"), output_mode)
    if result_from_ckpt is not None:
        result = result_from_ckpt(os.path.join(work, "ckpt"))
    else:
        if os.path.exists(out):
            emissions = spark.read.parquet(out)
        else:
            # zero micro-batches (empty/filtered-out source): foreachBatch
            # never ran, so stand in an empty emissions log with the
            # stream's schema instead of failing the parquet read
            emissions = spark.createDataFrame([], stream_df.schema)
        result = finalize(emissions) if finalize is not None else emissions
    stable = tempfile.mkdtemp(prefix=run_prefix + "final_")
    _OWNED_STABLE_DIRS.append(stable)
    result.write.mode("overwrite").parquet(stable)
    shutil.rmtree(work, ignore_errors=True)
    return spark.read.parquet(stable)


def fold_batch_versions(
    stream: DataFrame, fold: Callable[[DataFrame], DataFrame], root: str
) -> DataFrame:
    """Fold `stream` into batch-versioned state under the fixture dir
    `root` (built once, then reused) and return the last version.

    Micro-batch n writes `state_{n+1}` = fold(state_n ∪ fold(batch)),
    mode=overwrite, so a foreachBatch replay rewrites its own version
    idempotently. `fold` maps rows of the stream's schema to rows of the
    same schema and must be associative: then any slicing of the feed
    into micro-batches gives the same last version."""
    spark = stream.sparkSession

    def _build(out: str) -> None:
        def _apply(batch: DataFrame, batch_id: int) -> None:
            folded = fold(batch)
            prev = os.path.join(out, f"state_{batch_id}")
            if os.path.exists(prev):
                folded = fold(spark.read.parquet(prev).unionByName(folded))
            folded.write.mode("overwrite").parquet(os.path.join(out, f"state_{batch_id + 1}"))

        run_available_now(stream, _apply, os.path.join(out, "ckpt"), "append")

    publish_fixture_dir(_build, root)
    states = globmod.glob(os.path.join(root, "state_*"))
    if not states:
        # a zero-micro-batch stream (empty or missing feed) would
        # otherwise surface as max()'s opaque ValueError
        raise RuntimeError(
            f"{root} holds no state_* snapshots (the availableNow stream "
            "saw zero micro-batches); delete the dir to rebuild, and check the feed"
        )
    return spark.read.parquet(max(states, key=lambda p: int(p.rsplit("_", 1)[1])))
