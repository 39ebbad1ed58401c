"""Custom stateful streaming operator via applyInPandasWithState
(SURVEY.md §2.3: the reference has no user-extension point at all; this is
the engine's escape hatch for stateful logic that built-in windowed aggs
can't express).

Example operator: running per-user totals with last-seen tracking — the
event-time generalization of the reference's read-modify-write state loop
(DataTransformationService.java:180-193), but with state owned by Spark's
state store (checkpointed, partition-local, watermark-evictable) instead
of an external KV race.

Scale: state lives per shuffle partition keyed by user_id; each micro-batch
touches only keys present in the batch (Arrow-batched per group). No
driver involvement, no external round-trips. State larger than executor
memory goes to disk by setting `spark.sql.streaming.stateStore.providerClass`
to `org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider`.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import LongType, StringType, StructField, StructType

EXACT_TOTALS_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("sum_value_cents", LongType()),
        StructField("last_event_type", StringType()),
    ]
)

_EXACT_STATE_SCHEMA = (
    "n_events BIGINT, sum_cents BIGINT, last_ts_ns BIGINT, "
    "last_event_id BIGINT, last_event_type STRING"
)


def _update_user_totals_exact(
    key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Per-user running totals, built to sit behind a full DuckDB
    oracle: values accumulate as exact integer CENTS (Python
    int — order-independent), and "latest" is the total order
    (ts, event_id) so ties cannot make the answer batch-slicing-
    dependent. State totals are therefore identical for EVERY micro-batch
    slicing of the same input — the property the oracle hash checks."""
    (user_id,) = key
    if state.exists:
        n, cents, last_ts, last_eid, last_type = state.get
    else:
        n, cents, last_ts, last_eid, last_type = 0, 0, -1, -1, None
    for pdf in pdfs:
        n += len(pdf)
        # round-half-UP cents (floor(x+0.5)) to match the oracle's
        # CAST(value AS DECIMAL(18,2)) — pandas .round() is half-EVEN and
        # diverges on exact half-cents (0.125 -> 12 vs DECIMAL's 13).
        # Domain: non-negative values (events.value >= 0); negatives
        # would need half-away-from-zero instead.
        import numpy as np

        cents += int(np.floor(pdf["value"].to_numpy() * 100 + 0.5).astype("int64").sum())
        top = pdf.sort_values(["ts", "event_id"]).iloc[-1]
        cand = (int(top["ts"]), int(top["event_id"]))
        if cand > (last_ts, last_eid):
            last_ts, last_eid = cand
            last_type = str(top["event_type"])
    state.update((n, cents, last_ts, last_eid, last_type))
    yield pd.DataFrame(
        {
            "user_id": [user_id],
            "n_events": [n],
            "sum_value_cents": [cents],
            "last_event_type": [last_type],
        }
    )


def running_user_totals_exact(events_stream: DataFrame) -> DataFrame:
    """Streaming: cumulative per-user totals, updated every micro-batch.

    Expects the RAW events schema (ts as int64 NANOS — sources.tables
    load_events_stream(raw_ns=True)) so the pandas-side arithmetic is
    dtype-unambiguous."""
    return events_stream.groupBy("user_id").applyInPandasWithState(
        _update_user_totals_exact,
        outputStructType=EXACT_TOTALS_SCHEMA,
        stateStructType=_EXACT_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


