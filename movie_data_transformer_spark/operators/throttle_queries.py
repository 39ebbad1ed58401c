"""TTL throttling (greedy rate-limit dedup): per (user, event_type),
keep an event only if at least TTL has elapsed since the LAST KEPT one —
the notification-throttle / alert-dedup / "send at most one email per 3
days" semantic. Genuinely sequential per entity: whether an event is
kept depends on the greedy kept-chain before it, so no window frame
expresses it (session windows differ: a session extends on every event
within gap, including suppressed ones; the throttle clock resets only on
KEPT events).

Engine side: the per-entity greedy walk as a grouped applyInPandas fold
(Arrow-batched; this is exactly the per-entity-ordered-fold case the
repo reserves the pandas path for). Oracle side: DuckDB WITH RECURSIVE
walking every group's kept-pointer in parallel, one LATERAL
first-event-after-deadline probe per step (the emb_kcenter_coreset
recursive-LATERAL technique) — so the sequential semantic is FULLY
oracle-checked, not rows-only.

Timestamps ride as unix micros (integers) end-to-end; ordering ties
break on event_id — a total order both engines share.

Scale: one shuffle on (user, event_type); each group's walk is O(its
own events) inside one Arrow batch; kept-chain state never leaves the
group. The recursion depth of the ORACLE (~observation window / TTL) is
an oracle-side cost only — the engine is single-pass.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from movie_data_transformer_spark.fixtures import (
    fixture_cache_dir,
    publish_fixture_dir,
    write_jsonl_feed,
)
from movie_data_transformer_spark.sources.jsonl import stream_jsonl
from movie_data_transformer_spark.sources.tables import load_table
from movie_data_transformer_spark.streaming.harness import run_availablenow_to_df

TTL_US = 3 * 86_400 * 1_000_000  # 3 days


def throttle_ttl(ev: DataFrame) -> DataFrame:
    """ev: (user_id, event_type, ts_us, event_id) -> kept rows.

    Pure-JVM greedy walk (guide §4.1 — the r13 sweep caught the old
    applyInPandas form at 19.7s for the sf0.1 entry, and ~15s of that
    was per-GROUP Python-call overhead across ~|users x types| tiny
    groups, not the row loop): collect each entity's (ts_us, event_id)
    structs, array_sort gives the total order, and a higher-order
    `aggregate` fold keeps an event iff ts >= last kept + TTL_US — the
    sequential kept-chain semantic, whole-stage-codegen'd, zero Python.
    Group rows stay bounded by the entity's own event count (the same
    contract the pandas form had — its pdf also held the whole group)."""
    grouped = ev.groupBy("user_id", "event_type").agg(
        F.expr("array_sort(collect_list(struct(ts_us, event_id)))").alias("_evs")
    )
    kept = grouped.selectExpr(
        "user_id",
        "event_type",
        # fold: empty acc of the right struct type via slice(evs, 1, 0)
        "aggregate(_evs, slice(_evs, 1, 0), (acc, x) -> "
        f"IF(size(acc) = 0 OR x.ts_us >= element_at(acc, -1).ts_us + {TTL_US}, "
        "concat(acc, array(x)), acc)) AS _kept",
    )
    return kept.selectExpr(
        "user_id", "event_type", "explode(_kept) AS _k"
    ).selectExpr(
        "user_id",
        "event_type",
        "_k.ts_us AS kept_ts_us",
        "_k.event_id AS kept_event_id",
    )


def q_events_throttle_ttl(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").selectExpr(
        "user_id", "event_type", "unix_micros(CAST(ts AS TIMESTAMP)) AS ts_us",
        "event_id",
    )
    return throttle_ttl(ev)


SQL_EVENTS_THROTTLE_TTL = f"""
WITH RECURSIVE ev AS (
    SELECT user_id, event_type, epoch_us(ts) AS ts_us, event_id FROM events
),
walk AS (
    SELECT user_id, event_type, ts_us AS kept_ts_us, event_id AS kept_event_id
    FROM (SELECT user_id, event_type, ts_us, event_id,
                 row_number() OVER (PARTITION BY user_id, event_type
                                    ORDER BY ts_us, event_id) AS rn
          FROM ev)
    WHERE rn = 1
  UNION ALL
    SELECT w.user_id, w.event_type, nx.ts_us, nx.event_id
    FROM walk w, LATERAL (
        SELECT e.ts_us, e.event_id FROM ev e
        WHERE e.user_id = w.user_id AND e.event_type = w.event_type
          AND e.ts_us >= w.kept_ts_us + {TTL_US}
        ORDER BY e.ts_us, e.event_id LIMIT 1
    ) nx
)
SELECT user_id, event_type, kept_ts_us, kept_event_id FROM walk
"""


def _throttle_jsonl_dir(spark: SparkSession, sf_dir: str) -> str:
    """Publish (once per sf + source fingerprint) the event feed as 4
    JSONL files sliced by TIME RANGE (`repartitionByRange` on ts_us, so
    file i holds only events earlier than every event of file i+1):
    greedy throttling is order-sensitive, so the stream twin's contract
    is in-order arrival (the log-shipping reality — files land in time
    order). The feed writer stamps ascending mtimes, and FileStreamSource
    takes files in mtime order, so the 4 micro-batches are deterministic."""
    # v2: slices are ts_us range partitions (v1 cut at three dates)
    d = fixture_cache_dir("mdt_throttle_feed_v2", sf_dir)

    def _build(out: str) -> None:
        ev = load_table(spark, sf_dir, "events").selectExpr(
            "user_id",
            "event_type",
            "unix_micros(CAST(ts AS TIMESTAMP)) AS ts_us",
            "event_id",
        )
        write_jsonl_feed(ev.repartitionByRange(4, "ts_us"), out, "feed")

    return publish_fixture_dir(_build, d)


def q_stream_throttle_ttl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of events_throttle_ttl via applyInPandasWithState:
    per-(user, type) state carries ONLY last_kept_ts_us; each time-sliced
    micro-batch walks its slice greedily from the state and emits the
    kept rows (append mode — a kept decision is final, the throttle never
    retracts). With in-order arrival the cross-batch chain equals the
    batch greedy walk, so the entry shares the batch form's recursive
    DuckDB oracle — a FULLY oracle-checked stateful streaming operator.

    Scale: O(batch keys) state touches per trigger; state is one bigint
    per entity (RocksDB-spillable); emissions append distributed."""
    stream = stream_jsonl(
        spark,
        "user_id long, event_type string, ts_us long, event_id long",
        _throttle_jsonl_dir(spark, sf_dir),
        1,
    )

    def _update(key, pdfs, state):
        last, max_seen = state.get if state.exists else (None, None)
        pdf = pd.concat(list(pdfs)).sort_values(["ts_us", "event_id"])
        # r7 ADVICE #3: the cross-batch == batch-greedy equivalence (and
        # hence the shared recursive oracle) is load-bearing on IN-ORDER
        # arrival (maxFilesPerTrigger=1 over ascending-mtime time slices).
        # One comparison against state turns out-of-order delivery into a
        # loud failure instead of a wrong-but-plausible kept set.
        if len(pdf) and max_seen is not None and int(pdf["ts_us"].min()) < max_seen:
            raise RuntimeError(
                f"stream_throttle_ttl: out-of-order micro-batch for key "
                f"{key}: batch min ts_us {int(pdf['ts_us'].min())} < "
                f"previously seen max {max_seen}; the append-mode kept "
                "set would silently diverge from the batch oracle "
                "(check feed file mtimes / maxFilesPerTrigger)"
            )
        # vectorized greedy walk seeded from state (same searchsorted
        # hop as the batch form's walk — guide §4.2, r13 sweep)
        import numpy as np

        ts = pdf["ts_us"].to_numpy()
        n = len(ts)
        i = (
            0
            if last is None
            else int(np.searchsorted(ts, last + TTL_US, side="left"))
        )
        keep: list[int] = []
        while i < n:
            keep.append(i)
            i = int(np.searchsorted(ts, ts[i] + TTL_US, side="left"))
        kept = pdf.iloc[keep]
        if keep:
            last = int(kept["ts_us"].iloc[-1])
        out = pd.DataFrame(
            {
                "user_id": [key[0]] * len(keep),
                "event_type": [key[1]] * len(keep),
                "kept_ts_us": kept["ts_us"].to_numpy(),
                "kept_event_id": kept["event_id"].to_numpy(),
            }
        )
        if len(pdf):
            max_seen = max(int(pdf["ts_us"].max()), max_seen or 0)
        if last is not None:
            state.update((int(last), int(max_seen)))
        yield out

    from pyspark.sql.streaming.state import GroupStateTimeout

    kept = stream.groupBy("user_id", "event_type").applyInPandasWithState(
        _update,
        outputStructType=(
            "user_id long, event_type string, kept_ts_us long, kept_event_id long"
        ),
        stateStructType="last_kept_ts_us long, max_seen_ts_us long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return run_availablenow_to_df(kept, "append", "mdt_throttle_")


QUERIES = {
    "events_throttle_ttl": (q_events_throttle_ttl, SQL_EVENTS_THROTTLE_TTL),
    "stream_throttle_ttl": (q_stream_throttle_ttl, SQL_EVENTS_THROTTLE_TTL),
}
