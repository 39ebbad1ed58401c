"""Stateful merge / upsert — reference op 9 (+ ops 10-11 pairwise form).

Reference: saveToMemoryDB (DataTransformationService.java:169-204) does a
per-customer GET -> mergeCustomerMovies -> SET against Redis. The merge
resolves per (customerId, movieId) with isMoreRecent(new, existing)
(:240-250):

    new wins  IFF  both dates parse as yyyy-MM-dd AND new.date is
                   STRICTLY after existing.date
    otherwise existing wins (equal dates -> existing; EITHER side
    unparseable -> existing; :245-249)

The reference's read-modify-write is non-atomic and serial per key
(SURVEY.md §4.2). Here the merge is a single distributed full-outer join —
one shuffle per side, snapshot-consistent, no per-key round-trips; on a
real deployment this is exactly a Delta `MERGE INTO state USING batch`.
At 100 TB: bucket/cluster the state table by (customerId, movieId) so the
join co-locates without re-shuffling state each batch.

Both sides are deduped first (the engine's uniform-dedup divergence,
SURVEY.md §2.2 item 4 — the reference's intra-batch duplicate retention is
batch-partitioning-dependent and not deterministically reproducible).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from movie_data_transformer_spark.operators.movie_pipeline import dedup_latest

FLAT_COLS = ["movieId", "title", "yearOfRelease", "customerId", "rating", "date"]


def merge_flat(state: DataFrame, batch: DataFrame, with_decision: bool = False) -> DataFrame:
    """Merge new flat rating rows into flat state rows.

    Pairwise resolution per (customerId, movieId), exactly the reference's
    isMoreRecent policy (strict-after; any parse failure keeps existing).

    with_decision=True appends a `_decision` marker column
    ('insert'|'update'|'keep') for the op-16 pipeline counters
    (operators/metrics.py) — the taxonomy of the reference's
    newCount/updateCount/successCount (DataTransformationService.java:170-172).
    """
    state, batch = dedup_latest(state), dedup_latest(batch)
    s = state.select([F.col(c).alias(f"s_{c}") for c in FLAT_COLS])
    b = batch.select([F.col(c).alias(f"b_{c}") for c in FLAT_COLS])
    joined = s.join(
        b,
        (s["s_customerId"] == b["b_customerId"]) & (s["s_movieId"] == b["b_movieId"]),
        "full_outer",
    )
    s_date = F.expr("try_to_date(s_date, 'yyyy-MM-dd')")
    b_date = F.expr("try_to_date(b_date, 'yyyy-MM-dd')")
    # new (batch) wins only on: no existing row, OR both dates parse and
    # batch is strictly more recent (DataTransformationService.java:245-249)
    is_insert = F.col("s_customerId").isNull()
    is_update = s_date.isNotNull() & b_date.isNotNull() & (b_date > s_date)
    new_wins = is_insert | is_update
    cols = [
        F.when(new_wins, F.col(f"b_{c}")).otherwise(F.col(f"s_{c}")).alias(c)
        for c in FLAT_COLS
    ]
    if with_decision:
        cols.append(
            F.when(is_insert, "insert")
            .when(is_update, "update")
            .otherwise("keep")
            .alias("_decision")
        )
    return joined.select(*cols)

