"""The flagship dataflow: the reference's entire query, as four composable
DataFrame operators (SURVEY.md §2.1 ops 4-7, 10-11, 17; §7 M1).

reference pipeline (DataTransformationService.java):
    processMovieInput (:146-167)  = explode_watched      (ops 4-6)
    mergeCustomerMovies/isMoreRecent (:206-250) = dedup_latest (ops 10-11)
    Map<customerId, CustomerMovie> (:97,:148-156) = group_watched (op 7)
    saveToMemoryDB serialization (:176-195)      = kv_serialize  (op 17)

Scale notes (the 100 TB story):
  - explode+project+partial-agg fuse into one WholeStageCodegen pass per
    input split — no materialization between them, like the reference's
    per-file streamed pass (:131-144) but distributed.
  - run_pipeline shuffles twice (executed plan, AQE off). dedup_latest
    hashes on (customerId, movieId) for its window; a `WindowGroupLimit
    ... Partial` below that exchange keeps only each map task's top row
    per key, so the shuffle carries one candidate per key per task.
    group_watched then hashes on customerId after a map-side partial
    collect_list, so that second shuffle carries one partial list per
    customer per task, not every rating.
  - No driver-side state anywhere (the reference's synchronized HashMap at
    :97 is its single-JVM ceiling — SURVEY.md §4.2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def explode_watched(movies: DataFrame) -> DataFrame:
    """Unnest watchedBy (ops 4-6): one row per viewer element.

    Semantics pinned to the reference:
      - `explode`, not `explode_outer`: a movie with an empty/null watchedBy
        contributes ZERO rows (forEach on empty list, :147; §2.2 item 6).
      - kebab-case `customer-id` renamed to customerId (WatchedBy.java:7-8).
      - the nested `movie-id` is dead data — parent movieId wins (:159 vs
        WatchedBy.java:9-10; §2.2 item 5).
      - missing rating deserialized to 0, Java-int style (§2.2 item 9).
    """
    w = F.explode("watchedBy").alias("w")
    return movies.select(
        F.col("movieId"),
        F.col("title"),
        F.col("yearOfRelease"),
        w,
    ).select(
        "movieId",
        "title",
        "yearOfRelease",
        F.col("w.customer-id").alias("customerId"),
        F.coalesce(F.col("w.rating"), F.lit(0)).cast("int").alias("rating"),
        F.col("w.date").alias("date"),
    )


def dedup_latest(flat: DataFrame) -> DataFrame:
    """Last-write-wins per (customerId, movieId) — ops 10-11.

    Reference: mergeCustomerMovies keys by movieId per customer (:235-238)
    and keeps the strictly-more-recent record (:220-224, :245); malformed
    dates parse to NULL and can never win (:246-249). Ordering used here:

        to_date(date,'yyyy-MM-dd') DESC NULLS LAST, rating DESC, date DESC

    `NULLS LAST` encodes "unparseable dates lose"; rating/raw-date are
    deterministic tie-breakers (the reference's tie rule is positional —
    existing-wins — which only exists in the stateful merge; see
    operators/merge.py for that exact semantic. Intra-batch the reference
    does NOT dedup at all (§2.2 item 4), which is batch-partitioning-
    dependent; we dedup uniformly — the documented divergence).
    """
    win = (
        Window.partitionBy("customerId", "movieId")
        .orderBy(
            # try_to_date: malformed -> NULL (ANSI-safe), NULLS LAST encodes
            # the reference's "parse failure loses" (:246-249)
            F.expr("try_to_date(date, 'yyyy-MM-dd')").desc_nulls_last(),
            F.col("rating").desc(),
            F.col("date").desc_nulls_last(),
        )
    )
    return (
        flat.withColumn("_rn", F.row_number().over(win))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def group_watched(flat: DataFrame) -> DataFrame:
    """Group per customer into the nested CustomerMovie shape (op 7).

    collect_list(struct(...)) == the reference's Map<customerId,
    CustomerMovie> append loop (:148-165) — but distributed hash agg with
    spill instead of a synchronized single-JVM HashMap (:97). List order in
    the reference is nondeterministic (§2.2 item 7); we sort_array for
    deterministic output (divergence in ordering only, not in content).
    """
    lst = F.collect_list(
        F.struct(
            F.col("movieId"),
            F.col("title"),
            F.col("yearOfRelease"),
            F.col("rating"),
            F.col("date"),
        )
    )
    return flat.groupBy("customerId").agg(F.sort_array(lst).alias("watchedMovies"))


def kv_serialize(grouped: DataFrame) -> DataFrame:
    """KV JSON sink rows (op 17): key 'customer:{id}' (:178), value = the
    CustomerMovie JSON blob (:187,:192). The (key, value) DataFrame is the
    engine's verifiable sink representation; sinks/kv.py ships it to an
    actual KV store via foreachPartition."""
    return grouped.select(
        F.concat(F.lit("customer:"), F.col("customerId")).alias("key"),
        F.to_json(F.struct(F.col("customerId"), F.col("watchedMovies"))).alias("value"),
    )


def run_pipeline(movies: DataFrame) -> DataFrame:
    """The full flagship dataflow: explode -> dedup-latest -> group -> KV."""
    return kv_serialize(group_watched(dedup_latest(explode_watched(movies))))
