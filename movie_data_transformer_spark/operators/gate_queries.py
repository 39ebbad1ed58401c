"""Invariant gates: 1-row ORACLE-CHECKED entries that convert the
correctness invariants of the remaining rows-only operators into binding
driver evidence (the sim_ann_recall pattern, round-3 VERDICT advice #6,
generalized in r4).

A rows-only entry proves only "produces N rows". Each gate here runs the
operator in-engine, aggregates its defining invariant to booleans, and is
compared against a literal expected table — so a regression that silently
breaks the invariant (an over-budget packing bin, a sketch drifting
outside tolerance, lost PageRank mass, a collapsed semantic-dedup recall,
a geometric mean above the arithmetic mean) breaks the driver hash even
though the operator itself stays rows-only.

All gates are 1-row aggregates over already-small intermediates; the
1-row crossJoins are the accepted broadcast-scalar pattern
(cf. behavior_queries / TPC-H scalar thresholds).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from movie_data_transformer_spark.sources.tables import load_table


def _all_true_sql(*cols: str) -> str:
    body = ", ".join(f"CAST(1 AS BOOLEAN) AS {c}" for c in cols)
    return f"SELECT {body}"


def q_pack_sequences_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pack_sequences invariants: (a) no packing bin exceeds the token
    budget, (b) packed token mass equals the chunk input exactly, (c)
    every chunk is assigned exactly once."""
    from movie_data_transformer_spark.operators.text import (
        chunk_documents,
        pack_sequences,
    )

    docs = load_table(spark, sf_dir, "documents")
    chunks = chunk_documents(docs)
    packed = pack_sequences(chunks)
    a = packed.agg(
        F.sum("n_tokens").alias("packed_tokens"), F.count("*").alias("packed_rows")
    )
    b = chunks.agg(
        F.sum("n_tokens").alias("chunk_tokens"), F.count("*").alias("chunk_rows")
    )
    c = (
        packed.groupBy("bucket", "bin_id")
        .agg(F.sum("n_tokens").alias("t"))
        .agg(F.max("t").alias("max_bin"))
    )
    return (
        a.crossJoin(F.broadcast(b))
        .crossJoin(F.broadcast(c))
        .select(
            (F.col("max_bin") <= 200).alias("bins_within_budget"),
            (F.col("packed_tokens") == F.col("chunk_tokens")).alias("tokens_conserved"),
            (F.col("packed_rows") == F.col("chunk_rows")).alias("rows_conserved"),
        )
    )


def q_sketch_accuracy_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """agg_approx_sketches vs its exact sibling: HLL count-distinct within
    15% (default rsd is 5%), approx percentiles within 5% of the exact
    continuous percentile, for EVERY group."""
    from movie_data_transformer_spark.operators.relational_queries import (
        q_agg_approx,
        q_agg_sketch_exact,
    )

    ap = q_agg_approx(spark, sf_dir)
    ex = (
        q_agg_sketch_exact(spark, sf_dir)
        .withColumnRenamed("price_p50", "exact_p50")
        .withColumnRenamed("price_p95", "exact_p95")
    )
    j = ap.join(ex, "l_returnflag")

    def _fails(cond):
        return F.sum(F.when(~cond, 1).otherwise(0)) == 0

    return j.agg(
        _fails(
            F.abs(F.col("approx_parts") - F.col("exact_parts"))
            <= 0.15 * F.col("exact_parts")
        ).alias("counts_ok"),
        _fails(
            F.abs(F.col("price_p50") - F.col("exact_p50")) <= 0.05 * F.col("exact_p50")
        ).alias("p50_ok"),
        _fails(
            F.abs(F.col("price_p95") - F.col("exact_p95")) <= 0.05 * F.col("exact_p95")
        ).alias("p95_ok"),
    )


def q_semdedup_recall_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """semdedup_pairs must recover >= 90% of the PLANTED near-duplicate
    pairs (vec_id < 50 copied to +100000 at cosine ~0.99): intra-cluster
    comparison is only valid if clustering keeps planted dups together."""
    from movie_data_transformer_spark.operators.llm_queries import q_semdedup_pairs
    from movie_data_transformer_spark.operators.similarity import augmented_embeddings

    emb = augmented_embeddings(load_table(spark, sf_dir, "embeddings"))
    planted = emb.filter(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("vec_a"), (F.col("vec_id") + 100000).alias("vec_b")
    )
    found = q_semdedup_pairs(spark, sf_dir).select("vec_a", "vec_b").withColumn(
        "hit", F.lit(1)
    )
    return (
        planted.join(found, ["vec_a", "vec_b"], "left")
        .agg(
            (
                F.sum(F.coalesce(F.col("hit"), F.lit(0))) / F.count(F.lit(1)) >= 0.9
            ).alias("recall_ok")
        )
    )


def q_pagerank_mass_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank is a probability distribution: total mass must be 1
    (within the 6-decimal output rounding of the rank column) and the
    rank table must be non-empty."""
    from movie_data_transformer_spark.operators.analytics_queries import (
        q_graph_pagerank,
    )

    pr = q_graph_pagerank(spark, sf_dir)
    return pr.agg(
        (F.abs(F.sum("pr") - 1.0) < 1e-4).alias("mass_ok"),
        (F.count("*") > 0).alias("nonempty"),
        (F.sum(F.when(F.col("pr") <= 0, 1).otherwise(0)) == 0).alias("all_positive"),
    )


def q_gmean_bounds_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events_gmean_udaf sanity (AM-GM): for every event_type, the
    geometric mean of positive values is positive, at most the exact
    arithmetic mean of those values (AM >= GM), and at least their
    minimum."""
    from movie_data_transformer_spark.operators.llm_queries import q_events_gmean_udaf

    gm = q_events_gmean_udaf(spark, sf_dir)
    ev = load_table(spark, sf_dir, "events").filter(F.col("value") > 0)
    vdec = F.col("value").cast("decimal(18,4)")
    stats = ev.groupBy("event_type").agg(
        (F.sum(vdec).cast("double") / F.count("value")).alias("amean"),
        F.min("value").alias("vmin"),
    )
    j = gm.join(stats, "event_type")

    def _fails(cond):
        return F.sum(F.when(~cond, 1).otherwise(0)) == 0

    return j.agg(
        _fails(F.col("gmean_value") > 0).alias("positive_ok"),
        _fails(F.col("gmean_value") <= F.col("amean") * (1 + 1e-9)).alias("am_gm_ok"),
        _fails(F.col("gmean_value") >= F.col("vmin") * (1 - 1e-9)).alias("min_ok"),
    )




QUERIES = {
    "pack_sequences_gate": (
        q_pack_sequences_gate,
        _all_true_sql("bins_within_budget", "tokens_conserved", "rows_conserved"),
    ),
    "sketch_accuracy_gate": (
        q_sketch_accuracy_gate,
        _all_true_sql("counts_ok", "p50_ok", "p95_ok"),
    ),
    "semdedup_recall_gate": (q_semdedup_recall_gate, _all_true_sql("recall_ok")),
    "pagerank_mass_gate": (
        q_pagerank_mass_gate,
        _all_true_sql("mass_ok", "nonempty", "all_positive"),
    ),
    "gmean_bounds_gate": (
        q_gmean_bounds_gate,
        _all_true_sql("positive_ok", "am_gm_ok", "min_ok"),
    ),
}
