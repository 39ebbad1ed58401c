"""`sim_ann_recall`: a binding, driver-checkable recall gate for the ANN
trio (round-3 VERDICT advice #6).

The approximate similarity entries (`sim_lsh_topk` / `sim_ivf_topk` /
`sim_pq_topk`) are rows-only for the driver — approximation is not
SQL-reproducible bit-for-bit. This entry converts their QUALITY into
oracle-checked evidence: recall@5 of each method against the exact
brute-force baseline is computed entirely in-engine (one left join + one
1-row aggregate per method; no collect), then compared to a conservative
floor. The oracle is the literal expected (method, passed) table, so any
regression that collapses recall below the floor (empty LSH buckets,
broken PQ encode, mis-probed IVF lists) breaks the driver hash.

Floors are deliberately loose, per-method: they gate against collapse,
not parameter noise. The synthetic embeddings are near-uniform, so each
method's recall sits near its mechanical floor (IVF ~ probed/total
cells; LSH ~ the 2^-4 same-bucket fraction; PQ ~ what 8x16 codes resolve
on unclustered data) — measured at all three SFs: ivf 0.255-0.44,
lsh 0.10-0.17, pq 0.235-0.48. Floors sit halfway between zero (collapse)
and the worst observed value. The tight recall expectations live in
tests/test_similarity.py.

Uses the exact same queries as the q_sim_* registry entries
(vec_id % 50 == 0), and the operators fix their own settings, so the
measured recall is the recall of the entries the driver actually runs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from movie_data_transformer_spark.operators.similarity import (
    brute_force_topk,
    ivf_topk,
    lsh_bucket_topk,
    pq_topk,
)
from movie_data_transformer_spark.sources.tables import load_table

RECALL_FLOORS = {"ivf": 0.15, "lsh": 0.05, "pq": 0.15}


def _recall_row(ann: DataFrame, base: DataFrame, method: str) -> DataFrame:
    """1-row (method, passed): fraction of exact top-k pairs the ANN
    method recovered, compared against RECALL_FLOORS[method]. The join is
    (n_queries x k) rows on both sides — trivially small at any corpus
    scale, because top-k output size is independent of corpus size."""
    hits = base.join(
        ann.select("query_id", "neighbor_id").withColumn("hit", F.lit(1)),
        ["query_id", "neighbor_id"],
        "left",
    )
    return (
        hits.agg(
            (F.sum(F.coalesce(F.col("hit"), F.lit(0))) / F.count(F.lit(1))).alias(
                "recall"
            )
        )
        .select(
            F.lit(method).alias("method"),
            (F.col("recall") >= F.lit(RECALL_FLOORS[method])).alias("passed"),
        )
    )


def q_sim_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    # queries feeds the brute-force baseline AND all three ANN method
    # pipelines; base is joined by each of the three recall rows — both
    # are tiny (2% sample / n_queries x k pairs), so persisting them
    # runs the shared scan + exact top-k once instead of per-method
    queries = emb.filter(F.col("vec_id") % 50 == 0).persist()
    base = (
        brute_force_topk(emb, queries).select("query_id", "neighbor_id").persist()
    )
    parts = [
        _recall_row(ivf_topk(emb, queries), base, "ivf"),
        _recall_row(lsh_bucket_topk(emb, queries), base, "lsh"),
        _recall_row(pq_topk(emb, queries), base, "pq"),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


SQL_SIM_ANN_RECALL = """
SELECT 'ivf' AS method, CAST(1 AS BOOLEAN) AS passed
UNION ALL SELECT 'lsh', CAST(1 AS BOOLEAN)
UNION ALL SELECT 'pq', CAST(1 AS BOOLEAN)
"""

def q_ann_ivf_incremental_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ANN ingest: the original embeddings are the existing
    index corpus (frozen coarse centroids), the planted +100000 vectors
    are today's ingest batch; each batch vector is assigned to its
    nearest centroid with EXACT integer micro-unit math, so the whole
    maintenance dataflow carries a full DuckDB oracle (the approximate
    query path stays rows-only + recall-gated). See
    similarity.ivf_assign_incremental."""
    from movie_data_transformer_spark.operators.similarity import (
        augmented_embeddings,
        ivf_assign_incremental,
    )
    from movie_data_transformer_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    batch = augmented_embeddings(emb).filter(F.col("vec_id") >= 100000)
    return ivf_assign_incremental(emb, batch)


SQL_ANN_IVF_INCREMENTAL_ASSIGN = """
WITH sdims AS (
    SELECT label, dim,
           CAST(floor(CAST(embedding[dim + 1] AS DOUBLE) * 1000000) AS BIGINT) AS vm
    FROM (SELECT label, embedding,
                 unnest(range(0, len(embedding))) AS dim
          FROM embeddings)
),
cmeans AS (
    SELECT label, dim,
           CAST(CAST(sum(vm) AS BIGINT) // count(*) AS BIGINT) AS cm
    FROM sdims GROUP BY 1, 2
),
bdims AS (
    SELECT vec_id + 100000 AS vec_id, dim,
           CAST(floor(CASE WHEN dim % 2 = 0
                           THEN CAST(embedding[dim + 1] AS DOUBLE) * 1.2
                           ELSE CAST(embedding[dim + 1] AS DOUBLE) * 1.0 END
                      * 1000000) AS BIGINT) AS vm
    FROM (SELECT vec_id, embedding,
                 unnest(range(0, len(embedding))) AS dim
          FROM embeddings WHERE vec_id < 50)
),
scored AS (
    SELECT b.vec_id, c.label,
           CAST(sum((b.vm - c.cm) * (b.vm - c.cm)) AS BIGINT) AS dist_micro
    FROM bdims b JOIN cmeans c USING (dim)
    GROUP BY 1, 2
)
SELECT vec_id, CAST(label AS INT) AS cell, dist_micro
FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                   ORDER BY dist_micro ASC, label ASC) AS rn
      FROM scored)
WHERE rn = 1
"""


def _ingest_embeddings_jsonl_dir(spark: SparkSession, sf_dir: str) -> str:
    """Write (once per sf + source fingerprint) the embedding ingest
    batch — the planted +100000 vectors, with the augmentation arithmetic
    applied so values are doubles (JSON round-trips shortest-repr doubles
    exactly) — as 4 JSONL files under /tmp, distributed write."""
    import glob as globmod
    import os
    import shutil

    from movie_data_transformer_spark.operators.jsonl_queries import (
        fixture_cache_dir,
        publish_fixture_dir,
    )
    from movie_data_transformer_spark.operators.similarity import (
        augmented_embeddings,
    )
    from movie_data_transformer_spark.sources.tables import load_table

    d = fixture_cache_dir("mdt_emb_ingest", sf_dir)

    def _build(out: str) -> None:
        batch = (
            augmented_embeddings(load_table(spark, sf_dir, "embeddings"))
            .filter(F.col("vec_id") >= 100000)
            .selectExpr(
                "vec_id",
                "CAST(embedding AS ARRAY<DOUBLE>) AS embedding",
                "CAST(label AS INT) AS label",
            )
        )
        stage = out + "_stage"
        (
            batch.repartition(4)
            .select(F.to_json(F.struct(*batch.columns)).alias("value"))
            .write.mode("overwrite")
            .text(stage)
        )
        for i, pth in enumerate(sorted(globmod.glob(os.path.join(stage, "part-*")))):
            shutil.move(pth, os.path.join(out, f"emb_{i}.json"))
        shutil.rmtree(stage, ignore_errors=True)

    return publish_fixture_dir(_build, d)


def q_stream_ann_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous embedding ingest end-to-end: freeze centroids from the
    original embeddings, stream the planted +100000 vectors in
    single-file micro-batches, assign each batch map-side, and return
    the accumulated assignment log. Assignment is stateless per row, so
    the log equals the batch form under any slicing — the SAME DuckDB
    oracle checks both entries."""
    import tempfile

    from movie_data_transformer_spark.sources.tables import load_table
    from movie_data_transformer_spark.streaming.ann_stream import (
        run_streaming_ann_ingest,
    )
    from movie_data_transformer_spark.streaming.harness import register_cleanup_dir

    seed = load_table(spark, sf_dir, "embeddings")
    src = _ingest_embeddings_jsonl_dir(spark, sf_dir)
    work = register_cleanup_dir(tempfile.mkdtemp(prefix="mdt_ann_stream_"))
    out = run_streaming_ann_ingest(spark, src, seed, work, max_files_per_trigger=1)
    return spark.read.parquet(out).select("vec_id", "cell", "dist_micro")


QUERIES = {
    "sim_ann_recall": (q_sim_ann_recall, SQL_SIM_ANN_RECALL),
    "ann_ivf_incremental_assign": (
        q_ann_ivf_incremental_assign,
        SQL_ANN_IVF_INCREMENTAL_ASSIGN,
    ),
    "stream_ann_ingest": (q_stream_ann_ingest, SQL_ANN_IVF_INCREMENTAL_ASSIGN),
}
