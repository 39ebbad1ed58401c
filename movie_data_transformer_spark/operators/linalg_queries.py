"""Distributed linear algebra over the embedding corpus: the exact
integer Gram matrix, the building block of corpus-level PCA / whitening /
spectral diagnostics for training-data pipelines.

G[i, j] = sum over vectors of q[i] * q[j], with q = floor(v * 1e6) as
BIGINT (the repo's micro-unit quantization, identical to
embedding_queries / similarity.ivf_assign_incremental). All-integer, so
the entry carries a FULL DuckDB oracle — and the covariance / principal
components derive from G driver-side (C = (G - n * mu mu^T) / (n-1) is a
dims x dims problem no matter how many rows the corpus has).

Scale shape (the treeAggregate pattern MLlib's RowMatrix uses): each
partition folds its rows into ONE dims x dims integer partial with a
BLAS-shaped numpy matmul (mapInPandas, Arrow batches); only those
dims^2-row partials shuffle (4,160 upper-triangle rows per partition at
dims=64 — independent of corpus size), then one groupBy(i, j) sums them.
100 TB of embeddings costs one map pass + a KB-scale shuffle. int64 is
safe far past this corpus: |q| <= 2^20-ish micro units, so a partial
needs ~2^40 rows per partition to approach overflow; the final sums are
bounded by n * 1e12 (bigint-safe below ~9e6 rows — and above that the
partial-sum columns widen to DECIMAL, noted in the docstring rather than
silently wrong: the oracle would catch it first).

The top principal direction is pinned by a pytest power-iteration gate
(tests/test_linalg.py): driver-side numpy on the 64 x 64 result, the
standard split of labor (cluster for the O(n d^2) pass, driver for the
O(d^3) tail).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from movie_data_transformer_spark.operators.sizing import widen_for_compute
from movie_data_transformer_spark.sources.tables import load_table

DIMS = 64


def gram_matrix(emb: DataFrame) -> DataFrame:
    """(i, j, gram) for the upper triangle i <= j of the exact
    integer-micro Gram matrix. One mapInPandas pass emitting per-batch
    partials, one dims^2-grain aggregation."""

    def _partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        iu = np.triu_indices(DIMS)
        for pdf in batches:
            if not len(pdf):
                continue
            v = np.array(list(pdf["embedding"]), dtype=np.float64)
            q = np.floor(v * 1_000_000.0).astype(np.int64)
            g = q.T @ q  # exact int64 (see module docstring for bounds)
            yield pd.DataFrame(
                {
                    "i": iu[0].astype("int32"),
                    "j": iu[1].astype("int32"),
                    "partial": g[iu],
                }
            )

    wide = widen_for_compute(emb.select("vec_id", "embedding"), key="vec_id")
    partials = wide.mapInPandas(_partials, schema="i int, j int, partial long")
    return partials.groupBy("i", "j").agg(
        F.sum("partial").cast("bigint").alias("gram")
    )


def q_emb_gram_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    return gram_matrix(load_table(spark, sf_dir, "embeddings"))


# DuckDB: explode each vector with aligned unnests (value + 1-based
# subscript), self-join on vec_id, aggregate to (i, j). 0-based dims to
# match numpy's triu indices.
SQL_EMB_GRAM_MATRIX = """
WITH q AS (
    SELECT vec_id,
           unnest(generate_series(0, len(embedding) - 1)) AS d,
           CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000) AS BIGINT) AS qv
    FROM embeddings
)
SELECT CAST(a.d AS INT) AS i, CAST(b.d AS INT) AS j,
       CAST(sum(a.qv * b.qv) AS BIGINT) AS gram
FROM q a JOIN q b ON a.vec_id = b.vec_id AND a.d <= b.d
GROUP BY a.d, b.d
"""


def q_emb_gram_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable Gram maintenance — the linalg face of the incremental
    story (incremental_agg_rollup / incremental MinHash / incremental
    IVF): the Gram matrix of corpus + ingest batch is the ENTRYWISE SUM
    of the two partial matrices, so a 100 TB corpus keeps its dims^2
    partial table and each daily batch costs one batch-sized map pass +
    a 4,160-row merge — never a corpus rescan. Here state = vec_id <
    cut, batch = the rest, merged by (i, j) sum; the oracle is the FULL
    recompute over everything, which the merge must equal exactly
    (integer partials make it bit-equal, not approximately)."""
    emb = load_table(spark, sf_dir, "embeddings")
    cut = 400  # state/batch split: stable across SFs (vec_ids are dense)
    state = gram_matrix(emb.filter(F.col("vec_id") < cut))
    batch = gram_matrix(emb.filter(F.col("vec_id") >= cut))
    merged = (
        state.selectExpr("i", "j", "gram AS g_state")
        .join(
            batch.selectExpr("i", "j", "gram AS g_batch"),
            ["i", "j"],
            "full_outer",
        )
        .selectExpr(
            "i",
            "j",
            "coalesce(g_state, CAST(0 AS BIGINT))"
            " + coalesce(g_batch, CAST(0 AS BIGINT)) AS gram",
        )
    )
    return merged


QUERIES = {
    "emb_gram_matrix": (q_emb_gram_matrix, SQL_EMB_GRAM_MATRIX),
    # oracle: the FULL recompute — merge-of-partials must equal it
    "emb_gram_incremental": (q_emb_gram_incremental, SQL_EMB_GRAM_MATRIX),
}
