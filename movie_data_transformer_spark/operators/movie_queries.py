"""Registry entries for the flagship movie pipeline (SURVEY.md §7 M1).

The nested `movies` input is derived deterministically from `events`
(fixtures.py); the DuckDB oracles re-derive the same flat ratings with the
portable RATINGS_ORACLE_CTE, so the Spark side genuinely exercises
nest -> explode -> window-dedup -> collect while the oracle stays ANSI.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from movie_data_transformer_spark.fixtures import RATINGS_ORACLE_CTE, derive_movies
from movie_data_transformer_spark.operators.movie_pipeline import (
    dedup_latest,
    explode_watched,
    group_watched,
    kv_serialize,
)
from movie_data_transformer_spark.operators.pairs import jaccard_pairs, shared_key_pairs


def _exploded(spark: SparkSession, sf_dir: str) -> DataFrame:
    return explode_watched(derive_movies(spark, sf_dir))


def q_movies_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ops 3-6: decode + rename + explode + denormalizing projection."""
    return _exploded(spark, sf_dir)


SQL_MOVIES_EXPLODE = f"""
WITH {RATINGS_ORACLE_CTE}
SELECT movieId, title, yearOfRelease, customerId, rating, "date"
FROM ratings
"""


def q_movies_dedup_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ops 10-11: last-write-wins per (customerId, movieId)."""
    return dedup_latest(_exploded(spark, sf_dir))


SQL_MOVIES_DEDUP_LATEST = f"""
WITH {RATINGS_ORACLE_CTE}
SELECT movieId, title, yearOfRelease, customerId, rating, "date"
FROM (
    SELECT r.*,
           row_number() OVER (
               PARTITION BY customerId, movieId
               ORDER BY try_cast("date" AS DATE) DESC NULLS LAST,
                        rating DESC, "date" DESC
           ) AS _rn
    FROM ratings r
) t
WHERE _rn = 1
"""


def q_movies_group_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Op 7: group-by customer + list aggregation, projected to portable
    scalars (count / sorted id list / rating sum) for oracle comparison."""
    grouped = group_watched(dedup_latest(_exploded(spark, sf_dir)))
    return grouped.select(
        "customerId",
        F.size("watchedMovies").cast("long").alias("n_movies"),
        F.concat_ws(
            ",", F.sort_array(F.transform("watchedMovies", lambda m: m["movieId"]))
        ).alias("movie_ids"),
        F.aggregate(
            "watchedMovies", F.lit(0).cast("long"), lambda acc, m: acc + m["rating"]
        ).alias("sum_rating"),
    )


SQL_MOVIES_GROUP_COLLECT = f"""
WITH {RATINGS_ORACLE_CTE},
dedup AS (
    SELECT * FROM (
        SELECT r.*,
               row_number() OVER (
                   PARTITION BY customerId, movieId
                   ORDER BY try_cast("date" AS DATE) DESC NULLS LAST,
                            rating DESC, "date" DESC
               ) AS _rn
        FROM ratings r
    ) WHERE _rn = 1
)
SELECT customerId,
       CAST(count(*) AS BIGINT) AS n_movies,
       string_agg(movieId, ',' ORDER BY movieId) AS movie_ids,
       CAST(sum(rating) AS BIGINT) AS sum_rating
FROM dedup
GROUP BY customerId
"""


def q_movies_kv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Op 17: keyed JSON serialization — the sink row format
    ('customer:{id}', CustomerMovie JSON blob)."""
    return kv_serialize(group_watched(dedup_latest(_exploded(spark, sf_dir))))


# DuckDB builds the identical canonical JSON: watchedMovies sorted by the
# same struct field order Spark's sort_array uses (movieId, title,
# yearOfRelease, rating, date — lexicographic by field sequence).
SQL_MOVIES_KV = f"""
WITH {RATINGS_ORACLE_CTE},
dedup AS (
    SELECT * FROM (
        SELECT r.*,
               row_number() OVER (
                   PARTITION BY customerId, movieId
                   ORDER BY try_cast("date" AS DATE) DESC NULLS LAST,
                            rating DESC, "date" DESC
               ) AS _rn
        FROM ratings r
    ) WHERE _rn = 1
)
SELECT 'customer:' || customerId AS key,
       to_json(struct_pack(
           customerId := customerId,
           watchedMovies := list_sort(list(struct_pack(
               movieId := movieId,
               title := title,
               yearOfRelease := yearOfRelease,
               rating := rating,
               "date" := "date"
           )))
       )) AS value
FROM dedup
GROUP BY customerId
"""


def q_movies_kv_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship dataflow expressed entirely in Spark SQL (the engine's
    SQL surface covers the whole reference pipeline, not just the
    relational library). Same oracle as movies_kv."""
    from movie_data_transformer_spark.fixtures import derive_movies

    derive_movies(spark, sf_dir).createOrReplaceTempView("_sql_movies")
    return spark.sql(
        """
        WITH exploded AS (
            SELECT movieId, title, yearOfRelease,
                   w.`customer-id` AS customerId,
                   CAST(coalesce(w.rating, 0) AS INT) AS rating,
                   w.date AS date
            FROM _sql_movies LATERAL VIEW explode(watchedBy) AS w
        ),
        dedup AS (
            SELECT * FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY customerId, movieId
                    ORDER BY try_to_date(date, 'yyyy-MM-dd') DESC NULLS LAST,
                             rating DESC, date DESC) AS _rn
                FROM exploded
            ) WHERE _rn = 1
        )
        SELECT concat('customer:', customerId) AS key,
               to_json(named_struct(
                   'customerId', customerId,
                   'watchedMovies', sort_array(collect_list(named_struct(
                       'movieId', movieId, 'title', title,
                       'yearOfRelease', yearOfRelease,
                       'rating', rating, 'date', date))))) AS value
        FROM dedup GROUP BY customerId
        """
    )


def q_movies_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item co-occurrence — the first step of every item-based
    recommender (the reference's domain!): for each movie pair, how many
    customers watched both. Self-join per customer on the deduped
    watch table; at scale this is the classic 'pairs within group' —
    bounded by per-customer watch-list length, never |movies|^2."""
    watched = dedup_latest(_exploded(spark, sf_dir)).select(
        "customerId", F.col("movieId").alias("movie")
    )
    return (
        shared_key_pairs(watched, "customerId", "movie")
        .groupBy("movie_a", "movie_b")
        .agg(F.count("*").alias("n_co_watchers"))
    )


SQL_MOVIES_COOCCURRENCE = f"""
WITH {RATINGS_ORACLE_CTE},
dedup AS (
    SELECT DISTINCT customerId, movieId FROM ratings
)
SELECT a.movieId AS movie_a, b.movieId AS movie_b, count(*) AS n_co_watchers
FROM dedup a JOIN dedup b
  ON a.customerId = b.customerId AND a.movieId < b.movieId
GROUP BY 1, 2
"""


def q_movies_similarity_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Movie-movie similarity by viewer-set Jaccard (co-watchers over
    union of watchers) — item similarity for the recommender."""
    watched = dedup_latest(_exploded(spark, sf_dir)).select(
        "customerId", F.col("movieId").alias("movie")
    )
    return jaccard_pairs(watched, "customerId", "movie").select(
        "movie_a", "movie_b", (F.col("jaccard_micro") / 1_000_000).alias("viewer_jaccard")
    )


SQL_MOVIES_SIMILARITY_JACCARD = f"""
WITH {RATINGS_ORACLE_CTE},
dedup AS (SELECT DISTINCT customerId, movieId FROM ratings),
sizes AS (SELECT movieId, count(*) AS n FROM dedup GROUP BY movieId),
co AS (
    SELECT a.movieId AS movie_a, b.movieId AS movie_b, count(*) AS n_co
    FROM dedup a JOIN dedup b
      ON a.customerId = b.customerId AND a.movieId < b.movieId
    GROUP BY 1, 2
)
SELECT movie_a, movie_b,
       CAST(n_co * 1000000 // (na.n + nb.n - n_co) AS DOUBLE) / 1000000
           AS viewer_jaccard
FROM co
JOIN sizes na ON na.movieId = movie_a
JOIN sizes nb ON nb.movieId = movie_b
"""


QUERIES = {
    "movies_explode": (q_movies_explode, SQL_MOVIES_EXPLODE),
    "movies_cooccurrence": (q_movies_cooccurrence, SQL_MOVIES_COOCCURRENCE),
    "movies_similarity_jaccard": (q_movies_similarity_jaccard, SQL_MOVIES_SIMILARITY_JACCARD),
    "movies_kv_sql": (q_movies_kv_sql, SQL_MOVIES_KV),
    "movies_dedup_latest": (q_movies_dedup_latest, SQL_MOVIES_DEDUP_LATEST),
    "movies_group_collect": (q_movies_group_collect, SQL_MOVIES_GROUP_COLLECT),
    "movies_kv": (q_movies_kv, SQL_MOVIES_KV),
}
