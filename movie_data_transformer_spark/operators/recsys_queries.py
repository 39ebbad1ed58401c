"""Item-based collaborative filtering — the serving-side precompute of
the recommender the reference's data model feeds (reference:
varungautam1411/movie-data-transformer builds exactly the
customer->watchedMovies table a CF recommender consumes;
DataTransformerService.java:40-90 stops at the KV write, this module is
the next pipeline stage a user of that repo would run).

Interaction fixture: the flagship movie table is DEGENERATE for CF
(5 titles, every customer watches all of them — no similarity structure),
so this module derives a taste-cohort interaction table from `events`:
movieId = (event_type, slot) with slot = (user_id%7 + event_id%3) % 7 —
a 35-title catalog where cohort-c users watch slots {c, c+1, c+2}.
Adjacent cohorts share 2/3 of their slots, so the co-watch graph has
real neighborhood structure (cross-slot similarity edges reach exactly
the slots within distance 2), and scored-but-unwatched candidates exist
at every SF. Deterministic integer arithmetic — both engines derive the
identical table.

Entries (EXACT integer micro-unit Jaccard, full DuckDB oracles):

- `movies_item_item_topk`: per movie, the top-3 most similar titles by
  viewer-set Jaccard; deterministic tie-break (jaccard DESC, id ASC).
  The classic item-item model table.
- `movies_recommend_user_topk`: per customer, the top-3 UNWATCHED titles
  scored by sum of Jaccard-micro similarity to the watched set (Sarwar
  et al. 2001 item-based scoring with a sum aggregator); watched titles
  anti-joined out, ranks total-ordered.

Scale design (the 100 TB story):
- The pair table is generated per-customer ("pairs within group"):
  bounded by sum(|watchlist|^2), NEVER |catalog|^2; a skewed
  mega-watcher IS capped (`max_watchlist` on `item_similarities`,
  default DEFAULT_MAX_WATCHLIST): customers whose distinct watchlist
  exceeds the cap are excluded from MODEL building entirely (sizes,
  co-counts and Jaccard are all computed on the capped universe, so
  the capped model is self-consistent): the pairs hub cap
  (operators/pairs.py). Whales still RECEIVE recommendations —
  the serving join scores the full watch table against the capped
  model. The cap is mirrored in every DuckDB oracle CTE and pinned
  by a planted-whale pytest (tests/test_recsys_mixing.py). The
  fixture max watchlist is 15 at every SF, so the default never
  binds in driver runs.
- The model table (item_item_topk) is top-k truncated per movie — k x
  |catalog| rows, small enough to BROADCAST into the serving-time
  scoring join; candidate generation shuffles once on movieId, the
  score fold once on (customer, candidate).
- Ranking windows partition by the natural keys (movie / customer) —
  granular, no global sort; WindowGroupLimit pushes rank<=3 map-side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from movie_data_transformer_spark.operators.pairs import cap_per_key, jaccard_pairs
from movie_data_transformer_spark.sources.tables import load_table


def interactions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (customerId, movieId) watch table with taste-cohort
    structure (see module docstring). Map-side derivation + one distinct."""
    return (
        load_table(spark, sf_dir, "events")
        .selectExpr(
            "concat('c', CAST(user_id AS STRING)) AS customerId",
            "concat('m_', event_type, '_', "
            "CAST((user_id % 7 + event_id % 3) % 7 AS STRING)) AS movieId",
        )
        .distinct()
    )


#: DuckDB twin of interactions() — prepended to both oracles.
INTERACTIONS_CTE = """
watched AS (
    SELECT DISTINCT 'c' || CAST(user_id AS VARCHAR) AS customerId,
           'm_' || event_type || '_' ||
               CAST((user_id % 7 + event_id % 3) % 7 AS VARCHAR) AS movieId
    FROM events
)"""


#: Mega-watcher cap: a customer with w watched titles contributes w^2
#: co-watch pairs; beyond this many titles the account is (a) quadratic
#: cost and (b) taste-noise (bots, shared logins), so it is excluded
#: from model building. 1000 => <= 1e6 pairs per worst-case customer.
DEFAULT_MAX_WATCHLIST = 1000


def item_similarities(
    watched: DataFrame, max_watchlist: int = DEFAULT_MAX_WATCHLIST
) -> DataFrame:
    """(movie_src, movie_dst, jaccard_micro), BOTH directions, exact
    integer micro-units. Pairs are generated within customer groups, so
    cost is bounded by sum(min(|watchlist|, max_watchlist)^2): customers
    over `max_watchlist` distinct titles are dropped BEFORE the
    self-join, and sizes/Jaccard are computed on the same capped
    universe so the model is internally consistent."""
    # persisted: consumed three ways below (sizes + both self-join
    # sides), and every reference would otherwise re-scan events and
    # re-run the distinct + cap window — the compact (customer, title)
    # pair table is exactly the thing to cache, not its lineage
    watched = (
        cap_per_key(watched, "customerId", max_watchlist)
        .select("customerId", F.col("movieId").alias("movie"))
        .persist()
    )
    pairs = (
        jaccard_pairs(watched, "customerId", "movie")
        .select("movie_a", "movie_b", "jaccard_micro")
        # persisted: the direction-union below reads pairs twice, and the
        # co-watch self-join + size joins above are the expensive stages
        # of the whole model build — the undirected model table is tiny
        .persist()
    )
    return pairs.selectExpr(
        "movie_a AS movie_src", "movie_b AS movie_dst", "jaccard_micro"
    ).unionAll(
        pairs.selectExpr(
            "movie_b AS movie_src", "movie_a AS movie_dst", "jaccard_micro"
        )
    )


_SIMS_ORACLE_CTE = f"""
capped AS (
    SELECT w.* FROM watched w
    JOIN (SELECT customerId FROM watched GROUP BY customerId
          HAVING count(*) <= {DEFAULT_MAX_WATCHLIST}) ok
      ON ok.customerId = w.customerId
),
sizes AS (SELECT movieId, count(*) AS n FROM capped GROUP BY movieId),
co AS (
    SELECT a.movieId AS movie_a, b.movieId AS movie_b, count(*) AS n_co
    FROM capped a JOIN capped b
      ON a.customerId = b.customerId AND a.movieId < b.movieId
    GROUP BY 1, 2
),
pairs AS (
    SELECT movie_a, movie_b,
           CAST(n_co * 1000000 // (na.n + nb.n - n_co) AS BIGINT)
               AS jaccard_micro
    FROM co
    JOIN sizes na ON na.movieId = movie_a
    JOIN sizes nb ON nb.movieId = movie_b
),
sims AS (
    SELECT movie_a AS movie_src, movie_b AS movie_dst, jaccard_micro FROM pairs
    UNION ALL
    SELECT movie_b, movie_a, jaccard_micro FROM pairs
)"""


def q_movies_item_item_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    sims = item_similarities(interactions(spark, sf_dir))
    return (
        sims.selectExpr(
            "movie_src AS movie_id",
            "movie_dst AS neighbor_id",
            "jaccard_micro",
            "row_number() OVER (PARTITION BY movie_src "
            "ORDER BY jaccard_micro DESC, movie_dst ASC) AS sim_rank",
        )
        .filter(F.col("sim_rank") <= 3)
        .select("movie_id", "sim_rank", "neighbor_id", "jaccard_micro")
    )


SQL_MOVIES_ITEM_ITEM_TOPK = f"""
WITH {INTERACTIONS_CTE},
{_SIMS_ORACLE_CTE}
SELECT movie_id, sim_rank, neighbor_id, jaccard_micro
FROM (
    SELECT movie_src AS movie_id, movie_dst AS neighbor_id, jaccard_micro,
           row_number() OVER (PARTITION BY movie_src
                              ORDER BY jaccard_micro DESC, movie_dst ASC)
               AS sim_rank
    FROM sims
)
WHERE sim_rank <= 3
"""


def q_movies_recommend_user_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # persisted: referenced by the model build, the scoring join, AND
    # the seen-title anti-join — one events scan instead of three
    watched = interactions(spark, sf_dir).persist()
    sims = item_similarities(watched)
    scored = (
        watched.join(sims, watched.movieId == sims.movie_src)
        .groupBy("customerId", "movie_dst")
        .agg(
            F.sum("jaccard_micro").alias("score_micro"),
            F.count("*").cast("long").alias("n_contributors"),
        )
    )
    unseen = scored.join(
        watched.withColumnRenamed("movieId", "movie_dst"),
        ["customerId", "movie_dst"],
        "left_anti",
    )
    return (
        unseen.selectExpr(
            "customerId",
            "movie_dst AS movie_id",
            "score_micro",
            "n_contributors",
            "row_number() OVER (PARTITION BY customerId "
            "ORDER BY score_micro DESC, movie_dst ASC) AS rec_rank",
        )
        .filter(F.col("rec_rank") <= 3)
        .select("customerId", "rec_rank", "movie_id", "score_micro", "n_contributors")
    )


SQL_MOVIES_RECOMMEND_USER_TOPK = f"""
WITH {INTERACTIONS_CTE},
{_SIMS_ORACLE_CTE},
scored AS (
    SELECT w.customerId, s.movie_dst,
           CAST(sum(s.jaccard_micro) AS BIGINT) AS score_micro,
           CAST(count(*) AS BIGINT) AS n_contributors
    FROM watched w JOIN sims s ON w.movieId = s.movie_src
    GROUP BY 1, 2
),
unseen AS (
    SELECT sc.* FROM scored sc
    WHERE NOT EXISTS (SELECT 1 FROM watched w
                      WHERE w.customerId = sc.customerId
                        AND w.movieId = sc.movie_dst)
)
SELECT customerId, rec_rank, movie_id, score_micro, n_contributors
FROM (
    SELECT customerId, movie_dst AS movie_id, score_micro, n_contributors,
           row_number() OVER (PARTITION BY customerId
                              ORDER BY score_micro DESC, movie_dst ASC)
               AS rec_rank
    FROM unseen
)
WHERE rec_rank <= 3
"""


def q_recsys_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed recommender EVALUATION, end-to-end with leave-one-out
    holdout: per customer, hold out the lexicographically-last watched
    title (deterministic), rebuild the similarity model on the TRAIN
    watch table only (no leakage — the evaluated interaction never
    touches the model), recommend top-3 unwatched-in-train titles, and
    score hit@3 against the holdout. One row: evaluated users, hits,
    hit-rate in micro units. The offline-eval loop every recommender
    team runs, as one oracle-checked dataflow.

    Scale: same plan as the model+serve entries (pair agg bounded by
    watchlists, broadcastable truncated model) plus a per-user argmax
    for the holdout — nothing new shuffles; the eval join is
    1-row-per-user against the top-3 table."""
    # watched feeds the holdout argmax and the train anti-join; train
    # feeds the model build, the scoring join, and the unseen anti-join
    # — persist both so the events scan and the holdout split each run
    # once instead of per-consumer
    watched = interactions(spark, sf_dir).persist()
    holdout = watched.groupBy("customerId").agg(
        F.max("movieId").alias("held_movie"),
        F.count("*").alias("_n"),
    ).filter("_n >= 2").select("customerId", "held_movie")
    train = watched.join(
        holdout.withColumnRenamed("held_movie", "movieId"),
        ["customerId", "movieId"],
        "left_anti",
    ).persist()
    sims = item_similarities(train)
    scored = (
        train.join(sims, train.movieId == sims.movie_src)
        .groupBy("customerId", "movie_dst")
        .agg(F.sum("jaccard_micro").alias("score_micro"))
    )
    unseen = scored.join(
        train.withColumnRenamed("movieId", "movie_dst"),
        ["customerId", "movie_dst"],
        "left_anti",
    )
    top3 = unseen.selectExpr(
        "customerId",
        "movie_dst",
        "row_number() OVER (PARTITION BY customerId"
        " ORDER BY score_micro DESC, movie_dst ASC) AS rec_rank",
    ).filter("rec_rank <= 3")
    hits = holdout.join(
        top3.withColumnRenamed("movie_dst", "held_movie"),
        ["customerId", "held_movie"],
        "left",
    ).selectExpr(
        "customerId", "CASE WHEN rec_rank IS NOT NULL THEN 1 ELSE 0 END AS hit"
    )
    return hits.selectExpr(
        "CAST(count(*) AS BIGINT) AS n_users_eval",
        "CAST(sum(hit) AS BIGINT) AS n_hits_at3",
        "CAST(sum(hit) * 1000000 div count(*) AS BIGINT) AS hit_rate_micro",
    )


SQL_RECSYS_PIPELINE_E2E = f"""
WITH {INTERACTIONS_CTE},
holdout AS (
    SELECT customerId, max(movieId) AS held_movie
    FROM watched GROUP BY customerId HAVING count(*) >= 2
),
train AS (
    SELECT w.customerId, w.movieId FROM watched w
    WHERE NOT EXISTS (SELECT 1 FROM holdout h
                      WHERE h.customerId = w.customerId
                        AND h.held_movie = w.movieId)
),
capped AS (
    SELECT t.* FROM train t
    JOIN (SELECT customerId FROM train GROUP BY customerId
          HAVING count(*) <= {DEFAULT_MAX_WATCHLIST}) ok
      ON ok.customerId = t.customerId
),
sizes AS (SELECT movieId, count(*) AS n FROM capped GROUP BY movieId),
co AS (
    SELECT a.movieId AS movie_a, b.movieId AS movie_b, count(*) AS n_co
    FROM capped a JOIN capped b
      ON a.customerId = b.customerId AND a.movieId < b.movieId
    GROUP BY 1, 2
),
prs AS (
    SELECT movie_a, movie_b,
           CAST(n_co * 1000000 // (na.n + nb.n - n_co) AS BIGINT)
               AS jaccard_micro
    FROM co
    JOIN sizes na ON na.movieId = movie_a
    JOIN sizes nb ON nb.movieId = movie_b
),
sims AS (
    SELECT movie_a AS movie_src, movie_b AS movie_dst, jaccard_micro FROM prs
    UNION ALL SELECT movie_b, movie_a, jaccard_micro FROM prs
),
scored AS (
    SELECT t.customerId, s.movie_dst,
           CAST(sum(s.jaccard_micro) AS BIGINT) AS score_micro
    FROM train t JOIN sims s ON t.movieId = s.movie_src
    GROUP BY 1, 2
),
unseen AS (
    SELECT sc.* FROM scored sc
    WHERE NOT EXISTS (SELECT 1 FROM train t
                      WHERE t.customerId = sc.customerId
                        AND t.movieId = sc.movie_dst)
),
top3 AS (
    SELECT customerId, movie_dst
    FROM (SELECT customerId, movie_dst,
                 row_number() OVER (PARTITION BY customerId
                                    ORDER BY score_micro DESC, movie_dst ASC)
                     AS rec_rank
          FROM unseen)
    WHERE rec_rank <= 3
),
hits AS (
    SELECT h.customerId,
           CASE WHEN EXISTS (SELECT 1 FROM top3 t
                             WHERE t.customerId = h.customerId
                               AND t.movie_dst = h.held_movie)
                THEN 1 ELSE 0 END AS hit
    FROM holdout h
)
SELECT CAST(count(*) AS BIGINT) AS n_users_eval,
       CAST(sum(hit) AS BIGINT) AS n_hits_at3,
       CAST(sum(hit) * 1000000 // count(*) AS BIGINT) AS hit_rate_micro
FROM hits
"""


QUERIES = {
    "movies_item_item_topk": (q_movies_item_item_topk, SQL_MOVIES_ITEM_ITEM_TOPK),
    "movies_recommend_user_topk": (
        q_movies_recommend_user_topk,
        SQL_MOVIES_RECOMMEND_USER_TOPK,
    ),
    "recsys_pipeline_e2e": (q_recsys_pipeline_e2e, SQL_RECSYS_PIPELINE_E2E),
}
