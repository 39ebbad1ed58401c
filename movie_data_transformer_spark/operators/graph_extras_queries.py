"""k-core decomposition of the user co-watch graph — the classic
"dense-community extraction" graph operator (Seidman 1983): repeatedly
peel nodes of degree < k until the remaining subgraph has minimum degree
>= k. Used in practice to find the stable heavy-engagement cohort (and,
in corpus curation, the tightly-linked document clusters worth manual
review).

Determinism contract: BOTH engines run the SAME bounded peel — K=3,
MAX_PEELS=6 — so the entry carries a FULL oracle (the DuckDB side is
the peel unrolled into 6 MATERIALIZED CTE stages; recursive CTEs can't
self-join the working table, so unrolling is the portable form, and the
MATERIALIZED hint stops the chained stages from inlining exponentially. Peeling is monotone,
so once the node set is stable every further round is a no-op: the
Spark loop early-exits on convergence and still equals the oracle's
fixed 6 rounds. `test_kcore_converges_within_bound_and_peels_the_chain`
pins the result to a pure-Python peel run to its fixpoint (the cohort
graph peels in <=2 rounds), so the bound is a proven invariant, not
silent truncation.

Graph fixture: recsys_queries.interactions' taste-cohort watch table —
users are adjacent when they share >= 2 titles (cohorts within distance
2 share slots, so the graph has real block structure and scales with
users). Edge generation is pairs-within-movie-group; a promiscuous
blockbuster title IS df-capped (`max_watchers` on
`cowatch_user_edges`, default DEFAULT_MAX_WATCHERS): a title watched
by w users contributes w^2 candidate edges, so titles over the cap are
excluded from edge generation BEFORE the self-join (the pairs hub cap,
operators/pairs.py) — a
watched-by-everyone blockbuster carries no community signal anyway
(it connects everyone to everyone). Mirrored in both DuckDB oracles'
`prs` CTEs and pinned by a planted-blockbuster pytest
(tests/test_graph_analytics.py). Fixture max watchers is 641 at
sf0.1, so the default never binds in driver runs.

The cohort graph is deliberately dense (every user has degree >= 3), so
a PLANTED pendant chain c0 - p:0 - p:1 - ... - p:4 is unioned in (the
repo's planted-truth pattern): no chain node reaches degree K_CORE, so
the whole chain peels out while its anchor c0 stays in the core, and
BFS walks it one level per hop.

Scale: each peel round = one degree agg (shuffle on node) + one
semi-join of edges against survivors; MAX_PEELS bounds the rounds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from movie_data_transformer_spark.operators.fixpoint import Fixpoint, rows
from movie_data_transformer_spark.operators.pairs import shared_key_pairs
from movie_data_transformer_spark.operators.recsys_queries import (
    INTERACTIONS_CTE,
    interactions,
)

K_CORE = 3
MAX_PEELS = 6

#: Blockbuster cap: a title watched by w users contributes w^2 candidate
#: co-watch edges; beyond this many watchers the title is pure hub noise
#: (it connects everyone) and quadratic cost, so it is dropped from edge
#: generation. 10_000 => <= 1e8 candidate pairs per worst-case title,
#: and far above the fixture max (641 watchers at sf0.1).
DEFAULT_MAX_WATCHERS = 10_000


def cowatch_user_edges(
    watched: DataFrame, max_watchers: int | None = DEFAULT_MAX_WATCHERS
) -> DataFrame:
    """Undirected (u < v) user edges: >= 2 shared titles, over distinct
    (customerId, movieId) rows. Titles with more than `max_watchers`
    distinct watchers (None: no cap) are excluded before the self-join
    (the pairs hub cap), bounding per-title pair cost at
    max_watchers^2."""
    users = watched.select(F.col("customerId").alias("user"), "movieId")
    return (
        shared_key_pairs(users, "movieId", "user", max_watchers)
        .groupBy(F.col("user_a").alias("u"), F.col("user_b").alias("v"))
        .agg(F.count("*").alias("shared"))
        .filter(F.col("shared") >= 2)
        .select("u", "v")
    )


def kcore_peel(edges: DataFrame) -> DataFrame:
    """Surviving (customerId, core_degree) after the bounded K_CORE-core
    peel of at most MAX_PEELS rounds. Stops when a round removes nothing
    (== the oracle's fixed MAX_PEELS rounds, since further rounds are
    no-ops): peeling is monotone, so an equal survivor count is the
    fixpoint. The loop is operators/fixpoint.py's.

    Peels on the ALIVE-NODE set, not the edge set: the edge table is
    materialized ONCE and stays fixed; each round semi-joins it against
    the (much smaller, node-count-sized) survivor set and re-aggregates
    degrees. Equivalent by induction to filtering edges per round
    (edges_i == edges ∩ alive_i²), but per-round checkpoint state is
    O(nodes) instead of O(edges) — at sf0.1 this cut the operator from
    8.1s to ~2s, and at 100 TB it is the difference between shuffling
    the edge set 6 times and once."""
    with Fixpoint(edges) as fx:

        def degrees(alive: DataFrame | None) -> DataFrame:
            sub = fx.source
            if alive is not None:
                for end in ("u", "v"):
                    sub = sub.join(alive.withColumnRenamed("node", end), end, "left_semi")
            return (
                sub.select(F.col("u").alias("node"))
                .union(sub.select(F.col("v").alias("node")))
                .groupBy("node")
                .agg(F.count("*").alias("deg"))
            )

        def peel(alive: DataFrame | None, _round: int) -> DataFrame:
            return degrees(alive).filter(F.col("deg") >= K_CORE).select("node")

        alive = fx.converge(None, peel, MAX_PEELS, measure=rows)
        return fx.result(
            degrees(alive).selectExpr("node AS customerId", "CAST(deg AS BIGINT) AS core_degree")
        )


#: pendant chain planted below the co-watch graph: every chain node has
#: degree < K_CORE, so the k-core peels it out, and BFS from c0 reaches
#: one chain node per hop. 'c0' = user_id 0, present at every SF.
PENDANT_CHAIN = [("c0", "p:0"), ("p:0", "p:1"), ("p:1", "p:2"), ("p:2", "p:3"), ("p:3", "p:4")]


def q_graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    chain = spark.createDataFrame(PENDANT_CHAIN, "u string, v string")
    edges = cowatch_user_edges(interactions(spark, sf_dir)).unionAll(chain)
    return kcore_peel(edges)


def _unrolled_peel_sql(k: int, rounds: int) -> str:
    """The peel unrolled into `rounds` CTE stages (edges0 -> edgesN)."""
    stages = []
    for i in range(rounds):
        stages.append(
            f"""deg{i} AS MATERIALIZED (
    SELECT node, count(*) AS deg FROM (
        SELECT u AS node FROM edges{i} UNION ALL SELECT v FROM edges{i}
    ) GROUP BY node
),
keep{i} AS MATERIALIZED (SELECT node FROM deg{i} WHERE deg >= {k}),
edges{i + 1} AS MATERIALIZED (
    SELECT e.u, e.v FROM edges{i} e
    JOIN keep{i} ku ON ku.node = e.u
    JOIN keep{i} kv ON kv.node = e.v
)"""
        )
    return ",\n".join(stages)


SQL_GRAPH_KCORE = f"""
WITH {INTERACTIONS_CTE},
wcapped AS (
    SELECT w.* FROM watched w
    JOIN (SELECT movieId FROM watched GROUP BY movieId
          HAVING count(*) <= {DEFAULT_MAX_WATCHERS}) ok
      ON ok.movieId = w.movieId
),
prs AS (
    SELECT a.customerId AS u, b.customerId AS v, count(*) AS shared
    FROM wcapped a
    JOIN wcapped b ON a.movieId = b.movieId AND a.customerId < b.customerId
    GROUP BY 1, 2
),
chain(u, v) AS (VALUES ('c0', 'p:0'), ('p:0', 'p:1'), ('p:1', 'p:2'),
                       ('p:2', 'p:3'), ('p:3', 'p:4')),
edges0 AS MATERIALIZED (
    SELECT u, v FROM prs WHERE shared >= 2
    UNION ALL SELECT u, v FROM chain
),
{_unrolled_peel_sql(K_CORE, MAX_PEELS)}
SELECT customerId, CAST(count(*) AS BIGINT) AS core_degree
FROM (
    SELECT u AS customerId FROM edges{MAX_PEELS}
    UNION ALL SELECT v FROM edges{MAX_PEELS}
)
GROUP BY customerId
"""


MAX_HOPS = 6


def bfs_distances(edges: DataFrame, seeds: DataFrame) -> DataFrame:
    """(customerId, dist) — unweighted shortest-path levels from the seed
    set, bounded at MAX_HOPS (the oracle's unrolled depth). The state is
    the reached set; round `hop` expands only its FRONTIER (the nodes at
    dist hop - 1) through one semi-join + distinct against the edge
    table, materialized once, and stops when the reached count stops
    growing (the frontier emptied). The loop is operators/fixpoint.py's."""
    with Fixpoint(edges) as fx:
        both = fx.source.unionAll(fx.source.selectExpr("v AS u", "u AS v"))

        def expand(reached: DataFrame, hop: int) -> DataFrame:
            frontier = reached.filter(F.col("dist") == hop - 1).select(F.col("node").alias("u"))
            nxt = (
                both.join(frontier, "u", "left_semi")
                .select(F.col("v").alias("node"))
                .distinct()
                .join(reached.select("node"), "node", "left_anti")
            )
            return reached.unionAll(nxt.selectExpr("node", f"CAST({hop} AS INT) AS dist"))

        reached = seeds.selectExpr("node", "CAST(0 AS INT) AS dist")
        reached = fx.converge(reached, expand, MAX_HOPS, measure=rows)
        return fx.result(reached.selectExpr("node AS customerId", "dist"))


def q_graph_bfs_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BFS levels from seed 'c0' over the co-watch graph + pendant chain.
    The dense cohort graph collapses to level <= 2 for real users; the
    planted chain contributes one node per level 1..5, so every hop of
    the bounded expansion does verified work (the kcore chain rationale).
    FULL oracle: the expansion unrolled into MAX_HOPS MATERIALIZED CTE
    stages."""
    chain = spark.createDataFrame(PENDANT_CHAIN, "u string, v string")
    edges = cowatch_user_edges(interactions(spark, sf_dir)).unionAll(chain)
    seeds = spark.createDataFrame([("c0",)], "node string")
    return bfs_distances(edges, seeds)


def _unrolled_bfs_sql(hops: int) -> str:
    stages = []
    for i in range(hops):
        stages.append(
            f"""reach{i + 1} AS MATERIALIZED (
    SELECT node, dist FROM reach{i}
    UNION ALL
    SELECT v AS node, {i + 1} AS dist
    FROM (SELECT DISTINCT b.v
          FROM undirected b JOIN reach{i} r ON r.node = b.u AND r.dist = {i})
    WHERE v NOT IN (SELECT node FROM reach{i})
)"""
        )
    return ",\n".join(stages)


SQL_GRAPH_BFS_DISTANCES = f"""
WITH {INTERACTIONS_CTE},
wcapped AS (
    SELECT w.* FROM watched w
    JOIN (SELECT movieId FROM watched GROUP BY movieId
          HAVING count(*) <= {DEFAULT_MAX_WATCHERS}) ok
      ON ok.movieId = w.movieId
),
prs AS (
    SELECT a.customerId AS u, b.customerId AS v, count(*) AS shared
    FROM wcapped a
    JOIN wcapped b ON a.movieId = b.movieId AND a.customerId < b.customerId
    GROUP BY 1, 2
),
chain(u, v) AS (VALUES ('c0', 'p:0'), ('p:0', 'p:1'), ('p:1', 'p:2'),
                       ('p:2', 'p:3'), ('p:3', 'p:4')),
edges AS MATERIALIZED (
    SELECT u, v FROM prs WHERE shared >= 2
    UNION ALL SELECT u, v FROM chain
),
undirected AS MATERIALIZED (
    SELECT u, v FROM edges UNION ALL SELECT v, u FROM edges
),
reach0 AS MATERIALIZED (SELECT 'c0' AS node, 0 AS dist),
{_unrolled_bfs_sql(MAX_HOPS)}
SELECT node AS customerId, CAST(dist AS INT) AS dist
FROM reach{MAX_HOPS}
"""


QUERIES = {
    "graph_kcore": (q_graph_kcore, SQL_GRAPH_KCORE),
    "graph_bfs_distances": (q_graph_bfs_distances, SQL_GRAPH_BFS_DISTANCES),
}
