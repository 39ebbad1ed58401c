"""Link prediction over the title similarity graph — the
common-neighbors / neighborhood-Jaccard predictor (Liben-Nowell &
Kleinberg 2003): titles are adjacent when their viewer-set Jaccard
clears a threshold (the item_similarities model table), and the
operator predicts which NON-adjacent title pairs are most likely to
become related by scoring their neighborhood overlap. The catalog-team
question this answers: "which titles should the editorial graph connect
next?"

Entry `graph_title_link_prediction` (FULL DuckDB oracle): over the
taste-cohort interaction fixture (recsys_queries.interactions), edges =
title pairs with jaccard_micro >= EDGE_MICRO; for every non-adjacent
pair with >= 1 common neighbor:
  n_common       = |N(a) ∩ N(b)|
  nbr_jaccard_micro = 1e6 * n_common div |N(a) ∪ N(b)|   (exact ints)
top-10 by (n_common DESC, nbr_jaccard_micro DESC, title_a, title_b) —
a deterministic total order.

Scale design:
- The edge list is the top-k-truncatable model table (broadcastable).
- Common-neighbor pairs are generated WITHIN the adjacency list of each
  shared neighbor z ("pairs through z"), so cost is sum(deg(z)^2) —
  and a hub node IS capped (`max_degree`, default DEFAULT_MAX_DEGREE):
  nodes with more than max_degree neighbors are excluded from the
  through-z role BEFORE the self-join (the pairs hub cap, mirrored in
  the oracle; a connects-to-everything hub carries no link signal —
  the graph_extras max_watchers rationale). Fixture degrees
  are <= 34 (a 35-title catalog), so the default never binds.
- The union size comes from degrees (deg_a + deg_b - n_common), NOT a
  union materialization; the existing-edge exclusion is one anti-join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from movie_data_transformer_spark.operators.pairs import jaccard_micro, shared_key_pairs
from movie_data_transformer_spark.operators.recsys_queries import (
    INTERACTIONS_CTE,
    _SIMS_ORACLE_CTE,
    interactions,
    item_similarities,
)

EDGE_MICRO = 300_000  # adjacency threshold: viewer-set Jaccard >= 0.3
TOP_K = 10

#: hub cap for the through-z pair generation: a node of degree d
#: contributes d^2 candidate pairs; beyond this it is hub noise.
DEFAULT_MAX_DEGREE = 1000


def predicted_links(
    edges: DataFrame, max_degree: int = DEFAULT_MAX_DEGREE
) -> DataFrame:
    """(title_a, title_b, n_common, nbr_jaccard_micro) for non-adjacent
    pairs with >= 1 common neighbor. `edges` is the DIRECTED (src, dst)
    adjacency (both directions present, no self-loops)."""
    deg = edges.groupBy("src").agg(F.count("*").alias("deg"))
    # through-z generation, hub-capped on z's degree
    common = (
        shared_key_pairs(edges.selectExpr("src AS z", "dst AS title"), "z", "title", max_degree)
        .groupBy("title_a", "title_b")
        .agg(F.count("*").alias("n_common"))
    )
    non_adj = common.join(
        edges.selectExpr("src AS title_a", "dst AS title_b"),
        ["title_a", "title_b"],
        "left_anti",
    )
    return (
        non_adj.join(deg.selectExpr("src AS title_a", "deg AS deg_a"), "title_a")
        .join(deg.selectExpr("src AS title_b", "deg AS deg_b"), "title_b")
        .select(
            "title_a",
            "title_b",
            "n_common",
            jaccard_micro("n_common", "deg_a", "deg_b").alias("nbr_jaccard_micro"),
        )
    )


def q_graph_title_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    sims = item_similarities(interactions(spark, sf_dir))
    # persisted: predicted_links references the adjacency six ways
    # (degree table, through-z generation, the non-adjacency anti-join,
    # both degree joins) — without the cache each reference re-runs the
    # whole similarity model build above
    edges = (
        sims.filter(F.col("jaccard_micro") >= EDGE_MICRO)
        .selectExpr("movie_src AS src", "movie_dst AS dst")
        .persist()
    )
    # top-k via orderBy+limit (parallel TakeOrdered) instead of a global
    # row_number window over every candidate pair; rank re-derived over
    # the <= TOP_K survivors
    return (
        predicted_links(edges)
        .orderBy(
            F.col("n_common").desc(),
            F.col("nbr_jaccard_micro").desc(),
            F.col("title_a").asc(),
            F.col("title_b").asc(),
        )
        .limit(TOP_K)
        .selectExpr(
            "title_a",
            "title_b",
            "n_common",
            "nbr_jaccard_micro",
            "row_number() OVER (ORDER BY n_common DESC, nbr_jaccard_micro DESC,"
            " title_a ASC, title_b ASC) AS pred_rank",
        )
        .select("pred_rank", "title_a", "title_b", "n_common", "nbr_jaccard_micro")
    )


SQL_GRAPH_TITLE_LINK_PREDICTION = f"""
WITH {INTERACTIONS_CTE},
{_SIMS_ORACLE_CTE},
edges AS (
    SELECT movie_src AS src, movie_dst AS dst FROM sims
    WHERE jaccard_micro >= {EDGE_MICRO}
),
deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
thru AS (
    SELECT e.* FROM edges e
    JOIN deg dz ON dz.src = e.src AND dz.deg <= {DEFAULT_MAX_DEGREE}
),
common AS (
    SELECT a.dst AS title_a, b.dst AS title_b, count(*) AS n_common
    FROM thru a JOIN thru b ON a.src = b.src AND a.dst < b.dst
    GROUP BY 1, 2
),
nonadj AS (
    SELECT c.* FROM common c
    WHERE NOT EXISTS (SELECT 1 FROM edges e
                      WHERE e.src = c.title_a AND e.dst = c.title_b)
),
scoredl AS (
    SELECT title_a, title_b,
           CAST(n_common AS BIGINT) AS n_common,
           CAST(n_common * 1000000 // (da.deg + db.deg - n_common) AS BIGINT)
               AS nbr_jaccard_micro
    FROM nonadj
    JOIN deg da ON da.src = title_a
    JOIN deg db ON db.src = title_b
)
SELECT pred_rank, title_a, title_b, n_common, nbr_jaccard_micro
FROM (
    SELECT *, row_number() OVER (ORDER BY n_common DESC,
                                 nbr_jaccard_micro DESC,
                                 title_a ASC, title_b ASC) AS pred_rank
    FROM scoredl
)
WHERE pred_rank <= {TOP_K}
"""


QUERIES = {
    "graph_title_link_prediction": (
        q_graph_title_link_prediction,
        SQL_GRAPH_TITLE_LINK_PREDICTION,
    ),
}
