"""Target-domain affinity selection — the DSIR-shaped curation step
(Xie et al. 2023, "Data Selection for Language Models via Importance
Resampling", log-free exact variant): given a small curated SEED sample
of the target domain, score every candidate document by how much of its
n-gram mass the seed vocabulary covers, then keep the top-k per source.
This is the standard "give me more data that looks like my eval set"
selector every pretraining-data team runs; the exact-overlap form keeps
the whole dataflow integer (no log-likelihood doubles), so the entry
carries a FULL DuckDB oracle. The paper's actual LLR estimator (hashed
unigrams contrasted against the raw pool — down-weights ubiquitous
tokens, needs no curated seed) ships separately as dsir_bucket_llr /
dsir_topk_selection (dsir_queries.py); the docstring there states when
to use which.

Fixture: seed = documents with doc_id % 20 == 0 (a deterministic 5%
"curated sample", present at every SF); candidates = the rest. Shingles
are the repo's trigram word shingles over normalized text (the
dedup.doc_shingles construction, mirrored by the proven _minhash_ctes
SQL idiom).

  affinity_micro = 1e6 * |shingles(doc) ∩ vocab(seed)| div |shingles(doc)|

Entry `curation_target_affinity_select`: top-10 candidates per source
by (affinity DESC, doc_id ASC) — (source, sel_rank, doc_id,
affinity_micro).

Scale (the 100 TB story): the seed vocabulary is SMALL by construction
(a curated sample — thousands of docs, not the corpus), so `vocab` is
broadcast into a semi-join against the exploded candidate shingles:
one scan of the candidates, one map-side membership probe, one
per-doc count aggregate (shuffle on doc_id), one per-source top-k
window (WindowGroupLimit pushes rank<=10 map-side). No self-joins, no
quadratic term anywhere; candidate cost is linear in corpus shingles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from movie_data_transformer_spark.sources.tables import load_table

TOP_K = 10
SEED_MOD = 20


def target_affinity_scores(
    docs: DataFrame, seed_filter: str = f"doc_id % {SEED_MOD} = 0"
) -> DataFrame:
    """(doc_id, source, n_shingles, n_hits, affinity_micro) for every
    NON-seed doc. Seed vocab is distinct-shingle and broadcast."""
    from movie_data_transformer_spark.operators.dedup import doc_shingles
    from movie_data_transformer_spark.operators.sizing import widen_for_compute

    sh = doc_shingles(widen_for_compute(docs), n=3)
    seed_ids = docs.filter(seed_filter).select("doc_id")
    vocab = (
        sh.join(seed_ids, "doc_id", "left_semi").select("shingle").distinct()
    )
    cand_sh = sh.join(seed_ids, "doc_id", "left_anti")
    # one pass over the candidate shingles: a broadcast left join marks
    # vocabulary membership, then a single agg yields size AND hits
    # (two separate semi-join/agg consumers would re-tokenize the corpus
    # twice — the dedup.py persist-vs-recompute note, resolved here by
    # fusing instead of caching)
    flagged = cand_sh.join(
        F.broadcast(vocab.withColumn("_v", F.lit(1))), "shingle", "left"
    )
    counts = flagged.groupBy("doc_id").agg(
        F.count("*").alias("n_shingles"),
        F.sum(F.expr("IF(_v IS NOT NULL, 1, 0)")).alias("n_hits"),
    )
    return (
        counts.join(docs.select("doc_id", "source"), "doc_id")
        .selectExpr(
            "doc_id",
            "source",
            "CAST(n_shingles AS BIGINT) AS n_shingles",
            "CAST(n_hits AS BIGINT) AS n_hits",
            "CAST(n_hits * 1000000 div n_shingles AS BIGINT) AS affinity_micro",
        )
    )


def q_curation_target_affinity_select(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    scores = target_affinity_scores(load_table(spark, sf_dir, "documents"))
    return (
        scores.selectExpr(
            "source",
            "doc_id",
            "affinity_micro",
            "row_number() OVER (PARTITION BY source"
            " ORDER BY affinity_micro DESC, doc_id ASC) AS sel_rank",
        )
        .filter(F.col("sel_rank") <= TOP_K)
        .select("source", "sel_rank", "doc_id", "affinity_micro")
    )


SQL_CURATION_TARGET_AFFINITY_SELECT = f"""
WITH toks AS (
    SELECT doc_id, source,
           string_split(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')),
                        ' ') AS t
    FROM documents
),
idx AS (
    SELECT doc_id, source, t,
           unnest(range(1, greatest(len(t) - 2, 1) + 1)) AS i
    FROM toks
),
sh AS (
    SELECT DISTINCT doc_id, source,
           concat_ws(' ', t[i], t[i+1], t[i+2]) AS shingle
    FROM idx
),
vocab AS (
    SELECT DISTINCT shingle FROM sh WHERE doc_id % {SEED_MOD} = 0
),
cand AS (SELECT * FROM sh WHERE doc_id % {SEED_MOD} <> 0),
scores AS (
    SELECT doc_id, source,
           CAST(count(*) AS BIGINT) AS n_shingles,
           CAST(count(*) FILTER (shingle IN (SELECT shingle FROM vocab))
                AS BIGINT) AS n_hits
    FROM cand
    GROUP BY doc_id, source
)
SELECT source, sel_rank, doc_id, affinity_micro
FROM (
    SELECT source, doc_id,
           CAST(n_hits * 1000000 // n_shingles AS BIGINT) AS affinity_micro,
           row_number() OVER (PARTITION BY source
                              ORDER BY n_hits * 1000000 // n_shingles DESC,
                                       doc_id ASC) AS sel_rank
    FROM scores
)
WHERE sel_rank <= {TOP_K}
"""


QUERIES = {
    "curation_target_affinity_select": (
        q_curation_target_affinity_select,
        SQL_CURATION_TARGET_AFFINITY_SELECT,
    ),
}
