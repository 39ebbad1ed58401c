"""End-to-end corpus-curation pipeline — the stages a user of this
engine actually chains before training, composed as ONE dataflow and
held to ONE composed oracle:

    language filter -> quality gate -> exact dedup (canonical keep)
        -> deterministic shard assignment -> per-(lang, shard) accounting

Each stage uses the exact expression conventions its standalone
registry entry already proved cross-engine (text_stats/quality_scores'
micro-ratio signals — here fused into one scan-side projection instead
of their per-entry joins — dedup's md5 digest + min-id canonical,
training_shards' 'shard:' hash domain), so the composition binds the
INTERFACES between stages — the place real pipelines break — rather
than re-testing the stages themselves.

Scale (100 TB): the language and quality gates are map-side scans; the
only shuffles are the digest window (exact dedup picks each digest's
min-id row in one pass — r12 replaced the groupBy + re-join pair, which
re-ran the quality projection per reference) and the final (lang, shard)
aggregate — two key exchanges for the whole pipeline, none driver-side. Near-dup
(MinHash) insertion would slot between dedup and sharding as the
standalone `dedup_apply_filter` shows; it is left out here to keep the
oracle one readable statement.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from movie_data_transformer_spark.operators.text import portable_hash
from movie_data_transformer_spark.sources.tables import load_table

#: latin-script languages this pipeline keeps (the fixture also carries zh)
PIPELINE_LANGS = ("en", "es", "de", "fr")
N_SHARDS = 8


def q_corpus_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(lang, shard, n_docs, n_tokens) after the full curation chain.
    Quality thresholds are corpus_quality_filter's (n_tokens >= 30,
    ttr >= 0.2, stopword_ratio >= 0.01 — micro-ratio floors, so the
    double comparison can never flip on a midpoint); dedup keeps the
    min doc_id per md5(lower(trim(text))) digest; shards come from the
    'shard:' md5 domain mod 8 (training_shards' convention)."""
    from pyspark.sql import Window

    from movie_data_transformer_spark.functions import micro_ratio
    from movie_data_transformer_spark.operators.sizing import widen_for_compute
    from movie_data_transformer_spark.operators.text import tokens

    # the fused quality projection (four tokenizations per row) runs
    # before the first exchange — widen the one-row-group scan so it runs
    # at core parallelism (r12 opt round; no-op on a wide cluster scan)
    docs = widen_for_compute(
        load_table(spark, sf_dir, "documents").filter(
            F.col("lang").isin(*PIPELINE_LANGS)
        )
    )
    # every quality signal is per-row: ONE projection computes them all
    # (the standalone text_stats/quality_scores entries join their
    # outputs back for API parity; a pipeline wants the fused scan)
    t = tokens(F.col("text"))
    tl = tokens(F.lower(F.col("text")))
    scored = docs.select(
        "doc_id",
        "lang",
        F.size(t).cast("long").alias("n_tokens"),
        micro_ratio(
            F.size(F.array_distinct(t)).cast("long"), F.size(t).cast("long")
        ).alias("ttr"),
        micro_ratio(
            F.size(
                F.filter(
                    tl,
                    lambda w: w.isin(
                        "the", "a", "an", "and", "or", "of", "to", "in", "is"
                    ),
                )
            ).cast("long"),
            F.size(tl).cast("long"),
        ).alias("stopword_ratio"),
        F.md5(F.lower(F.trim(F.col("text")))).alias("dg"),
    )
    survivors = scored.filter(
        (F.col("n_tokens") >= 30)
        & (F.col("ttr") >= 0.2)
        & (F.col("stopword_ratio") >= 0.01)
    )
    # canonical keep = the min-doc_id row per digest. The old
    # groupBy(dg) + join-back-on-(dg, doc_id) form referenced `survivors`
    # twice, re-running the 4-tokenization projection per reference and
    # paying two dg exchanges plus a join; one row_number window over the
    # same dg partitioning selects the identical row set in a single pass
    # (r12 opt round; doc_id is unique, so rn=1 == the min-id row).
    kept = survivors.withColumn(
        "_rn", F.row_number().over(Window.partitionBy("dg").orderBy("doc_id"))
    ).filter(F.col("_rn") == 1)
    shard = (
        portable_hash(F.concat(F.lit("shard:"), F.col("doc_id").cast("string")))
        % N_SHARDS
    )
    return (
        kept.select("lang", shard.alias("shard"), "n_tokens")
        .groupBy("lang", "shard")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
        )
    )


SQL_CORPUS_PIPELINE_E2E = r"""
WITH toks AS (
    SELECT doc_id, lang, text,
           string_split_regex(trim(text), '\s+') AS t,
           string_split_regex(lower(trim(text)), '\s+') AS tl
    FROM documents
    WHERE lang IN ('en', 'es', 'de', 'fr')
),
s AS (
    SELECT doc_id, lang, text,
           CAST(len(t) AS BIGINT) AS n_tokens,
           CAST(len(list_distinct(t)) AS BIGINT) * 1000000 // len(t)
               AS ttr_micro,
           CAST(len(list_filter(tl, w -> w IN
                ('the','a','an','and','or','of','to','in','is'))) AS BIGINT)
               * 1000000 // len(tl) AS stop_micro
    FROM toks
),
q AS (
    SELECT doc_id, lang, text, n_tokens FROM s
    WHERE n_tokens >= 30 AND ttr_micro >= 200000 AND stop_micro >= 10000
),
dg AS (
    SELECT doc_id, lang, n_tokens, md5(lower(trim(text))) AS d FROM q
),
canon AS (SELECT d, min(doc_id) AS doc_id FROM dg GROUP BY d),
kept AS (
    SELECT g.lang, g.doc_id, g.n_tokens
    FROM dg g JOIN canon c ON g.d = c.d AND g.doc_id = c.doc_id
)
SELECT lang,
       CAST(CAST('0x' || substr(md5('shard:' || CAST(doc_id AS VARCHAR)), 1, 8)
                 AS BIGINT) % 8 AS BIGINT) AS shard,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS n_tokens
FROM kept
GROUP BY 1, 2
"""


QUERIES = {
    "corpus_pipeline_e2e": (q_corpus_pipeline_e2e, SQL_CORPUS_PIPELINE_E2E),
}
