"""DSIR-style data selection with hashed n-gram importance weights
(Xie et al. 2023, "Data Selection for Language Models via Importance
Resampling") — the selection step a curation pipeline runs between
quality filtering (quality_classifier_scores) and mixing
(mix_token_budget_apportion): score every raw document by how much its
hashed unigram profile looks like a TARGET domain rather than the raw
pool, then keep the top-k.

Relationship to `curation_target_affinity_select` (affinity_queries.py,
the log-free variant): affinity measures seed-VOCABULARY COVERAGE of a
doc's shingles (how much of the doc the seed explains — integer-exact,
needs a curated seed sample); THIS module is the paper's actual
log-likelihood-ratio estimator — hashed features CONTRASTED against the
raw pool, so common-everywhere tokens are down-weighted and no curated
seed is needed (the target here is a whole labeled slice). Run affinity
when you have a small trusted seed; run DSIR when you have a large
target slice and need background contrast. Both ship so the trade is
explicit.

Fixture: target = the `lang = 'en'` slice of `documents` (a stand-in
for "high-quality target domain"); raw = the whole corpus. Features are
md5-hashed unigram buckets (B = 1024). Per bucket b the add-one-smoothed
log-likelihood ratio is

    llr(b) = ln( (tc_b + 1) * (rtot + B) / ((rc_b + 1) * (ttot + B)) )

and a document's importance weight is the sum of llr over its TOKEN
OCCURRENCES (bag of hashed unigrams, the DSIR estimator).

Exactness: the single transcendental is evaluated ONCE per bucket on
identical integers, scaled to micro units with floor() (floor, not cast
— DuckDB casts double->bigint by ROUNDING while Spark truncates; floor
sidesteps both), then all per-document math is exact integer summation
— order-independent, so partitioning cannot change a score. A 1-ulp
libm divergence could only matter if ln landed within 2^-46 of a micro
grid line (~1e-10 probability per bucket; the 3-SF validation would
catch a flip as a hash mismatch).

Entries (both FULL DuckDB oracles):
- `dsir_bucket_llr`: the B-row weight table — bucket, tc, rc, llr_micro.
- `dsir_topk_selection`: top 40 docs by importance (weight_micro DESC,
  doc_id ASC) — doc_id, lang, n_tokens, weight_micro. English docs
  should dominate (pinned in pytest).

Scale: the weight table is <= B rows — built with ONE tokens scan
(two aggs over the same exploded frame, target counts via conditional
sum so the target slice is NOT a second scan), then broadcast back to
score. Scoring is explode -> broadcast-join -> groupBy(doc_id): one
shuffle on doc_id. Top-k is a global order on an already-aggregated
frame (one row per doc); at extreme scale swap for the per-partition
top-k merge (similarity.py pattern) — k is tiny.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from movie_data_transformer_spark.sources.tables import load_table

B = 1024
TOP_K = 40

_BUCKET_SPARK = (
    "CAST(conv(substr(md5(tok), 1, 8), 16, 10) AS BIGINT) % 1024"
)
_BUCKET_DUCK = "CAST('0x' || substr(md5(tok), 1, 8) AS BIGINT) % 1024"


def _tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    # tokenize + per-token md5 bucketing run before the first exchange —
    # widen the one-row-group scan so both the weight-table pass and the
    # scoring pass run at core parallelism (r12 opt round; no-op on an
    # already-wide cluster scan)
    from movie_data_transformer_spark.operators.sizing import widen_for_compute

    docs = widen_for_compute(load_table(spark, sf_dir, "documents"))
    return docs.selectExpr(
        "doc_id",
        "lang",
        r"explode(split(trim(lower(text)), '\\s+')) AS tok",
    ).selectExpr(
        "doc_id", "lang", f"{_BUCKET_SPARK} AS bucket"
    )


_TOKENS_CTE = r"""
toks AS (
    SELECT doc_id, lang,
           unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
    FROM documents
),
feat AS (
    SELECT doc_id, lang,
           """ + _BUCKET_DUCK + r""" AS bucket
    FROM toks
),
bucket_counts AS (
    SELECT bucket,
           CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS tc,
           CAST(count(*) AS BIGINT) AS rc
    FROM feat GROUP BY bucket
),
totals AS (
    SELECT CAST(sum(tc) AS BIGINT) AS ttot, CAST(sum(rc) AS BIGINT) AS rtot
    FROM bucket_counts
),
llr AS (
    SELECT bucket, tc, rc,
           CAST(floor(ln(
                (CAST(tc + 1 AS DOUBLE) * (rtot + 1024)) /
                (CAST(rc + 1 AS DOUBLE) * (ttot + 1024))
           ) * 1000000) AS BIGINT) AS llr_micro
    FROM bucket_counts, totals
)"""


def _llr_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    feat = _tokens(spark, sf_dir)
    bucket_counts = feat.groupBy("bucket").agg(
        F.sum(F.expr("IF(lang = 'en', 1, 0)")).cast("bigint").alias("tc"),
        F.count("*").cast("bigint").alias("rc"),
    )
    totals = bucket_counts.agg(
        F.sum("tc").cast("bigint").alias("ttot"),
        F.sum("rc").cast("bigint").alias("rtot"),
    )
    return bucket_counts.crossJoin(F.broadcast(totals)).selectExpr(
        "bucket",
        "tc",
        "rc",
        f"CAST(floor(ln((CAST(tc + 1 AS DOUBLE) * (rtot + {B})) /"
        f" (CAST(rc + 1 AS DOUBLE) * (ttot + {B}))) * 1000000) AS BIGINT)"
        " AS llr_micro",
    )


def q_dsir_bucket_llr(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _llr_table(spark, sf_dir)


SQL_DSIR_BUCKET_LLR = f"""
WITH {_TOKENS_CTE}
SELECT bucket, tc, rc, llr_micro FROM llr
"""


def q_dsir_topk_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    feat = _tokens(spark, sf_dir)
    weights = _llr_table(spark, sf_dir).select("bucket", "llr_micro")
    scored = (
        feat.join(F.broadcast(weights), "bucket")
        .groupBy("doc_id", "lang")
        .agg(
            F.count("*").cast("bigint").alias("n_tokens"),
            F.sum("llr_micro").cast("bigint").alias("weight_micro"),
        )
    )
    return (
        scored.orderBy(F.col("weight_micro").desc(), F.col("doc_id"))
        .limit(TOP_K)
        .select("doc_id", "lang", "n_tokens", "weight_micro")
    )


SQL_DSIR_TOPK_SELECTION = f"""
WITH {_TOKENS_CTE},
scored AS (
    SELECT f.doc_id, f.lang,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(l.llr_micro) AS BIGINT) AS weight_micro
    FROM feat f JOIN llr l ON f.bucket = l.bucket
    GROUP BY f.doc_id, f.lang
)
SELECT doc_id, lang, n_tokens, weight_micro
FROM scored
ORDER BY weight_micro DESC, doc_id
LIMIT {TOP_K}
"""


QUERIES = {
    "dsir_bucket_llr": (q_dsir_bucket_llr, SQL_DSIR_BUCKET_LLR),
    "dsir_topk_selection": (q_dsir_topk_selection, SQL_DSIR_TOPK_SELECTION),
}
