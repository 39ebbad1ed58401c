"""Corpus-curation operators — the remaining pieces of a real LLM
training-data pipeline: deterministic sampling, dataset splits,
decontamination, and quality filtering. All hash-deterministic (the
portable md5 hash), so the curated corpus is bit-reproducible on any
engine and any partitioning — sampleBy/rand() would not be."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from movie_data_transformer_spark.operators.dedup import (
    CORPUS_ORACLE_CTE,
    augmented_corpus,
    normalize_text,
)
from movie_data_transformer_spark.operators.text import (
    PORTABLE_HASH_SQL,
    portable_hash,
)
from movie_data_transformer_spark.operators.ordered_stats import attach_order_stats
from movie_data_transformer_spark.sources.tables import load_table

_HASH = PORTABLE_HASH_SQL  # single source: operators/text.py


def hash_bucket(col):
    """Deterministic [0, 100) bucket from the portable hash of a column."""
    return portable_hash(col.cast("string")) % 100


def q_sample_hash_20pct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 20% sample of documents: hash(doc_id) % 100 < 20.
    Reproducible everywhere — the curation-pipeline replacement for rand()."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.filter(hash_bucket(F.col("doc_id")) < 20).select("doc_id", "lang", "n_chars")


SQL_SAMPLE_HASH = f"""
SELECT doc_id, lang, n_chars
FROM documents
WHERE {_HASH.format(x="CAST(doc_id AS VARCHAR)")} % 100 < 20
"""


def q_train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-way deterministic split (80/10/10) with per-split counts by lang
    — the dataset-assignment op, as an auditable summary."""
    docs = load_table(spark, sf_dir, "documents")
    b = hash_bucket(F.col("doc_id"))
    split = (
        F.when(b < 80, "train").when(b < 90, "val").otherwise("test").alias("split")
    )
    return (
        docs.select(split, "lang")
        .groupBy("split", "lang")
        .agg(F.count("*").alias("n_docs"))
    )


SQL_TRAIN_VAL_TEST = f"""
SELECT CASE WHEN h < 80 THEN 'train' WHEN h < 90 THEN 'val' ELSE 'test' END AS split,
       lang, count(*) AS n_docs
FROM (SELECT lang, {_HASH.format(x="CAST(doc_id AS VARCHAR)")} % 100 AS h FROM documents)
GROUP BY 1, 2
"""


def q_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination: exact-content overlap between the 'training'
    corpus (augmented, with its planted copies) and the 'benchmark' set
    (original documents) by normalized-content digest — the planted exact
    copies at doc_id+200000 must surface as hits."""
    train = augmented_corpus(load_table(spark, sf_dir, "documents")).filter(
        F.col("doc_id") >= 100000
    )
    bench = load_table(spark, sf_dir, "documents")
    t = train.select(F.col("doc_id").alias("train_doc"), F.md5("text").alias("digest"))
    bmd = bench.select(
        F.col("doc_id").alias("bench_doc"), F.md5(normalize_text(F.col("text"))).alias("digest")
    )
    return t.join(bmd, "digest").select("train_doc", "bench_doc")


SQL_CONTAMINATION = f"""
WITH {CORPUS_ORACLE_CTE},
train AS (SELECT doc_id AS train_doc, md5(text) AS digest
          FROM corpus WHERE doc_id >= 100000),
bench AS (SELECT doc_id AS bench_doc,
                 md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS digest
          FROM documents)
SELECT train_doc, bench_doc FROM train JOIN bench USING (digest)
"""


def q_corpus_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end quality filtering: keep documents passing the standard
    cuts (length, type-token ratio, stopword presence); emit survivors
    with their scores — the final gate before training."""
    from movie_data_transformer_spark.operators.text import quality_scores, text_stats

    docs = load_table(spark, sf_dir, "documents")
    stats = text_stats(docs).select("doc_id", "n_tokens", "ttr")
    qual = quality_scores(docs).select("doc_id", "stopword_ratio", "mean_word_len")
    joined = stats.join(qual, "doc_id")
    return joined.filter(
        (F.col("n_tokens") >= 30)
        & (F.col("ttr") >= 0.2)
        & (F.col("stopword_ratio") >= 0.01)
    )


SQL_CORPUS_QUALITY_FILTER = r"""
WITH toks AS (
    SELECT doc_id, text, string_split_regex(trim(text), '\s+') AS t,
           string_split_regex(lower(trim(text)), '\s+') AS tl
    FROM documents
),
s AS (
    SELECT doc_id,
           CAST(len(t) AS BIGINT) AS n_tokens,
           CAST(CAST(len(list_distinct(t)) AS BIGINT) * 1000000 // len(t) AS DOUBLE)
               / 1000000 AS ttr,
           CAST(CAST(len(list_filter(tl, w -> w IN
                ('the','a','an','and','or','of','to','in','is'))) AS BIGINT)
                * 1000000 // len(tl) AS DOUBLE) / 1000000 AS stopword_ratio,
           CAST(CAST(list_aggregate(list_transform(tl, w -> length(w)), 'sum') AS BIGINT)
                * 1000000 // len(tl) AS DOUBLE) / 1000000 AS mean_word_len
    FROM toks
)
SELECT doc_id, n_tokens, ttr, stopword_ratio, mean_word_len
FROM s
WHERE n_tokens >= 30 AND ttr >= 0.2 AND stopword_ratio >= 0.01
"""


def q_sample_balanced_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Balanced-corpus construction: cap every language at K documents,
    chosen deterministically by hash order (NOT by doc_id order, which
    would bias toward early ids; the hash is a reproducible shuffle).
    One shuffle on lang for the window rank; at 100 TB the per-stratum
    rank is the standard top-k-per-group shape (partial top-k per map
    task via the window's rank pushdown under AQE)."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    h = portable_hash(F.col("doc_id").cast("string"))
    w = Window.partitionBy("lang").orderBy(h.asc(), F.col("doc_id").asc())
    return (
        docs.select("doc_id", "lang", h.alias("h"))
        .withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= 40)
        .select("doc_id", "lang", "rk")
    )


SQL_SAMPLE_BALANCED_LANG = f"""
SELECT doc_id, lang, rk FROM (
    SELECT doc_id, lang,
           CAST(row_number() OVER (
               PARTITION BY lang
               ORDER BY {_HASH.format(x="CAST(doc_id AS VARCHAR)")} ASC, doc_id ASC
           ) AS INT) AS rk
    FROM documents
) WHERE rk <= 40
"""


def q_text_chunks_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    from movie_data_transformer_spark.operators.text import chunk_documents_sliding

    return chunk_documents_sliding(
        load_table(spark, sf_dir, "documents"), window=64, stride=32
    )


SQL_TEXT_CHUNKS_SLIDING = r"""
WITH toks AS (
    SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents
),
c AS (
    SELECT doc_id, t,
           unnest(range(0, CAST(ceil(len(t) / 32.0) AS INT))) AS chunk_idx
    FROM toks
)
SELECT doc_id,
       CAST(chunk_idx AS INT) AS chunk_idx,
       CAST(chunk_idx * 32 AS INT) AS start_tok,
       array_to_string(t[chunk_idx * 32 + 1 : chunk_idx * 32 + 64], ' ') AS chunk_text,
       CAST(len(t[chunk_idx * 32 + 1 : chunk_idx * 32 + 64]) AS INT) AS n_tokens
FROM c
"""




def q_sample_temperature_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature (alpha=0.5) source re-mixing — the GPT-3/mT5 data-mixing
    rule: target share of language l is n_l^alpha / sum(n^alpha), so
    over-represented languages are down-sampled toward the flattened
    distribution. Keep rate r_l = min(1, target_share/actual_share) =
    min(1, (sqrt(n_l) * N) / (sum(sqrt) * n_l)); membership is the
    deterministic portable hash, so the sample is bit-reproducible.
    The ONLY FP step is floor(sqrt(n) * 1e6) — floor of an identical
    IEEE double is bit-identical across engines (unlike round(), whose
    midpoint handling diverges — NOTES.md pitfalls); everything after
    runs in exact integer micro-units, so the keep-rate, the hash cut,
    and the sampled counts are midpoint-proof by construction.
    Output: per-language audit (n_docs, n_sampled, rate)."""
    docs = load_table(spark, sf_dir, "documents")
    stats = docs.groupBy("lang").agg(F.count("*").alias("n_docs")).withColumn(
        "w_micro", F.expr("CAST(floor(sqrt(n_docs) * 1000000) AS BIGINT)")
    )
    tot = stats.agg(
        F.sum("w_micro").alias("wsum_micro"), F.sum("n_docs").alias("n")
    )
    rates = (
        stats.crossJoin(F.broadcast(tot))
        .withColumn(
            "rate_micro",
            F.expr(
                "least(CAST(1000000 AS BIGINT),"
                " CAST(w_micro AS DECIMAL(38,0)) * n * 1000000"
                " div (CAST(wsum_micro AS DECIMAL(38,0)) * n_docs))"
            ),
        )
        .select("lang", "n_docs", "rate_micro")
    )
    sampled = (
        docs.join(F.broadcast(rates), "lang")
        .filter(
            portable_hash(F.col("doc_id").cast("string")) % 1000000
            < F.col("rate_micro")
        )
        .groupBy("lang")
        .agg(F.count("*").alias("n_sampled"))
    )
    return rates.join(sampled, "lang", "left").select(
        "lang",
        "n_docs",
        F.coalesce("n_sampled", F.lit(0)).alias("n_sampled"),
        (F.col("rate_micro").cast("double") / F.lit(1000000.0)).alias("rate"),
    )


SQL_SAMPLE_TEMPERATURE = f"""
WITH s AS (
    SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(floor(sqrt(count(*)) * 1000000) AS BIGINT) AS w_micro
    FROM documents GROUP BY 1
),
t AS (SELECT CAST(sum(w_micro) AS BIGINT) AS wsum_micro,
             CAST(sum(n_docs) AS BIGINT) AS n FROM s),
r AS (
    SELECT lang, n_docs,
           least(CAST(1000000 AS BIGINT),
                 CAST(CAST(w_micro AS HUGEINT) * t.n * 1000000
                      // (CAST(wsum_micro AS HUGEINT) * n_docs) AS BIGINT))
               AS rate_micro
    FROM s, t
),
c AS (
    SELECT d.lang, count(*) AS n_sampled
    FROM documents d JOIN r USING (lang)
    WHERE {_HASH.format(x="CAST(d.doc_id AS VARCHAR)")} % 1000000 < rate_micro
    GROUP BY 1
)
SELECT r.lang, r.n_docs, coalesce(c.n_sampled, 0) AS n_sampled,
       CAST(rate_micro AS DOUBLE) / 1000000 AS rate
FROM r LEFT JOIN c USING (lang)
"""


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pack 64-token document chunks into 200-token training rows
    (greedy first-fit per hash bucket, applyInPandas). Rows-only: the
    assignment is procedural, not SQL-expressible; budget/determinism
    invariants are pinned in tests/test_text_multimodal.py."""
    from movie_data_transformer_spark.operators.text import chunk_documents, pack_sequences

    docs = load_table(spark, sf_dir, "documents")
    return pack_sequences(chunk_documents(docs))


def q_training_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle + shard assignment for training-data
    export: every document gets a shard (hash-partitioned, 16 shards) and
    a position within its shard (ordered by an independent second hash) —
    the reproducible replacement for orderBy(rand()) when writing
    shuffled training shards. Two md5 domains ('shard:'/'pos:') so shard
    assignment and within-shard order are independent; ties broken by
    doc_id so the layout is total. One shuffle (the window partition);
    at 100 TB this is repartition(shard) + sortWithinPartitions(pos) and
    a partitioned write — no global sort."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    sid = F.col("doc_id").cast("string")
    shard = (portable_hash(F.concat(F.lit("shard:"), sid)) % 16).alias("shard")
    skey = portable_hash(F.concat(F.lit("pos:"), sid)).alias("shuffle_key")
    w = Window.partitionBy("shard").orderBy(
        F.col("shuffle_key").asc(), F.col("doc_id").asc()
    )
    return (
        docs.select("doc_id", shard, skey)
        .withColumn("pos", F.row_number().over(w))
        .select("doc_id", "shard", "pos")
    )


_H_SHARD = _HASH.format(x="'shard:' || CAST(doc_id AS VARCHAR)")
_H_POS = _HASH.format(x="'pos:' || CAST(doc_id AS VARCHAR)")

SQL_TRAINING_SHARDS = f"""
SELECT doc_id,
       {_H_SHARD} % 16 AS shard,
       CAST(row_number() OVER (
           PARTITION BY {_H_SHARD} % 16
           ORDER BY {_H_POS} ASC, doc_id ASC
       ) AS INTEGER) AS pos
FROM documents
"""


def q_export_training_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The step after shard assignment: ACTUALLY EXPORT the training
    shards (partitioned parquet write, sorted within each shard) and
    emit the manifest a downstream trainer consumes — per shard: doc
    count, total whitespace tokens, doc-id range, an assignment
    checksum (sum over docs of doc_id * pos — any lost/duplicated/
    re-assigned doc changes it), and `is_sorted`: whether the PHYSICAL
    row order of the exported files really is the pos order
    (row_number over monotonically_increasing_id in read order — each
    shard is one parquet file here, so scan order IS file row order; a
    dropped/broken sortWithinPartitions flips this to false and breaks
    the oracle hash, which expects true). The manifest is computed FROM
    THE EXPORTED FILES (read-back), so the oracle — which recomputes it
    straight from the source table — checks the whole write->read round
    trip, not just the assignment arithmetic.

    Scale: one shuffle for the shard window (same as training_shards),
    a partitioned write (16 files here; at 100 TB,
    repartition(shard).sortWithinPartitions(pos) with thousands of
    shards), and a manifest agg over shard-partitioned data (map-side
    partials, 16 output rows). The is_sorted audit assumes one file per
    shard and unsplit scans (true here; at scale run it per file)."""
    import shutil
    import tempfile

    from movie_data_transformer_spark.streaming.harness import register_cleanup_dir

    assign = q_training_shards(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    export = assign.join(docs, "doc_id").selectExpr(
        "doc_id",
        "shard",
        "pos",
        "size(split(trim(text), '\\\\s+')) AS n_tokens",
        "text",
    )
    out = tempfile.mkdtemp(prefix="mdt_export_")
    # sort by (shard, pos), not pos alone: the dynamic-partition writer
    # requires rows ordered by the partition column and will inject its
    # own NON-STABLE local sort on `shard` if the incoming ordering
    # doesn't already lead with it — which scrambles pos within each
    # shard file (caught by the is_sorted audit going false)
    (
        export.repartition("shard")
        .sortWithinPartitions("shard", "pos")
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(out)
    )
    read_back = spark.read.parquet(out).withColumn(
        "read_seq", F.monotonically_increasing_id()
    )
    read_ordered = read_back.withColumn(
        "read_rank",
        F.row_number().over(
            Window.partitionBy("shard").orderBy(F.col("read_seq").asc())
        ),
    )
    manifest = (
        read_ordered.groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
            F.min("doc_id").cast("bigint").alias("min_doc_id"),
            F.max("doc_id").cast("bigint").alias("max_doc_id"),
            F.sum(F.col("doc_id") * F.col("pos")).cast("bigint").alias(
                "assign_checksum"
            ),
            F.bool_and(F.col("pos") == F.col("read_rank")).alias("is_sorted"),
        )
        .withColumn("shard", F.col("shard").cast("bigint"))
    )
    stable = register_cleanup_dir(tempfile.mkdtemp(prefix="mdt_export_manifest_"))
    manifest.write.mode("overwrite").parquet(stable)
    shutil.rmtree(out, ignore_errors=True)
    return spark.read.parquet(stable)


SQL_EXPORT_TRAINING_MANIFEST = f"""
WITH assign AS (
    SELECT doc_id,
           {_H_SHARD} % 16 AS shard,
           CAST(row_number() OVER (
               PARTITION BY {_H_SHARD} % 16
               ORDER BY {_H_POS} ASC, doc_id ASC
           ) AS INTEGER) AS pos,
           len(string_split_regex(trim(text), '\\s+')) AS n_tokens
    FROM documents
)
SELECT CAST(shard AS BIGINT) AS shard,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       CAST(min(doc_id) AS BIGINT) AS min_doc_id,
       CAST(max(doc_id) AS BIGINT) AS max_doc_id,
       CAST(sum(doc_id * pos) AS BIGINT) AS assign_checksum,
       CAST(1 AS BOOLEAN) AS is_sorted
FROM assign GROUP BY shard
"""


def q_docs_canonical_per_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-document selection over exact-duplicate clusters: group
    the (duplicate-augmented) corpus by content digest and keep the
    best-quality member (longest original text, doc_id as tiebreak),
    reporting the dropped copies. The keep-one-per-cluster step that
    follows any dedup pass; arg-max by quality instead of exact_dedup's
    min-id convenience. Single hash aggregation — max_by for the winner,
    no second pass."""
    docs = load_table(spark, sf_dir, "documents")
    corpus = augmented_corpus(docs)
    return (
        corpus.select("doc_id", F.md5(F.col("text")).alias("digest"), "n_chars")
        .groupBy("digest")
        .agg(
            F.expr(
                "max_by(doc_id, named_struct('a', n_chars, 'b', -doc_id))"
            ).alias("canon_doc_id"),
            F.count("*").alias("n_members"),
        )
        .filter(F.col("n_members") >= 2)
    )


SQL_DOCS_CANONICAL_PER_CLUSTER = f"""
WITH {CORPUS_ORACLE_CTE},
ranked AS (
    SELECT md5(text) AS digest, doc_id, n_chars,
           row_number() OVER (
               PARTITION BY md5(text)
               ORDER BY n_chars DESC, doc_id ASC
           ) AS rn,
           count(*) OVER (PARTITION BY md5(text)) AS n_members
    FROM corpus
)
SELECT digest, doc_id AS canon_doc_id, CAST(n_members AS BIGINT) AS n_members
FROM ranked WHERE rn = 1 AND n_members >= 2
"""


def q_quality_gate_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stage drop observability for the quality gate: how many docs
    enter and survive each sequential cut (length -> type-token ratio ->
    stopword presence). The counts come from ONE aggregation over
    per-doc pass flags (no per-stage rescans); the per-stage rows are
    exploded from that single aggregate row. The pipeline-report op
    every curation run logs before training."""
    from movie_data_transformer_spark.operators.text import quality_scores, text_stats

    docs = load_table(spark, sf_dir, "documents")
    stats = text_stats(docs).select("doc_id", "n_tokens", "ttr")
    qual = quality_scores(docs).select("doc_id", "stopword_ratio")
    f1 = F.col("n_tokens") >= 30
    f2 = f1 & (F.col("ttr") >= 0.2)
    f3 = f2 & (F.col("stopword_ratio") >= 0.01)
    agg = stats.join(qual, "doc_id").agg(
        F.count("*").alias("n0"),
        F.count(F.when(f1, 1)).alias("n1"),
        F.count(F.when(f2, 1)).alias("n2"),
        F.count(F.when(f3, 1)).alias("n3"),
    )
    stages = F.array(
        F.struct(F.lit(1).alias("stage"), F.lit("min_length").alias("stage_name"),
                 F.col("n0").alias("n_in"), F.col("n1").alias("n_out")),
        F.struct(F.lit(2).alias("stage"), F.lit("ttr").alias("stage_name"),
                 F.col("n1").alias("n_in"), F.col("n2").alias("n_out")),
        F.struct(F.lit(3).alias("stage"), F.lit("stopwords").alias("stage_name"),
                 F.col("n2").alias("n_in"), F.col("n3").alias("n_out")),
    )
    from movie_data_transformer_spark.functions import micro_ratio

    return (
        agg.select(F.explode(stages).alias("s"))
        .select("s.stage", "s.stage_name", "s.n_in", "s.n_out")
        .withColumn(
            "drop_rate",
            micro_ratio(F.col("n_in") - F.col("n_out"), F.col("n_in")),
        )
    )


SQL_QUALITY_GATE_FUNNEL = r"""
WITH toks AS (
    SELECT doc_id, string_split_regex(trim(text), '\s+') AS t,
           string_split_regex(lower(trim(text)), '\s+') AS tl
    FROM documents
),
s AS (
    SELECT doc_id,
           CAST(len(t) AS BIGINT) AS n_tokens,
           CAST(CAST(len(list_distinct(t)) AS BIGINT) * 1000000 // len(t) AS DOUBLE)
               / 1000000 AS ttr,
           CAST(CAST(len(list_filter(tl, w -> w IN
                ('the','a','an','and','or','of','to','in','is'))) AS BIGINT)
                * 1000000 // len(tl) AS DOUBLE) / 1000000 AS stopword_ratio
    FROM toks
),
agg AS (
    SELECT count(*) AS n0,
           count(*) FILTER (n_tokens >= 30) AS n1,
           count(*) FILTER (n_tokens >= 30 AND ttr >= 0.2) AS n2,
           count(*) FILTER (n_tokens >= 30 AND ttr >= 0.2
                            AND stopword_ratio >= 0.01) AS n3
    FROM s
)
SELECT stage, stage_name,
       CAST(n_in AS BIGINT) AS n_in, CAST(n_out AS BIGINT) AS n_out,
       CAST(CAST(n_in - n_out AS BIGINT) * 1000000 // n_in AS DOUBLE) / 1000000
           AS drop_rate
FROM (
    SELECT 1 AS stage, 'min_length' AS stage_name, n0 AS n_in, n1 AS n_out FROM agg
    UNION ALL
    SELECT 2, 'ttr', n1, n2 FROM agg
    UNION ALL
    SELECT 3, 'stopwords', n2, n3 FROM agg
)
"""

TOKEN_BUDGET = 100_000


def q_token_budget_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Allocate a global token budget across sources proportionally to
    their token counts, with LARGEST-REMAINDER rounding so the quotas
    sum exactly to the budget. ALL-INTEGER math: base quota =
    (B * tok_s) div T, and the fractional remainders are compared as
    integer remainders (B * tok_s) mod T — bit-exact on any engine, no
    floating point anywhere. The mixture-weighting step that turns
    corpus stats into per-source sampling quotas."""
    from movie_data_transformer_spark.operators.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    per_source = docs.groupBy("source").agg(
        F.sum(F.size(tokens(F.col("text"))).cast("bigint")).alias("n_tokens_total")
    )
    w = Window.partitionBy()  # |sources| rows — trivially small
    sized = per_source.select(
        "source",
        "n_tokens_total",
        F.expr(f"CAST({TOKEN_BUDGET} AS BIGINT) * n_tokens_total DIV "
               "sum(n_tokens_total) OVER ()").alias("base_quota"),
        F.expr(f"CAST({TOKEN_BUDGET} AS BIGINT) * n_tokens_total % "
               "sum(n_tokens_total) OVER ()").alias("rem"),
    )
    n_extra = F.lit(TOKEN_BUDGET) - F.sum("base_quota").over(w)
    ranked = sized.withColumn(
        "rr", F.row_number().over(Window.orderBy(F.col("rem").desc(), F.col("source").asc()))
    ).withColumn("n_extra", n_extra)
    return ranked.select(
        "source",
        "n_tokens_total",
        (F.col("base_quota") + F.when(F.col("rr") <= F.col("n_extra"), 1).otherwise(0))
        .cast("bigint")
        .alias("token_quota"),
    )


SQL_TOKEN_BUDGET_BY_SOURCE = r"""
WITH per_source AS (
    SELECT source,
           CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS BIGINT)
               AS n_tokens_total
    FROM documents GROUP BY 1
),
sized AS (
    SELECT source, n_tokens_total,
           (CAST(100000 AS BIGINT) * n_tokens_total)
               // sum(n_tokens_total) OVER () AS base_quota,
           (CAST(100000 AS BIGINT) * n_tokens_total)
               % sum(n_tokens_total) OVER () AS rem
    FROM per_source
),
ranked AS (
    SELECT source, n_tokens_total, base_quota,
           row_number() OVER (ORDER BY rem DESC, source ASC) AS rr,
           100000 - sum(base_quota) OVER () AS n_extra
    FROM sized
)
SELECT source, n_tokens_total,
       CAST(base_quota + CASE WHEN rr <= n_extra THEN 1 ELSE 0 END AS BIGINT)
           AS token_quota
FROM ranked
"""


SYSTEMATIC_K = 100


def q_sample_weighted_systematic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Systematic PPS sampling: draw exactly K=100 document slots with
    probability proportional to size (n_chars), by walking K evenly
    spaced points through the cumulative-weight axis. A document whose
    weight interval [cum_prev, cum) contains m points is drawn m times
    (n_copies) — so oversized docs repeat, undersized ones thin out, and
    sum(n_copies) == K EXACTLY. ALL-INTEGER math (the point-in-interval
    count reduces to a difference of ceil-divisions) — bit-exact on any
    engine; the deterministic replacement for rand()-based weighted
    sampling when building training mixtures. The cumulative sum IS the
    standard two-pass parallel prefix-sum (operators/ordered_stats):
    bucket counts + broadcast offsets + a per-bucket window, never a
    single-partition sort."""
    docs = load_table(spark, sf_dir, "documents")
    k = SYSTEMATIC_K
    # the cumulative-weight axis comes from the two-pass parallel
    # prefix-sum (ordered_stats) the docstring promises — no
    # single-partition window at doc grain; the input is a narrow
    # scan-rooted (doc_id, n_chars) frame, so the extra passes re-read
    # two pruned parquet columns instead of caching
    sized = attach_order_stats(
        docs.select("doc_id", F.col("n_chars").alias("weight")),
        [F.col("doc_id").asc()],
        "doc_id",
        False,
        running={"cum": "weight"},
        totals={"total_w": "weight"},
        persist_input=False,
    )
    n_copies = F.expr(
        f"(cum * {k} + total_w - 1) DIV total_w "
        f"- ((cum - weight) * {k} + total_w - 1) DIV total_w"
    )
    return (
        sized.withColumn("n_copies", n_copies.cast("bigint"))
        .filter(F.col("n_copies") > 0)
        .select("doc_id", "weight", "n_copies")
    )


SQL_SAMPLE_WEIGHTED_SYSTEMATIC = f"""
WITH c AS (
    SELECT doc_id, n_chars AS weight,
           sum(n_chars) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
           sum(n_chars) OVER () AS total_w
    FROM documents
)
SELECT doc_id, weight,
       CAST((cum * {SYSTEMATIC_K} + total_w - 1) // total_w
            - ((cum - weight) * {SYSTEMATIC_K} + total_w - 1) // total_w
            AS BIGINT) AS n_copies
FROM c
WHERE (cum * {SYSTEMATIC_K} + total_w - 1) // total_w
      - ((cum - weight) * {SYSTEMATIC_K} + total_w - 1) // total_w > 0
"""


def q_contamination_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram-collision decontamination (the GPT-3/PaLM recipe): exact
    md5-digest matching (contamination_check) only catches verbatim
    copies, but a benchmark leaks into training data through PARTIAL
    overlap too. This flags (train_doc, bench_doc) pairs sharing >= 5
    distinct word 8-grams, after dropping promiscuous 8-grams that occur
    in more than 10 benchmark docs (boilerplate stop-grams — the
    standard skew guard, and at 100 TB the thing that keeps the
    shingle-keyed shuffle from hot-spotting; the join key is the 8-gram
    itself here, hash-bucketed at scale). The planted exact copies
    (+200000) must surface with their full window count; near-dups
    (+100000, 's'-words removed) surface only where 8 consecutive
    surviving words align."""
    n, min_shared, max_df = 8, 5, 10
    from movie_data_transformer_spark.operators.dedup import doc_shingles

    corpus = augmented_corpus(load_table(spark, sf_dir, "documents"))
    train = corpus.filter(F.col("doc_id") >= 100000)
    bench = load_table(spark, sf_dir, "documents").select(
        "doc_id", normalize_text(F.col("text")).alias("text")
    )
    t_sh = doc_shingles(train, n=n).select(
        F.col("doc_id").alias("train_doc"), "shingle"
    )
    b_sh = doc_shingles(bench, n=n).select(
        F.col("doc_id").alias("bench_doc"), "shingle"
    )
    rare = (
        b_sh.groupBy("shingle")
        .agg(F.count("*").alias("_df"))
        .filter(F.col("_df") <= max_df)
        .select("shingle")
    )
    return (
        t_sh.join(rare, "shingle", "left_semi")
        .join(b_sh, "shingle")
        .groupBy("train_doc", "bench_doc")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


SQL_CONTAMINATION_NGRAM = rf"""
WITH {CORPUS_ORACLE_CTE},
tr AS (SELECT doc_id, text FROM corpus WHERE doc_id >= 100000),
be AS (SELECT doc_id,
              lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS text
       FROM documents),
t_toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM tr),
b_toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM be),
t_idx AS (SELECT doc_id, t, unnest(range(1, greatest(len(t) - 7, 1) + 1)) AS i FROM t_toks),
b_idx AS (SELECT doc_id, t, unnest(range(1, greatest(len(t) - 7, 1) + 1)) AS i FROM b_toks),
t_sh AS (SELECT DISTINCT doc_id AS train_doc,
                concat_ws(' ', t[i], t[i+1], t[i+2], t[i+3], t[i+4], t[i+5], t[i+6], t[i+7]) AS shingle
         FROM t_idx),
b_sh AS (SELECT DISTINCT doc_id AS bench_doc,
                concat_ws(' ', t[i], t[i+1], t[i+2], t[i+3], t[i+4], t[i+5], t[i+6], t[i+7]) AS shingle
         FROM b_idx),
rare AS (SELECT shingle FROM b_sh GROUP BY 1 HAVING count(*) <= 10)
SELECT train_doc, bench_doc, CAST(count(*) AS BIGINT) AS n_shared
FROM t_sh
JOIN rare USING (shingle)
JOIN b_sh USING (shingle)
GROUP BY 1, 2
HAVING count(*) >= 5
"""


def q_quality_classifier_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filtering (the FineWeb-Edu / fastText-style
    classifier gate): score every document with a hashed bag-of-words
    LINEAR model — per-token weight looked up by feature hash, document
    logit = sum of token weights, keep iff logit >= 0.

    The environment ships no trained model artifact, so the weight table
    is a deterministic stand-in: w(tok) = portable_md5_hash(tok) % 2001
    - 1000 (integers in [-1000, 1000]). Everything a real deployment
    needs is exercised for real: feature hashing, weight lookup, the
    per-document fold, and the threshold gate.

    Scale: ZERO shuffles — one generated-SQL projection (the r5 py4j
    lesson: a single selectExpr, no per-token Column loop) whose
    aggregate() fold runs map-side inside the scan. At 100 TB this is
    parquet-read speed, the cheapest possible classifier inference; a
    real model swaps the hash expression for a broadcast weight-map
    lookup without touching the plan shape. Integer weights keep the
    logit exact (no FP summation-order hazard), so the oracle is exact.
    """
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.selectExpr(
            "doc_id",
            "lang",
            r"split(trim(text), '\\s+') AS t",
        )
        .selectExpr(
            "doc_id",
            "lang",
            "CAST(size(t) AS BIGINT) AS n_tokens",
            # single source for the weight fold; the label derives from
            # the projected column, never a second copy of the expression
            "aggregate(t, 0L, (acc, x) -> acc +"
            " ((CAST(conv(substr(md5(x), 1, 8), 16, 10) AS BIGINT) % 2001) - 1000))"
            " AS logit_sum",
        )
        .selectExpr(
            "doc_id",
            "lang",
            "n_tokens",
            "logit_sum",
            "IF(logit_sum >= 0, 'keep', 'drop') AS label",
        )
    )


SQL_QUALITY_CLASSIFIER_SCORES = r"""
WITH toks AS (
    SELECT doc_id, lang, string_split_regex(trim(text), '\s+') AS t FROM documents
),
scored AS (
    SELECT doc_id, lang,
           CAST(len(t) AS BIGINT) AS n_tokens,
           CAST(list_sum(list_transform(t, x ->
                (CAST('0x' || substr(md5(x), 1, 8) AS BIGINT) % 2001) - 1000))
               AS BIGINT) AS logit_sum
    FROM toks
)
SELECT doc_id, lang, n_tokens, logit_sum,
       CASE WHEN logit_sum >= 0 THEN 'keep' ELSE 'drop' END AS label
FROM scored
"""


QUERIES = {
    "sample_hash_20pct": (q_sample_hash_20pct, SQL_SAMPLE_HASH),
    "quality_classifier_scores": (
        q_quality_classifier_scores,
        SQL_QUALITY_CLASSIFIER_SCORES,
    ),
    "sample_weighted_systematic": (
        q_sample_weighted_systematic,
        SQL_SAMPLE_WEIGHTED_SYSTEMATIC,
    ),
    "quality_gate_funnel": (q_quality_gate_funnel, SQL_QUALITY_GATE_FUNNEL),
    "token_budget_by_source": (q_token_budget_by_source, SQL_TOKEN_BUDGET_BY_SOURCE),
    "training_shards": (q_training_shards, SQL_TRAINING_SHARDS),
    "export_training_manifest": (
        q_export_training_manifest,
        SQL_EXPORT_TRAINING_MANIFEST,
    ),
    "docs_canonical_per_cluster": (
        q_docs_canonical_per_cluster,
        SQL_DOCS_CANONICAL_PER_CLUSTER,
    ),
    "sample_balanced_lang": (q_sample_balanced_lang, SQL_SAMPLE_BALANCED_LANG),
    "text_chunks_sliding": (q_text_chunks_sliding, SQL_TEXT_CHUNKS_SLIDING),
    "train_val_test_split": (q_train_val_test_split, SQL_TRAIN_VAL_TEST),
    "contamination_check": (q_contamination_check, SQL_CONTAMINATION),
    "corpus_quality_filter": (q_corpus_quality_filter, SQL_CORPUS_QUALITY_FILTER),
    "sample_temperature_lang": (q_sample_temperature_lang, SQL_SAMPLE_TEMPERATURE),
    "pack_sequences": (q_pack_sequences, None),  # procedural packing -> rows-only
    "contamination_ngram_overlap": (
        q_contamination_ngram_overlap,
        SQL_CONTAMINATION_NGRAM,
    ),
}
