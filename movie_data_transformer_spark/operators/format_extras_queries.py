"""Round-6 format extension: SCHEMA EVOLUTION across JSONL generations —
the landing-zone reality a long-lived crawler produces: old files were
written before a column existed, new files carry it, and one unified
read must serve both. Parquet-side evolution (mergeSchema, type
widening) is already test-pinned; this binds the JSON path's rule — a
declared unified schema fills absent fields with NULL per ROW, no
rewrite of old files — to the driver's oracle gate.

The fixture derives two generations from documents by a distributed
write (even doc_ids as v1 WITHOUT lang, odd as v2 with it), so the
oracle recomputes the expected NULL pattern from the parity rule: a
reader that drops old files, fails on the missing field, or
fills the wrong default breaks the hash.

Scale: plain multi-file JSON scan with a declared schema — splits and
schedules like any landing zone; no inference pass (schema-on-read is
the contract, inference at 100 TB is a full extra scan).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from movie_data_transformer_spark.fixtures import (
    fixture_cache_dir,
    publish_fixture_dir,
    write_jsonl_feed,
)
from movie_data_transformer_spark.sources.tables import load_table


def evolution_fixture_dir(spark: SparkSession, sf_dir: str) -> str:
    d = fixture_cache_dir("mdt_jsonl_evo_v1", sf_dir)

    def _build(out: str) -> None:
        docs = load_table(spark, sf_dir, "documents")
        gens = [
            ("v1", docs.filter(F.col("doc_id") % 2 == 0).select("doc_id", "n_chars")),
            (
                "v2",
                docs.filter(F.col("doc_id") % 2 == 1).select(
                    "doc_id", "n_chars", "lang"
                ),
            ),
        ]
        for tag, df in gens:
            write_jsonl_feed(df.repartition(2), out, f"docs_{tag}")

    return publish_fixture_dir(_build, d)


def q_source_jsonl_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = evolution_fixture_dir(spark, sf_dir)
    unified = (
        spark.read.schema("doc_id BIGINT, n_chars BIGINT, lang STRING")
        .option("pathGlobFilter", "*.json")
        .json(d)
    )
    return unified.groupBy(
        F.coalesce(F.col("lang"), F.lit("__pre_schema__")).alias("lang_or_missing")
    ).agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("sum_chars"),
        F.sum(F.when(F.col("lang").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_legacy"),
    )


SQL_SOURCE_JSONL_SCHEMA_EVOLUTION = """
WITH unified AS (
    SELECT doc_id, n_chars,
           CASE WHEN doc_id % 2 = 1 THEN lang END AS lang
    FROM documents
)
SELECT coalesce(lang, '__pre_schema__') AS lang_or_missing,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       CAST(sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_legacy
FROM unified
GROUP BY 1
"""


QUERIES = {
    "source_jsonl_schema_evolution": (
        q_source_jsonl_schema_evolution,
        SQL_SOURCE_JSONL_SCHEMA_EVOLUTION,
    ),
}
