"""Registry entries for event-time windowing (M4) — batch-replay forms,
oracle-checked via epoch-bucket arithmetic in DuckDB — plus the real
Structured-Streaming continuous-ingest dedup (dedup_stream.py), whose
accumulated pairs log is held to the batch-form oracle."""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from movie_data_transformer_spark.fixtures import (
    fixture_cache_dir,
    publish_fixture_dir,
    write_jsonl_feed,
)
from movie_data_transformer_spark.operators.dedup import augmented_corpus
from movie_data_transformer_spark.sources.tables import load_table
from movie_data_transformer_spark.streaming.windows import (
    dedup_events,
    session_windows,
    sliding_counts,
    tumbling_counts,
)


def q_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tumbling_counts(load_table(spark, sf_dir, "events"))


SQL_STREAM_TUMBLING = """
SELECT CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS bucket_start,
       event_type,
       count(*) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events GROUP BY 1, 2
"""


def q_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sliding_counts(load_table(spark, sf_dir, "events"))


# each event belongs to the two slide-aligned windows covering it:
# starts floor(t/1800)*1800 and that minus 1800 (width 3600, slide 1800)
SQL_STREAM_SLIDING = """
WITH assigned AS (
    SELECT CAST(floor(epoch(ts) / 1800) * 1800 AS BIGINT) AS bucket_start, event_type
    FROM events
    UNION ALL
    SELECT CAST(floor(epoch(ts) / 1800) * 1800 - 1800 AS BIGINT) AS bucket_start, event_type
    FROM events
)
SELECT bucket_start, event_type, count(*) AS n_events
FROM assigned GROUP BY 1, 2
"""


def q_stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    return session_windows(load_table(spark, sf_dir, "events"))


# gaps-and-islands: a new session starts when the gap to the previous
# event of the same user exceeds 30 min; session_start = min ts in island
SQL_STREAM_SESSION = """
WITH seq AS (
    SELECT user_id, ts,
           CASE WHEN epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts))
                     > 1800
                OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                THEN 1 ELSE 0 END AS new_session
    FROM events
),
islands AS (
    SELECT user_id, ts,
           sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                  ROWS UNBOUNDED PRECEDING) AS session_id
    FROM seq
)
SELECT user_id,
       CAST(floor(epoch(min(ts))) AS BIGINT) AS session_start,
       count(*) AS n_events
FROM islands GROUP BY user_id, session_id
"""


def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup_events(load_table(spark, sf_dir, "events"))


SQL_STREAM_DEDUP = """
SELECT DISTINCT user_id, event_type, strftime(ts, '%Y-%m-%d') AS day
FROM events
"""


def _ingest_jsonl_dir(spark: SparkSession, sf_dir: str) -> str:
    """Write (once per sf + source fingerprint) the ingest-batch docs —
    the augmented corpus's planted +100000/+200000 near/exact dups — as
    JSONL files under /tmp, distributed (to_json text write, no driver
    collect), split across 4 files so availableNow slices them into
    multiple micro-batches."""
    # v1: bump when augmented_corpus/file-splitting changes (derived state)
    d = fixture_cache_dir("mdt_ingest_v1", sf_dir)

    def _build(out: str) -> None:
        batch = augmented_corpus(load_table(spark, sf_dir, "documents")).filter(
            F.col("doc_id") >= 100000
        )
        write_jsonl_feed(batch.repartition(4), out, "docs")

    return publish_fixture_dir(_build, d)


def q_stream_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-ingest dedup end-to-end: seed the corpus shingle index
    with the original documents, stream the planted-dup ingest files in
    single-file micro-batches, link each batch against the growing index,
    and return the accumulated pairs log. The oracle is the BATCH-form
    incremental result (full minhash pair set filtered to pairs touching
    an ingested doc) — pair-set equality holds regardless of micro-batch
    slicing because each pair is emitted exactly once, by the micro-batch
    of its later-ingested doc."""
    from movie_data_transformer_spark.streaming.dedup_stream import (
        run_streaming_incremental_dedup,
    )
    from movie_data_transformer_spark.streaming.harness import register_cleanup_dir

    corpus = augmented_corpus(load_table(spark, sf_dir, "documents"))
    seed = corpus.filter(F.col("doc_id") < 100000)
    src = _ingest_jsonl_dir(spark, sf_dir)
    # unique per-invocation work dir, left on disk for the lazy read and
    # removed at process exit
    work = register_cleanup_dir(tempfile.mkdtemp(prefix="mdt_dedup_stream_"))
    pairs_dir = run_streaming_incremental_dedup(
        spark,
        src,
        seed,
        work,
        max_files_per_trigger=1,
        max_bucket_size=5000,
    )
    return spark.read.parquet(pairs_dir).select("doc_a", "doc_b", "jaccard")


def _stream_incremental_dedup_sql() -> str:
    from movie_data_transformer_spark.operators.llm_queries import (
        _incremental_minhash_sql,
    )

    return _incremental_minhash_sql()


QUERIES = {
    "stream_tumbling_window": (q_stream_tumbling, SQL_STREAM_TUMBLING),
    "stream_sliding_window": (q_stream_sliding, SQL_STREAM_SLIDING),
    "stream_session_window": (q_stream_session, SQL_STREAM_SESSION),
    "stream_dedup_keys": (q_stream_dedup, SQL_STREAM_DEDUP),
    "stream_incremental_dedup": (
        q_stream_incremental_dedup,
        _stream_incremental_dedup_sql(),
    ),
}
