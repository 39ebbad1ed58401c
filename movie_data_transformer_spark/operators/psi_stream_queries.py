"""Streaming twin of score_psi_bins: the drift monitor as it actually
runs in production — events arrive in micro-batches, per-bin counts
fold into a tiny versioned state (8 rows), and the PSI report is
re-derivable after every trigger. Counting is ASSOCIATIVE, so any
micro-batch slicing yields the same final counts and the entry carries
the SAME full DuckDB oracle as the batch form (the stream_cdc_apply /
stream_throttle_ttl discipline).

Feed: events serialized once per (sf, fingerprint) as 4 JSONL slices
(availableNow + maxFilesPerTrigger=1 -> 4 triggers). The bin label and
ref/cur flag are computed BEFORE serialization — JSON round-trips the
strings/ints exactly, and the stream then never touches doubles.

State: `harness.fold_batch_versions` with the count fold, so
state_{i+1} = foldCounts(state_i ∪ counts(batch_i)). Per-trigger work is
O(batch) + an 8-row state union; at 100 TB the state is still 8 rows
per monitored score — this is the cheapest possible stateful stream.

Entry `stream_psi_monitor` (FULL oracle = SQL_SCORE_PSI_BINS).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from movie_data_transformer_spark.fixtures import (
    fixture_cache_dir,
    publish_fixture_dir,
    write_jsonl_feed,
)
from movie_data_transformer_spark.operators.psi_queries import (
    _N_BINS,
    SPLIT,
    SQL_SCORE_PSI_BINS,
    _bin_expr,
)
from movie_data_transformer_spark.sources.jsonl import stream_jsonl
from movie_data_transformer_spark.sources.tables import load_table
from movie_data_transformer_spark.streaming.harness import fold_batch_versions


def _psi_jsonl_dir(spark: SparkSession, sf_dir: str) -> str:
    d = fixture_cache_dir("mdt_psistream_v1", sf_dir)

    def _build(out: str) -> None:
        rows = load_table(spark, sf_dir, "events").selectExpr(
            f"{_bin_expr()} AS bin",
            f"CAST(ts < TIMESTAMP '{SPLIT}' AS INT) AS is_ref",
        )
        write_jsonl_feed(rows.repartition(4), out, "scored")

    return publish_fixture_dir(_build, d)


def _fold_counts(df: DataFrame) -> DataFrame:
    return df.groupBy("bin").agg(
        F.sum("ref_n").cast("long").alias("ref_n"),
        F.sum("cur_n").cast("long").alias("cur_n"),
    )


def q_stream_psi_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    scored = stream_jsonl(spark, "bin string, is_ref int", _psi_jsonl_dir(spark, sf_dir), 1)
    counts = fold_batch_versions(
        scored.selectExpr(
            "bin", "CAST(is_ref AS LONG) AS ref_n", "CAST(1 - is_ref AS LONG) AS cur_n"
        ),
        _fold_counts,
        fixture_cache_dir("mdt_psistate_v1", sf_dir),
    )
    totals = counts.agg(
        F.sum("ref_n").cast("bigint").alias("ref_tot"),
        F.sum("cur_n").cast("bigint").alias("cur_tot"),
    )
    return counts.crossJoin(F.broadcast(totals)).selectExpr(
        "bin",
        "CAST(ref_n AS BIGINT) AS ref_n",
        "CAST(cur_n AS BIGINT) AS cur_n",
        f"CAST(floor(("
        f" CAST(ref_n + 1 AS DOUBLE) / (ref_tot + {_N_BINS})"
        f" - CAST(cur_n + 1 AS DOUBLE) / (cur_tot + {_N_BINS})"
        f") * ln("
        f" (CAST(ref_n + 1 AS DOUBLE) * (cur_tot + {_N_BINS})) /"
        f" (CAST(cur_n + 1 AS DOUBLE) * (ref_tot + {_N_BINS}))"
        f") * 1000000) AS BIGINT) AS psi_term_micro",
    )


QUERIES = {
    "stream_psi_monitor": (q_stream_psi_monitor, SQL_SCORE_PSI_BINS),
}
