"""Schema evolution (mergeSchema reads) — a lake-operations gap between
a streaming ingest and a scannable table. Plus physical-plan audits for
the session's new operators."""

from __future__ import annotations

from tests.plan_audit import audit_plan


def test_merge_schema_read_unions_evolved_schemas(spark, tmp_path):
    """Schema evolution: a column added mid-stream must not break the
    table scan — mergeSchema=true unions the footers; old files read the
    new column as NULL."""
    path = str(tmp_path / "evolving")
    spark.createDataFrame([(1, "a")], "id long, name string").write.parquet(
        path + "/batch=0"
    )
    spark.createDataFrame(
        [(2, "b", 9.5)], "id long, name string, score double"
    ).write.parquet(path + "/batch=1")

    merged = spark.read.option("mergeSchema", "true").parquet(path)
    assert set(merged.columns) == {"id", "name", "score", "batch"}
    rows = {r.id: r for r in merged.collect()}
    assert rows[1].score is None and rows[2].score == 9.5


def test_new_operator_plan_shapes(spark, sf_dir):
    from movie_data_transformer_spark.operators.analytics_queries import (
        q_events_value_outliers,
        q_incremental_agg_rollup,
    )
    from movie_data_transformer_spark.operators.lm_queries import q_text_unigram_lm

    # outliers: tiny stats side must be broadcast, fact side never
    # reshuffled for the join; no cartesian anywhere
    a = audit_plan(q_events_value_outliers(spark, sf_dir))
    assert a.n_broadcasts >= 1
    assert not a.has_cartesian
    # fact side feeds the join directly — its only exchange is the tiny
    # stats aggregation (1 hash exchange total in the whole plan)
    assert a.n_exchanges == 1

    # rollup: state+delta merge is pure hash aggregation — no joins at all
    a = audit_plan(q_incremental_agg_rollup(spark, sf_dir))
    assert not a.has_cartesian
    assert "Join" not in a.text

    # unigram LM: tf join + two aggs — bounded exchange count, no cartesian
    a = audit_plan(q_text_unigram_lm(spark, sf_dir))
    assert not a.has_cartesian
    assert a.n_exchanges <= 5
