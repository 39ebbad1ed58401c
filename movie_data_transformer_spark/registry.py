"""Query registry: every operator exposed to the driver harness.

Each module under operators/ (and streaming/) contributes a dict of
  name -> (spark_fn, oracle_sql_or_None)
via its `QUERIES` attribute. spark_fn: (spark, sf_dir) -> DataFrame.
oracle is ANSI SQL runnable by DuckDB against views named after the
parquet tables (region nation customer supplier part orders lineitem
events documents embeddings). None -> rows-only check.

Column-name discipline: the driver sorts columns by name before hashing,
so every computed column is aliased identically on both sides.

Scalar-schema discipline: the driver canonicalizes results with pandas
`sort_values`, which raises `TypeError: unhashable type: 'list'` on
list/dict cells (r01 agg_approx_sketches + r06 emb_int8_quantize both
failed this way). NO registered query may expose a top-level
ArrayType/MapType/StructType column — serialize containers at the
registry surface (`array_join(...)` / `to_json(...)`) and keep typed
arrays on the library functions. Enforced by
`tests/test_registry_contract.py::test_no_registered_query_returns_container_columns`.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

SparkQuery = Callable[[SparkSession, str], DataFrame]

# The driver's correctness gate checks the FIRST 50 entries. The paper's core
# (movie, merge, jsonl) always leads; the other modules follow oldest driver
# row first, and a module whose rows were just checked moves to the back.
_MODULES: list[str] = [
    "movie_data_transformer_spark.operators.movie_queries",
    "movie_data_transformer_spark.operators.merge_queries",
    "movie_data_transformer_spark.operators.jsonl_queries",
    "movie_data_transformer_spark.operators.tpch_queries",
    "movie_data_transformer_spark.operators.grouped_extras_queries",
    "movie_data_transformer_spark.operators.function_packs",
    "movie_data_transformer_spark.operators.privacy_queries",
    "movie_data_transformer_spark.operators.robustness_queries",
    "movie_data_transformer_spark.operators.geo_queries",
    "movie_data_transformer_spark.operators.cogroup_queries",
    "movie_data_transformer_spark.operators.udtf_poly_queries",
    "movie_data_transformer_spark.operators.ml_queries",
    "movie_data_transformer_spark.operators.relational_queries",
    "movie_data_transformer_spark.operators.recall_queries",
    "movie_data_transformer_spark.operators.mm_decode_queries",
    "movie_data_transformer_spark.operators.format_queries",
    "movie_data_transformer_spark.operators.sql_surface_queries",
    "movie_data_transformer_spark.operators.udf_surface_queries",
    "movie_data_transformer_spark.operators.behavior_queries",
    "movie_data_transformer_spark.operators.search_queries",
    "movie_data_transformer_spark.operators.source_queries",
    "movie_data_transformer_spark.operators.gate_queries",
    "movie_data_transformer_spark.operators.flagship_queries",
    "movie_data_transformer_spark.streaming.streaming_queries",
    "movie_data_transformer_spark.operators.llm_queries",
    "movie_data_transformer_spark.operators.mm_transform_extras_queries",
    "movie_data_transformer_spark.operators.sink_extras_queries",
    "movie_data_transformer_spark.operators.format_extras_queries",
    "movie_data_transformer_spark.operators.engagement_queries",
    "movie_data_transformer_spark.operators.analytics_extras_queries",
    "movie_data_transformer_spark.operators.privacy_extras_queries",
    "movie_data_transformer_spark.operators.skew_extras_queries",
    "movie_data_transformer_spark.operators.search_extras_queries",
    "movie_data_transformer_spark.operators.temporal_queries",
    "movie_data_transformer_spark.operators.profile_queries",
    "movie_data_transformer_spark.operators.lm_queries",
    "movie_data_transformer_spark.operators.embedding_queries",
    "movie_data_transformer_spark.operators.search_ranking_queries",
    "movie_data_transformer_spark.operators.snapshot_queries",
    "movie_data_transformer_spark.operators.mm_video_queries",
    "movie_data_transformer_spark.operators.mm_transform_queries",
    "movie_data_transformer_spark.operators.sql_lang_queries",
    "movie_data_transformer_spark.operators.pipeline_queries",
    "movie_data_transformer_spark.operators.embedding_extras_queries",
    "movie_data_transformer_spark.operators.sql_udf_queries",
    "movie_data_transformer_spark.operators.linalg_queries",
    "movie_data_transformer_spark.operators.dedup_extras_queries",
    "movie_data_transformer_spark.operators.mm_hash_queries",
    "movie_data_transformer_spark.operators.ml_extras_queries",
    "movie_data_transformer_spark.operators.timeseries_extras_queries",
    "movie_data_transformer_spark.operators.calibration_queries",
    "movie_data_transformer_spark.operators.udtf_table_arg_queries",
    "movie_data_transformer_spark.operators.interval_queries",
    "movie_data_transformer_spark.operators.dq_extras_queries",
    "movie_data_transformer_spark.operators.embedding_pipeline_queries",
    "movie_data_transformer_spark.operators.recsys_queries",
    "movie_data_transformer_spark.operators.sampling_queries",
    "movie_data_transformer_spark.operators.mixing_queries",
    "movie_data_transformer_spark.operators.cluster_eval_queries",
    "movie_data_transformer_spark.operators.graph_extras_queries",
    "movie_data_transformer_spark.operators.storage_queries",
    "movie_data_transformer_spark.operators.resample_queries",
    "movie_data_transformer_spark.operators.matching_queries",
    "movie_data_transformer_spark.operators.changelog_queries",
    "movie_data_transformer_spark.operators.ivm_queries",
    "movie_data_transformer_spark.operators.robust_stats_queries",
    "movie_data_transformer_spark.operators.corpus_stats_queries",
    "movie_data_transformer_spark.operators.skyline_queries",
    "movie_data_transformer_spark.operators.redaction_queries",
    "movie_data_transformer_spark.operators.sketch_extras_queries",
    "movie_data_transformer_spark.operators.version_diff_queries",
    "movie_data_transformer_spark.operators.linkage_queries",
    "movie_data_transformer_spark.operators.backtest_queries",
    "movie_data_transformer_spark.operators.kendall_queries",
    "movie_data_transformer_spark.operators.udf_iter_queries",
    "movie_data_transformer_spark.operators.eval_extras_queries",
    "movie_data_transformer_spark.operators.throttle_queries",
    "movie_data_transformer_spark.operators.alerting_queries",
    "movie_data_transformer_spark.operators.sql_semantics_queries",
    "movie_data_transformer_spark.operators.curation_queries",
    "movie_data_transformer_spark.operators.keyword_queries",
    "movie_data_transformer_spark.operators.geo_extras_queries",
    "movie_data_transformer_spark.operators.reliability_queries",
    "movie_data_transformer_spark.operators.analytics_queries",
    "movie_data_transformer_spark.operators.timeseries_queries",
    "movie_data_transformer_spark.operators.late_r6_queries",
    "movie_data_transformer_spark.operators.semdedup_queries",
    "movie_data_transformer_spark.operators.rater_eval_queries",
    "movie_data_transformer_spark.operators.affinity_queries",
    "movie_data_transformer_spark.operators.seqpattern_queries",
    "movie_data_transformer_spark.operators.linkpred_queries",
    "movie_data_transformer_spark.operators.isotonic_queries",
    "movie_data_transformer_spark.operators.blocking_queries",
    "movie_data_transformer_spark.operators.ranking_eval_queries",
    "movie_data_transformer_spark.operators.readability_queries",
    "movie_data_transformer_spark.operators.markov_queries",
    "movie_data_transformer_spark.operators.dsir_queries",
    "movie_data_transformer_spark.operators.krippendorff_queries",
    "movie_data_transformer_spark.operators.zipf_queries",
    "movie_data_transformer_spark.operators.autocorr_queries",
    "movie_data_transformer_spark.operators.ks_queries",
    "movie_data_transformer_spark.operators.span_corruption_queries",
    "movie_data_transformer_spark.operators.psi_queries",
    "movie_data_transformer_spark.operators.preference_queries",
    "movie_data_transformer_spark.operators.embnorm_queries",
    "movie_data_transformer_spark.operators.psi_stream_queries",
    "movie_data_transformer_spark.operators.datacard_queries",
    "movie_data_transformer_spark.operators.policy_eval_queries",
    "movie_data_transformer_spark.operators.asof_nearest_queries",
    "movie_data_transformer_spark.operators.scene_cut_queries",
    "movie_data_transformer_spark.operators.fertility_queries",
    "movie_data_transformer_spark.operators.entropy_queries",
    "movie_data_transformer_spark.operators.contrast_queries",
    "movie_data_transformer_spark.operators.stemming_queries",
    "movie_data_transformer_spark.operators.phash_queries",
    "movie_data_transformer_spark.operators.vad_queries",
    "movie_data_transformer_spark.operators.tailindex_queries",
    "movie_data_transformer_spark.operators.stateful_queries",
    "movie_data_transformer_spark.operators.streaming_extras_queries",
    "movie_data_transformer_spark.operators.layout_queries",
    "movie_data_transformer_spark.operators.text_cleaning_queries",
    "movie_data_transformer_spark.operators.datasketches_queries",
]


def _load() -> dict[str, tuple[SparkQuery, str | None]]:
    import importlib

    out: dict[str, tuple[SparkQuery, str | None]] = {}
    for modname in _MODULES:
        mod = importlib.import_module(modname)
        for name, pair in mod.QUERIES.items():
            if name in out:
                raise ValueError(f"duplicate query name {name!r} from {modname}")
            out[name] = pair
    return out


def spark_queries() -> dict[str, SparkQuery]:
    return {name: fn for name, (fn, _) in _load().items()}


def oracles() -> dict[str, str]:
    return {name: sql for name, (_, sql) in _load().items() if sql is not None}
