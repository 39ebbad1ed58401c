"""movie_data_transformer_spark — a PySpark-native analytics engine.

Brand-new engine with the query/data-processing capabilities of the
reference `varungautam1411/movie-data-transformer` (a Java batch ETL job:
JSONL movie-rating files -> explode nested viewers -> group per customer ->
last-write-wins merge -> KV JSON sink), re-expressed as idiomatic Spark
DataFrame / SQL / Structured Streaming operators, plus a general relational
operator library and LLM-data-pipeline extensions (dedup, similarity
search, text analysis, multimodal columns).

Layout:
    session.py     SparkSession builder (AQE on, UTC, local[N])
    schemas.py     explicit StructTypes mirroring the reference POJOs
    sources/       JSONL/parquet readers (scan + path-filter + permissive)
    fixtures.py    deterministic derivation of the nested `movies` table
    operators/     the operator library (movie pipeline, merge, relational,
                   dedup, similarity, text, multimodal; multimodal.py
                   decodes containers only: WAV/BMP/PNG/GIF/JPEG/AVI
                   parsed in Python, no external codec)
    streaming/     Structured Streaming forms (micro-batch, event-time)
    sinks/         KV sink (foreachPartition writer)
"""

__version__ = "0.1.0"
