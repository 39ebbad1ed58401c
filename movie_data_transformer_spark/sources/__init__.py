from movie_data_transformer_spark.sources.jsonl import read_movies_jsonl
from movie_data_transformer_spark.sources.tables import TABLES, load_table

__all__ = ["read_movies_jsonl", "load_table", "TABLES"]
