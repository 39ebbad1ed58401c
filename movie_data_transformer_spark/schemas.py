"""Explicit StructTypes mirroring the reference's POJO record model.

Reference schema (all fixed at compile time, SURVEY.md §1):
  - MovieInput      src/main/java/com/movierecommender/model/input/MovieInput.java:6-11
  - WatchedBy       src/main/java/com/movierecommender/model/input/WatchedBy.java:6-12
    (JSON names are kebab-case `customer-id` / `movie-id`, WatchedBy.java:7-10;
    we declare them verbatim and alias inside the pipeline, replacing
    Jackson's @JsonProperty renames)
  - CustomerMovie   src/main/java/com/movierecommender/model/output/CustomerMovie.java:6-8
  - WatchedMovie    src/main/java/com/movierecommender/model/output/WatchedMovie.java:4-9
    (output side: built as JSON by movie_pipeline.group_watched + kv_serialize;
    nothing parses it back, so no StructType is declared for it)

Dates stay strings ("yyyy-MM-dd") for fidelity; parsed transiently with
to_date for comparisons (DataTransformationService.java:242-245).
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

# Nested viewer record (input side). Kebab-case field names are literal.
WATCHED_BY = StructType(
    [
        StructField("customer-id", StringType()),
        StructField("movie-id", StringType()),  # present but dead data: parent movieId wins
        StructField("rating", IntegerType()),
        StructField("date", StringType()),
    ]
)

# One JSONL line = one MovieInput document.
MOVIE_INPUT = StructType(
    [
        StructField("movieId", StringType()),
        StructField("title", StringType()),
        StructField("yearOfRelease", IntegerType()),
        StructField("watchedBy", ArrayType(WATCHED_BY)),
    ]
)

#: Flat (exploded) rating row — the engine's working representation between
#: explode and group; one row per (movie, viewer) pair.
RATING_FLAT = StructType(
    [
        StructField("movieId", StringType()),
        StructField("title", StringType()),
        StructField("yearOfRelease", IntegerType()),
        StructField("customerId", StringType()),
        StructField("rating", IntegerType()),
        StructField("date", StringType()),
    ]
)
