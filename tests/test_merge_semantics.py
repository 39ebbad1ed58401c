"""Merge (op 9) pairwise resolution semantics — SURVEY.md §2.2 items 2-3.

isMoreRecent (DataTransformationService.java:240-250): new wins IFF both
dates parse AND new is strictly after existing. Everything else keeps the
existing record — including equal dates, malformed NEW date, and malformed
EXISTING date (the parse of either side failing returns false).
"""

from __future__ import annotations

from movie_data_transformer_spark.operators.merge import merge_flat
from movie_data_transformer_spark.schemas import RATING_FLAT


def _flat(spark, rows):
    # rows: (movieId, customerId, rating, date)
    data = [(m, f"T_{m}", 2000, c, r, d) for (m, c, r, d) in rows]
    return spark.createDataFrame(data, RATING_FLAT)


def _merged(spark, state_rows, batch_rows):
    out = merge_flat(_flat(spark, state_rows), _flat(spark, batch_rows))
    return {(r["customerId"], r["movieId"]): (r["rating"], r["date"]) for r in out.collect()}


def test_newer_batch_date_wins(spark):
    got = _merged(spark, [("m1", "c1", 3, "2024-01-01")], [("m1", "c1", 5, "2024-01-02")])
    assert got[("c1", "m1")] == (5, "2024-01-02")


def test_equal_dates_keep_existing(spark):
    # strict after (:245): same date -> existing wins
    got = _merged(spark, [("m1", "c1", 3, "2024-01-01")], [("m1", "c1", 5, "2024-01-01")])
    assert got[("c1", "m1")] == (3, "2024-01-01")


def test_older_batch_date_loses(spark):
    got = _merged(spark, [("m1", "c1", 3, "2024-02-01")], [("m1", "c1", 5, "2024-01-15")])
    assert got[("c1", "m1")] == (3, "2024-02-01")


def test_malformed_new_date_keeps_existing(spark):
    got = _merged(spark, [("m1", "c1", 3, "2024-01-01")], [("m1", "c1", 5, "garbage")])
    assert got[("c1", "m1")] == (3, "2024-01-01")


def test_malformed_existing_date_also_keeps_existing(spark):
    # either-side parse failure -> false -> existing wins (:246-249)
    got = _merged(spark, [("m1", "c1", 3, "garbage")], [("m1", "c1", 5, "2024-01-02")])
    assert got[("c1", "m1")] == (3, "garbage")


def test_new_customer_inserted(spark):
    got = _merged(spark, [("m1", "c1", 3, "2024-01-01")], [("m2", "c9", 4, "2024-03-01")])
    assert got[("c1", "m1")] == (3, "2024-01-01")
    assert got[("c9", "m2")] == (4, "2024-03-01")


def test_state_only_rows_survive(spark):
    got = _merged(spark, [("m1", "c1", 3, "2024-01-01"), ("m2", "c1", 4, "2024-01-05")], [])
    assert len(got) == 2

