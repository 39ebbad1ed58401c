"""The oracle reproduces the reference semantics the engine's own tests pin
on `fixtures.edge_movies` (README, "Reference semantics pinned by tests"),
and agrees with the engine on those rows."""

from __future__ import annotations

import json

import oracle
from movie_data_transformer_spark.fixtures import edge_movies
from movie_data_transformer_spark.operators.movie_pipeline import run_pipeline


def _edge_lines(spark) -> list[str]:
    return edge_movies(spark).toJSON().collect()


def test_explode_semantics(spark):
    rows = oracle.explode_lines(_edge_lines(spark))
    movies = {r[0] for r in rows}
    assert "m_empty" not in movies  # empty watchedBy drops rows
    assert [r[0] for r in rows if r[3] == "c4"] == ["m_parent"]  # nested movie-id is dead data
    (miss,) = [r for r in rows if r[0] == "m_miss"]
    assert miss[4] == 0 and miss[1] is None  # missing rating -> 0, missing title stays null


def test_batch_lww_outcomes(spark):
    won = oracle.batch_lww(oracle.explode_lines(_edge_lines(spark)))
    assert won[("c1", "m_dup")][4:] == (5, "2024-02-02")  # latest date wins
    assert won[("c2", "m_tie")][4] == 4  # equal dates: rating desc
    assert won[("c3", "m_bad")][5] == "2024-04-04"  # malformed date loses


def test_stateful_merge_outcomes():
    def row(date, rating=1, movie="m1", customer="c1"):
        return (movie, "T", 2000, customer, rating, date)

    cases = [
        ("2024-01-01", "2024-02-01", "2024-02-01"),  # strictly newer wins
        ("2024-01-01", "2024-01-01", "2024-01-01"),  # tie keeps existing
        ("2024-02-01", "2024-01-01", "2024-02-01"),  # older loses
        ("2024-01-01", "not-a-date", "2024-01-01"),  # malformed new keeps existing
        ("not-a-date", "2024-01-01", "not-a-date"),  # malformed existing is kept too
    ]
    for old, new, want in cases:
        state = {("c1", "m1"): row(old, rating=1)}
        oracle.merge(state, {("c1", "m1"): row(new, rating=2)})
        assert state[("c1", "m1")][5] == want, (old, new)
    state = {("c1", "m1"): row("2024-01-01")}
    oracle.merge(state, {("c2", "m1"): row("2020-01-01", customer="c2")})
    assert set(state) == {("c1", "m1"), ("c2", "m1")}  # new customer inserted


def test_oracle_matches_engine_on_edge_rows(spark):
    engine = {r["key"]: r["value"] for r in run_pipeline(edge_movies(spark)).collect()}
    expected = oracle.group(oracle.batch_lww(oracle.explode_lines(_edge_lines(spark))))
    assert oracle.mismatches(engine, expected) == 0
    assert json.loads(engine["customer:c5"])["watchedMovies"] == [
        {"movieId": "m_miss", "yearOfRelease": 2005, "rating": 0, "date": "2024-06-06"}
    ]


def test_mismatches_counts_missing_extra_and_different():
    expected = {"customer:a": {"customerId": "a", "watchedMovies": []}}
    assert oracle.mismatches({}, expected) == 1
    assert oracle.mismatches({"customer:a": '{"customerId":"a","watchedMovies":[]}'}, expected) == 0
    assert oracle.mismatches({"customer:a": '{"customerId":"b"}', "customer:z": "{}"}, expected) == 2
