"""Markov-typicality invariants: the matrix the typicality entry
broadcasts (shared algebra with behavior_queries'
events_transition_matrix) conserves transition mass and is
row-stochastic in micro units; typicality is bounded and covers exactly
the multi-event users."""

from __future__ import annotations

from collections import defaultdict

from pyspark.sql import functions as F

from movie_data_transformer_spark.operators.markov_queries import (
    _transition_matrix,
    _user_transitions,
    q_events_markov_user_typicality,
)
from movie_data_transformer_spark.sources.tables import load_table


def test_matrix_conserves_mass_and_rows_stochastic(spark, sf_dir):
    rows = _transition_matrix(_user_transitions(spark, sf_dir)).collect()
    ev = load_table(spark, sf_dir, "events")
    n_events = ev.count()
    n_users = ev.select("user_id").distinct().count()
    # each user with k events contributes k-1 transitions
    assert sum(r.n_transitions for r in rows) == n_events - n_users

    by_from = defaultdict(list)
    for r in rows:
        by_from[r.from_type].append(r)
    for from_type, group in by_from.items():
        total_p = sum(r.p_micro for r in group)
        # truncating division loses < 1 micro per cell
        assert 1_000_000 - len(group) < total_p <= 1_000_000
        ns = sum(r.n_transitions for r in group)
        for r in group:
            assert r.p_micro == r.n_transitions * 1_000_000 // ns


def test_matrix_matches_registered_transition_matrix(spark, sf_dir):
    """The matrix the typicality entry broadcasts and the REGISTERED
    events_transition_matrix (behavior_queries) are the same algebra —
    pin it so they can never drift silently (the duplicate entry was
    removed; this equivalence is what justified removing it)."""
    from movie_data_transformer_spark.operators.behavior_queries import (
        q_events_transition_matrix,
    )

    mine = {
        (r.from_type, r.to_type): (r.n_transitions, r.p_micro)
        for r in _transition_matrix(_user_transitions(spark, sf_dir)).collect()
    }
    theirs = {
        (r.prev_type, r.next_type): (r.n, round(r.share * 1_000_000))
        for r in q_events_transition_matrix(spark, sf_dir).collect()
    }
    assert mine == theirs


def test_typicality_bounded_and_weighted_mean_consistent(spark, sf_dir):
    rows = q_events_markov_user_typicality(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 <= r.typicality_micro <= 1_000_000
        assert r.n_transitions >= 1
    # every user with >= 2 events appears
    ev = load_table(spark, sf_dir, "events")
    want_users = {
        r.user_id
        for r in ev.groupBy("user_id").agg(F.count("*").alias("n")).collect()
        if r.n >= 2
    }
    assert {r.user_id for r in rows} == want_users
