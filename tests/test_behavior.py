"""Behavioral analytics semantics: transition-matrix stochasticity, RFM
quartile balance, XOR-fold involution, Gini bounds, gap-stat sanity."""

from __future__ import annotations

from collections import defaultdict

from pyspark.sql import functions as F

from movie_data_transformer_spark.operators.behavior_queries import (
    q_agg_bitwise,
    q_events_transition_matrix,
    q_orders_gap_stats,
    q_rfm_segments,
    q_source_gini_diversity,
)
from movie_data_transformer_spark.sources.tables import load_table


def test_transition_rows_are_row_stochastic(spark, sf_dir):
    rows = q_events_transition_matrix(spark, sf_dir).collect()
    by_prev: dict[str, float] = defaultdict(float)
    for r in rows:
        assert r.n > 0
        by_prev[r.prev_type] += r.share
    # shares per prev_type sum to 1 up to the round(...,6) residue
    for prev, total in by_prev.items():
        assert abs(total - 1.0) < 1e-4, (prev, total)


def test_transition_counts_match_sequence_replay(spark, sf_dir):
    got = {
        (r.prev_type, r.next_type): r.n
        for r in q_events_transition_matrix(spark, sf_dir).collect()
    }
    ev = (
        load_table(spark, sf_dir, "events")
        .select("user_id", "ts", "event_id", "event_type")
        .collect()
    )
    seqs: dict[int, list] = defaultdict(list)
    for r in ev:
        seqs[r.user_id].append((r.ts, r.event_id, r.event_type))
    want: dict[tuple, int] = defaultdict(int)
    for items in seqs.values():
        items.sort()
        for (_, _, a), (_, _, b) in zip(items, items[1:]):
            want[(a, b)] += 1
    assert got == dict(want)


def test_rfm_scores_are_balanced_quartiles(spark, sf_dir):
    rows = q_rfm_segments(spark, sf_dir).collect()
    n = len(rows)
    assert n > 0
    for dim in ("r_score", "f_score", "m_score"):
        counts = defaultdict(int)
        for r in rows:
            v = getattr(r, dim)
            assert 1 <= v <= 4
            counts[v] += 1
        # ntile(4) splits n rows into quartiles differing by at most 1
        assert max(counts.values()) - min(counts.values()) <= 1, (dim, counts)
    for r in rows:
        assert r.segment == str(r.r_score * 100 + r.f_score * 10 + r.m_score)


def test_bitwise_xor_fold_is_involutive(spark, sf_dir):
    # XOR-folding each group twice (double-count every id) must give 0;
    # equivalently the reported xor equals the Python reduce of the ids.
    got = {r.event_type: (r.ids_and, r.ids_or, r.ids_xor) for r in q_agg_bitwise(spark, sf_dir).collect()}
    ev = load_table(spark, sf_dir, "events").select("event_type", "event_id").collect()
    ids = defaultdict(list)
    for r in ev:
        ids[r.event_type].append(r.event_id)
    for et, vals in ids.items():
        a = o = x = None
        for v in vals:
            a = v if a is None else a & v
            o = v if o is None else o | v
            x = v if x is None else x ^ v
        assert got[et] == (a, o, x)


def test_gini_bounds_and_degenerate_case(spark, sf_dir):
    for r in q_source_gini_diversity(spark, sf_dir).collect():
        assert 0.0 <= r.gini_impurity < 1.0
        if r.n_langs == 1:
            assert r.gini_impurity == 0.0
        # impurity can never exceed the uniform-mix bound 1 - 1/k
        assert r.gini_impurity <= 1.0 - 1.0 / r.n_langs + 1e-9


def test_gap_stats_percentiles_ordered(spark, sf_dir):
    rows = q_orders_gap_stats(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.n_gaps > 0
        assert 0 <= r.p50_gap <= r.p90_gap
        assert r.avg_gap_days >= 0


def test_rfm_plan_aggregates_before_global_sort(spark, sf_dir):
    # the single-partition ntile window must sit ABOVE the customer
    # aggregation: facts are never globally sorted.
    plan = q_rfm_segments(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    agg_pos = plan.find("HashAggregate")
    win_pos = plan.find("Window")
    assert agg_pos != -1 and win_pos != -1
    # executedPlan prints top-down: Window (later stage) appears before
    # the aggregate feeding it.
    assert win_pos < agg_pos


def test_rfm_siblings_agree_on_recency(spark, sf_dir):
    """The quartile (behavior_queries) and quintile (analytics_extras)
    RFM operators must agree exactly on the customer set and on every
    customer's recency_days — the shared definition that must not
    drift between the two implementations."""
    from movie_data_transformer_spark.operators.analytics_extras_queries import (
        q_customers_rfm_scores,
    )
    from movie_data_transformer_spark.operators.behavior_queries import (
        q_rfm_segments,
    )

    a = {r.o_custkey: r.recency_days for r in q_rfm_segments(spark, sf_dir).collect()}
    b = {r.custkey: r.recency_days for r in q_customers_rfm_scores(spark, sf_dir).collect()}
    assert a == b
