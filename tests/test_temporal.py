"""As-of join and range join semantics on literal fixtures."""

from __future__ import annotations

from datetime import datetime

from movie_data_transformer_spark.operators.temporal import asof_join, range_join


def _df(spark, rows, schema="event_id long, user_id long, ts timestamp, value double"):
    return spark.createDataFrame(rows, schema)


TS = datetime


def test_asof_inclusive_at_equal_ts_and_null_when_no_prior(spark):
    purchases = _df(spark, [(1, 7, TS(2024, 1, 1, 10, 0, 0), 0.0), (2, 7, TS(2024, 1, 1, 9, 0, 0), 0.0)])
    views = _df(spark, [(10, 7, TS(2024, 1, 1, 10, 0, 0), 5.5), (11, 7, TS(2024, 1, 1, 9, 30, 0), 3.3)])
    out = {
        r.event_id: (r.asof_event_id, r.asof_value)
        for r in asof_join(
            purchases, views, "user_id", "ts", "ts", ["event_id", "value"]
        ).collect()
    }
    assert out[1] == (10, 5.5)  # equal ts -> inclusive match
    assert out[2] == (None, None)  # nothing at-or-before 09:00


def test_asof_tie_break_is_latest_seq(spark):
    purchases = _df(spark, [(1, 7, TS(2024, 1, 1, 12, 0, 0), 0.0)])
    views = _df(
        spark,
        [(10, 7, TS(2024, 1, 1, 11, 0, 0), 1.0), (11, 7, TS(2024, 1, 1, 11, 0, 0), 2.0)],
    )
    out = asof_join(
        purchases, views, "user_id", "ts", "ts", ["event_id", "value"]
    ).collect()[0]
    assert out.asof_event_id == 11  # highest seq among equal timestamps


def test_range_join_bounds(spark):
    views = _df(spark, [(1, 7, TS(2024, 1, 1, 10, 0, 0), 0.0)])
    purchases = _df(
        spark,
        [
            (20, 7, TS(2024, 1, 1, 10, 0, 0), 0.0),   # equal ts -> excluded (strict lower)
            (21, 7, TS(2024, 1, 1, 10, 5, 0), 0.0),   # within window
            (22, 7, TS(2024, 1, 1, 10, 10, 0), 0.0),  # exactly at bound -> included
            (23, 7, TS(2024, 1, 1, 10, 10, 1), 0.0),  # past bound -> excluded
            (24, 8, TS(2024, 1, 1, 10, 5, 0), 0.0),   # other user -> excluded
        ],
    )
    got = {
        r["_r"]["event_id"]
        for r in range_join(views, purchases, "user_id", "ts", "ts", 600).collect()
    }
    assert got == {21, 22}


def test_sessionize_gap_boundary(spark):
    """A gap of EXACTLY gap_seconds stays in-session; one second more
    starts a new one. Ties in ts are broken by event_id."""
    import datetime as dt

    from pyspark.sql import functions as F

    from movie_data_transformer_spark.operators.temporal import sessionize

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        (1, 1, t0),
        (2, 1, t0 + dt.timedelta(seconds=600)),          # in session 1
        (3, 1, t0 + dt.timedelta(seconds=1200)),         # exactly +600 again -> still 1
        (4, 1, t0 + dt.timedelta(seconds=1801 + 1200)),  # gap 1801 > 1800 -> session 2
        (5, 2, t0),                                      # other user -> own session 1
    ]
    ev = spark.createDataFrame(rows, "event_id long, user_id long, ts timestamp")
    got = {
        r.event_id: r.session_idx
        for r in sessionize(ev, gap_seconds=1800).select("event_id", "session_idx").collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 2, 5: 1}


def test_cogroup_asof_matches_expression_form(spark, sf_dir):
    """The cogrouped-applyInPandas as-of (pandas merge_asof per user)
    returns EXACTLY the window-expression form's rows — tiebreaks,
    no-prior-view NULLs, and view-less users included."""
    from movie_data_transformer_spark.operators.cogroup_queries import (
        q_cogroup_asof_match,
    )
    from movie_data_transformer_spark.operators.temporal_queries import (
        q_asof_view_before_purchase,
    )

    key = lambda r: (r.event_id,)  # noqa: E731 — purchase id is unique
    got = sorted(q_cogroup_asof_match(spark, sf_dir).collect(), key=key)
    want = sorted(q_asof_view_before_purchase(spark, sf_dir).collect(), key=key)
    assert len(got) == len(want) > 0
    for g, w in zip(got, want):
        assert (g.event_id, g.user_id, g.ts_s) == (w.event_id, w.user_id, w.ts_s)
        assert (g.view_ts_s, g.view_event_id) == (w.view_ts_s, w.view_event_id)
        assert (g.view_value is None) == (w.view_value is None)
        if g.view_value is not None:
            assert g.view_value == w.view_value


def test_scd2_point_in_time_boundaries(spark):
    """Version opening AT the view ts wins (interval [from, to) is
    closed-open); among equal-ts versions only the max event_id has a
    non-empty interval; views before the first version are uncovered."""
    from unittest.mock import patch

    from movie_data_transformer_spark.operators.temporal_queries import (
        q_scd2_point_in_time_join,
    )

    rows = [
        # purchases = dimension versions (two share ts -> degenerate first)
        (10, 1, "2024-01-01 00:01:40", "purchase", 1.0),
        (11, 1, "2024-01-01 00:01:40", "purchase", 2.0),
        (12, 1, "2024-01-01 00:03:20", "purchase", 3.0),
        # views = fact probes
        (20, 1, "2024-01-01 00:01:39", "view", 0.0),  # before any version
        (21, 1, "2024-01-01 00:01:40", "view", 0.0),  # at open boundary
        (22, 1, "2024-01-01 00:02:30", "view", 0.0),  # mid-interval
        (23, 1, "2024-01-01 00:03:20", "view", 0.0),  # at second boundary
    ]
    df = spark.createDataFrame(
        [(e, u, t, ty, v) for e, u, t, ty, v in rows],
        "event_id long, user_id long, ts string, event_type string, value double",
    ).selectExpr("event_id", "user_id", "CAST(ts AS TIMESTAMP) AS ts", "event_type", "value")
    with patch(
        "movie_data_transformer_spark.operators.temporal_queries.load_table",
        lambda _s, _d, _t: df,
    ):
        got = {r.event_id: r for r in q_scd2_point_in_time_join(spark, "x").collect()}
    assert (got[20].is_covered, got[20].dim_event_id) == (0, None)
    # at the boundary the NEW version applies, and of the two equal-ts
    # versions the max event_id (non-empty interval) is the one picked
    assert (got[21].dim_event_id, got[21].dim_value) == (11, 2.0)
    assert (got[22].dim_event_id, got[22].dim_value) == (11, 2.0)
    assert (got[23].dim_event_id, got[23].dim_value) == (12, 3.0)


def test_concurrency_steps_sweep_line_goldens(spark):
    """Sweep-line correctness on literal intervals: nesting, exact
    back-to-back adjacency (inclusive seconds: [0,10] and [11,20] never
    overlap, [0,10] and [10,20] do), and the profile always returns to
    zero after the last end."""
    from movie_data_transformer_spark.operators.interval_queries import (
        concurrency_steps,
    )

    sessions = spark.createDataFrame(
        [
            (1, 0, 0, 10),
            (2, 0, 5, 8),    # nested inside session 1
            (3, 0, 10, 20),  # starts the second session 1 ends -> overlap
            (4, 0, 30, 40),  # disjoint
        ],
        "user_id long, session_idx long, session_start_s long, session_end_s long",
    )
    steps = {
        r.t_s: r.n_open for r in concurrency_steps(sessions).collect()
    }
    assert steps[0] == 1
    assert steps[5] == 2      # nested start
    assert steps[9] == 1      # nested end (t=8) closes at 9
    assert steps[10] == 2     # [0,10] still open when [10,20] starts
    assert steps[11] == 1     # [0,10] closes at 11
    assert steps[21] == 0     # back to zero
    assert steps[30] == 1 and steps[41] == 0
    # conservation: profile ends at zero
    assert min(steps.values()) == 0


def test_overlap_grid_candidates_complete_vs_naive():
    """Pure-math completeness of the time-grid banding: for random
    intervals, every truly-overlapping pair shares at least one grid
    cell (the cell containing the overlap start lies in both cell
    ranges), so the bucketed join loses nothing vs the naive n^2 scan."""
    import itertools
    import random

    B = 21600
    rng = random.Random(11)
    ivals = []
    for i in range(300):
        s = rng.randrange(0, 40 * 86400)
        ivals.append((i, s, s + rng.randrange(1, 8 * 3600)))
    cells = {
        i: set(range(s // B, e // B + 1)) for i, s, e in ivals
    }
    for (i, s1, e1), (j, s2, e2) in itertools.combinations(ivals, 2):
        if s1 <= e2 and s2 <= e1:  # true overlap
            assert cells[i] & cells[j], (i, j)
