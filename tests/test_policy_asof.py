"""Pins for IPS/SNIPS offline eval (Python recompute + estimator
identities) and the nearest-direction as-of join (brute-force nearest
per purchase, tie/tolerance rules)."""

from __future__ import annotations

import math
from collections import defaultdict

from movie_data_transformer_spark.operators.asof_nearest_queries import (
    TOL_US,
    q_asof_nearest_view_purchase,
)
from movie_data_transformer_spark.operators.policy_eval_queries import (
    ACTIONS,
    N_ACTIONS,
    q_policy_ips_offline_eval,
)
from movie_data_transformer_spark.sources.tables import load_table


def test_ips_snips_match_python(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events").selectExpr(
        "user_id", "event_type", "CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents"
    ).collect()
    got = {r.policy: r for r in q_policy_ips_offline_eval(spark, sf_dir).collect()}
    assert set(got) == {"by_mod", "always_purchase"}
    for policy, pick in (
        ("by_mod", lambda r: ACTIONS[r.user_id % N_ACTIONS]),
        ("always_purchase", lambda r: "purchase"),
    ):
        n = len(ev)
        matched = [r for r in ev if r.event_type == pick(r)]
        mr = sum(r.cents for r in matched)
        row = got[policy]
        assert row.n_logged == n
        assert row.n_matched == len(matched)
        assert row.ips_value_cents == mr * N_ACTIONS // n
        want_snips = 0 if not matched else mr // len(matched)
        assert row.snips_value_cents == want_snips
    # estimator identity: SNIPS == IPS iff the match rate is exactly 1/5
    # (up to integer truncation); always_purchase matches ~1/5 of logs so
    # they should be close, never wildly apart on a uniform log
    ap = got["always_purchase"]
    assert ap.n_matched > 0


def test_asof_nearest_matches_bruteforce(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events").selectExpr(
        "user_id", "event_id", "event_type",
        "unix_micros(CAST(ts AS TIMESTAMP)) AS ts_us",
    ).collect()
    views = defaultdict(list)
    purchases = []
    for r in ev:
        if r.event_type == "view":
            views[r.user_id].append((r.ts_us, r.event_id))
        elif r.event_type == "purchase":
            purchases.append(r)
    got = {r.event_id: r for r in q_asof_nearest_view_purchase(spark, sf_dir).collect()}
    assert set(got) == {r.event_id for r in purchases}
    for p in purchases:
        best = None
        for ts, vid in views.get(p.user_id, []):
            dt = ts - p.ts_us
            if abs(dt) > TOL_US:
                continue
            # nearer wins; tie -> backward (dt <= 0); among equal-|dt|
            # backward candidates the LATEST view is the forward-fill
            # pick; among forward ones the EARLIEST
            key = (abs(dt), 0 if dt <= 0 else 1, -ts if dt <= 0 else ts, vid)
            if best is None or key < best[0]:
                best = (key, vid, dt)
        row = got[p.event_id]
        if best is None:
            assert row.matched_view_id is None
            assert row.direction == "none"
        else:
            assert row.matched_view_id == best[1]
            assert row.dt_us == best[2]
            assert row.direction == ("backward" if best[2] <= 0 else "forward")
