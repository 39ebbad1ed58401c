"""Pins for KS / span-corruption / PSI / preference pairs: Python and
scipy-free recomputes plus structural invariants."""

from __future__ import annotations

import hashlib
import math
from collections import defaultdict

from movie_data_transformer_spark.operators.ks_queries import (
    q_stats_ks_two_sample,
)
from movie_data_transformer_spark.operators.preference_queries import (
    q_pref_pairs_build,
)
from movie_data_transformer_spark.operators.psi_queries import (
    q_score_psi_bins,
)
from movie_data_transformer_spark.operators.span_corruption_queries import (
    NOISE_PERMILLE,
    q_spans_corruption_plan,
)
from movie_data_transformer_spark.sources.tables import load_table


def test_ks_matches_python_ecdf(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").select("lang", "n_chars").collect()
    xs = sorted(r.n_chars for r in docs if r.lang == "en")
    ys = sorted(r.n_chars for r in docs if r.lang != "en")
    n1, n2 = len(xs), len(ys)
    grid = sorted(set(xs) | set(ys))
    d_num = 0
    for v in grid:
        c1 = sum(1 for x in xs if x <= v)
        c2 = sum(1 for y in ys if y <= v)
        d_num = max(d_num, abs(c1 * n2 - c2 * n1))
    row = q_stats_ks_two_sample(spark, sf_dir).collect()[0]
    assert (row.n1, row.n2) == (n1, n2)
    assert row.d_num == d_num
    assert row.d_micro == d_num * 1_000_000 // (n1 * n2)
    assert 0 <= row.d_micro <= 1_000_000


def _masked(doc_id: int, p: int) -> bool:
    h = hashlib.md5(f"{doc_id}#{p}".encode()).hexdigest()[:8]
    return int(h, 16) % 1000 < NOISE_PERMILLE


def test_span_plan_matches_python(spark, sf_dir):
    import re

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").collect()
    got = {r.doc_id: r for r in q_spans_corruption_plan(spark, sf_dir).collect()}
    assert set(got) == {r.doc_id for r in docs}
    for r in docs:
        n = len(re.split(r"\s+", r.text.strip()))
        mask = [_masked(r.doc_id, p) for p in range(1, n + 1)]
        n_masked = sum(mask)
        n_spans = sum(
            1 for i, m in enumerate(mask) if m and (i == 0 or not mask[i - 1])
        )
        row = got[r.doc_id]
        assert row.n_tokens == n
        assert row.n_masked == n_masked
        assert row.n_spans == n_spans
        assert row.n_input_tokens == n - n_masked + n_spans
        assert row.n_target_tokens == n_masked + n_spans
        # sentinel accounting: input + target = original + 2 sentinels/span
        assert row.n_input_tokens + row.n_target_tokens == n + 2 * n_spans


def test_psi_bins_conserve_and_sum_near_zero_for_stable_data(spark, sf_dir):
    rows = q_score_psi_bins(spark, sf_dir).collect()
    ev_n = load_table(spark, sf_dir, "events").count()
    assert sum(r.ref_n + r.cur_n for r in rows) == ev_n
    psi_total = sum(r.psi_term_micro for r in rows)
    # each term is >= -1 micro only from flooring; true terms are >= 0
    # ((p-q) and ln(p/q) always share sign)
    assert all(r.psi_term_micro >= -len(rows) for r in rows)
    # the fixture's value process is time-stationary: PSI far below the
    # conventional 0.2 alert threshold
    assert 0 <= psi_total < 200_000


def test_pref_pairs_margins_and_eligibility(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events").collect()
    by_user = defaultdict(list)
    for r in ev:
        if r.event_type == "purchase":
            cents = math.floor(r.value * 100 + 0.5)
            by_user[r.user_id].append((cents, r.event_id))
    rows = {r.user_id: r for r in q_pref_pairs_build(spark, sf_dir).collect()}
    want_users = {u for u, v in by_user.items() if len(v) >= 2}
    assert set(rows) == want_users
    for u in want_users:
        vals = by_user[u]
        hi = max(vals, key=lambda t: (t[0], -t[1]))
        lo = min(vals)
        row = rows[u]
        assert (row.chosen_cents, row.chosen_event_id) == hi
        assert (row.rejected_cents, row.rejected_event_id) == lo
        assert row.margin_cents == hi[0] - lo[0] >= 0
