"""Time-series ops: EWMA / trailing-range / MAD / decile semantics plus
the plan shapes that make them scale."""

from __future__ import annotations

from movie_data_transformer_spark.operators.timeseries_queries import (
    SEVEN_DAYS_S,
    q_docs_length_deciles,
    q_events_ewma,
    q_events_value_mad_outliers,
    q_window_trailing_7d,
)
from movie_data_transformer_spark.sources.tables import load_table
from tests.plan_audit import audit_plan


def test_ewma_matches_python_fold(spark, sf_dir):
    got = {r.user_id: (r.n_events, r.ewma_value) for r in q_events_ewma(spark, sf_dir).collect()}
    rows = (
        load_table(spark, sf_dir, "events")
        .select("user_id", "ts", "event_id", "value")
        .collect()
    )
    by_user: dict[int, list] = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append((r.ts, r.event_id, r.value))
    for uid, seq in by_user.items():
        seq.sort()
        acc = seq[0][2]
        for _, _, v in seq[1:]:
            acc = acc * 0.8 + v * 0.2
        n, ewma = got[uid]
        assert n == len(seq)
        assert abs(ewma - round(acc, 6)) < 1e-9, (uid, ewma, acc)


def test_trailing_7d_matches_bruteforce(spark, sf_dir):
    out = q_window_trailing_7d(spark, sf_dir).collect()
    ev = [
        (r.user_id, r.event_id, r.t_sec, r.v)
        for r in load_table(spark, sf_dir, "events")
        .selectExpr(
            "user_id",
            "event_id",
            "unix_timestamp(ts) AS t_sec",
            "CAST(value AS DECIMAL(18,4)) AS v",
        )
        .collect()
    ]
    by_user: dict[int, list] = {}
    for u, e, t, v in ev:
        by_user.setdefault(u, []).append((e, t, v))
    for r in out:
        peers = by_user[r.user_id]
        want = sum(v for _, t, v in peers if r.t_sec - SEVEN_DAYS_S <= t <= r.t_sec)
        # query output is the exact decimal sum cast once to double ==
        # float() of the exact Decimal (correctly-rounded on both paths)
        assert r.trailing_7d_sum == float(want), (r.user_id, r.event_id)


def test_mad_outliers_robust_and_sane(spark, sf_dir):
    rows = q_events_value_mad_outliers(spark, sf_dir).collect()
    assert len(rows) > 0
    # every flagged row really exceeds the threshold, and values sit in
    # the heavy upper tail (median ~34, MAD-z > 3.5 implies big values)
    assert all(abs(r.rz) > 3.5 for r in rows)
    ev = load_table(spark, sf_dir, "events").select("event_type", "value").collect()
    import statistics

    by_type: dict[str, list] = {}
    for r in ev:
        by_type.setdefault(r.event_type, []).append(r.value)
    for r in rows:
        vals = sorted(by_type[r.event_type])
        med = statistics.median(vals)
        mad = statistics.median(sorted(abs(v - med) for v in vals))
        assert abs(0.6745 * (r.value - med) / mad) > 3.4  # slack for interpolation


def test_deciles_partition_the_corpus(spark, sf_dir):
    rows = sorted(q_docs_length_deciles(spark, sf_dir).collect(), key=lambda r: r.decile)
    n_docs = load_table(spark, sf_dir, "documents").count()
    assert [r.decile for r in rows] == list(range(1, 11))
    assert sum(r.n_docs for r in rows) == n_docs
    # deciles are length-ordered: each tile's max <= next tile's min is
    # not guaranteed at tie boundaries, but min/max must be nondecreasing
    for a, b in zip(rows, rows[1:]):
        assert a.min_chars <= b.min_chars
        assert a.max_chars <= b.max_chars


def test_winsorize_clamps_to_band(spark, sf_dir):
    from movie_data_transformer_spark.operators.timeseries_queries import (
        q_events_value_winsorized,
    )

    rows = q_events_value_winsorized(spark, sf_dir).collect()
    ev = load_table(spark, sf_dir, "events")
    assert len(rows) == ev.count()  # winsorize keeps every row
    by_type: dict[str, list] = {}
    for r in rows:
        by_type.setdefault(r.event_type, []).append(r)
    for t, rs in by_type.items():
        lo = min(r.value_w for r in rs)
        hi = max(r.value_w for r in rs)
        n_clamped = sum(1 for r in rs if r.value_w != r.value)
        for r in rs:
            assert lo <= r.value_w <= hi
            # interior values pass through untouched
            if lo < r.value < hi:
                assert r.value_w == r.value
        # ~2% of each type's rows sit outside [P01, P99]
        assert 0 < n_clamped <= max(4, int(0.05 * len(rs)))


def test_timeseries_plan_shapes(spark, sf_dir):
    # trailing window: exactly one hash exchange (user_id), no joins
    a = audit_plan(q_window_trailing_7d(spark, sf_dir))
    assert a.n_exchanges == 1
    assert "Join" not in a.text
    assert not a.has_cartesian

    # EWMA: one hash exchange for the groupBy (plus AQE partials), no joins
    a = audit_plan(q_events_ewma(spark, sf_dir))
    assert a.n_exchanges <= 2
    assert "Join" not in a.text

    # MAD screen: both stats tables broadcast back to the fact scan —
    # the fact table itself is never hash-repartitioned for a join
    a = audit_plan(q_events_value_mad_outliers(spark, sf_dir))
    assert a.n_broadcasts >= 2
    assert not a.has_cartesian


def test_corr_matches_numpy(spark, sf_dir):
    import numpy as np

    from movie_data_transformer_spark.operators.analytics_queries import (
        q_stats_corr_by_year,
    )

    got = {r.ship_year: r for r in q_stats_corr_by_year(spark, sf_dir).collect()}
    li = (
        load_table(spark, sf_dir, "lineitem")
        .selectExpr("CAST(year(CAST(l_shipdate AS DATE)) AS INT) y",
                    "l_quantity q", "l_extendedprice p", "l_discount d")
        .collect()
    )
    by_year: dict[int, list] = {}
    for r in li:
        by_year.setdefault(r.y, []).append((r.q, r.p, r.d))
    for y, rows in by_year.items():
        a = np.array(rows, dtype="float64")
        want_qp = np.corrcoef(a[:, 0], a[:, 1])[0, 1]
        want_dp = np.corrcoef(a[:, 2], a[:, 1])[0, 1]
        assert abs(got[y].corr_qty_price - want_qp) < 1e-6, y
        assert abs(got[y].corr_disc_price - want_dp) < 1e-6, y
        assert got[y].n == len(rows)


def test_holt_linear_matches_numpy_reference(spark, sf_dir):
    """Independent Python recomputation of the Holt fold (same init and
    coefficients) must agree to float tolerance for every user."""
    from movie_data_transformer_spark.operators.timeseries_queries import (
        q_events_holt_linear,
    )
    from movie_data_transformer_spark.sources.tables import load_table

    got = {
        r.user_id: (r.n_events, r.level, r.trend, r.forecast_1)
        for r in q_events_holt_linear(spark, sf_dir).collect()
    }
    rows = (
        load_table(spark, sf_dir, "events")
        .select("user_id", "ts", "event_id", "value")
        .collect()
    )
    series: dict[int, list] = {}
    for r in rows:
        series.setdefault(r.user_id, []).append((r.ts, r.event_id, r.value))
    assert set(got) == set(series)
    for uid, seq in series.items():
        xs = [v for _, _, v in sorted(seq)]
        if len(xs) == 1:
            lvl, tr = xs[0], 0.0
        else:
            lvl, tr = xs[0], xs[1] - xs[0]
            for x in xs[2:]:
                new_l = x * 0.2 + (lvl + tr) * 0.8
                tr = (new_l - lvl) * 0.1 + tr * 0.9
                lvl = new_l
        n, g_l, g_t, g_f = got[uid]
        assert n == len(xs)
        assert abs(g_l - lvl) < 1e-6 and abs(g_t - tr) < 1e-6
        assert abs(g_f - (lvl + tr)) < 2e-6


def test_km_curve_invariants(spark, sf_dir):
    """Kaplan-Meier sanity: survival is in [0, 1] (it reaches exactly 0
    when the final at-risk user converts), non-increasing in event
    time, matches a Python recomputation of the product, and the
    at-risk counts are non-increasing with n >= d everywhere."""
    from movie_data_transformer_spark.operators.timeseries_queries import (
        q_survival_km_purchase,
    )

    rows = sorted(q_survival_km_purchase(spark, sf_dir).collect(), key=lambda r: r.t)
    assert rows
    surv = 1.0
    prev_n = None
    for r in rows:
        assert 1 <= r.d <= r.n_at_risk
        if prev_n is not None:
            assert r.n_at_risk <= prev_n
        prev_n = r.n_at_risk
        surv *= 1.0 - r.d / r.n_at_risk
        assert r.survival == surv  # same IEEE order -> exact
        assert 0.0 <= r.survival <= 1.0
    assert rows[-1].survival <= rows[0].survival


def test_cusum_window_identity_matches_sequential_fold(spark, sf_dir):
    """The window form (prefix - clamped running min) must equal the
    textbook sequential fold s_i = max(0, s_{i-1} + dev_i) day by day —
    on the real corpus and on a synthetic drifting series."""
    from movie_data_transformer_spark.operators.timeseries_extras_queries import (
        q_events_cusum_drift,
    )

    rows = sorted(q_events_cusum_drift(spark, sf_dir).collect(), key=lambda r: r.day_idx)
    n_days = len(rows)
    total = sum(r.n_events for r in rows)
    s = 0
    for r in rows:
        s = max(0, s + (r.n_events * n_days - total))
        assert r.cusum_scaled == s, r.day_idx
        assert r.is_drift == int(s > total)


def test_cusum_flags_planted_volume_drift(spark):
    """A series that doubles its volume halfway, driven through the
    PRODUCTION window expressions: positive CUSUM accumulates in the
    second half and the drift flag trips."""
    from movie_data_transformer_spark.operators.timeseries_extras_queries import (
        cusum_from_daily,
    )

    daily_vals = [100] * 10 + [200] * 10
    daily = spark.createDataFrame(
        [(i, v) for i, v in enumerate(daily_vals)], "day_idx long, n_events long"
    )
    rows = sorted(cusum_from_daily(daily).collect(), key=lambda r: r.day_idx)
    n_days, total = len(daily_vals), sum(daily_vals)
    s, flagged = 0, False
    for r, x in zip(rows, daily_vals):
        s = max(0, s + (x * n_days - total))
        flagged = flagged or s > total
        assert r.cusum_scaled == s, r.day_idx
    assert rows[9].cusum_scaled == 0  # flat first half: no drift yet
    assert rows[-1].cusum_scaled > 0 and rows[-1].is_drift == 1
    assert flagged


def test_holt_winters_matches_python_recomputation(spark, sf_dir):
    """Independent sequential Python fold (same IEEE order) must
    reproduce the engine's Holt-Winters state bit-for-bit before
    rounding — the holt_linear recomputation discipline extended to the
    seasonal accumulator."""
    from movie_data_transformer_spark.operators.timeseries_extras_queries import (
        PERIOD,
        q_events_holt_winters_daily,
    )
    from movie_data_transformer_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    daily = sorted(
        (r.day_idx, r.n)
        for r in ev.selectExpr("unix_timestamp(ts) DIV 86400 AS day_idx")
        .groupBy("day_idx")
        .count()
        .withColumnRenamed("count", "n")
        .collect()
    )
    vals = [float(n) for _, n in daily]
    a = [vals[0], 0.0] + [0.0] * PERIOD
    for x in vals[1:]:
        lp = (x - a[2]) * 0.3 + (a[0] + a[1]) * (1.0 - 0.3)
        bp = (lp - a[0]) * 0.1 + a[1] * (1.0 - 0.1)
        sp = (x - lp) * 0.2 + a[2] * (1.0 - 0.2)
        a = [lp, bp] + a[3:] + [sp]
    r = q_events_holt_winters_daily(spark, sf_dir).collect()[0]
    assert r.n_days == len(vals)
    assert r.level == round(a[0], 6)
    assert r.trend == round(a[1], 6)
    assert r.season_next == round(a[2], 6)
    assert r.forecast_1 == round(a[0] + a[1] + a[2], 6)


def test_seasonal_decompose_additivity_and_edges(spark, sf_dir):
    """Decomposition invariants: trend is NULL exactly at the 3-day
    edges, and wherever trend exists, trend + seasonal + remainder
    reconstructs the (micro-scaled) observation exactly."""
    from movie_data_transformer_spark.operators.timeseries_extras_queries import (
        q_events_seasonal_decompose,
    )

    rows = sorted(
        q_events_seasonal_decompose(spark, sf_dir).collect(),
        key=lambda r: r.day_idx,
    )
    n = len(rows)
    for i, r in enumerate(rows):
        if i < 3 or i >= n - 3:
            assert r.trend_micro is None, r.day_idx
            assert r.seasonal_micro is None and r.remainder_micro is None
        else:
            assert r.trend_micro is not None, r.day_idx
            assert (
                r.trend_micro + r.seasonal_micro + r.remainder_micro
                == r.n_events * 1_000_000
            ), r.day_idx


def test_engagement_invariants(spark, sf_dir):
    """DAU <= WAU <= MAU per day; per-user streak accounting is
    internally consistent (longest <= active days; spans partition the
    active days)."""
    from movie_data_transformer_spark.operators.engagement_queries import (
        q_events_dau_wau_mau,
        q_user_activity_streaks,
    )

    for r in q_events_dau_wau_mau(spark, sf_dir).collect():
        assert 0 < r.dau <= r.wau <= r.mau, r.day_idx
    for r in q_user_activity_streaks(spark, sf_dir).collect():
        assert 1 <= r.longest_streak <= r.n_active_days
        assert r.n_active_spans >= 1
        # spans of >= longest streak can't exceed days/longest
        assert r.n_active_spans <= r.n_active_days


def test_funnel_ordering_constraint_golden(spark):
    """The funnel's ORDER constraint is what separates it from per-type
    distinct counts: a user whose only click happened BEFORE their first
    view must not reach step 2, and a purchase between view and click
    must not reach step 3."""
    import datetime as dt

    from movie_data_transformer_spark.operators import engagement_queries as eq

    def t(minute):
        return dt.datetime(2024, 1, 1, 0, minute)

    rows = [
        # u1: proper view -> click -> purchase
        (1, t(0), "view"), (1, t(1), "click"), (1, t(2), "purchase"),
        # u2: click before the first view — never reaches step 2
        (2, t(0), "click"), (2, t(1), "view"),
        # u3: purchase sits between view and click — reaches step 2 only
        (3, t(0), "view"), (3, t(1), "purchase"), (3, t(2), "click"),
        # u4: no view at all — not even step 1
        (4, t(0), "click"), (4, t(1), "purchase"),
    ]
    ev = spark.createDataFrame(
        [(u, ts, et) for u, ts, et in rows],
        "user_id long, ts timestamp, event_type string",
    )
    import movie_data_transformer_spark.sources.tables as tables

    orig = tables.load_table
    try:
        tables.load_table = lambda s, d, n: ev
        eq.load_table = tables.load_table
        got = {r.step: r.users for r in
               eq.q_events_funnel_conversion(spark, "ignored").collect()}
    finally:
        tables.load_table = orig
        eq.load_table = orig
    assert got == {1: 3, 2: 2, 3: 1}


def test_daily_acf_matches_numpy_and_periodic_golden(spark, sf_dir):
    """(1) The exact-integer ACF equals the float recomputation within
    one micro-floor step. (2) A planted period-3 series puts its ACF
    peak exactly at lag 3 with acf ~ 1 (the seasonality-detection use)."""
    import numpy as np

    from movie_data_transformer_spark.operators.timeseries_extras_queries import (
        q_events_daily_acf,
    )
    from movie_data_transformer_spark.sources.tables import load_table

    got = {r.lag: r.acf for r in q_events_daily_acf(spark, sf_dir).collect()}
    daily = (
        load_table(spark, sf_dir, "events")
        .selectExpr("unix_timestamp(ts) DIV 86400 AS d")
        .groupBy("d").count().collect()
    )
    series = dict((r.d, r["count"]) for r in daily)
    days = sorted(series)
    x = np.array([series[d] for d in days], dtype=float)
    dev = x - x.mean()
    den = float((dev * dev).sum())
    for k in range(1, 8):
        num = sum(
            dev[i] * dev[j]
            for i, di in enumerate(days)
            for j, dj in enumerate(days)
            if dj == di + k
        )
        assert abs(got[k] - num / den) < 2e-6, k

    # planted periodic golden, straight through the python-side formula
    # the operator implements (trunc-micro of the exact rational)
    xs = [10, 50, 90] * 20
    n = len(xs); s = sum(xs)
    nd = [n * v - s for v in xs]
    dd = sum(v * v for v in nd)
    acfs = {}
    for k in range(1, 8):
        p = sum(nd[i] * nd[i + k] for i in range(n - k)) * 1_000_000
        acfs[k] = (p // dd if p >= 0 else -((-p) // dd)) / 1e6
    assert max(acfs, key=lambda k: acfs[k]) == 3
    assert acfs[3] > 0.9
    assert acfs[1] < 0 and acfs[2] < 0  # anti-phase lags


def test_rolling_trend_matches_numpy_window_fit(spark, sf_dir):
    """Each reported day's exact micro-slope equals numpy's lstsq fit
    over the same trailing 30-day window (within one micro step)."""
    import numpy as np

    from movie_data_transformer_spark.operators.timeseries_extras_queries import (
        ROLL_DAYS,
        ROLL_MIN_N,
        q_events_rolling_trend,
    )
    from movie_data_transformer_spark.sources.tables import load_table

    got = {r.day_idx: (r.n_days, r.slope_micro)
           for r in q_events_rolling_trend(spark, sf_dir).collect()}
    daily = (
        load_table(spark, sf_dir, "events")
        .selectExpr(
            "unix_timestamp(ts) DIV 86400 AS d",
            "CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS v",
        )
        .groupBy("d").sum("v").collect()
    )
    series = {r.d: r["sum(v)"] for r in daily}
    days = sorted(series)
    assert got
    for d, (n, micro) in got.items():
        win = [dd for dd in days if d - (ROLL_DAYS - 1) <= dd <= d]
        assert len(win) == n >= ROLL_MIN_N
        x = np.array(win, dtype=float)
        y = np.array([series[dd] for dd in win], dtype=float)
        slope = np.polyfit(x, y, 1)[0]
        assert abs(micro / 1e6 - slope) < max(1e-5, abs(slope) * 1e-9), d


def test_changepoint_finds_planted_level_shift(spark):
    """A clean level shift (50/day -> 90/day after day 19) must put the
    best split exactly at day 19 with the right segment means."""
    import datetime as dt

    from movie_data_transformer_spark.operators import (
        timeseries_extras_queries as tx,
    )

    rows = []
    eid = 0
    for day in range(40):
        n = 50 if day < 20 else 90
        for _ in range(n):
            rows.append((eid, dt.datetime(2024, 1, 1) + dt.timedelta(days=day, seconds=eid % 3600)))
            eid += 1
    ev = spark.createDataFrame(rows, "event_id long, ts timestamp")
    orig = tx.load_table
    try:
        tx.load_table = lambda s, d, n: ev
        got = tx.q_events_changepoint_day(spark, "ignored").collect()
    finally:
        tx.load_table = orig
    assert len(got) == 1
    r = got[0]
    base_day = int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp()) // 86400
    assert r.split_after_day == base_day + 19
    assert r.mean_before_micro == 50_000_000
    assert r.mean_after_micro == 90_000_000


def test_attribution_credit_conservation_and_golden(spark, sf_dir):
    """Total credit equals 1e6 times the number of purchases with >= 1
    touch in window (exact conservation, largest-remainder); golden
    5-touch case splits 400000/66667/66667/66666/400000."""
    import datetime as dt

    from pyspark.sql import functions as F

    from movie_data_transformer_spark.operators import (
        analytics_extras_queries as ax,
    )
    from movie_data_transformer_spark.sources.tables import load_table

    rows = ax.q_attribution_position_based(spark, sf_dir).collect()
    total = sum(r.credit_micro for r in rows)
    ev = load_table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").selectExpr(
        "user_id", "ts AS p_ts", "event_id AS p_id")
    t = ev.filter(F.col("event_type").isin("view", "click")).selectExpr(
        "user_id", "ts")
    n_attr = (
        p.join(t, "user_id")
        .filter("ts < p_ts AND ts >= p_ts - INTERVAL 604800 SECOND")
        .select("p_id").distinct().count()
    )
    assert total == 1_000_000 * n_attr

    def m(minute):
        return dt.datetime(2024, 1, 1, 0, minute)

    golden = [(i, m(i), "view") for i in range(5)] + [(9, m(9), "purchase")]
    evg = spark.createDataFrame(
        [(eid, ts, et, 1) for eid, ts, et in golden],
        "event_id long, ts timestamp, event_type string, user_id long",
    )
    orig = ax.load_table
    try:
        ax.load_table = lambda s, d, n: evg
        got = ax.q_attribution_position_based(spark, "ignored").collect()
    finally:
        ax.load_table = orig
    by_class = {r.position_class: r for r in got}
    assert by_class["first"].credit_micro == 400000
    assert by_class["last"].credit_micro == 400000
    assert by_class["middle"].credit_micro == 200000
    assert by_class["middle"].n_touches == 3
