"""PageRank (operators/analytics_queries.py) pinned against a NumPy
power iteration on the collected edge list, plus z-score outlier
invariants."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from movie_data_transformer_spark.operators.analytics_queries import (
    PAGERANK_ITERS,
    pagerank,
    q_events_value_outliers,
    q_graph_pagerank,
)


def test_pagerank_matches_numpy_power_iteration(spark):
    # small directed weighted graph incl. a dangling node (4)
    rows = [
        (1, 2, 1.0),
        (2, 3, 2.0),
        (3, 1, 1.0),
        (3, 4, 1.0),
        (2, 4, 1.0),
    ]
    edges = spark.createDataFrame(rows, "src long, dst long, weight double")
    got = {r.node: r.pr for r in pagerank(edges).collect()}

    nodes = sorted({r[0] for r in rows} | {r[1] for r in rows})
    idx = {v: i for i, v in enumerate(nodes)}
    n = len(nodes)
    M = np.zeros((n, n))
    for s, d, w in rows:
        M[idx[d], idx[s]] += w
    colsum = M.sum(axis=0)
    for j in range(n):
        if colsum[j] > 0:
            M[:, j] /= colsum[j]
        else:
            M[:, j] = 1.0 / n  # dangling: uniform redistribution
    pr = np.full(n, 1.0 / n)
    for _ in range(PAGERANK_ITERS):
        pr = (1 - 0.85) / n + 0.85 * (M @ pr)
    for v in nodes:
        assert abs(got[v] - pr[idx[v]]) < 1e-6, (v, got[v], pr[idx[v]])
    assert abs(sum(got.values()) - 1.0) < 1e-6


def test_movie_pagerank_is_a_distribution(spark, sf_dir):
    rows = q_graph_pagerank(spark, sf_dir).collect()
    assert rows
    total = sum(r.pr for r in rows)
    # co-watch graph is symmetric -> no dangling nodes -> mass preserved
    assert abs(total - 1.0) < 1e-3
    assert all(r.pr > 0 for r in rows)


def test_outlier_z_scores_are_extreme(spark, sf_dir):
    out = q_events_value_outliers(spark, sf_dir)
    rows = out.collect()
    for r in rows:
        assert abs(r.z) > 2
    # outliers must be a small minority of events
    from movie_data_transformer_spark.sources.tables import load_table

    n_events = load_table(spark, sf_dir, "events").count()
    assert len(rows) < 0.2 * n_events


def test_triangle_counts_no_cartesian_and_symmetric(spark, sf_dir):
    from movie_data_transformer_spark.operators.analytics_queries import (
        q_graph_triangle_counts,
    )

    df = q_graph_triangle_counts(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    rows = df.collect()
    assert rows
    # every triangle contributes exactly 3 corner participations
    assert sum(r.n_triangles for r in rows) % 3 == 0


def test_lr_trainer_learns_the_label_bucket(spark):
    """On a tiny synthetic corpus the trainer must (a) reduce loss,
    (b) give the label bucket the strictly-largest positive weight, and
    (c) classify the training docs correctly — with bit-identical
    weights on a re-run (decimal gradient accumulation)."""
    from unittest.mock import patch

    from movie_data_transformer_spark.operators import ml_queries as m

    texts = [
        (1, "slow query table scan join merge"),
        (2, "fast query table scan join merge"),
        (3, "slow batch window stream group key"),
        (4, "fast batch window stream group key"),
        (5, "slow value column filter sort part"),
        (6, "fast value column filter sort part"),
    ]
    df = spark.createDataFrame(texts, "doc_id long, text string")
    with patch.object(m, "load_table", lambda _s, _d, _t: df):
        w1, b1, losses, acc = m.train_lr(spark, "synthetic-a")
        # no cross-call memo anymore (r13): the second run retrains from
        # scratch and must land on bit-identical weights
        w2, b2, _, _ = m.train_lr(spark, "synthetic-a")
    assert losses[-1] < losses[0]
    assert acc == 1.0
    others = max(x for i, x in enumerate(w1) if i != m.LABEL_BUCKET)
    assert w1[m.LABEL_BUCKET] > 0 and w1[m.LABEL_BUCKET] > others
    assert (w1, b1) == (w2, b2)  # deterministic under re-execution


def test_spearman_matches_python_recomputation(spark, sf_dir):
    """rho per year equals an independent Python recomputation with the
    same total-order ranks, and sits in [-1, 1]. (In this synthetic
    testdata extendedprice is independent of quantity — rho ~ 0 — so
    the binding check is the exact recomputation, not a sign.)"""
    from movie_data_transformer_spark.operators.analytics_queries import (
        q_stats_spearman_by_year,
    )
    from movie_data_transformer_spark.sources.tables import load_table

    got = {r.y: r for r in q_stats_spearman_by_year(spark, sf_dir).collect()}
    rows = (
        load_table(spark, sf_dir, "lineitem")
        .selectExpr(
            "year(l_shipdate) AS y", "l_quantity AS q", "l_extendedprice AS p",
            "l_discount AS d", "l_orderkey AS ok", "l_linenumber AS ln",
            "l_partkey AS pk", "l_suppkey AS sk",
        )
        .collect()
    )
    by_year = {}
    for r in rows:
        by_year.setdefault(r.y, []).append(r)
    for y, grp in by_year.items():
        n = len(grp)
        tie = lambda r: (r.ok, r.ln, r.pk, r.sk)
        def ranks(key):
            order = sorted(grp, key=lambda r: (key(r),) + tie(r))
            return {tie(r): i + 1 for i, r in enumerate(order)}
        rq, rp, rd = ranks(lambda r: r.q), ranks(lambda r: r.p), ranks(lambda r: r.d)
        def rho(ra, rb):
            sd2 = sum((ra[tie(r)] - rb[tie(r)]) ** 2 for r in grp)
            return 1.0 - (6 * sd2) / (n * (n * n - 1)) if n > 1 else None
        assert abs(got[y].rho_qty_price - rho(rq, rp)) < 1e-12
        assert abs(got[y].rho_disc_price - rho(rd, rp)) < 1e-12
        assert -1.0 <= got[y].rho_qty_price <= 1.0


def test_assoc_rules_match_python_recount(spark, sf_dir):
    """lift/confidence micro values equal a Python recount over the
    basket table, and every returned pair meets the support floor."""
    from movie_data_transformer_spark.operators.analytics_queries import (
        q_assoc_rules_topk,
    )
    from movie_data_transformer_spark.sources.tables import load_table

    rows = q_assoc_rules_topk(spark, sf_dir).collect()
    assert 0 < len(rows) <= 20
    baskets = {}
    for r in (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
        .collect()
    ):
        baskets.setdefault(r.l_orderkey, set()).add(r.l_partkey)
    from collections import Counter

    item = Counter(p for s in baskets.values() for p in s)
    pair = Counter()
    for s in baskets.values():
        ss = sorted(s)
        for i, p1 in enumerate(ss):
            for p2 in ss[i + 1 :]:
                pair[(p1, p2)] += 1
    n = len(baskets)
    for r in rows:
        c12 = pair[(r.p1, r.p2)]
        assert c12 == r.c12 >= 3
        assert r.lift_micro == c12 * n * 1_000_000 // (item[r.p1] * item[r.p2])
        assert r.conf_p1_p2_micro == c12 * 1_000_000 // item[r.p1]
        assert r.conf_p2_p1_micro == c12 * 1_000_000 // item[r.p2]


def _pagerank_case(spark):
    edges = spark.createDataFrame(
        [(1, 2, 1.0), (2, 3, 2.0), (3, 1, 1.0), (3, 4, 1.0), (2, 4, 1.0)],
        "src long, dst long, weight double",
    )
    return pagerank(edges)


def _connected_components_case(spark):
    from movie_data_transformer_spark.operators.dedup import connected_components

    # a 17-node path: ~8 min-propagation rounds
    pairs = spark.createDataFrame([(i, i + 1) for i in range(16)], "doc_a long, doc_b long")
    return connected_components(pairs)


def _kcore_case(spark):
    from movie_data_transformer_spark.operators.graph_extras_queries import kcore_peel

    # a K4 core with a tail t1..t4: t4 has degree 2, and each peel drops
    # the next tail node to degree 2, so the peel runs 5 rounds
    core = [("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"), ("c", "d")]
    tail = [("a", "t1"), ("b", "t1"), ("t1", "t2"), ("c", "t2"), ("t2", "t3"),
            ("d", "t3"), ("t3", "t4"), ("a", "t4")]
    return kcore_peel(spark.createDataFrame(core + tail, "u string, v string"))


def _bfs_case(spark):
    from movie_data_transformer_spark.operators.graph_extras_queries import (
        PENDANT_CHAIN,
        bfs_distances,
    )

    edges = spark.createDataFrame(PENDANT_CHAIN, "u string, v string")
    return bfs_distances(edges, spark.createDataFrame([("c0",)], "node string"))


def _bpe_case(spark):
    from movie_data_transformer_spark.operators.bpe import learn_bpe_merges

    text = " ".join(["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3)
    return learn_bpe_merges(spark.createDataFrame([(1, text)], "doc_id long, text string"))


@pytest.mark.parametrize(
    "build, reads, expected",
    [
        pytest.param(_pagerank_case, 1, {(1,), (2,), (3,), (4,)}, id="pagerank"),
        pytest.param(
            _connected_components_case, 1, {(i, 0) for i in range(17)},
            id="connected_components",
        ),
        pytest.param(_kcore_case, 2, {(n, 3) for n in "abcd"}, id="kcore_peel"),
        pytest.param(
            _bfs_case, 1, {("c0", 0)} | {(f"p:{i}", i + 1) for i in range(5)},
            id="bfs_distances",
        ),
        pytest.param(_bpe_case, 0, {(i,) for i in range(12)}, id="learn_bpe_merges"),
    ],
)
def test_fixpoint_releases_what_its_result_does_not_read(spark, build, reads, expected):
    """r6 ADVICE: every fixpoint localCheckpoints its state round after
    round, and `clearCache()` does not free those blocks. Once the
    result is collected (its rows checked on their first
    len(expected row) columns), the RDDs it left persisted are at most
    the checkpoints the returned DataFrame reads (`reads`): superseded
    rounds and the materialised input are released, not left for the
    JVM's garbage collector."""
    def persisted() -> set[int]:
        return {i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()}

    baseline = persisted()
    width = len(next(iter(expected)))
    assert {tuple(r)[:width] for r in build(spark).collect()} == expected
    left = persisted() - baseline
    assert len(left) <= reads, sorted(left)


def test_theil_sen_matches_python_and_resists_outliers(spark, sf_dir):
    """(1) The production query's per-year lower-median slope equals a
    plain-Python recomputation of the same definition from the daily
    revenue table. (2) Robustness: on a synthetic series with one wild
    outlier day, the Theil-Sen slope stays at the true trend while the
    OLS slope is dragged away — the property the estimator exists for."""
    from movie_data_transformer_spark.operators.analytics_extras_queries import (
        q_stats_theil_sen_by_year,
    )
    from movie_data_transformer_spark.sources.tables import load_table

    got = {r.yr: r.ts_slope_micro for r in
           q_stats_theil_sen_by_year(spark, sf_dir).collect()}

    li = load_table(spark, sf_dir, "lineitem")
    daily = (
        li.selectExpr(
            "year(l_shipdate) AS yr",
            "datediff(l_shipdate, make_date(year(l_shipdate), 1, 1)) AS day_idx",
            "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents",
        )
        .groupBy("yr", "day_idx")
        .sum("cents")
        .collect()
    )
    by_year = {}
    for r in daily:
        by_year.setdefault(r.yr, []).append((r.day_idx, r["sum(cents)"]))
    for yr, pts in by_year.items():
        pts.sort()
        slopes = []
        for i in range(len(pts)):
            for j in range(i + 1, len(pts)):
                dx = pts[j][0] - pts[i][0]
                dy = pts[j][1] - pts[i][1]
                q = dy * 1_000_000
                micro = q // dx if q >= 0 else -((-q) // dx)  # trunc toward 0
                slopes.append((micro, dy, dx))
        slopes.sort()
        k = (len(slopes) + 1) // 2
        assert got[yr] == slopes[k - 1][0], yr

    # robustness golden: y = 10*x plus one wild outlier at x=5
    pts = [(x, 10 * x) for x in range(10)]
    pts[5] = (5, 1_000_000)
    slopes = []
    for i in range(len(pts)):
        for j in range(i + 1, len(pts)):
            dx, dy = pts[j][0] - pts[i][0], pts[j][1] - pts[i][1]
            q = dy * 1_000_000
            slopes.append(q // dx if q >= 0 else -((-q) // dx))
    slopes.sort()
    ts = slopes[(len(slopes) + 1) // 2 - 1] / 1e6
    n = len(pts)
    sx = sum(p[0] for p in pts); sy = sum(p[1] for p in pts)
    sxx = sum(p[0] ** 2 for p in pts); sxy = sum(p[0] * p[1] for p in pts)
    ols = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    assert ts == 10.0
    assert abs(ols - 10.0) > 1000  # OLS dragged 3+ orders of magnitude off


def test_local_clustering_invariants(spark, sf_dir):
    """cc in [0,1]; per-node triangles can't exceed deg-choose-2; a
    node's triangles require degree >= 2 (enforced by the filter)."""
    from movie_data_transformer_spark.operators.analytics_extras_queries import (
        q_graph_local_clustering,
    )

    rows = q_graph_local_clustering(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.degree >= 2
        assert 0.0 <= r.clustering_coeff <= 1.0, r
        assert r.n_triangles <= r.degree * (r.degree - 1) // 2, r


def test_weighted_median_matches_python(spark, sf_dir):
    """Crossing-row weighted median equals the brute-force definition
    (smallest value whose cumulative weight reaches half the total) in
    the same total order, per year."""
    from movie_data_transformer_spark.operators.analytics_extras_queries import (
        q_stats_weighted_median_by_year,
    )
    from movie_data_transformer_spark.sources.tables import load_table

    got = {r.yr: (r.total_weight, r.weighted_median_cents)
           for r in q_stats_weighted_median_by_year(spark, sf_dir).collect()}
    rows = (
        load_table(spark, sf_dir, "lineitem")
        .selectExpr(
            "year(l_shipdate) AS yr",
            "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS p",
            "CAST(l_quantity AS BIGINT) AS w",
            "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
        )
        .collect()
    )
    by_year: dict[int, list] = {}
    for r in rows:
        by_year.setdefault(r.yr, []).append(
            (r.p, r.l_orderkey, r.l_linenumber, r.l_partkey, r.l_suppkey, r.w)
        )
    for yr, items in by_year.items():
        items.sort()
        tw = sum(it[-1] for it in items)
        cum = 0
        for it in items:
            cum += it[-1]
            if 2 * cum >= tw:
                want = it[0]
                break
        assert got[yr] == (tw, want), yr


def test_bootstrap_ci_brackets_mean_and_shrinks(spark, sf_dir):
    """The bootstrap CI must bracket the full-sample mean with sane
    width (CLT scale: a few sd/sqrt(n)); lo < mean < hi strictly for
    this corpus (continuous-ish spend distribution)."""
    from movie_data_transformer_spark.operators.analytics_extras_queries import (
        q_stats_poisson_bootstrap_ci,
    )

    r = q_stats_poisson_bootstrap_ci(spark, sf_dir).collect()[0]
    assert r.ci_lo_micro < r.mean_micro_cents < r.ci_hi_micro
    width = r.ci_hi_micro - r.ci_lo_micro
    # spend sd ~ mean-scale; 95% CI width should be well under 20% of
    # the mean at n >= 1500 and nonzero always
    assert 0 < width < r.mean_micro_cents * 0.2


def test_blockbuster_cap_excludes_hub_title_from_edges(spark):
    """r07 VERDICT advice #2: the max_watchers cap on cowatch_user_edges
    must be a REAL parameter — a planted blockbuster (watched by every
    user) is dropped from edge generation when over the cap, and the
    capped edge set equals the edge set built with the blockbuster's
    rows removed up front."""
    from movie_data_transformer_spark.operators.graph_extras_queries import (
        cowatch_user_edges,
    )

    users = [f"u{i}" for i in range(10)]
    rows = [(u, "BLOCKBUSTER") for u in users]  # 10 watchers: over cap 5
    # two genuine 3-user communities sharing 2 niche titles each
    for m in ("n1", "n2"):
        rows += [(u, m) for u in users[0:3]]
    for m in ("n3", "n4"):
        rows += [(u, m) for u in users[5:8]]
    watched = spark.createDataFrame(rows, "customerId string, movieId string")
    no_hub = watched.filter("movieId != 'BLOCKBUSTER'")

    capped = cowatch_user_edges(watched, max_watchers=5)
    expected = cowatch_user_edges(no_hub, max_watchers=10**9)
    assert capped.exceptAll(expected).count() == 0
    assert expected.exceptAll(capped).count() == 0
    # the two communities survive the cap
    assert capped.count() == 6  # C(3,2) * 2

    # without the cap the blockbuster alone creates no >=2-shared edges
    # BUT it does combine with singles... here every user shares only
    # the blockbuster across communities -> shared==1 -> still 6 edges;
    # make the hub binding by pairing it with one cross-community title
    rows2 = rows + [(u, "n5") for u in (users[0], users[5])]
    watched2 = spark.createDataFrame(rows2, "customerId string, movieId string")
    uncapped2 = cowatch_user_edges(watched2, max_watchers=10**9)
    capped2 = cowatch_user_edges(watched2, max_watchers=5)
    # u0-u5 share {BLOCKBUSTER, n5} -> edge only when hub is NOT capped
    assert uncapped2.filter("u = 'u0' AND v = 'u5'").count() == 1
    assert capped2.filter("u = 'u0' AND v = 'u5'").count() == 0
