"""Semantic gates for the r7 additions: item-CF recommendations,
hash sampling/splitting, token-budget mixing, centroid silhouette.
(The value-exactness of each entry is already bound by its DuckDB
oracle; these pin the PROPERTIES an oracle mismatch wouldn't name.)"""

from __future__ import annotations

from collections import Counter
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import functions as F

from movie_data_transformer_spark.operators.cluster_eval_queries import (
    q_kmeans_silhouette_fixed,
)
from movie_data_transformer_spark.operators.mixing_queries import (
    _BUDGET,
    q_mix_token_budget_apportion,
)
from movie_data_transformer_spark.operators.recsys_queries import (
    interactions,
    q_movies_item_item_topk,
    q_movies_recommend_user_topk,
)
from movie_data_transformer_spark.operators.sampling_queries import (
    q_sample_stratified_exact_quota,
    q_split_group_holdout,
)
from movie_data_transformer_spark.sources.tables import load_table


def test_recommendations_exclude_watched(spark, sf_dir):
    recs = q_movies_recommend_user_topk(spark, sf_dir)
    watched = interactions(spark, sf_dir).withColumnRenamed("movieId", "movie_id")
    leaked = recs.join(watched, ["customerId", "movie_id"], "inner").count()
    assert leaked == 0
    # and every customer gets at most 3, ranked 1..n contiguously
    per_cust = recs.groupBy("customerId").agg(
        F.count("*").alias("n"), F.max("rec_rank").alias("mx")
    )
    bad = per_cust.filter("n > 3 OR mx != n").count()
    assert bad == 0
    assert recs.count() > 0


def test_item_item_topk_is_topk(spark, sf_dir):
    topk = q_movies_item_item_topk(spark, sf_dir)
    per_movie = topk.groupBy("movie_id").agg(
        F.count("*").alias("n"), F.max("sim_rank").alias("mx")
    )
    assert per_movie.filter("n > 3 OR mx != n").count() == 0
    # the cohort construction guarantees every movie has >=3 co-watched
    # neighbors (slots within distance 2 share watchers)
    assert per_movie.filter("n < 3").count() == 0


def test_mix_apportionment_spends_budget_exactly(spark, sf_dir):
    mix = q_mix_token_budget_apportion(spark, sf_dir).collect()
    assert sum(r.alloc_tokens for r in mix) == _BUDGET
    assert all(r.alloc_tokens >= 0 for r in mix)
    # proportionality within 1 token of the real quota (Hamilton bound)
    total_w = sum(r.weight for r in mix)
    for r in mix:
        exact = _BUDGET * r.weight / total_w
        assert abs(r.alloc_tokens - exact) < 1.0


def test_stratified_quota_is_exact_ceil(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    n_by_lang = {r.lang: r.n for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    kept = q_sample_stratified_exact_quota(spark, sf_dir)
    kept_by_lang = {
        r.lang: r.n for r in kept.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    for lang, n in n_by_lang.items():
        assert kept_by_lang.get(lang, 0) == -(-n // 5)  # ceil(n/5)


def test_group_split_has_no_leakage_and_partitions_orders(spark, sf_dir):
    rows = q_split_group_holdout(spark, sf_dir).collect()
    assert {r.split for r in rows} == {"train", "holdout"}
    assert all(r.leak_customers == 0 for r in rows)
    total = load_table(spark, sf_dir, "orders").count()
    assert sum(r.n_orders for r in rows) == total


def test_kcore_converges_within_bound_and_peels_the_chain(spark, sf_dir):
    """q_graph_kcore equals a pure-Python peel run to its fixpoint over
    the collected edges: the MAX_PEELS bound reaches the true core."""
    from movie_data_transformer_spark.operators.graph_extras_queries import (
        K_CORE,
        PENDANT_CHAIN,
        cowatch_user_edges,
        q_graph_kcore,
    )
    from movie_data_transformer_spark.operators.recsys_queries import interactions

    core = {r.customerId: r.core_degree for r in q_graph_kcore(spark, sf_dir).collect()}
    # every planted pendant node peels out; the anchor survives
    assert not any(c.startswith("p:") for c in core)
    assert "c0" in core

    edges = [(r.u, r.v) for r in cowatch_user_edges(interactions(spark, sf_dir)).collect()]
    edges += PENDANT_CHAIN
    while True:
        deg = Counter(n for e in edges for n in e)
        kept = [(u, v) for u, v in edges if deg[u] >= K_CORE and deg[v] >= K_CORE]
        if kept == edges:
            break
        edges = kept
    assert core == dict(Counter(n for e in edges for n in e))


def test_compaction_bins_cover_all_files_within_target(spark, sf_dir):
    from movie_data_transformer_spark.operators.format_queries import (
        WAV_SUBSET_MOD,
        binaryfile_fixture_dir,
    )
    from movie_data_transformer_spark.operators.storage_queries import (
        TARGET_BIN_BYTES,
        q_compaction_plan_bins,
    )

    binaryfile_fixture_dir(spark, sf_dir)  # ensure the fixture exists
    rows = q_compaction_plan_bins(spark, sf_dir).collect()
    n_docs = (
        load_table(spark, sf_dir, "documents")
        .filter(f"doc_id % {WAV_SUBSET_MOD} = 0")
        .count()
    )
    assert sum(r.n_files for r in rows) == n_docs
    # next-fit bound: a bin exceeds target by at most one file
    for r in rows:
        assert r.total_bytes < TARGET_BIN_BYTES + r.max_bytes


def test_equidepth_buckets_are_balanced_and_ordered(spark, sf_dir):
    from movie_data_transformer_spark.operators.storage_queries import (
        N_HIST_BUCKETS,
        q_stats_equidepth_histogram,
    )

    rows = sorted(q_stats_equidepth_histogram(spark, sf_dir).collect(),
                  key=lambda r: r.bucket)
    assert [r.bucket for r in rows] == list(range(1, N_HIST_BUCKETS + 1))
    assert max(r.n_rows for r in rows) - min(r.n_rows for r in rows) <= 1
    for prev, cur in zip(rows, rows[1:]):
        assert prev.hi_cents <= cur.lo_cents


def test_silhouette_bounds_and_cohesion(spark, sf_dir):
    rows = q_kmeans_silhouette_fixed(spark, sf_dir).collect()
    emb_n = load_table(spark, sf_dir, "embeddings").count()
    assert sum(r.n_points for r in rows) == emb_n
    for r in rows:
        assert -1_000_000 <= r.min_s_micro <= 1_000_000
        assert -1_000_000 <= r.avg_s_micro <= 1_000_000
    # the embeddings' label clusters are real: positive mean silhouette
    # in every cell (observed ~0.02 at sf0.001)
    assert all(r.avg_s_micro > 0 for r in rows)


def test_resample_reconstructs_planted_outage_days(spark, sf_dir):
    from movie_data_transformer_spark.operators.resample_queries import (
        q_events_resample_interpolate,
    )

    rows = sorted(q_events_resample_interpolate(spark, sf_dir).collect(),
                  key=lambda r: r.day)
    assert len(rows) == 31
    outage = [r for r in rows if r.day.day % 4 == 1]
    assert len(outage) == 8 and all(r.is_interpolated for r in outage)
    assert all(r.filled_cents is not None and r.filled_cents >= 0 for r in rows)
    # interpolated values sit within the neighboring observed envelope
    obs = [r.filled_cents for r in rows if not r.is_interpolated]
    if obs:
        lo, hi = min(obs), max(obs)
        assert all(lo <= r.filled_cents <= hi for r in rows if r.is_interpolated)


def test_fifo_match_equals_greedy_scan(spark, sf_dir):
    from movie_data_transformer_spark.operators.matching_queries import (
        q_events_fifo_match,
    )

    got = {r.user_id: (r.n_views, r.n_purchases, r.n_matched)
           for r in q_events_fifo_match(spark, sf_dir).collect()}
    ev = (
        load_table(spark, sf_dir, "events")
        .filter("event_type IN ('view','purchase')")
        .select("user_id", "ts", "event_id", "event_type")
        .collect()
    )
    from collections import defaultdict

    seqs = defaultdict(list)
    for r in sorted(ev, key=lambda r: (r.ts, r.event_id)):
        seqs[r.user_id].append(r.event_type)
    for uid, seq in seqs.items():
        avail = matched = 0
        for t in seq:
            if t == "view":
                avail += 1
            elif avail > 0:
                avail -= 1
                matched += 1
        nv, np_ = seq.count("view"), seq.count("purchase")
        assert got[uid] == (nv, np_, matched), uid


def test_cdc_apply_honors_trailing_tombstones(spark, sf_dir):
    from movie_data_transformer_spark.operators.changelog_queries import (
        q_cdc_apply_tombstones,
    )

    got = {r.user_id: r.last_cents for r in q_cdc_apply_tombstones(spark, sf_dir).collect()}
    ev = (
        load_table(spark, sf_dir, "events")
        .filter("event_type IN ('purchase','error')")
        .select("user_id", "ts", "event_id", "event_type", "value")
        .collect()
    )
    last = {}
    for r in sorted(ev, key=lambda r: (r.ts, r.event_id)):
        last[r.user_id] = r
    import math

    expect = {
        uid: int(math.floor(r.value * 100))
        for uid, r in last.items()
        if r.event_type == "purchase"
    }
    assert got == expect
    # tombstoned keys really are erased
    assert any(r.event_type == "error" for r in last.values())


def test_ivm_merge_equals_full_recompute(spark, sf_dir):
    from movie_data_transformer_spark.operators.ivm_queries import (
        _partial,
        q_ivm_incremental_agg,
    )

    merged = q_ivm_incremental_agg(spark, sf_dir)
    full = _partial(load_table(spark, sf_dir, "orders"))
    assert merged.exceptAll(full).count() == 0
    assert full.exceptAll(merged).count() == 0


def test_winsorize_identities(spark, sf_dir):
    from movie_data_transformer_spark.operators.robust_stats_queries import (
        q_orders_winsorize,
    )

    r = q_orders_winsorize(spark, sf_dir).collect()[0]
    assert r.lo_cents <= r.hi_cents
    assert r.n * r.lo_cents <= r.sum_cents_winsorized <= r.n * r.hi_cents
    # ~1% clipped each side (rank-exact: at most ceil(n/100))
    assert r.n_clipped_low <= -(-r.n // 100)
    assert r.n_clipped_high <= -(-r.n // 100)


def test_heaps_curve_is_monotone_and_exact_at_the_end(spark, sf_dir):
    from movie_data_transformer_spark.operators.corpus_stats_queries import (
        q_text_heaps_law_curve,
    )

    rows = sorted(q_text_heaps_law_curve(spark, sf_dir).collect(),
                  key=lambda r: r.decile)
    assert [r.decile for r in rows] == list(range(1, 11))
    for a, b in zip(rows, rows[1:]):
        assert a.docs_cum < b.docs_cum and a.vocab_cum <= b.vocab_cum
    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.count()
    true_vocab = (
        docs.selectExpr(r"explode(split(trim(text), '\\s+')) AS tok")
        .select("tok").distinct().count()
    )
    assert rows[-1].docs_cum == n_docs
    assert rows[-1].vocab_cum == true_vocab


def test_skyline_is_an_antichain(spark, sf_dir):
    from movie_data_transformer_spark.operators.skyline_queries import (
        q_orders_skyline,
    )

    pts = sorted(
        ((r.cents, r.day) for r in q_orders_skyline(spark, sf_dir).collect()),
        reverse=True,
    )
    assert pts
    # strictly decreasing cents => strictly increasing days (no mutual
    # dominance anywhere on the frontier)
    for (c1, d1), (c2, d2) in zip(pts, pts[1:]):
        assert c1 > c2 and d1 < d2


def test_mad_outliers_bounds(spark, sf_dir):
    from movie_data_transformer_spark.operators.robust_stats_queries import (
        q_stats_mad_outliers,
    )

    rows = q_stats_mad_outliers(spark, sf_dir).collect()
    assert len(rows) == 5
    for r in rows:
        assert r.mad_cents >= 0 and 0 <= r.n_outliers < r.n // 2


def test_stream_cdc_apply_equals_batch_form(spark, sf_dir):
    from movie_data_transformer_spark.operators.changelog_queries import (
        q_cdc_apply_tombstones,
        q_stream_cdc_apply,
    )

    batch = {tuple(r) for r in q_cdc_apply_tombstones(spark, sf_dir).collect()}
    stream = {tuple(r) for r in q_stream_cdc_apply(spark, sf_dir).collect()}
    assert stream == batch and batch


def test_pii_planted_recall_and_no_leak(spark, sf_dir):
    from movie_data_transformer_spark.operators.redaction_queries import (
        q_pii_detect_redact,
    )

    rows = q_pii_detect_redact(spark, sf_dir).collect()
    by_id = {r.doc_id: r for r in rows}
    n_docs = load_table(spark, sf_dir, "documents").count()
    # exact planted recall: every %5 doc has its email, every %7 its phone
    for r in rows:
        assert r.n_emails == (1 if r.doc_id % 5 == 0 else 0)
        assert r.n_phones == (1 if r.doc_id % 7 == 0 else 0)
    planted = {d for d in range(n_docs) if d % 5 == 0 or d % 7 == 0}
    docs_ids = {
        r.doc_id for r in load_table(spark, sf_dir, "documents").select("doc_id").collect()
    }
    assert set(by_id) == {d for d in docs_ids if d % 5 == 0 or d % 7 == 0}
    # and the redacted text truly contains no address (spot-check one doc)
    from movie_data_transformer_spark.operators.redaction_queries import (
        _EMAIL_RE,
        _PHONE_RE,
    )
    from pyspark.sql import functions as F2

    docs = load_table(spark, sf_dir, "documents").filter("doc_id % 35 = 0")
    red = docs.selectExpr(
        "concat(text, ' contact user', doc_id, '@example.com',"
        " ' call +1-555-', lpad(CAST(doc_id % 10000 AS STRING), 4, '0')) AS t"
    ).selectExpr(
        f"regexp_replace(regexp_replace(t, '{_EMAIL_RE}', '[EMAIL]'),"
        f" '{_PHONE_RE}', '[PHONE]') AS t"
    )
    leaks = red.filter(
        F2.expr(f"t rlike '{_EMAIL_RE}' OR t rlike '{_PHONE_RE}'")
    ).count()
    assert leaks == 0


def test_type7_quantile_matches_numpy(spark, sf_dir):
    import numpy as np

    from movie_data_transformer_spark.operators.robust_stats_queries import (
        q_stats_quantile_interp,
    )

    got = {r.event_type: r for r in q_stats_quantile_interp(spark, sf_dir).collect()}
    ev = load_table(spark, sf_dir, "events").selectExpr(
        "event_type", "CAST(floor(value * 100) AS BIGINT) AS cents"
    ).collect()
    from collections import defaultdict

    vals = defaultdict(list)
    for r in ev:
        vals[r.event_type].append(r.cents)
    for t, xs in vals.items():
        a = np.asarray(sorted(xs), dtype=np.float64)
        assert got[t].p50_cents_micro == round(float(np.quantile(a, 0.5)) * 1e6)
        assert got[t].p90_cents_micro == round(float(np.quantile(a, 0.9)) * 1e6)


def test_version_diff_accounts_for_every_key(spark, sf_dir):
    from movie_data_transformer_spark.operators.version_diff_queries import (
        q_table_version_diff,
    )

    rows = {r.status: r for r in q_table_version_diff(spark, sf_dir).collect()}
    assert set(rows) == {"added", "removed", "changed", "unchanged"}
    assert rows["removed"].n_keys == 0  # additive merge never removes
    # at least one key changed and the deltas are non-negative (additive)
    assert rows["changed"].n_keys > 0
    assert rows["changed"].total_e4_delta_sum > 0
    assert rows["added"].total_e4_delta_sum >= 0
    assert rows["unchanged"].total_e4_delta_sum == 0


def test_recsys_e2e_beats_zero_and_counts_all_users(spark, sf_dir):
    from movie_data_transformer_spark.operators.recsys_queries import (
        q_recsys_pipeline_e2e,
    )

    r = q_recsys_pipeline_e2e(spark, sf_dir).collect()[0]
    n_users = interactions(spark, sf_dir).select("customerId").distinct().count()
    # every fixture user has >= 2 watches, so all are evaluated
    assert r.n_users_eval == n_users
    # the model carries real signal (observed 27% at sf0.001, 57% at
    # sf0.01; random over the candidate pool is ~15%)
    assert r.n_hits_at3 > 0
    assert r.hit_rate_micro == r.n_hits_at3 * 1_000_000 // r.n_users_eval


def test_kendall_pair_accounting(spark, sf_dir):
    from movie_data_transformer_spark.operators.kendall_queries import (
        q_stats_kendall_by_year,
    )

    for r in q_stats_kendall_by_year(spark, sf_dir).collect():
        assert r.concordant >= 0 and r.discordant >= 0 and r.tied >= 0
        total = r.concordant + r.discordant + r.tied
        assert -1_000_000 <= r.tau_a_micro <= 1_000_000
        num = (r.concordant - r.discordant) * 1_000_000
        trunc = abs(num) // total * (1 if num >= 0 else -1)  # Spark div truncates
        assert trunc == r.tau_a_micro


def test_iter_udf_inits_once_per_partition(spark, tmp_path):
    """The SCALAR_ITER form's whole reason to exist: init code before
    the batch loop runs once per TASK, not once per Arrow batch."""
    from pyspark.sql.functions import pandas_udf

    marker = str(tmp_path / "inits")

    @pandas_udf("long")
    def probe(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        with open(marker, "a") as f:
            f.write("init\n")
        for b in batches:
            yield b.str.len().astype("int64")

    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "10")
    try:
        df = spark.range(400).selectExpr("CAST(id AS STRING) AS s").repartition(4)
        df.select(probe("s").alias("n")).collect()
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    inits = open(marker).read().count("init")
    # 4 partitions x 10 batches each: per-batch init would write 40
    assert inits == 4


def test_eval_extras_invariants(spark, sf_dir):
    from movie_data_transformer_spark.operators.eval_extras_queries import (
        q_conformal_interval_coverage,
        q_lang_id_confusion,
        q_stats_chi2_contingency,
    )

    conf = q_lang_id_confusion(spark, sf_dir).collect()
    n_docs = load_table(spark, sf_dir, "documents").count()
    assert sum(r.n for r in conf) == n_docs
    # zh has no heuristic class: it must appear as actual, never predicted
    assert any(r.actual_lang == "zh" for r in conf)
    assert not any(r.pred_lang == "zh" for r in conf)
    # the heuristic carries signal: diagonal beats the uniform-random
    # baseline over the 5 actual classes (observed ~37%; the 15% zh
    # share is unclassifiable by construction)
    diag = sum(r.n for r in conf if r.actual_lang == r.pred_lang)
    assert diag > n_docs // 5

    cv = q_conformal_interval_coverage(spark, sf_dir).collect()[0]
    assert cv.q_abs > 0 and cv.n_eval > 0
    assert cv.n_covered <= cv.n_eval
    # distribution-free guarantee holds in expectation at 90%; with ~14
    # eval days allow generous finite-sample slack (observed >= 71%)
    assert cv.coverage_micro >= 500_000

    chi = q_stats_chi2_contingency(spark, sf_dir).collect()[0]
    assert chi.n_cells == 25 and chi.chi2_micro >= 0


def test_bfs_levels_walk_the_planted_chain(spark, sf_dir):
    from movie_data_transformer_spark.operators.graph_extras_queries import (
        q_graph_bfs_distances,
    )

    dist = {r.customerId: r.dist for r in q_graph_bfs_distances(spark, sf_dir).collect()}
    assert dist["c0"] == 0
    for i in range(5):
        assert dist[f"p:{i}"] == i + 1  # one chain node per BFS level
    n_users = interactions(spark, sf_dir).select("customerId").distinct().count()
    # the dense cohort graph is fully reachable from c0 within the bound
    assert len(dist) == n_users + 5


def test_throttle_kept_chain_respects_ttl(spark, sf_dir):
    from movie_data_transformer_spark.operators.throttle_queries import (
        TTL_US,
        q_events_throttle_ttl,
    )

    kept = q_events_throttle_ttl(spark, sf_dir).collect()
    from collections import defaultdict

    by_group = defaultdict(list)
    for r in kept:
        by_group[(r.user_id, r.event_type)].append(r.kept_ts_us)
    ev = load_table(spark, sf_dir, "events").selectExpr(
        "user_id", "event_type", "unix_micros(CAST(ts AS TIMESTAMP)) AS ts_us"
    ).collect()
    firsts = defaultdict(lambda: None)
    for r in ev:
        k = (r.user_id, r.event_type)
        if firsts[k] is None or r.ts_us < firsts[k]:
            firsts[k] = r.ts_us
    for k, ts_list in by_group.items():
        ts_list.sort()
        # the group's first event is always kept
        assert ts_list[0] == firsts[k]
        # consecutive kept events are >= TTL apart
        for a, b in zip(ts_list, ts_list[1:]):
            assert b - a >= TTL_US
    # every group with events has at least one kept row
    assert set(by_group) == set(firsts)


def test_hysteresis_transitions_alternate(spark, sf_dir):
    from movie_data_transformer_spark.operators.alerting_queries import (
        q_events_hysteresis_alerts,
    )

    rows = sorted(q_events_hysteresis_alerts(spark, sf_dir).collect(),
                  key=lambda r: r.day)
    assert rows, "quantile watermarks must trip at every SF"
    # transitions strictly alternate and start with alert_started
    assert rows[0].transition == "alert_started"
    for a, b in zip(rows, rows[1:]):
        assert a.transition != b.transition


def test_macro_f1_component_identities(spark, sf_dir):
    from movie_data_transformer_spark.operators.eval_extras_queries import (
        q_classifier_macro_f1,
    )

    rows = q_classifier_macro_f1(spark, sf_dir).collect()
    n_docs = load_table(spark, sf_dir, "documents").count()
    assert sum(r.tp + r.fn for r in rows) == n_docs  # every doc has a class
    assert sum(r.fp for r in rows) == sum(r.fn for r in rows)  # closed world
    zh = next(r for r in rows if r.__getattr__("class") == "zh")
    assert zh.tp == 0 and zh.f1_micro == 0  # the undetectable class


def test_not_in_null_trap_diverges(spark, sf_dir):
    from movie_data_transformer_spark.operators.sql_semantics_queries import (
        q_sql_not_in_null_trap,
    )

    r = q_sql_not_in_null_trap(spark, sf_dir).collect()[0]
    # the planted NULL makes NOT IN return nothing, while NOT EXISTS
    # performs the real anti-join — the divergence IS the semantics
    assert r.n_not_in == 0
    assert r.n_not_exists > 0
    assert r.n_in == r.n_exists  # the positive forms agree


def test_grouping_sets_rollup_grains_are_complete(spark, sf_dir):
    from movie_data_transformer_spark.operators.sql_semantics_queries import (
        q_events_time_grain_rollup,
    )

    rows = q_events_time_grain_rollup(spark, sf_dir).collect()
    by_gid = {}
    for r in rows:
        by_gid.setdefault(r.gid, []).append(r)
    assert set(by_gid) == {3, 5, 6}
    total = load_table(spark, sf_dir, "events").count()
    for gid, grain_rows in by_gid.items():
        assert sum(r.n_events for r in grain_rows) == total, gid


def test_whale_cap_excludes_mega_watcher_from_model(spark):
    """r07 VERDICT advice #2: the max_watchlist cap on item_similarities
    must be a REAL parameter — a planted whale customer (watches every
    title) is excluded from model building when over the cap, and the
    capped model equals the model built with the whale's rows removed
    up front (sizes/co/Jaccard all on the capped universe)."""
    from movie_data_transformer_spark.operators.recsys_queries import (
        item_similarities,
    )

    titles = [f"m{i}" for i in range(8)]
    rows = []
    for c, picks in (("c1", titles[0:3]), ("c2", titles[1:4]), ("c3", titles[2:5])):
        rows += [(c, m) for m in picks]
    rows += [("whale", m) for m in titles]  # 8 titles: over a cap of 5
    watched = spark.createDataFrame(rows, "customerId string, movieId string")
    no_whale = watched.filter("customerId != 'whale'")

    capped = item_similarities(watched, max_watchlist=5)
    expected = item_similarities(no_whale, max_watchlist=10**9)
    assert capped.exceptAll(expected).count() == 0
    assert expected.exceptAll(capped).count() == 0

    # and without the cap the whale genuinely changes the model
    uncapped = item_similarities(watched, max_watchlist=10**9)
    assert uncapped.exceptAll(expected).count() > 0
