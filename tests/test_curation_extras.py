"""Training-shard export plan + canonical-per-cluster selection."""

from __future__ import annotations

from pyspark.sql import functions as F

from movie_data_transformer_spark.operators.curation_queries import (
    q_docs_canonical_per_cluster,
    q_training_shards,
)
from movie_data_transformer_spark.operators.dedup import augmented_corpus
from movie_data_transformer_spark.sources.tables import load_table


def test_training_shards_layout(spark, sf_dir):
    rows = q_training_shards(spark, sf_dir).collect()
    n_docs = load_table(spark, sf_dir, "documents").count()
    assert len(rows) == n_docs
    by_shard: dict[int, list[int]] = {}
    for r in rows:
        assert 0 <= r.shard < 16
        by_shard.setdefault(r.shard, []).append(r.pos)
    # all 16 shards populated, positions contiguous from 1, sizes balanced
    assert len(by_shard) == 16
    for poss in by_shard.values():
        assert sorted(poss) == list(range(1, len(poss) + 1))
    sizes = sorted(len(v) for v in by_shard.values())
    assert sizes[-1] <= 2 * sizes[0]  # hash balance at 500/16 docs per shard
    # layout is a deterministic function of doc_id alone
    again = {(r.doc_id): (r.shard, r.pos) for r in q_training_shards(spark, sf_dir).collect()}
    assert {(r.doc_id): (r.shard, r.pos) for r in rows} == again


def test_quality_funnel_chains(spark, sf_dir):
    from movie_data_transformer_spark.operators.curation_queries import (
        q_quality_gate_funnel,
    )

    rows = sorted(q_quality_gate_funnel(spark, sf_dir).collect(), key=lambda r: r.stage)
    assert [r.stage_name for r in rows] == ["min_length", "ttr", "stopwords"]
    n_docs = load_table(spark, sf_dir, "documents").count()
    assert rows[0].n_in == n_docs
    for r in rows:
        assert 0 <= r.n_out <= r.n_in
        # drop_rate is FLOOR-based (micro_ratio), not round(): assert the
        # floor form so a fixture ratio like 2/3 can't break it spuriously
        assert abs(r.drop_rate - ((r.n_in - r.n_out) * 1_000_000 // r.n_in) / 1_000_000) < 1e-12
    # sequential gate: each stage's input is the previous stage's output
    assert rows[1].n_in == rows[0].n_out
    assert rows[2].n_in == rows[1].n_out


def test_token_budget_largest_remainder(spark, sf_dir):
    from movie_data_transformer_spark.operators.curation_queries import (
        TOKEN_BUDGET,
        q_token_budget_by_source,
    )

    rows = q_token_budget_by_source(spark, sf_dir).collect()
    assert sum(r.token_quota for r in rows) == TOKEN_BUDGET  # exact, no drift
    total = sum(r.n_tokens_total for r in rows)
    for r in rows:
        exact = TOKEN_BUDGET * r.n_tokens_total / total
        assert exact - 1 < r.token_quota < exact + 1  # within 1 of proportional


def test_weighted_systematic_exact_k_and_pps(spark, sf_dir):
    from movie_data_transformer_spark.operators.curation_queries import (
        SYSTEMATIC_K,
        q_sample_weighted_systematic,
    )

    rows = q_sample_weighted_systematic(spark, sf_dir).collect()
    assert sum(r.n_copies for r in rows) == SYSTEMATIC_K  # exactly K draws
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars").collect()
    total = sum(r.n_chars for r in docs)
    expect = {r.doc_id: SYSTEMATIC_K * r.n_chars / total for r in docs}
    got = {r.doc_id: r.n_copies for r in rows}
    for d, e in expect.items():
        # systematic PPS: realized copies within 1 of the expectation
        assert abs(got.get(d, 0) - e) <= 1, (d, got.get(d, 0), e)


def test_canonical_per_cluster_picks_best(spark, sf_dir):
    out = {r.digest: (r.canon_doc_id, r.n_members) for r in q_docs_canonical_per_cluster(spark, sf_dir).collect()}
    assert len(out) == 50  # docs 50-99 each have one planted exact copy
    corpus = augmented_corpus(load_table(spark, sf_dir, "documents"))
    members = (
        corpus.select("doc_id", F.md5("text").alias("digest"), "n_chars")
        .groupBy("digest")
        .agg(F.collect_list(F.struct("n_chars", "doc_id")).alias("ms"))
        .filter(F.size("ms") >= 2)
        .collect()
    )
    assert len(members) == len(out)
    for r in members:
        best = max(r.ms, key=lambda m: (m.n_chars, -m.doc_id))
        canon, n = out[r.digest]
        assert canon == best.doc_id
        assert n == len(r.ms)


def test_dq_constraint_report_clean(spark, sf_dir):
    from movie_data_transformer_spark.operators.profile_queries import (
        q_dq_constraint_report,
    )
    from tests.plan_audit import audit_plan

    df = q_dq_constraint_report(spark, sf_dir)
    rows = {r.check_name: r for r in df.collect()}
    assert set(rows) == {
        "orders_pk_unique", "orders_custkey_complete", "orders_custkey_fk",
        "lineitem_orderkey_fk", "lineitem_domain_bounds",
    }
    # the synthetic tables are referentially clean — every check passes
    for r in rows.values():
        assert r.passed and r.n_violations == 0, r
    o_n = load_table(spark, sf_dir, "orders").count()
    li_n = load_table(spark, sf_dir, "lineitem").count()
    assert rows["orders_pk_unique"].n_checked == o_n
    assert rows["lineitem_orderkey_fk"].n_checked == li_n
    assert not audit_plan(df).has_cartesian
    # three fact scans total: one full orders scan (uniqueness +
    # completeness + customer-FK partials fused), a key-only orders
    # scan for the lineitem FK join, one lineitem scan. After the
    # collect above the AQE plan string repeats the tree under
    # '== Initial Plan ==' — count the final section only
    plan = (
        df._jdf.queryExecution()
        .executedPlan()
        .toString()
        .split("== Initial Plan ==")[0]
    )
    assert plan.count("orders.parquet") == 2
    assert plan.count("lineitem.parquet") == 1


def test_dq_expectations_single_orders_scan(spark, sf_dir):
    # the Deequ-shape contract: ALL six expectations from ONE scan of
    # orders (FK orphan flag rides the scan via a broadcast left join,
    # row-grain counts are partials of the key-grain uniqueness
    # pre-agg) — the naive base/uniq/fk CTE form inlined to seven scans
    from movie_data_transformer_spark.operators.dq_extras_queries import (
        q_dq_expectations_report,
    )

    df = q_dq_expectations_report(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("orders.parquet") == 1
    assert plan.count("customer.parquet") == 1
    assert "BroadcastHashJoin" in plan
    rows = {r.expectation: r for r in df.collect()}
    assert len(rows) == 6
    # the synthetic feed is clean: every expectation passes at rate 1
    for r in rows.values():
        assert r.ok == 1 and r.failed == 0 and r.pass_rate == 1.0, r


def test_ngram_contamination_catches_planted_copies(spark, sf_dir):
    """Every planted exact copy (+200000) long enough to have >= 5 word
    8-grams must be flagged against its source benchmark doc, sharing
    ALL of its windows (n_tokens - 7); and every flagged pair genuinely
    shares at least the threshold."""
    from movie_data_transformer_spark.operators.curation_queries import (
        q_contamination_ngram_overlap,
    )

    got = {
        (r.train_doc, r.bench_doc): r.n_shared
        for r in q_contamination_ngram_overlap(spark, sf_dir).collect()
    }
    assert all(v >= 5 for v in got.values())
    docs = load_table(spark, sf_dir, "documents")
    toks = {
        r.doc_id: r.n
        for r in docs.filter((F.col("doc_id") >= 50) & (F.col("doc_id") < 100))
        .select("doc_id", F.size(F.split(F.trim("text"), r"\s+")).alias("n"))
        .collect()
    }
    for doc, n in toks.items():
        if n - 7 >= 5:
            key = (doc + 200000, doc)
            assert key in got, f"planted exact copy {key} not flagged"
            # all of the copy's windows are shared (minus any dropped as
            # promiscuous stop-grams, hence >=, and never more than exist)
            assert 5 <= got[key] <= n - 7


def test_quality_classifier_scores_golden(spark):
    """Per-token weight = md5-hash % 2001 - 1000; doc logit is the exact
    integer sum; keep iff logit >= 0 (recomputed independently in
    Python's hashlib)."""
    import hashlib
    from unittest.mock import patch

    from movie_data_transformer_spark.operators.curation_queries import (
        q_quality_classifier_scores,
    )

    def w(tok: str) -> int:
        return int(hashlib.md5(tok.encode()).hexdigest()[:8], 16) % 2001 - 1000

    df = spark.createDataFrame(
        [(1, "alpha beta", "en"), (2, "gamma", "en")],
        "doc_id long, text string, lang string",
    )
    with patch(
        "movie_data_transformer_spark.operators.curation_queries.load_table",
        lambda _s, _d, _t: df,
    ):
        got = {r.doc_id: r for r in q_quality_classifier_scores(spark, "x").collect()}
    assert got[1].logit_sum == w("alpha") + w("beta")
    assert got[2].logit_sum == w("gamma")
    for r in got.values():
        assert r.label == ("keep" if r.logit_sum >= 0 else "drop")


def test_pipeline_e2e_composes_its_stages(spark, sf_dir):
    """The composed pipeline must agree with its standalone stages run
    in sequence: kept-doc count equals the number of distinct digests
    among quality survivors of the kept languages, token totals match,
    zh never appears, and every shard is within [0, 8)."""
    from pyspark.sql import functions as F

    from movie_data_transformer_spark.operators.pipeline_queries import (
        PIPELINE_LANGS,
        q_corpus_pipeline_e2e,
    )
    from movie_data_transformer_spark.operators.text import quality_scores, text_stats
    from movie_data_transformer_spark.sources.tables import load_table

    rows = q_corpus_pipeline_e2e(spark, sf_dir).collect()
    assert {r.lang for r in rows} <= set(PIPELINE_LANGS)
    assert all(0 <= r.shard < 8 for r in rows)

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("lang").isin(*PIPELINE_LANGS)
    )
    surv = (
        docs.join(text_stats(docs).select("doc_id", "n_tokens", "ttr"), "doc_id")
        .join(quality_scores(docs).select("doc_id", "stopword_ratio"), "doc_id")
        .filter(
            (F.col("n_tokens") >= 30)
            & (F.col("ttr") >= 0.2)
            & (F.col("stopword_ratio") >= 0.01)
        )
        .withColumn("dg", F.md5(F.lower(F.trim("text"))))
    )
    canon = surv.groupBy("dg").agg(
        F.min("doc_id").alias("doc_id"), F.first("lang").alias("lang")
    )
    kept = surv.join(canon.select("dg", "doc_id"), ["dg", "doc_id"])
    assert sum(r.n_docs for r in rows) == kept.count()
    assert (
        sum(r.n_tokens for r in rows)
        == kept.agg(F.sum("n_tokens")).collect()[0][0]
    )


def test_auc_matches_sklearn_free_recomputation(spark, sf_dir):
    """classifier_auc_exact equals a Python recomputation of the
    tie-corrected Mann-Whitney AUC over (logit, quality-label) pairs,
    and sits in [0, 1e6] micro-units."""
    from movie_data_transformer_spark.operators.curation_queries import (
        q_quality_classifier_scores,
    )
    from movie_data_transformer_spark.operators.ml_queries import (
        q_classifier_auc_exact,
    )
    from movie_data_transformer_spark.operators.text import quality_scores, text_stats
    from movie_data_transformer_spark.sources.tables import load_table

    row = q_classifier_auc_exact(spark, sf_dir).collect()[0]
    docs = load_table(spark, sf_dir, "documents")
    labels = {
        r.doc_id: int(
            r.n_tokens >= 30 and r.ttr >= 0.2 and r.stopword_ratio >= 0.01
        )
        for r in docs.join(
            text_stats(docs).select("doc_id", "n_tokens", "ttr"), "doc_id"
        )
        .join(quality_scores(docs).select("doc_id", "stopword_ratio"), "doc_id")
        .collect()
    }
    scores = {
        r.doc_id: r.logit_sum
        for r in q_quality_classifier_scores(spark, sf_dir).collect()
    }
    pairs = sorted((scores[d], labels[d]) for d in scores)
    n_pos = sum(y for _, y in pairs)
    n_neg = len(pairs) - n_pos
    assert (row.n_pos, row.n_neg) == (n_pos, n_neg)
    # tie-corrected rank sum: average ranks via 2r = 2*below + count + 1
    from collections import Counter

    cnt = Counter(s for s, _ in pairs)
    pos_at = Counter(s for s, y in pairs if y)
    below, t2 = 0, 0
    for s in sorted(cnt):
        t2 += pos_at[s] * (2 * below + cnt[s] + 1)
        below += cnt[s]
    expect = (t2 - n_pos * (n_pos + 1)) * 1_000_000 // (2 * n_pos * n_neg)
    assert row.auc_micro == expect
    assert 0 <= row.auc_micro <= 1_000_000


def test_calibration_bins_are_balanced_and_monotone(spark, sf_dir):
    """Decile bins differ by at most one doc, cover the corpus, and the
    mean logit is strictly ordered across bins (scores are ranked
    before binning); positive rate stays within [0, 1e6] micro."""
    from movie_data_transformer_spark.operators.ml_queries import (
        q_classifier_calibration_bins,
    )
    from movie_data_transformer_spark.sources.tables import load_table

    rows = sorted(
        q_classifier_calibration_bins(spark, sf_dir).collect(), key=lambda r: r.bin
    )
    assert [r.bin for r in rows] == list(range(1, 11))
    n_docs = load_table(spark, sf_dir, "documents").count()
    assert sum(r.n_docs for r in rows) == n_docs
    sizes = sorted(r.n_docs for r in rows)
    assert sizes[-1] - sizes[0] <= 1
    means = [r.mean_logit_micro for r in rows]
    assert means == sorted(means)
    for r in rows:
        assert 0 <= r.pos_rate_micro <= 1_000_000


def test_classifier_kappa_internal_consistency(spark, sf_dir):
    """The emitted marginals determine the full 2x2 table (a = (n_rule +
    n_clf + n_agree - n) / 2); recomputing kappa from it in exact Python
    integers must reproduce kappa_micro bit-for-bit, and kappa must sit
    in [-1, 1]."""
    from movie_data_transformer_spark.operators.ml_extras_queries import (
        q_classifier_kappa,
    )

    r = q_classifier_kappa(spark, sf_dir).collect()[0]
    n = r.n_docs
    two_a = r.n_rule_keep + r.n_clf_keep + r.n_agree - n
    assert two_a % 2 == 0 and two_a >= 0
    a = two_a // 2
    b = r.n_rule_keep - a
    c = r.n_clf_keep - a
    d = n - a - b - c
    assert min(a, b, c, d) >= 0 and a + d == r.n_agree
    pe_num = (a + b) * (a + c) + (c + d) * (b + d)
    num = (n * (a + d) - pe_num) * 1_000_000
    den = n * n - pe_num
    want = -((-num) // den) if num < 0 else num // den  # trunc toward zero
    assert r.kappa_micro == want
    assert -1_000_000 <= r.kappa_micro <= 1_000_000


def test_quantile_normalize_calibration_properties(spark, sf_dir):
    """Within every source, calibrated scores are monotone in raw scores
    (rank mapping preserves order), the min-ranked doc of each source
    maps to the global minimum score, and calibrated values are always
    actual global order statistics (members of the raw score multiset)."""
    from movie_data_transformer_spark.operators.calibration_queries import (
        q_score_quantile_normalize,
    )

    rows = q_score_quantile_normalize(spark, sf_dir).collect()
    all_scores = sorted(r.score for r in rows)
    gmin = all_scores[0]
    by_source = {}
    for r in rows:
        by_source.setdefault(r.source, []).append(r)
    assert len(by_source) > 1
    for src, rs in by_source.items():
        rs.sort(key=lambda r: (r.score, r.doc_id))
        assert rs[0].norm_score == gmin, src  # rank 1 -> global minimum
        norms = [r.norm_score for r in rs]
        assert norms == sorted(norms), src  # monotone calibration
    assert {r.norm_score for r in rows} <= set(all_scores)
