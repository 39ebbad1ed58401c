"""Inverted-index consistency, LATERAL top-k equivalence, chi-square
contingency invariants."""

from __future__ import annotations

from collections import defaultdict

from pyspark.sql import Window
from pyspark.sql import functions as F

from movie_data_transformer_spark.operators.search_queries import (
    q_events_crosstab_chi2_cells,
    q_inverted_index,
    q_join_lateral_topk,
)
from movie_data_transformer_spark.sources.tables import load_table


def test_inverted_index_postings_sorted_and_consistent(spark, sf_dir):
    rows = q_inverted_index(spark, sf_dir).collect()
    assert rows
    total_tf = 0
    for r in rows:
        ids = [int(x) for x in r.postings.split(" ")]
        assert ids == sorted(ids)
        assert len(ids) == len(set(ids)) == r.doc_freq
        assert r.total_tf >= r.doc_freq
        total_tf += r.total_tf
    # total term frequency across the index == corpus token count
    docs = load_table(spark, sf_dir, "documents")
    n_tokens = (
        docs.select(
            F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("t")
        )
        .filter(F.col("t") != "")
        .count()
    )
    assert total_tf == n_tokens


def test_lateral_topk_matches_window_form(spark, sf_dir):
    got = {
        (r.n_name, r.s_name, r.s_acctbal)
        for r in q_join_lateral_topk(spark, sf_dir).collect()
    }
    sup = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    w = Window.partitionBy("s_nationkey").orderBy(
        F.col("s_acctbal").desc(), F.col("s_name").asc()
    )
    want = {
        (r.n_name, r.s_name, r.s_acctbal)
        for r in sup.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 2)
        .join(nat, sup.s_nationkey == nat.n_nationkey)
        .select("n_name", "s_name", "s_acctbal")
        .collect()
    }
    assert got == want
    per_nation = defaultdict(int)
    for n, _, _ in got:
        per_nation[n] += 1
    assert all(v <= 2 for v in per_nation.values())


def test_chi2_cells_marginal_invariants(spark, sf_dir):
    rows = q_events_crosstab_chi2_cells(spark, sf_dir).collect()
    assert rows
    grand = rows[0].grand_total
    assert sum(r.obs for r in rows) == grand
    row_sums = defaultdict(int)
    col_sums = defaultdict(int)
    for r in rows:
        assert r.grand_total == grand
        assert r.chi2_contrib >= 0
        assert r.expected > 0
        row_sums[r.event_type] += r.obs
        col_sums[r.event_hour] += r.obs
    for r in rows:
        assert row_sums[r.event_type] == r.row_total
        assert col_sums[r.event_hour] == r.col_total
    # expected counts per row sum back to the row total (rounding slack)
    exp_by_row = defaultdict(float)
    for r in rows:
        exp_by_row[r.event_type] += r.expected
    for et, tot in exp_by_row.items():
        assert abs(tot - row_sums[et]) < 1e-3


def test_bm25_ranking_golden(spark):
    """Hand-checkable BM25 behavior: higher tf wins at equal length,
    shorter documents win at equal tf (length normalization), docs
    without any query term never appear, and matching both query terms
    beats matching one."""
    from unittest.mock import patch

    from movie_data_transformer_spark.operators.search_ranking_queries import (
        q_search_bm25_topk,
    )

    df = spark.createDataFrame(
        [
            (1, "slow slow query pad1 pad2 pad3"),  # both terms, tf(slow)=2
            (2, "slow other pad1 pad2 pad3 pad4"),  # one term, same length
            (3, "slow pad1"),  # one term, much shorter
            (4, "nothing here at all pad pad"),  # no query terms
        ],
        "doc_id long, text string",
    )
    with patch(
        "movie_data_transformer_spark.operators.search_ranking_queries.load_table",
        lambda _s, _d, _t: df,
    ):
        rows = q_search_bm25_topk(spark, "x").collect()
    q1 = {r.doc_id: r for r in rows if r.query_id == 1}
    assert set(q1) == {1, 2, 3}  # doc 4 never scored
    # both-terms + higher tf beats everything
    assert q1[1].rank == 1
    # equal tf: the shorter doc outranks the longer one
    assert q1[3].score_micro > q1[2].score_micro
    # score is a positive integer micro value
    assert all(r.score_micro > 0 for r in rows)


def test_phrase_match_golden(spark):
    """Adjacency is exact: 'slow query' twice in doc 1, a gap in doc 2
    breaks the phrase, reversed order in doc 3 doesn't match, and the
    3-term phrase needs all three tokens consecutive."""
    from unittest.mock import patch

    from movie_data_transformer_spark.operators.search_ranking_queries import (
        q_search_phrase_match,
    )

    df = spark.createDataFrame(
        [
            (1, "slow query a slow query"),
            (2, "slow b query"),
            (3, "query slow"),
            (4, "x table scan join y"),
            (5, "table scan x join"),
        ],
        "doc_id long, text string",
    )
    with patch(
        "movie_data_transformer_spark.operators.search_ranking_queries.load_table",
        lambda _s, _d, _t: df,
    ):
        got = {
            (r.phrase_id, r.doc_id): r.n_matches
            for r in q_search_phrase_match(spark, "x").collect()
        }
    assert got == {(1, 1): 2, (2, 4): 1}


def test_bm25_score_survives_int64_overflow_domain(spark):
    """The decimal-lifted score matches Python big-int math at corpus
    magnitudes where the plain BIGINT product would exceed 2^63 (found
    by review: the old form overflowed around 5e4 docs x 1e6 tokens)."""
    from movie_data_transformer_spark.operators.search_ranking_queries import (
        SCORE_D_EXPR,
        SCORE_FLOOR_EXPR,
        SCORE_M_EXPR,
    )

    n, l, df, tf, dl = 100_000, 1_000_000, 1, 10, 50
    idf = (2 * n - 2 * df + 1) * 1_000_000 // (2 * df + 1)
    assert idf * (22 * l * tf) > 2**63  # the probe is in the danger zone
    expect = idf * (22 * l * tf) // (10 * l * tf + 3 * l + 9 * dl * n)
    row = (
        spark.createDataFrame(
            [(n, l, df, tf, dl)], "n long, l long, df long, tf long, dl long"
        )
        # the PRODUCTION expressions, imported — not a re-typed copy
        .selectExpr(SCORE_M_EXPR, SCORE_D_EXPR)
        .selectExpr(SCORE_FLOOR_EXPR)
        .collect()[0]
    )
    assert row.term_score_micro == expect


def test_key_skew_profile_invariants(spark, sf_dir):
    """The top-5 skew rows agree with a direct recount: freq matches the
    per-key count, share/skew micro values match Python floor math, and
    rows come out heaviest-first under the (freq desc, user_id) order."""
    from movie_data_transformer_spark.operators.profile_queries import (
        q_key_skew_profile,
    )
    from movie_data_transformer_spark.sources.tables import load_table

    rows = q_key_skew_profile(spark, sf_dir).collect()
    assert len(rows) == 5
    ev = load_table(spark, sf_dir, "events").groupBy("user_id").count()
    counts = {r.user_id: r["count"] for r in ev.collect()}
    n_rows, n_keys = sum(counts.values()), len(counts)
    expect = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:5]
    got = [(r.user_id, r.freq) for r in sorted(rows, key=lambda r: (-r.freq, r.user_id))]
    assert got == expect
    for r in rows:
        assert (r.n_rows, r.n_keys) == (n_rows, n_keys)
        assert r.share_micro == r.freq * 1_000_000 // n_rows
        assert r.skew_vs_avg_micro == r.freq * n_keys * 1_000_000 // n_rows


def test_rake_keywords_golden_segmentation(spark):
    """RAKE on a literal corpus: stopwords delimit phrases, degree
    rewards co-occurring words so the long phrase outranks its parts,
    and a phrase repeated across docs scores once (no k-fold sum)."""
    from movie_data_transformer_spark.operators.keyword_queries import (
        rake_keywords,
    )

    docs = spark.createDataFrame(
        [
            (1, "deep learning is the best approach to deep learning", "en", 51),
            (2, "the best approach", "en", 17),
        ],
        "doc_id long, text string, lang string, n_chars long",
    )
    rows = {r.phrase: r for r in rake_keywords(docs).collect()}
    # phrases: 'deep learning' x2 (doc 1), 'best approach' x2
    # word stats: deep f=2 d=4, learning f=2 d=4, best f=2 d=4,
    # approach f=2 d=4 -> every word scores 2.0; both phrases score 4.0
    assert set(rows) == {"deep learning", "best approach"}
    assert rows["deep learning"].score_micro == 4_000_000
    assert rows["best approach"].score_micro == 4_000_000
    assert rows["deep learning"].n_words == 2
    # tie broken by phrase asc
    assert rows["best approach"].rk == 1 and rows["deep learning"].rk == 2


def test_tv_drift_bounds_and_golden(spark, sf_dir):
    """TV in [0,1] on the real corpus; golden: identical-distribution
    sources give 0, token-disjoint sources give 1, and a half-overlap
    pair lands exactly at 0.5 (exact rational)."""
    from movie_data_transformer_spark.operators import dq_extras_queries as dq

    rows = dq.q_source_token_tv_drift(spark, sf_dir).collect()
    assert len(rows) == 190  # 20 sources -> C(20,2)
    assert all(0.0 <= r.tv_distance <= 1.0 for r in rows)

    docs = spark.createDataFrame(
        [
            (1, "a b c d", "en", "s1", 7),
            (2, "a b c d", "en", "s2", 7),      # identical to s1 -> TV 0
            (3, "x y z w", "en", "s3", 7),      # disjoint from s1 -> TV 1
            (4, "a b x y", "en", "s4", 7),      # half overlap with s1 -> 0.5
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    orig = dq.load_table
    try:
        dq.load_table = lambda s, d, n: docs
        got = {(r.src_a, r.src_b): r.tv_distance
               for r in dq.q_source_token_tv_drift(spark, "ignored").collect()}
    finally:
        dq.load_table = orig
    assert got[("s1", "s2")] == 0.0
    assert got[("s1", "s3")] == 1.0
    assert got[("s1", "s4")] == 0.5


def test_feature_hashing_invariants(spark, sf_dir):
    """l1 mass equals each doc's token count (the hashing trick loses no
    mass); nnz <= min(64, n_tokens); vectors are deterministic across
    invocations (same md5)."""
    from pyspark.sql import functions as F

    from movie_data_transformer_spark.operators.dedup import normalize_text
    from movie_data_transformer_spark.operators.embedding_pipeline_queries import (
        q_text_feature_hashing,
    )
    from movie_data_transformer_spark.sources.tables import load_table

    rows = {r.doc_id: r for r in q_text_feature_hashing(spark, sf_dir).collect()}
    toks = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", F.size(F.split(normalize_text(F.col("text")), " ")).alias("n"))
        .collect()
    )
    for t in toks:
        r = rows[t.doc_id]
        assert r.l1 == t.n
        assert 1 <= r.nnz <= min(64, t.n)
    again = {r.doc_id: r.vec_md5
             for r in q_text_feature_hashing(spark, sf_dir).collect()}
    assert again == {k: v.vec_md5 for k, v in rows.items()}


def test_hybrid_rrf_fusion_invariants(spark, sf_dir):
    """Fused list properties: 10 per query; rrf_micro consistent with
    the member ranks (recomputed); a doc on BOTH lists outranks the
    same ranks split across docs (the fusion monotonicity RRF is for);
    every fused doc appears on at least one source list."""
    from movie_data_transformer_spark.operators.search_extras_queries import (
        RRF_K,
        q_search_hybrid_rrf,
    )

    rows = q_search_hybrid_rrf(spark, sf_dir).collect()
    by_q: dict[int, list] = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    assert set(by_q) == {1, 2, 3}
    for q, rs in by_q.items():
        assert [r.fused_rank for r in sorted(rs, key=lambda r: r.fused_rank)] == list(range(1, 11))
        for r in rs:
            want = 0
            if r.rank_bm25 is not None:
                want += 1_000_000 // (RRF_K + r.rank_bm25)
            if r.rank_vec is not None:
                want += 1_000_000 // (RRF_K + r.rank_vec)
            assert r.rrf_micro == want and want > 0
        # fused order is nonincreasing in rrf_micro
        srt = sorted(rs, key=lambda r: r.fused_rank)
        assert all(a.rrf_micro >= b.rrf_micro for a, b in zip(srt, srt[1:]))
