"""BPE merge learning: the classic golden example + invariants."""

from __future__ import annotations


def _docs(spark, text: str):
    return spark.createDataFrame([(1, text)], "doc_id long, text string")


def test_bpe_classic_golden(spark):
    """Sennrich-style corpus (low x5, lower x2, newest x6, widest x3):
    the merge sequence is the textbook one under the deterministic
    tie-break (count desc, pair asc)."""
    from movie_data_transformer_spark.operators.bpe import learn_bpe_merges

    text = " ".join(["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3)
    # greedy merges are prefix-stable: the first 5 of N_MERGES are the
    # textbook sequence whatever N_MERGES is
    got = [
        (r.left, r.right, r.pair_count)
        for r in learn_bpe_merges(_docs(spark, text)).orderBy("merge_idx").collect()
    ][:5]
    assert got == [
        ("e", "s", 9),  # newest + widest
        ("es", "t", 9),
        ("est", "</w>", 9),
        ("l", "o", 7),  # low + lower
        ("lo", "w", 7),
    ]


def test_bpe_apply_encodes_and_compresses(spark):
    from movie_data_transformer_spark.operators.bpe import (
        apply_bpe_merges,
        learn_bpe_merges,
    )

    text = " ".join(["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3)
    docs = _docs(spark, text)
    merges = [
        (r.left, r.right)
        for r in learn_bpe_merges(docs).orderBy("merge_idx").collect()
    ][:5]
    row = apply_bpe_merges(docs, merges).collect()[0]
    assert row.n_words == 16
    # raw symbols: chars + one </w> per word = (5*3 + 2*5 + 6*6 + 3*6) + 16 = 95
    # after (e,s)(es,t)(est,</w>)(l,o)(lo,w), applied in order:
    #   low    -> 'low </w>'       2 tokens x5
    #   lower  -> 'low e r </w>'   4 tokens x2
    #   newest -> 'n e w est</w>'  4 tokens x6
    #   widest -> 'w i d est</w>'  4 tokens x3
    assert row.n_subwords == 5 * 2 + 2 * 4 + 6 * 4 + 3 * 4  # == 54 < 95


def test_bpe_merge_never_crosses_word_boundary(spark):
    """Adjacent WORDS must contribute no pairs: in 'b a b a b a' the
    only pairs are within-word (x, </w>) — (b, a) never exists despite
    six cross-boundary adjacencies in the raw text."""
    from movie_data_transformer_spark.operators.bpe import (
        _pair_counts,
        learn_bpe_merges,
        words_as_symbols,
    )

    docs = _docs(spark, "b a b a b a")
    pairs = {
        (r.left, r.right): r.pair_count
        for r in _pair_counts(words_as_symbols(docs)).collect()
    }
    assert pairs == {("a", "</w>"): 3, ("b", "</w>"): 3}
    got = learn_bpe_merges(docs).orderBy("merge_idx").collect()
    # tie on count 3 -> pair-ascending tie-break picks ('a', '</w>')
    assert (got[0].left, got[0].right, got[0].pair_count) == ("a", "</w>", 3)


def test_bpe_overlapping_run_merges_leftmost(spark):
    """'aaa' with merge (a,a): leftmost-nonoverlapping -> 'aa a', never
    'a aa' or a triple merge."""
    from movie_data_transformer_spark.operators.bpe import (
        apply_bpe_merges,
        learn_bpe_merges,
    )

    docs = _docs(spark, "aaa aaa")
    m = learn_bpe_merges(docs).orderBy("merge_idx").collect()
    assert (m[0].left, m[0].right, m[0].pair_count) == ("a", "a", 4)
    row = apply_bpe_merges(docs, [("a", "a")]).collect()[0]
    # per word: 'aa a </w>' = 3 tokens
    assert row.n_subwords == 6


def test_bpe_encode_fixed_golden(spark):
    """The fixed-merge encode entry's replace chain on a known sentence,
    with the encoded string surfaced (with_encoding=True)."""
    from movie_data_transformer_spark.operators.bpe import apply_bpe_merges
    from movie_data_transformer_spark.operators.lm_queries import BPE_FIXED_MERGES

    row = apply_bpe_merges(
        _docs(spark, "the thin anther"), BPE_FIXED_MERGES, with_encoding=True
    ).collect()[0]
    # the    -> th -> the -> the</w>                             1 token
    # thin   -> th i n -> th in                                  2 tokens
    # anther -> a n t h e r -> a n th e r -> a n the r -> an the r
    #   ((th,e) fires before (e,r) can see a bare 'e')            3 tokens
    assert row.encoded == "the</w> th in </w> an the r </w>"
    assert row.n_words == 3
    assert row.n_subwords == 8


def test_ccnet_buckets_partition_corpus(spark, sf_dir):
    """head/middle/tail tile the corpus: doc counts sum to |corpus| and
    differ by at most 1 (ntile), token totals sum to the corpus total,
    and score ranges are ordered head >= middle >= tail at the
    boundaries (ties at a boundary make them equal, never inverted)."""
    from movie_data_transformer_spark.operators.lm_queries import (
        q_ccnet_lm_buckets,
        q_text_unigram_lm,
    )
    from movie_data_transformer_spark.sources.tables import load_table

    rows = {r.bucket: r for r in q_ccnet_lm_buckets(spark, sf_dir).collect()}
    assert set(rows) == {"head", "middle", "tail"}
    n_docs = load_table(spark, sf_dir, "documents").count()
    assert sum(r.n_docs for r in rows.values()) == n_docs
    sizes = sorted(r.n_docs for r in rows.values())
    assert sizes[-1] - sizes[0] <= 1
    lm = q_text_unigram_lm(spark, sf_dir).agg({"n_tokens": "sum"}).collect()[0][0]
    assert sum(r.n_tokens for r in rows.values()) == lm
    assert rows["head"].min_score_micro >= rows["middle"].max_score_micro
    assert rows["middle"].min_score_micro >= rows["tail"].max_score_micro
    for r in rows.values():
        assert r.max_score_micro >= r.min_score_micro


def test_fertility_consistent_with_encode(spark, sf_dir):
    from collections import defaultdict

    from movie_data_transformer_spark.operators.fertility_queries import (
        q_bpe_fertility_by_lang,
    )
    from movie_data_transformer_spark.operators.lm_queries import (
        q_bpe_encode_fixed,
    )
    from movie_data_transformer_spark.sources.tables import load_table

    langs = {
        r.doc_id: r.lang
        for r in load_table(spark, sf_dir, "documents").collect()
    }
    agg = defaultdict(lambda: [0, 0, 0])
    for r in q_bpe_encode_fixed(spark, sf_dir).collect():
        a = agg[langs[r.doc_id]]
        a[0] += 1
        a[1] += r.n_words
        a[2] += r.n_subwords
    got = {r.lang: r for r in q_bpe_fertility_by_lang(spark, sf_dir).collect()}
    assert set(got) == set(agg)
    for lang, (nd, nw, ns) in agg.items():
        row = got[lang]
        assert (row.n_docs, row.n_words, row.n_subwords) == (nd, nw, ns)
        assert row.fertility_micro == ns * 1_000_000 // nw
        # BPE merges only ever REDUCE symbol count: fertility is bounded
        # above by chars-per-word and below by 1 (plus the </w> sentinel
        # keeps every word >= 1 subword)
        assert row.fertility_micro >= 1_000_000
