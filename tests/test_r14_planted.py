"""Planted-truth gates for r14-front llm-pool entries that until now
rested on the oracle differential alone: `text_rolling_hash`,
`text_fingerprint`, `text_lang_id`, and `text_quality_scores` (ZERO
dedicated tests before this file). Every expected value is derivable
by hand (the small rolling-hash literals and all the floor-micro
ratios are worked in comments) or from the standard library (hashlib
for the md5 fingerprint) — independent of BOTH engines.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from movie_data_transformer_spark.operators.dedup import normalize_text
from movie_data_transformer_spark.operators.text import fingerprint, rolling_hash

MOD = 2147483647  # 2^31 - 1
BASE = 31


def _py_roll(s: str) -> int:
    acc = 0
    for ch in s:
        acc = (acc * BASE + ord(ch)) % MOD
    return acc


def test_rolling_hash_planted_values(spark):
    rows = [
        # (doc_id, raw text, hand-derived expectation on the NORMALIZED form)
        (1, "ab", 3105),  # 97*31 + 98 = 3007 + 98
        (2, "", 0),  # empty fold returns the 0 init
        (3, "z", 122),  # single char: just its code point
        # normalization is part of the contract: trim + collapse + lower
        # "  Z\t\nz  " -> "z z": 122 -> 122*31+32 = 3814 -> 3814*31+122
        (4, "  Z\t\nz  ", 118356),
        # space sensitivity: "a b" != "ab" (32 enters the fold)
        # 97 -> 97*31+32 = 3039 -> 3039*31+98 = 94307
        (5, "a b", 94307),
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t, _ in rows], ["doc_id", "text"]
    ).select("doc_id", rolling_hash(normalize_text(F.col("text"))).alias("h"))
    got = {r.doc_id: r.h for r in df.collect()}
    for i, _, want in rows:
        assert got[i] == want, (i, got[i], want)


def test_rolling_hash_matches_independent_fold_past_the_modulus(spark):
    # a string long enough that the accumulator wraps the 2^31-1 modulus
    # many times — the per-step (acc*31 + c) % m fold must track an
    # independent Python implementation exactly (Python ints never
    # overflow, so any engine-side 64-bit mishandling diverges here)
    s = ("the quick brown fox jumps over the lazy dog 0123456789 " * 5).strip()
    norm = " ".join(s.lower().split())
    want = _py_roll(norm)
    assert want > 0
    df = spark.createDataFrame([(1, s)], ["doc_id", "text"]).select(
        rolling_hash(normalize_text(F.col("text"))).alias("h")
    )
    assert df.collect()[0].h == want


def _norm(raw: str) -> str:
    """The engine's normalization, modeled independently: trim strips
    SPACES ONLY (Spark `trim` == DuckDB `trim` — neither touches tabs
    or newlines), then every \\s+ run collapses to one space, then
    lowercase. Consequence pinned below: edge tabs/newlines survive
    trim and collapse to a KEPT leading/trailing space."""
    import re

    return re.sub(r"\s+", " ", raw.strip(" ")).lower()


def test_fingerprint_planted_values(spark):
    rows = [
        (1, "Hello   World"),  # collapse + lower -> "hello world"
        # space-only trim: the edge tab/newline collapse to a kept
        # single leading/trailing space -> " already clean "
        (2, "\talready clean\n"),
        (3, "MiXeD  \t CaSe  Words"),
        (4, "  space edges  "),  # real spaces DO trim -> "space edges"
    ]
    df = fingerprint(spark.createDataFrame(rows, ["doc_id", "text"]))
    got = {r.doc_id: r for r in df.collect()}
    assert got[2].norm_len == len(" already clean ")
    assert got[4].norm_len == len("space edges")
    for i, raw in rows:
        norm = _norm(raw)
        md5 = hashlib.md5(norm.encode()).hexdigest()
        r = got[i]
        assert r.fp_md5 == md5, (i, r.fp_md5, md5)
        assert r.fp_int == int(md5[:8], 16), (i, r.fp_int)
        assert r.norm_len == len(norm), (i, r.norm_len, len(norm))


def test_fingerprint_collapse_is_part_of_the_identity(spark):
    # the fingerprint exists for dedup bucketing: whitespace variants of
    # the same content MUST collide, distinct content must not
    df = fingerprint(
        spark.createDataFrame(
            [(1, "shared content"), (2, "  Shared\t\tCONTENT "), (3, "other content")],
            ["doc_id", "text"],
        )
    )
    by_id = {r.doc_id: r.fp_md5 for r in df.collect()}
    assert by_id[1] == by_id[2]
    assert by_id[1] != by_id[3]


def test_language_id_planted_scores_and_tiebreaks(spark):
    """Marker-count language ID: scores counted by hand, plus the two
    tie semantics — 'la' sits in BOTH the es and fr profiles, and the
    documented tie order (de -> en -> es -> fr) must pick es; a text
    with NO markers anywhere ties all scores at zero and must fall to
    de, the first arm of the chain."""
    from movie_data_transformer_spark.operators.text import language_id

    rows = [
        (1, "the cat and the dog of to a"),  # en: the*2+and+of+to+a = 6
        (2, "la"),  # es 1, fr 1 -> tie -> es
        (3, "xyz qwerty"),  # all zero -> de
        (4, "der der der"),  # duplicates count: de = 3
        (5, "le les des et"),  # fr = 4, nothing else scores
    ]
    got = {
        r.doc_id: r
        for r in language_id(spark.createDataFrame(rows, ["doc_id", "text"])).collect()
    }
    assert (got[1].score_en, got[1].pred_lang) == (6, "en")
    assert (got[2].score_es, got[2].score_fr, got[2].pred_lang) == (1, 1, "es")
    assert (
        got[3].score_de,
        got[3].score_en,
        got[3].score_es,
        got[3].score_fr,
        got[3].pred_lang,
    ) == (0, 0, 0, 0, "de")
    assert (got[4].score_de, got[4].pred_lang) == (3, "de")
    assert (got[5].score_fr, got[5].pred_lang) == (4, "fr")


def test_quality_scores_planted_floor_micro(spark):
    """Every ratio hand-derived in exact floor micro-units. The
    stopword case is the floor-vs-round discriminator: 4 of 6 tokens
    are stopwords and floor(4e6/6) = 666666, where any HALF_UP
    reimplementation would say 666667."""
    from movie_data_transformer_spark.operators.text import quality_scores

    rows = [
        (1, "Ab, cd!"),
        (2, "the fish is in a net"),
    ]
    got = {
        r.doc_id: r
        for r in quality_scores(
            spark.createDataFrame(rows, ["doc_id", "text"])
        ).collect()
    }
    r1 = got[1]
    # n_chars=7; punct {',', '!'} = 2 -> floor(2e6/7) = 285714
    assert r1.punct_ratio == 285714 / 1e6
    # alpha = 4 of 7 -> floor(4e6/7) = 571428
    assert r1.alpha_ratio == 571428 / 1e6
    # tokens ['ab,', 'cd!']: no stopwords; len_sum 6 over 2 -> 3.0 exact
    assert r1.stopword_ratio == 0.0
    assert r1.mean_word_len == 3.0
    r2 = got[2]
    # 6 tokens, 4 stopwords (the, is, in, a) -> 666666 micro, NOT 666667
    assert r2.stopword_ratio == 666666 / 1e6
    # 15 alpha chars of 20 -> floor(15e6/20) = 750000 exactly
    assert r2.alpha_ratio == 750000 / 1e6
