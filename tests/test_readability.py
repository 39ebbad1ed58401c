"""Readability-score pins: Python recompute of the Flesch formulas over
the same tokenization, plus band-report mass conservation."""

from __future__ import annotations

import re

from movie_data_transformer_spark.operators.readability_queries import (
    q_text_readability_band_counts,
    q_text_readability_scores,
)
from movie_data_transformer_spark.sources.tables import load_table


def _trunc_div(a: int, b: int) -> int:
    # Spark DIV / DuckDB // truncate toward zero; Python // floors.
    q = abs(a) // abs(b)
    return q if (a >= 0) == (b >= 0) else -q


def _counts(text: str) -> tuple[int, int, int]:
    toks = re.split(r"\s+", text.strip())
    w = len(toks)
    sents = [s for s in re.split(r"[.!?]+", text) if s.strip()]
    s = max(1, len(sents))
    y = sum(
        max(1, len(re.findall(r"[aeiouy]+", t))) for t in text.strip().lower().split()
    )
    # Spark splits trim(lower(text)) on \s+; python .split() is equivalent
    # for the syllable pass because empty tokens can't appear after strip.
    return w, s, y


def test_scores_match_python_recompute(spark, sf_dir):
    docs = {r.doc_id: r.text for r in load_table(spark, sf_dir, "documents").collect()}
    got = {r.doc_id: r for r in q_text_readability_scores(spark, sf_dir).collect()}
    assert set(got) == set(docs)
    for doc_id, text in docs.items():
        w, s, y = _counts(text)
        row = got[doc_id]
        assert (row.n_words, row.n_sentences, row.n_syllables) == (w, s, y)
        fre = 206835000 - _trunc_div(1015000 * w, s) - _trunc_div(84600000 * y, w)
        fkgl = _trunc_div(390000 * w, s) + _trunc_div(11800000 * y, w) - 15590000
        assert row.fre_micro == fre
        assert row.fkgl_micro == fkgl


def test_band_counts_conserve_docs(spark, sf_dir):
    n_docs = load_table(spark, sf_dir, "documents").count()
    rows = q_text_readability_band_counts(spark, sf_dir).collect()
    assert sum(r.n_docs for r in rows) == n_docs
    bands = {"very_easy", "easy", "medium", "hard", "very_hard"}
    assert {r.band for r in rows} <= bands
    # (lang, band) keys are unique
    keys = [(r.lang, r.band) for r in rows]
    assert len(keys) == len(set(keys))
