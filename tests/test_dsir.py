"""DSIR selection pins: weights recompose from the bucket table, the
selection is target-shifted (English dominates the top-k), and the llr
table is add-one consistent."""

from __future__ import annotations

import hashlib
import math
import re
from collections import Counter, defaultdict

from movie_data_transformer_spark.operators.dsir_queries import (
    B,
    TOP_K,
    q_dsir_bucket_llr,
    q_dsir_topk_selection,
)
from movie_data_transformer_spark.sources.tables import load_table


def _bucket(tok: str) -> int:
    return int(hashlib.md5(tok.encode()).hexdigest()[:8], 16) % B


def test_llr_table_matches_python_recompute(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").select("lang", "text").collect()
    tc: Counter = Counter()
    rc: Counter = Counter()
    for r in docs:
        for tok in re.split(r"\s+", r.text.strip().lower()):
            b = _bucket(tok)
            rc[b] += 1
            if r.lang == "en":
                tc[b] += 1
    ttot, rtot = sum(tc.values()), sum(rc.values())
    got = {r.bucket: r for r in q_dsir_bucket_llr(spark, sf_dir).collect()}
    assert set(got) == set(rc)
    for b, row in got.items():
        assert row.tc == tc[b]
        assert row.rc == rc[b]
        want = math.floor(
            math.log((tc[b] + 1) * (rtot + B) / ((rc[b] + 1) * (ttot + B)))
            * 1_000_000
        )
        assert row.llr_micro == want


def test_topk_selection_is_target_shifted(spark, sf_dir):
    llr = {r.bucket: r.llr_micro for r in q_dsir_bucket_llr(spark, sf_dir).collect()}
    docs = load_table(spark, sf_dir, "documents").collect()
    weights = {}
    langs = {}
    for r in docs:
        toks = re.split(r"\s+", r.text.strip().lower())
        weights[r.doc_id] = sum(llr[_bucket(t)] for t in toks)
        langs[r.doc_id] = r.lang
    rows = q_dsir_topk_selection(spark, sf_dir).collect()
    assert len(rows) == min(TOP_K, len(docs))
    for r in rows:
        assert r.weight_micro == weights[r.doc_id]
    # the selection must beat the base rate of the target domain
    base_en = sum(1 for v in langs.values() if v == "en") / len(langs)
    top_en = sum(1 for r in rows if r.lang == "en") / len(rows)
    assert top_en > base_en
    # and it really is the top-k by (weight desc, doc_id asc)
    want_ids = [
        d for d, _ in sorted(weights.items(), key=lambda kv: (-kv[1], kv[0]))
    ][: len(rows)]
    assert [r.doc_id for r in rows] == want_ids or set(
        r.doc_id for r in rows
    ) == set(want_ids)
