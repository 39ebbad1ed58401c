"""Known-value pins for the ranking-eval metrics (nDCG@10, MRR, MAP@10):
the metrics are recomputed in plain Python over the same planted
relevance fixture, and invariants (ndcg<=1, ideal list dominates) hold.
"""

from __future__ import annotations

import hashlib
import math

from movie_data_transformer_spark.operators.ranking_eval_queries import (
    DISC_MICRO,
    K,
    q_search_mrr_map,
    q_search_ndcg_at_k,
)
from movie_data_transformer_spark.sources.tables import load_table


def _rel(source: str, doc_id: int) -> int:
    h = hashlib.md5(f"{source}#{doc_id}".encode()).hexdigest()[:8]
    return int(h, 16) % 4


def _fixture(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").select(
        "source", "doc_id", "n_chars"
    )
    by_source: dict[str, list[tuple[int, int, int]]] = {}
    for r in docs.collect():
        by_source.setdefault(r.source, []).append(
            (r.n_chars, r.doc_id, _rel(r.source, r.doc_id))
        )
    return by_source


def test_discount_table_matches_log2():
    for i, d in enumerate(DISC_MICRO, start=1):
        assert d == round(1_000_000 / math.log2(i + 1))


def test_ndcg_matches_python_recompute(spark, sf_dir):
    by_source = _fixture(spark, sf_dir)
    got = {r.source: r for r in q_search_ndcg_at_k(spark, sf_dir).collect()}
    assert set(got) == set(by_source)
    for source, items in by_source.items():
        sys_order = sorted(items, key=lambda t: (-t[0], t[1]))
        ideal_order = sorted(items, key=lambda t: (-t[2], t[1]))
        dcg = sum(
            (2 ** rel - 1) * DISC_MICRO[i]
            for i, (_, _, rel) in enumerate(sys_order[:K])
        )
        idcg = sum(
            (2 ** rel - 1) * DISC_MICRO[i]
            for i, (_, _, rel) in enumerate(ideal_order[:K])
        )
        row = got[source]
        assert row.dcg10_micro == dcg
        assert row.idcg10_micro == idcg
        want_ndcg = 0 if idcg == 0 else dcg * 1_000_000 // idcg
        assert row.ndcg10_micro == want_ndcg
        assert row.dcg10_micro <= row.idcg10_micro  # ideal dominates
        assert 0 <= row.ndcg10_micro <= 1_000_000


def test_mrr_map_matches_python_recompute(spark, sf_dir):
    by_source = _fixture(spark, sf_dir)
    got = {r.source: r for r in q_search_mrr_map(spark, sf_dir).collect()}
    for source, items in by_source.items():
        sys_order = sorted(items, key=lambda t: (-t[0], t[1]))
        hits = [1 if rel >= 2 else 0 for (_, _, rel) in sys_order]
        n_rel = sum(hits)
        first = next((i + 1 for i, h in enumerate(hits) if h), None)
        ap_num = 0
        cum = 0
        for i, h in enumerate(hits[:K], start=1):
            cum += h
            if h:
                ap_num += cum * 1_000_000 // i
        row = got[source]
        assert row.n_rel == n_rel
        assert row.first_rel_rank == (first or 0)
        assert row.rr_micro == (1_000_000 // first if first else 0)
        want_ap = 0 if n_rel == 0 else ap_num // min(n_rel, K)
        assert row.ap10_micro == want_ap
        assert 0 <= row.ap10_micro <= 1_000_000
