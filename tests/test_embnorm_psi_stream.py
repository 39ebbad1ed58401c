"""Pins for emb_norm_stats (numpy recompute on the micro-quantized
grid) and stream_psi_monitor == score_psi_bins (slicing invariance)."""

from __future__ import annotations

import math
from collections import defaultdict

from movie_data_transformer_spark.operators.embnorm_queries import (
    q_emb_norm_stats,
)
from movie_data_transformer_spark.operators.psi_queries import q_score_psi_bins
from movie_data_transformer_spark.operators.psi_stream_queries import (
    q_stream_psi_monitor,
)
from movie_data_transformer_spark.sources.tables import load_table


def test_emb_norm_stats_matches_python(spark, sf_dir):
    vecs = load_table(spark, sf_dir, "embeddings").collect()
    by_label = defaultdict(list)
    for r in vecs:
        q = [math.floor(float(x) * 1_000_000) for x in r.embedding]
        by_label[r.label].append(sum(v * v for v in q))
    got = {r.label: r for r in q_emb_norm_stats(spark, sf_dir).collect()}
    assert set(got) == set(by_label)
    for label, norms in by_label.items():
        row = got[label]
        assert row.n_vecs == len(norms)
        assert row.mean_normsq == sum(norms) // len(norms)
        assert row.min_normsq == min(norms)
        assert row.max_normsq == max(norms)
        assert row.n_near_zero == sum(1 for v in norms if v < 10_000_000_000)


def test_stream_psi_equals_batch(spark, sf_dir):
    batch = {
        r.bin: (r.ref_n, r.cur_n, r.psi_term_micro)
        for r in q_score_psi_bins(spark, sf_dir).collect()
    }
    stream = {
        r.bin: (r.ref_n, r.cur_n, r.psi_term_micro)
        for r in q_stream_psi_monitor(spark, sf_dir).collect()
    }
    assert stream == batch


def test_stream_psi_state_versions_monotone(spark, sf_dir):
    """Every state_N is a prefix-fold of the feed: per-bin counts are
    monotonically non-decreasing across versions and each version's
    total equals the events consumed through that trigger."""
    import glob
    import os

    from movie_data_transformer_spark.operators.jsonl_queries import (
        fixture_cache_dir,
    )

    # materialize (or reuse) the fixture, then inspect its versions
    q_stream_psi_monitor(spark, sf_dir).collect()
    root = fixture_cache_dir("mdt_psistate_v1", sf_dir)
    states = sorted(
        glob.glob(os.path.join(root, "state_*")),
        key=lambda p: int(p.rsplit("_", 1)[1]),
    )
    assert len(states) >= 2  # the feed is sliced into multiple triggers
    prev = {}
    prev_total = 0
    for p in states:
        cur = {
            r.bin: (r.ref_n, r.cur_n)
            for r in spark.read.parquet(p).collect()
        }
        for b, (r0, c0) in prev.items():
            assert b in cur
            assert cur[b][0] >= r0 and cur[b][1] >= c0, (p, b)
        total = sum(r + c for r, c in cur.values())
        assert total > prev_total
        prev, prev_total = cur, total
    from movie_data_transformer_spark.sources.tables import load_table

    assert prev_total == load_table(spark, sf_dir, "events").count()
