"""Incremental micro-batch merge (ops 9+12) — Structured Streaming form."""

from __future__ import annotations

import json
import os

from movie_data_transformer_spark.operators.merge import FLAT_COLS, merge_flat
from movie_data_transformer_spark.operators.movie_pipeline import dedup_latest, explode_watched
from movie_data_transformer_spark.sources.jsonl import read_movies_jsonl
from movie_data_transformer_spark.streaming import run_incremental_merge


def _write_file(d, name, movies):
    with open(os.path.join(d, name), "w") as f:
        for m in movies:
            f.write(json.dumps(m) + "\n")


def _movie(mid, watched):
    return {
        "movieId": mid,
        "title": mid.upper(),
        "yearOfRelease": 2000,
        "watchedBy": [
            {"customer-id": c, "movie-id": mid, "rating": r, "date": d} for (c, r, d) in watched
        ],
    }


def test_incremental_merge_across_batches(spark, tmp_path):
    inp = tmp_path / "in"
    inp.mkdir()
    # batch 1: two files (initial state)
    _write_file(inp, "f1.json", [_movie("m1", [("c1", 3, "2024-01-01")])])
    _write_file(inp, "f2.json", [_movie("m2", [("c1", 4, "2024-01-02")])])
    store = run_incremental_merge(
        spark, str(inp), str(tmp_path / "state"), str(tmp_path / "ckpt"), max_files_per_trigger=1
    )
    got = {(r.customerId, r.movieId): (r.rating, r.date) for r in store.read().collect()}
    assert got == {("c1", "m1"): (3, "2024-01-01"), ("c1", "m2"): (4, "2024-01-02")}
    v1 = store.current_version()
    assert v1 >= 2  # one commit per micro-batch (maxFilesPerTrigger=1)

    # late batch: newer rating for m1 wins; same-date for m2 keeps existing;
    # malformed date loses
    _write_file(
        inp,
        "f3.json",
        [
            _movie("m1", [("c1", 5, "2024-02-01")]),
            _movie("m2", [("c1", 1, "2024-01-02")]),
            _movie("m3", [("c2", 2, "not-a-date")]),
        ],
    )
    store = run_incremental_merge(
        spark, str(inp), str(tmp_path / "state"), str(tmp_path / "ckpt"), max_files_per_trigger=1
    )
    got = {(r.customerId, r.movieId): (r.rating, r.date) for r in store.read().collect()}
    assert got[("c1", "m1")] == (5, "2024-02-01")  # strictly newer -> new wins
    assert got[("c1", "m2")] == (4, "2024-01-02")  # tie -> existing wins
    assert got[("c2", "m3")] == (2, "not-a-date")  # new key inserts even if malformed
    # checkpoint prevents reprocessing f1/f2 (only f3 was consumed)
    assert store.current_version() == v1 + 1


def test_first_batch_into_empty_store_equals_dedup_latest(spark, tmp_path):
    """An empty store merges like any other state: the first batch's
    commit equals dedup_latest of the batch, duplicates and all, and the
    empty side of the merge join plans away."""
    inp = tmp_path / "in"
    inp.mkdir()
    _write_file(
        inp,
        "f1.json",
        [
            _movie("m1", [("c1", 3, "2024-01-01"), ("c1", 5, "2024-03-01"), ("c2", 4, "bad")]),
            _movie("m1", [("c2", 1, "2024-01-01")]),
            _movie("m2", [("c1", 2, "2024-02-02"), ("c1", 4, "2024-02-02"), ("c3", 1, "x")]),
        ],
    )
    store = run_incremental_merge(
        spark, str(inp), str(tmp_path / "state"), str(tmp_path / "ckpt"), max_files_per_trigger=10
    )
    assert store.current_version() == 1
    flat = explode_watched(read_movies_jsonl(spark, str(inp)))
    want = dedup_latest(flat).select(FLAT_COLS).collect()
    assert len(want) == 4
    assert sorted(store.read().collect()) == sorted(want)
    plan = merge_flat(flat.limit(0), flat)._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
