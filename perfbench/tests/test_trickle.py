"""A tiny generated trickle run, through the engine's incremental merge and
KV sink, matches the oracle; and the harness's output matches its
contract in BENCHMARK.json."""

from __future__ import annotations

import functools
import json
import os
import subprocess
import sys

import gen
import oracle
import run
from movie_data_transformer_spark.sinks.kv import FileKVClient
from movie_data_transformer_spark.streaming.merge_stream import run_incremental_merge

BENCHMARK = os.path.join(run.ROOT, "BENCHMARK.json")


def test_tiny_trickle_matches_oracle(spark, tmp_path):
    universe = gen.Universe(movies=30, customers=25)
    corpus = gen.Generator(universe, 11).write(
        str(tmp_path / "in"), gen.Shape(files=25, docs_per_file=4, watchers_per_doc=3, corrupt_lines=2)
    )
    kv_dir = str(tmp_path / "kv")
    run_incremental_merge(
        spark,
        corpus.root,
        str(tmp_path / "state"),
        str(tmp_path / "ckpt"),
        run.FILES_PER_TRIGGER,
        kv_client_factory=functools.partial(FileKVClient, kv_dir),
    )
    expected = oracle.group(oracle.expected_stream(corpus.json_files, run.FILES_PER_TRIGGER))
    assert oracle.mismatches(FileKVClient.read_all(kv_dir), expected) == 0


def test_metric_names_match_benchmark_json():
    import worker

    with open(BENCHMARK) as f:
        bench = json.load(f)
    assert [(m["name"], m["unit"]) for m in bench["end_to_end"]] == list(run.END_TO_END)
    assert [(m["name"], m["unit"]) for m in bench["per_layer"]] == list(worker.PER_LAYER)
    assert {w["name"] for w in bench["workloads"]} <= set(run.WORKLOADS)


def test_cli_prints_contract_line(tmp_path):
    out = subprocess.run(
        [sys.executable, os.path.join(run.HERE, "run.py"), "--workload", "trickle",
         "--seed", "5", "--seconds", "1", "--trace", "0"],
        capture_output=True, text=True, timeout=300, cwd=run.ROOT,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert [(k, v["unit"]) for k, v in result["metrics"].items()] == list(run.END_TO_END)
    assert all(v["value"] > 0 for v in result["metrics"].values())
