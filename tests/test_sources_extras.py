"""Source/state-store unit coverage: corrupt-line extraction, version
pruning."""

from __future__ import annotations

import json
import os
import shutil

import pyarrow.parquet as pq
import pytest

from movie_data_transformer_spark.schemas import MOVIE_INPUT, RATING_FLAT
from movie_data_transformer_spark.sources.jsonl import (
    corrupt_records,
    read_movies_jsonl,
    stream_jsonl,
)
from movie_data_transformer_spark.streaming.merge_stream import _MAX_DELTAS, ParquetStateStore


def test_corrupt_records_extraction(spark, tmp_path):
    """The batch reader and the streaming source share one decode: on a
    directory with a corrupt line and a `.txt` decoy (one valid, one
    broken line) both yield exactly the good rows, and the corrupt line
    is the only one `corrupt_records` returns."""
    d = tmp_path / "jsonl"
    d.mkdir()
    good = {"movieId": "m1", "title": "T", "yearOfRelease": 2000, "watchedBy": []}
    other = {**good, "movieId": "m2"}
    (d / "a.json").write_text(json.dumps(good) + "\nBROKEN {{{\n" + json.dumps(other) + "\n")
    decoy = {**good, "movieId": "m_DECOY"}
    (d / "skip.txt").write_text(json.dumps(decoy) + "\nNOT SCANNED {{{\n")
    batch = read_movies_jsonl(spark, str(d)).collect()
    assert sorted(r.movieId for r in batch) == ["m1", "m2"]
    streamed = []
    q = (
        stream_jsonl(spark, MOVIE_INPUT, str(d), max_files_per_trigger=10)
        .writeStream.foreachBatch(lambda df, _: streamed.extend(df.collect()))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert sorted(streamed) == sorted(batch)
    bad = [r.raw_line for r in corrupt_records(spark, str(d)).collect()]
    assert bad == ["BROKEN {{{"]


def _assert_compact_layout(version_dir):
    """Every column chunk of every part file is zstd, and each file's
    rows are in (movieId, customerId) order, nulls first."""
    parts = [p for p in os.listdir(version_dir) if p.startswith("part-")]
    assert parts, version_dir
    for p in parts:
        f = pq.ParquetFile(os.path.join(version_dir, p))
        meta = f.metadata
        codecs = {
            meta.row_group(g).column(c).compression
            for g in range(meta.num_row_groups)
            for c in range(meta.num_columns)
        }
        assert codecs == {"ZSTD"}, (p, codecs)
        cols = f.read(columns=["movieId", "customerId"]).to_pydict()
        keys = [
            (m is not None, m or "", c is not None, c or "")
            for m, c in zip(cols["movieId"], cols["customerId"])
        ]
        assert keys == sorted(keys), p


def test_state_store_prunes_old_versions(spark, tmp_path):
    """The merge-on-read store against a pure-Python upsert, across two
    folds at the delta cap and a delta after them. After every commit:
    `read()` equals the model (null keys never match, so every null-key
    row is kept); the current version and the two before it each read
    back from their own chain; nothing older than the base that the
    oldest of them reads is left on disk; and the version just written,
    base, delta or fold, is zstd sorted by (movieId, customerId)."""
    store = ParquetStateStore(spark, str(tmp_path / "st"))

    def row(c, m, rating):
        return (m, f"T{m}", 2000, c, rating, f"2024-01-{rating % 28 + 1:02d}")

    base = [row(f"c{i}", f"m{i % 3}", i % 5) for i in range(50)]
    base.append(row(None, "m1", 1))
    later = 2 * (_MAX_DELTAS + 1) + 1
    small = [
        [row("c1", "m1", i), row(f"c{i}", "m2", i), row(f"new{i}", "m0", i)] for i in range(later)
    ]
    small[1].append(row(None, "m1", 3))
    small[-2].append(row(None, "m1", 6))
    commits = [base, *small]

    upserts, nulls, snapshots, bases = {}, [], {}, []
    for v, rows in enumerate(commits, start=1):
        assert store.commit(spark.createDataFrame(rows, RATING_FLAT).coalesce(1)) == v
        assert store.current_version() == v
        _assert_compact_layout(store._dir(v))
        for r in rows:
            if r[3] is None:
                nulls.append(r)
            else:
                upserts[(r[3], r[0])] = r
        snapshots[v] = sorted([*upserts.values(), *nulls], key=repr)
        if store._chain(v) == [v]:
            bases.append(v)
        assert sorted(map(tuple, store.read().collect()), key=repr) == snapshots[v]
        for w in range(max(v - 2, 1), v):
            got = store._read_chain(store._chain(w)).collect()
            assert sorted(map(tuple, got), key=repr) == snapshots[w]
        on_disk = sorted(
            int(n[1:]) for n in os.listdir(store.root) if n.startswith("v") and n[1:].isdigit()
        )
        oldest = store._chain(v - 2)[0] if v > 2 else 1
        assert on_disk == list(range(oldest, v + 1))
    # a base carries _MAX_DELTAS deltas; the next commit folds the chain
    assert bases == [1, _MAX_DELTAS + 2, 2 * _MAX_DELTAS + 3]
    assert len(nulls) == 3
    # a chain whose base is gone fails instead of walking back forever
    shutil.rmtree(store._dir(bases[-1]))
    with pytest.raises(FileNotFoundError):
        store.read()


def test_kv_text_datasource_writer_round_trip(spark, tmp_path):
    """The Python DataSource WRITER (two-phase commit): rows land as
    key\\tvalue lines, all task temp state is cleaned up, and the output
    equals the input exactly."""
    import os

    from movie_data_transformer_spark.sources.pydatasource import register_datasources

    register_datasources(spark)
    df = spark.createDataFrame(
        [(f"k{i}", f"v{i}") for i in range(100)], "key string, value string"
    ).repartition(4)
    out = str(tmp_path / "kv_out")
    os.makedirs(out)
    df.write.format("kv_text").option("path", out).mode("append").save()
    parts = sorted(p for p in os.listdir(out) if p.startswith("part-"))
    assert len(parts) == 4  # one committed file per task
    assert not os.path.exists(os.path.join(out, "_temporary"))  # no temp litter
    got = {}
    for p in parts:
        with open(os.path.join(out, p), encoding="utf-8") as fh:
            for line in fh:
                k, v = line.rstrip("\n").split("\t")
                got[k] = v
    assert got == {f"k{i}": f"v{i}" for i in range(100)}


def test_kv_text_datasource_writer_abort_leaves_no_output(spark, tmp_path):
    """A failing task aborts the job: no part files, no temp dir — the
    exactly-once contract the reference's retry path lacks."""
    import os

    import pytest

    from movie_data_transformer_spark.sources.pydatasource import register_datasources

    register_datasources(spark)

    from pyspark.sql import functions as F

    df = (
        spark.createDataFrame(
            [(f"k{i}", i) for i in range(100)], "key string, n int"
        )
        .repartition(4)
        # ANSI division by zero throws inside task execution on some rows
        .select("key", (F.lit(1) / (F.col("n") - 50)).cast("string").alias("value"))
    )
    out = str(tmp_path / "kv_fail")
    os.makedirs(out)
    with pytest.raises(Exception):
        df.write.format("kv_text").option("path", out).mode("append").save()
    # the exactly-once contract: NO visible output from the failed job
    # (a straggler task may legitimately re-create _temporary after the
    # driver's abort — same race as FileOutputCommitter — so temp litter
    # is allowed here and must be swept by the next job)
    assert [p for p in os.listdir(out) if p.startswith("part-")] == []
    ok = spark.createDataFrame([("a", "1"), ("b", "2")], "key string, value string")
    ok.coalesce(1).write.format("kv_text").option("path", out).mode("append").save()
    assert not os.path.exists(os.path.join(out, "_temporary"))  # self-healed
    (part,) = [p for p in os.listdir(out) if p.startswith("part-")]
    with open(os.path.join(out, part), encoding="utf-8") as fh:
        assert sorted(fh.read().splitlines()) == ["a\t1", "b\t2"]


def test_corrupt_parquet_file_skipped_with_ignore_corrupt(spark, tmp_path):
    """Object-store reality: one corrupted parquet object must not kill
    the scan. ignoreCorruptFiles=true reads the surviving files; the
    default (false) raises — both sides of the policy pinned."""
    import os

    import pytest

    df = spark.range(0, 1000).selectExpr("id", "id * 2 AS v")
    d = str(tmp_path / "pq")
    df.repartition(4).write.parquet(d)
    parts = sorted(p for p in os.listdir(d) if p.endswith(".parquet"))
    victim = os.path.join(d, parts[0])
    keep = spark.read.parquet(d).count()
    assert keep == 1000
    with open(victim, "r+b") as fh:  # stomp the footer magic
        fh.seek(-4, os.SEEK_END)
        fh.write(b"XXXX")
    prev = spark.conf.get("spark.sql.files.ignoreCorruptFiles", "false")
    try:
        spark.conf.set("spark.sql.files.ignoreCorruptFiles", "false")
        with pytest.raises(Exception):
            spark.read.parquet(d).count()
        spark.conf.set("spark.sql.files.ignoreCorruptFiles", "true")
        # schema inference itself reads every footer; declare the schema
        # (production readers know it) and set the option on the reader
        survivors = (
            spark.read.schema("id bigint, v bigint")
            .option("ignoreCorruptFiles", "true")
            .parquet(d)
        )
        n = survivors.count()
        assert 0 < n < 1000  # the corrupt file's rows are gone, rest intact
        assert survivors.selectExpr("max(v - id * 2)").collect()[0][0] == 0
    finally:
        spark.conf.set("spark.sql.files.ignoreCorruptFiles", prev)


def test_movies_jsonl_feed_is_byte_identical_across_builds(spark, sf_dir, tmp_path, monkeypatch):
    """The movies JSONL feed (`movies_jsonl_scan`, `movies_incremental_merge`)
    is the same files on every build: two builds into empty dirs, with
    the nest-groupBy under it re-run at two shuffle widths, write
    byte-identical files."""
    import tempfile
    from pathlib import Path

    from movie_data_transformer_spark.operators.jsonl_queries import _jsonl_dir

    old = spark.conf.get("spark.sql.shuffle.partitions")
    builds = []
    try:
        for n in (3, 7):
            d = tmp_path / f"build{n}"
            d.mkdir()
            monkeypatch.setattr(tempfile, "tempdir", str(d))
            spark.conf.set("spark.sql.shuffle.partitions", str(n))
            spark.catalog.clearCache()
            out = _jsonl_dir(spark, sf_dir)
            assert out.startswith(str(d))
            builds.append({f: Path(out, f).read_bytes() for f in os.listdir(out)})
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
        spark.catalog.clearCache()
    assert len([f for f in builds[0] if f.endswith(".json")]) >= 2
    assert builds[0] == builds[1]
