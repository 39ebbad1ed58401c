"""File-level invariants of the versioned snapshot store: bucket-level
copy-on-write (untouched directories are SHARED by reference between
manifests), snapshot isolation (v1 reads identically after the v2
commit), and additive merge correctness for new and existing keys."""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F

from movie_data_transformer_spark.sinks.snapshot import SnapshotTable


def _state(spark, rows):
    return spark.createDataFrame(rows, "user_id long, total long, n long")


def test_cow_sharing_and_snapshot_isolation(spark, tmp_path):
    root = str(tmp_path)
    st = SnapshotTable(spark, root, n_buckets=8)
    # users 0..15 -> every bucket 0..7 holds exactly two users
    st.commit_full(_state(spark, [(u, 10 * u, 1) for u in range(16)]), "user_id", 1)
    v1_before = {(r.user_id, r.total, r.n) for r in st.read(1).collect()}

    # batch touches users 3 and 11 -> ONLY bucket 3; user 100 -> bucket 4
    st.merge_additive(
        _state(spark, [(3, 5, 1), (11, 7, 2), (100, 1, 1)]),
        "user_id",
        ["total", "n"],
        from_version=1,
        new_version=2,
    )
    m1, m2 = st.manifest(1), st.manifest(2)
    # COW: exactly buckets {3, 4} point at new directories; the other six
    # carry the v1 directories forward BY REFERENCE (same path string)
    changed = {b for b in m1 if m2[b] != m1[b]}
    assert changed == {3, 4}
    assert all(m2[b] == m1[b] for b in m1 if b not in changed)
    assert all("c2" in m2[b] for b in changed) and all("c1" in m1[b] for b in m1)

    # snapshot isolation: v1 reads bit-identically AFTER the v2 commit
    assert {(r.user_id, r.total, r.n) for r in st.read(1).collect()} == v1_before

    v2 = {r.user_id: (r.total, r.n) for r in st.read(2).collect()}
    assert v2[3] == (35, 2) and v2[11] == (117, 3)  # additive merge
    assert v2[100] == (1, 1)  # new key lands in an existing bucket
    assert v2[4] == (40, 1) and v2[12] == (120, 1)  # bucket-4 oldies kept
    untouched = {u: v2[u] for u in (0, 1, 2, 5)}
    assert untouched == {u: (10 * u, 1) for u in (0, 1, 2, 5)}
    assert len(v2) == 17


def test_versions_listing_and_read_paths(spark, tmp_path):
    root = str(tmp_path)
    st = SnapshotTable(spark, root, n_buckets=4)
    st.commit_full(_state(spark, [(u, u, 1) for u in range(8)]), "user_id", 1)
    st.merge_additive(
        _state(spark, [(0, 1, 1)]), "user_id", ["total", "n"], 1, 2
    )
    assert st.versions() == [1, 2]
    # the bucket column is stored in the data so leaf dirs read standalone
    assert "bucket" in st.read(2).columns
    assert st.read(2).filter(F.col("user_id") == 0).collect()[0].total == 1


def test_vacuum_retention(spark, tmp_path):
    root = str(tmp_path)
    st = SnapshotTable(spark, root, n_buckets=4)
    st.commit_full(_state(spark, [(u, u, 1) for u in range(8)]), "user_id", 1)
    st.merge_additive(_state(spark, [(0, 1, 1)]), "user_id", ["total", "n"], 1, 2)
    st.merge_additive(_state(spark, [(1, 1, 1)]), "user_id", ["total", "n"], 2, 3)
    v3 = {(r.user_id, r.total) for r in st.read(3).collect()}
    deleted = st.vacuum(keep_versions=[3])
    # v1's bucket 0 was superseded by the v2 commit and its bucket 1 by
    # the v3 commit -> both deleted; c2/pb=0 and c3/pb=1 are what v3
    # references (with v1's untouched buckets 2,3) -> kept
    assert deleted == ["files/c1/pb=0", "files/c1/pb=1"]
    assert st.versions() == [3]
    assert {(r.user_id, r.total) for r in st.read(3).collect()} == v3
    # the deleted directories are really gone from disk
    assert not os.path.exists(os.path.join(root, "files/c1/pb=0"))
    assert os.path.exists(os.path.join(root, "files/c1/pb=2"))


def test_stream_snapshot_versions_accumulate(spark, sf_dir, tmp_path):
    """The streaming form commits one version per micro-batch (4 input
    files -> 4 versions) and every intermediate version stays readable
    with internally-consistent totals (time travel across the batch
    history: row mass is non-decreasing in version)."""
    from movie_data_transformer_spark.operators.snapshot_queries import (
        _purchase_jsonl_dir,
        run_stream_snapshot_merge,
    )

    input_dir = _purchase_jsonl_dir(spark, sf_dir)
    root = str(tmp_path)
    st = run_stream_snapshot_merge(spark, input_dir, root)
    assert st.versions() == [1, 2, 3, 4]
    masses = []
    for v in st.versions():
        rows = st.read(v).collect()
        assert all(r.n >= 1 for r in rows)
        masses.append(sum(r.n for r in rows))
    assert masses == sorted(masses) and masses[-1] > masses[0]


def test_stream_snapshot_merge_drops_malformed_lines(spark, sf_dir, tmp_path):
    """The purchase stream decodes like every JSONL source: a line that
    is not JSON is dropped, not merged as an all-null row, so the final
    version of a feed with one bad line equals the clean feed's."""
    from movie_data_transformer_spark.operators.snapshot_queries import (
        _purchase_jsonl_dir,
        run_stream_snapshot_merge,
    )

    clean = _purchase_jsonl_dir(spark, sf_dir)
    dirty = str(tmp_path / "feed")
    shutil.copytree(clean, dirty)
    with open(os.path.join(dirty, "purchases_1.json"), "a") as f:
        f.write("THIS LINE IS NOT JSON {{{\n")

    def final_rows(input_dir: str, root: str) -> list:
        st = run_stream_snapshot_merge(spark, input_dir, str(tmp_path / root))
        return sorted(st.read(st.versions()[-1]).collect())

    assert final_rows(dirty, "dirty") == final_rows(clean, "clean")


def test_partial_bucket_merge_keeps_stored_decimal_schema(spark, tmp_path):
    """Regression (found by review): sum() widens decimal types, so a
    merge touching only SOME buckets used to give rewritten buckets a
    parquet schema the carried-forward buckets don't share — read() of
    the merged version crashed with a column-type mismatch. The merged
    values must be cast back to the stored types."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    root = str(tmp_path)
    st = SnapshotTable(spark, root, n_buckets=8)
    state = spark.createDataFrame(
        [(u, float(u)) for u in range(16)], "user_id long, v double"
    ).select(
        "user_id",
        F.sum(F.col("v").cast("decimal(18,4)"))
        .over(Window.partitionBy("user_id"))
        .alias("total"),
    )
    st.commit_full(state, "user_id", 1)
    batch = spark.createDataFrame([(3, 1.5)], "user_id long, v double").select(
        "user_id", F.col("v").cast("decimal(28,4)").alias("total")
    )
    st.merge_additive(batch, "user_id", ["total"], 1, 2)
    got = {r.user_id: float(r.total) for r in st.read(2).collect()}
    assert got[3] == 4.5 and got[0] == 0.0 and len(got) == 16


def test_new_bucket_merge_adopts_stored_types(spark, tmp_path):
    """Review follow-up: a batch introducing a bucket ABSENT from the
    prior manifest must still write the STORE's value types (taken from
    any stored directory), not its own wider ones — otherwise the mixed
    parquet-schema crash returns through the new-bucket path."""
    from pyspark.sql import functions as F

    root = str(tmp_path)
    st = SnapshotTable(spark, root, n_buckets=8)
    # v1 only has buckets 0..3 (users 0..3), values decimal(18,4)
    v1 = spark.createDataFrame(
        [(u, float(u)) for u in range(4)], "user_id long, v double"
    ).select("user_id", F.col("v").cast("decimal(18,4)").alias("total"))
    st.commit_full(v1, "user_id", 1)
    # batch touches ONLY bucket 7 (absent from v1), with a WIDER decimal
    batch = spark.createDataFrame([(7, 2.5)], "user_id long, v double").select(
        "user_id", F.col("v").cast("decimal(28,4)").alias("total")
    )
    st.merge_additive(batch, "user_id", ["total"], 1, 2)
    got = {r.user_id: float(r.total) for r in st.read(2).collect()}
    assert got == {0: 0.0, 1: 1.0, 2: 2.0, 3: 3.0, 7: 2.5}
    # and the written type really is the stored (18,4), not the batch's
    types = {f.name: f.dataType.simpleString() for f in st.read(2).schema.fields}
    assert types["total"] == "decimal(18,4)"


def test_vacuum_pre_commit_and_empty_commit_dirs(spark, tmp_path):
    """r6 ADVICE: vacuum on a store with no commits is a no-op (no
    FileNotFoundError), and a vacuum that empties a files/c<version>
    directory removes the husk instead of leaving it behind."""
    root = str(tmp_path)
    st = SnapshotTable(spark, root, n_buckets=4)
    assert st.vacuum(keep_versions=[]) == []  # pre-first-commit: no-op

    st.commit_full(_state(spark, [(u, u, 1) for u in range(8)]), "user_id", 1)
    # v2 rewrites EVERY bucket (touches all users), so keeping only v2
    # leaves nothing of c1
    st.merge_additive(
        _state(spark, [(u, 1, 1) for u in range(8)]),
        "user_id",
        ["total", "n"],
        1,
        2,
    )
    deleted = st.vacuum(keep_versions=[2])
    assert deleted == [f"files/c1/pb={b}" for b in range(4)]
    # the fully-vacuumed commit dir itself is gone, not an empty husk
    assert not os.path.exists(os.path.join(root, "files", "c1"))
    assert st.versions() == [2]
    assert st.read(2).count() == 8
