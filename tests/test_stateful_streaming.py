"""applyInPandasWithState: running per-user totals across micro-batches."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from movie_data_transformer_spark.sources.tables import load_events_stream, load_table
from movie_data_transformer_spark.streaming.stateful import running_user_totals_exact

_PROVIDER_CONF = "spark.sql.streaming.stateStore.providerClass"
_ROCKSDB = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"


def _final_totals(spark, table):
    """Last update-mode emission per user: n_events only grows, so the
    row with the largest n_events is the final state."""
    return {
        r.user_id: (r.n_events, r.sum_value_cents, r.last_event_type)
        for r in spark.table(table)
        .groupBy("user_id")
        .agg(
            F.max_by(
                F.struct("n_events", "sum_value_cents", "last_event_type"),
                F.col("n_events"),
            ).alias("s")
        )
        .select("user_id", "s.*")
        .collect()
    }


def test_rocksdb_state_store_provider(spark, sf_dir, tmp_path):
    """The RocksDB provider handles the same stateful query (disk-backed
    state — the at-scale configuration)."""
    prev = spark.conf.get(_PROVIDER_CONF, None)
    spark.conf.set(_PROVIDER_CONF, _ROCKSDB)
    try:
        stream = load_events_stream(spark, sf_dir, raw_ns=True)
        q = (
            running_user_totals_exact(stream)
            .writeStream.format("memory")
            .queryName("rocksdb_totals")
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "rck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        n = spark.sql("select count(distinct user_id) n from rocksdb_totals").collect()[0].n
        assert n == load_table(spark, sf_dir, "events").select("user_id").distinct().count()
    finally:
        if prev:
            spark.conf.set(_PROVIDER_CONF, prev)
        else:
            spark.conf.unset(_PROVIDER_CONF)


def test_running_user_totals_matches_batch(spark, sf_dir, tmp_path):
    stream = load_events_stream(spark, sf_dir, raw_ns=True, maxFilesPerTrigger="1")
    q = (
        running_user_totals_exact(stream)
        .writeStream.format("memory")
        .queryName("user_totals")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = _final_totals(spark, "user_totals")
    ev = load_table(spark, sf_dir, "events")
    # round-half-up cents: CAST(... AS DECIMAL(18,2)) rounds HALF_UP
    want_totals = {
        r.user_id: (r.n, r.c)
        for r in ev.selectExpr(
            "user_id", "CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents"
        )
        .groupBy("user_id")
        .agg(F.count("*").alias("n"), F.sum("cents").cast("bigint").alias("c"))
        .collect()
    }
    assert set(got) == set(want_totals) and len(got) > 0
    for uid, (n, cents, _last_type) in got.items():
        assert (n, cents) == want_totals[uid]
    # last_event_type is the type of the latest event under (ts, event_id)
    latest = {
        r.user_id: r.event_type
        for r in ev.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("user_id").orderBy(
                    F.col("ts").desc(), F.col("event_id").desc()
                )
            ),
        )
        .filter("rn = 1")
        .collect()
    }
    for uid in got:
        assert got[uid][2] == latest[uid]


def test_exact_totals_invariant_under_micro_batch_slicing(spark, sf_dir, tmp_path):
    """The oracle-checked exact form must produce identical final state
    no matter how the input is sliced into micro-batches: split events
    into 3 files, stream them one file per trigger, and compare against
    the single-batch run of the same data."""
    from movie_data_transformer_spark.sources.tables import load_events_raw_ns
    from movie_data_transformer_spark.streaming.stateful import (
        running_user_totals_exact,
    )

    raw = load_events_raw_ns(spark, sf_dir)
    src = str(tmp_path / "split")
    raw.repartition(3).write.parquet(src)

    def run(max_files):
        stream = (
            spark.readStream.schema(raw.schema)
            .option("maxFilesPerTrigger", str(max_files))
            .parquet(src)
        )
        name = f"exact_totals_{max_files}"
        q = (
            running_user_totals_exact(stream)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / f"ck{max_files}"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return _final_totals(spark, name)

    sliced, whole = run(1), run(3)
    assert sliced == whole and len(sliced) > 0


def test_exact_totals_state_survives_restart(spark, sf_dir, tmp_path):
    """applyInPandasWithState state recovery: stop after the first file,
    add more files, restart from the SAME checkpoint — the final totals
    must equal the batch aggregate over everything, proving state was
    recovered (not recomputed from scratch, which double-counts, nor
    reset, which undercounts)."""
    import shutil

    from pyspark.sql import functions as F

    from movie_data_transformer_spark.sources.tables import load_events_raw_ns
    from movie_data_transformer_spark.streaming.stateful import (
        running_user_totals_exact,
    )

    raw = load_events_raw_ns(spark, sf_dir)
    staged = str(tmp_path / "staged")
    live = str(tmp_path / "live")
    raw.repartition(3).write.parquet(staged)
    import os

    os.makedirs(live)
    parts = sorted(p for p in os.listdir(staged) if p.startswith("part-"))
    assert len(parts) == 3
    shutil.copy(os.path.join(staged, parts[0]), os.path.join(live, parts[0]))

    emissions = str(tmp_path / "emissions")

    def run_once():
        # memory sink does NOT support checkpoint recovery; a durable
        # foreachBatch sink is the restartable shape
        stream = spark.readStream.schema(raw.schema).parquet(live)
        q = (
            running_user_totals_exact(stream)
            .writeStream.outputMode("update")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .foreachBatch(
                lambda b, _i: b.write.mode("append").parquet(emissions)
            )
            .start()
        )
        q.awaitTermination()

    run_once()
    for p in parts[1:]:
        shutil.copy(os.path.join(staged, p), os.path.join(live, p))
    run_once()
    # last emission per key across BOTH phases = recovered running total
    final = {
        r.user_id: (r.n_events, r.sum_value_cents)
        for r in spark.read.parquet(emissions)
        .groupBy("user_id")
        .agg(
            F.max_by(
                F.struct("n_events", "sum_value_cents"), F.col("n_events")
            ).alias("s")
        )
        .select("user_id", "s.*")
        .collect()
    }
    want = {
        r.user_id: (r.n, r.c)
        for r in raw.selectExpr(
            "user_id", "CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents"
        )
        .groupBy("user_id")
        .agg(F.count("*").alias("n"), F.sum("cents").cast("bigint").alias("c"))
        .collect()
    }
    assert final == want and len(final) > 0


def test_statestore_reader_over_rocksdb_state(spark, sf_dir, tmp_path):
    """The offline state reader (format('statestore')) also decodes state
    committed by the RocksDB provider — the at-scale configuration a
    production debugger would actually hit."""
    prev = spark.conf.get(_PROVIDER_CONF, None)
    spark.conf.set(_PROVIDER_CONF, _ROCKSDB)
    try:
        ckpt = str(tmp_path / "rdb_ckpt")
        stream = load_events_stream(spark, sf_dir, raw_ns=True, maxFilesPerTrigger="1")
        q = (
            running_user_totals_exact(stream)
            .writeStream.outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .foreachBatch(lambda df, _i: df.count() and None)
            .start()
        )
        q.awaitTermination()
        state = spark.read.format("statestore").load(ckpt)
        ev = load_table(spark, sf_dir, "events")
        assert state.count() == ev.select("user_id").distinct().count()
        total = state.selectExpr("sum(value.groupState.n_events) s").first().s
        assert total == ev.count()
    finally:
        if prev:
            spark.conf.set(_PROVIDER_CONF, prev)
        else:
            spark.conf.unset(_PROVIDER_CONF)


def test_statestore_reader_time_travel_by_batch(spark, sf_dir, tmp_path):
    """State TIME TRAVEL: reading the checkpoint at an earlier batchId
    returns exactly the state after that prefix of micro-batches — what
    makes offline state audits meaningful (state is a deterministic
    function of the ingested prefix)."""
    from movie_data_transformer_spark.sources.tables import load_events_raw_ns
    from movie_data_transformer_spark.streaming.stateful import (
        running_user_totals_exact,
    )

    raw = load_events_raw_ns(spark, sf_dir)
    src = str(tmp_path / "tt_split")
    raw.repartition(3).write.parquet(src)
    ckpt = str(tmp_path / "tt_ckpt")
    stream = (
        spark.readStream.schema(raw.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = (
        running_user_totals_exact(stream)
        .writeStream.outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .foreachBatch(lambda df, _i: df.count() and None)
        .start()
    )
    q.awaitTermination()
    total = load_table(spark, sf_dir, "events").count()
    per_batch = []
    for b in range(3):
        st = spark.read.format("statestore").option("batchId", b).load(ckpt)
        per_batch.append(st.selectExpr("sum(value.groupState.n_events) s").first().s)
    # monotone prefix sums ending at the full log; batch 0 is a strict prefix
    assert per_batch[2] == total
    assert 0 < per_batch[0] < per_batch[2]
    assert per_batch[0] <= per_batch[1] <= per_batch[2]
    # default (no batchId) == last committed batch
    full = spark.read.format("statestore").load(ckpt)
    assert full.selectExpr("sum(value.groupState.n_events) s").first().s == total


def _protobuf_available() -> bool:
    # transformWithStateInPandas' driver-side runner imports
    # google.protobuf descriptors; without the package the query crashes
    # at initialization (probed in-round:
    # STREAMING_PYTHON_RUNNER_INITIALIZATION_FAILURE / ImportError).
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


def test_transform_with_state_totals_env_gated(spark, sf_dir, tmp_path):
    """The Spark 4 next-gen arbitrary-state API (transformWithStateInPandas
    + RocksDB provider) expressing the SAME running-totals operator as
    applyInPandasWithState — env-gated on an import probe: the sandbox
    lacks python-protobuf, which the TwS runner hard-requires, so this
    SKIPS here and runs for real wherever protobuf exists. The skip message names the missing
    dependency so a misconfigured cluster can't hide."""
    import pytest

    if not _protobuf_available():
        pytest.skip(
            "python-protobuf not installed: transformWithStateInPandas' "
            "streaming runner cannot initialize (probed; install protobuf "
            "to light this surface up)"
        )

    import os

    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )
    from pyspark.sql.types import LongType, StructField, StructType

    from movie_data_transformer_spark.sources.tables import (
        load_events_stream,
        load_table,
    )

    class Totals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle):
            self._s = handle.getValueState("tot", "n BIGINT")

        def handleInputRows(self, key, rows, timerValues):
            n = self._s.get()[0] if self._s.exists() else 0
            for pdf in rows:
                n += len(pdf)
            self._s.update((n,))
            yield pd.DataFrame({"user_id": [key[0]], "n_events": [n]})

        def close(self):
            pass

    stream = load_events_stream(spark, sf_dir, raw_ns=True, maxFilesPerTrigger="1")
    out_schema = StructType(
        [StructField("user_id", LongType()), StructField("n_events", LongType())]
    )
    res = stream.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=Totals(),
        outputStructType=out_schema,
        outputMode="Update",
        timeMode="None",
    )
    outdir = str(tmp_path / "out")
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        q = (
            res.writeStream.outputMode("update")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .foreachBatch(lambda b, _i: b.write.mode("append").parquet(outdir))
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    final = (
        spark.read.parquet(outdir)
        .groupBy("user_id")
        .agg({"n_events": "max"})
        .withColumnRenamed("max(n_events)", "n_events")
    )
    truth = load_table(spark, sf_dir, "events").groupBy("user_id").count()
    joined = final.join(truth, "user_id")
    assert joined.filter("n_events != count").count() == 0
