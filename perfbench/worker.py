"""One workload in one Spark driver process: set up, warm up, time, trace.

    python3 perfbench/worker.py <plan.json> <spawn time>

run.py writes the plan (the generated corpora and the run's knobs) and
starts this process with the checkout root on PYTHONPATH. The engine is
driven only through its public functions. The result goes to
`<run_root>/result.json`; run.py turns it into metrics and checks the KV
output against the oracle.

Set-up is timed once, from process spawn: interpreter, imports, JVM
launch and session, the registry import (`registry.spark_queries()`), the
program-side preparation (the seeded state of `big_state`) and one warm-up
pass.

With tracing on, the set-up's context runs with Spark's event log enabled
(run.py passes the settings). The run repeats the timed passes with spans
and job groups around each public call, runs the per-layer probes and
reads the event log back with perfbench/eventlog.py.
It then restarts the context without the event log, prepares and warms
up, and times the same passes untraced for the overhead.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import shutil
import statistics
import sys
import threading
import time
import traceback
from contextlib import contextmanager

from pyspark import SparkContext
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQueryListener

from movie_data_transformer_spark.operators import movie_pipeline as mp
from movie_data_transformer_spark.operators.merge import FLAT_COLS
from movie_data_transformer_spark.session import get_spark
from movie_data_transformer_spark.sinks import kv
from movie_data_transformer_spark.sinks.kv import FileKVClient
from movie_data_transformer_spark.sources.jsonl import read_movies_jsonl
from movie_data_transformer_spark.streaming.merge_stream import (
    ParquetStateStore,
    run_incremental_merge,
)

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import eventlog  # noqa: E402
import procfs  # noqa: E402

PROBE_REPS = 2
#: Spark settings run.py passes for a traced run; the stdlib cannot read
#: Spark 4's default zstd codec, so the log is written uncompressed
EVENT_LOG = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
}
#: the JVM's JIT compiler threads: their CPU time is warm-up, which keeps
#: falling for dozens of passes, so it is left out of a pass's CPU time
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")
SPARK_LAYERS = ("jsonl", "movie_pipeline", "merge_stream", "kv")
#: the thread-local properties `SparkContext.setJobGroup` sets
JOB_GROUP_PROPS = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")

#: (name, unit) of every per-layer metric, in output order
PER_LAYER = (
    ("wall_s", "s"),
    ("ratings_per_s", "1/s"),
    ("batch_p50_s", "s"),
    ("session.start_s", "s"),
    ("registry.import_s", "s"),
    ("jsonl.scan_s", "s"),
    ("jsonl.input_bytes", "bytes"),
    ("jsonl.rows_decoded", "count"),
    ("jsonl.lines_dropped", "count"),
    ("movie_pipeline.explode_s", "s"),
    ("movie_pipeline.dedup_s", "s"),
    ("movie_pipeline.group_s", "s"),
    ("movie_pipeline.serialize_s", "s"),
    ("movie_pipeline.dedup_keep_ratio", "ratio"),
    ("movie_pipeline.shuffle_bytes", "bytes"),
    ("merge_stream.commit_s", "s"),
    ("merge_stream.state_rows", "count"),
    ("merge_stream.state_bytes", "bytes"),
    ("merge_stream.write_amp", "ratio"),
    ("merge_stream.disk_bytes", "bytes"),
    ("merge.shuffle_bytes", "bytes"),
    ("stream.add_batch_s", "s"),
    ("stream.planning_s", "s"),
    ("stream.offsets_s", "s"),
    ("stream.wal_commit_s", "s"),
    ("stream.overhead_s", "s"),
    ("stream.batch_max_s", "s"),
    ("stream.jobs", "count"),
    ("stream.driver_gap_s", "s"),
    ("kv.publish_s", "s"),
    ("kv.keys_written", "count"),
    ("kv.bytes_written", "bytes"),
    ("kv.part_files", "count"),
    ("kv.keys_per_touched_customer", "ratio"),
    *(
        (f"{layer}.{m}", unit)
        for layer in SPARK_LAYERS
        for m, unit in (
            ("jobs", "count"),
            ("stages", "count"),
            ("task_s", "s"),
            ("gc_s", "s"),
            ("spill_bytes", "bytes"),
            ("driver_gap_s", "s"),
        )
    ),
    ("trace.overhead_s", "s"),
)


def log(msg: str) -> None:
    print(f"perfbench {time.strftime('%H:%M:%S')} {msg}", file=sys.stderr, flush=True)


def du(path: str) -> int:
    total = 0
    for dirpath, _, names in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, n)) for n in names)
    return total


def engine_cpu_s() -> float:
    """CPU seconds of this process's tree so far, JIT compilation aside."""
    pid = os.getpid()
    return procfs.tree_cpu_s(pid) - procfs.threads_cpu_s(pid, JIT_THREADS)


def noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


class Progress(StreamingQueryListener):
    """Collects the progress event of every micro-batch."""

    def __init__(self):
        self._lock = threading.Lock()
        self.events: list[dict] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = json.loads(event.progress.json)
        if p.get("numInputRows", 0) > 0:
            with self._lock:
                self.events.append(p)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def drain(self, expected: int, timeout: float = 10.0) -> list[dict]:
        """Wait for `expected` events (they arrive asynchronously), then
        return and forget everything collected so far."""
        deadline = time.time() + timeout
        while time.time() < deadline:
            with self._lock:
                if len(self.events) >= expected:
                    break
            time.sleep(0.02)
        with self._lock:
            out, self.events = self.events, []
        return out


class Tracer:
    """Spans around public calls, kept in memory; each span names its layer,
    and the job group its Spark jobs run under."""

    def __init__(self):
        self.spans: list[dict] = []
        self._local = threading.local()
        self.pass_span: int | None = None

    @contextmanager
    def span(self, layer: str, name: str, group: str | None = None):
        sc = SparkContext._active_spark_context
        saved = {}
        if group is not None:
            # jobs after the span go back to the caller's group, not this layer's
            saved = {k: sc.getLocalProperty(k) for k in JOB_GROUP_PROPS}
            sc.setJobGroup(group, f"{layer}:{name}")
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        parent = stack[-1] if stack else self.pass_span
        sid = len(self.spans)
        span = {"id": sid, "parent": parent, "layer": layer, "name": name, "start": time.time()}
        self.spans.append(span)
        stack.append(sid)
        try:
            yield span
        finally:
            stack.pop()
            span["end"] = time.time()
            for k, v in saved.items():
                sc.setLocalProperty(k, v)

    def windows(self, layer: str) -> list[tuple[float, float]]:
        return [(s["start"], s["end"]) for s in self.spans if s["layer"] == layer and "end" in s]


class Workload:
    """The untimed preparation and the timed pass of one workload."""

    def __init__(self, plan: dict):
        self.plan = plan
        self.root = plan["run_root"]
        self.streaming = plan["workload"] != "backfill"
        self.seed_state = os.path.join(self.root, "seed-state")
        self.tracer: Tracer | None = None

    def triggers(self, corpus: dict, streaming: bool) -> int:
        """Micro-batches one pass over `corpus` makes."""
        return -(-len(corpus["json_files"]) // self.plan["files_per_trigger"]) if streaming else 0

    def prepare(self, spark: SparkSession) -> None:
        """Program-side preparation: commit the seeded state of `big_state`."""
        if "seed_rows" not in self.plan:
            return
        shutil.rmtree(self.seed_state, ignore_errors=True)
        rows = spark.read.parquet(self.plan["seed_rows"]).select(FLAT_COLS)
        ParquetStateStore(spark, self.seed_state).commit(rows)

    def before_pass(self, d: str) -> None:
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        if "seed_rows" in self.plan:
            shutil.copytree(self.seed_state, os.path.join(d, "state"))

    def run_pass(self, spark: SparkSession, corpus: dict, d: str, streaming: bool) -> None:
        factory = functools.partial(FileKVClient, os.path.join(d, "kv"))
        if not streaming:
            kv.write_kv(mp.run_pipeline(read_movies_jsonl(spark, corpus["root"])), factory)
            return
        run_incremental_merge(
            spark,
            corpus["root"],
            os.path.join(d, "state"),
            os.path.join(d, "checkpoint"),
            self.plan["files_per_trigger"],
            kv_client_factory=factory,
        )

    def stored_bytes(self, d: str) -> int:
        return du(os.path.join(d, "state")) + du(os.path.join(d, "kv"))


class Runner:
    def __init__(self, plan: dict, t_spawn: float):
        self.plan = plan
        self.wl = Workload(plan)
        self.t_spawn = t_spawn
        self.progress = Progress()
        self.spark: SparkSession | None = None
        self.session_start_s = 0.0
        self.registry_import_s = 0.0
        self.commit_log: list[tuple[int, int]] = []  # (state version, bytes written)

    # -- set-up ---------------------------------------------------------
    def start(self) -> None:
        t0 = time.time()
        self.spark = get_spark("perfbench")
        if not self.session_start_s:
            self.session_start_s = time.time() - t0
        self.spark.streams.addListener(self.progress)

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def import_registry(self) -> None:
        t0 = time.time()
        from movie_data_transformer_spark import registry  # noqa: PLC0415

        registry.spark_queries()
        self.registry_import_s = time.time() - t0

    def prepare(self) -> None:
        """Program-side preparation and the warm-up pass on a started session."""
        self.wl.prepare(self.spark)
        log("prepared")
        self.warm_pass()

    def warm_pass(self, corpus: str = "warm") -> None:
        d = os.path.join(self.wl.root, "passes", "warm")
        self.wl.before_pass(d)
        self.wl.run_pass(self.spark, self.plan[corpus], d, self.wl.streaming)
        self.progress.drain(self.wl.triggers(self.plan[corpus], self.wl.streaming))
        shutil.rmtree(d)

    def settle(self) -> None:
        """Untimed passes between the last set-up and the timed section."""
        for _ in range(self.plan["settle"]):
            self.warm_pass("main")
        log("settled")

    def setup(self) -> float:
        """The whole set-up, timed from process spawn."""
        self.start()
        self.import_registry()
        self.prepare()
        took = time.time() - self.t_spawn
        log(f"setup: {took:.2f}s")
        return took

    # -- the timed section ----------------------------------------------
    def timed(self, tag: str) -> dict:
        """Closed loop: the plan's number of passes, one after the other."""
        wl, corpus = self.wl, self.plan["main"]
        walls, cpus, stored, dirs, raised = [], [], [], [], []
        while len(walls) < self.plan["passes"]:
            d = os.path.join(wl.root, "passes", f"{tag}{len(walls)}")
            wl.before_pass(d)
            cpu0 = engine_cpu_s()
            t0 = time.time()
            try:
                if wl.tracer is not None and wl.streaming:
                    with wl.tracer.span("stream", "run_incremental_merge") as s:
                        wl.tracer.pass_span = s["id"]
                        wl.run_pass(self.spark, corpus, d, True)
                else:
                    wl.run_pass(self.spark, corpus, d, wl.streaming)
            except Exception:
                traceback.print_exc()
                raised.append(os.path.join(d, "kv"))
            walls.append(time.time() - t0)
            cpus.append(engine_cpu_s() - cpu0)
            log(f"{tag} {len(walls) - 1}: {walls[-1]:.2f}s, {cpus[-1]:.2f} cpu-s")
            stored.append(wl.stored_bytes(d))
            dirs.append(d)
            if len(dirs) > 2:  # keep the first and the latest pass for checking
                shutil.rmtree(dirs.pop(-2), ignore_errors=True)
        batches = self.progress.drain(len(walls) * wl.triggers(corpus, wl.streaming))
        return {
            "pass_wall_s": walls,
            "pass_cpu_s": cpus,
            "stored_bytes": stored,
            "raised": raised,
            "dirs": dirs,
            "progress": batches,
            # a backfill pass is one batch job
            "batch_s": [p["durationMs"]["triggerExecution"] / 1000 for p in batches] or walls,
        }

    # -- tracing --------------------------------------------------------
    def disable_event_log(self) -> None:
        """Turn Spark's event log off for the next SparkContext (run.py
        turns it on, for a traced run, with the `EVENT_LOG` settings)."""
        props = SparkContext._jvm.java.lang.System
        for k in EVENT_LOG:
            props.clearProperty(k)

    @contextmanager
    def tracing(self):
        """Spans around every public call while active, including
        `ParquetStateStore.commit` and `sinks.kv.write_kv`, which the
        streaming query calls from its `foreachBatch` thread."""
        tracer = self.wl.tracer = Tracer()
        commit, write_kv = ParquetStateStore.commit, kv.write_kv
        self.commit_log.clear()
        runner = self

        def traced_commit(store: ParquetStateStore, df: DataFrame) -> int:
            with tracer.span("merge_stream", "commit", group="merge_stream"):
                v = commit(store, df)
            runner.commit_log.append((v, du(os.path.join(store.root, f"v{v}"))))
            return v

        def traced_write_kv(kv_df: DataFrame, factory) -> None:
            with tracer.span("kv", "write_kv", group="kv"):
                write_kv(kv_df, factory)

        ParquetStateStore.commit = traced_commit
        kv.write_kv = traced_write_kv
        try:
            yield tracer
        finally:
            ParquetStateStore.commit, kv.write_kv = commit, write_kv
            self.wl.tracer = None

    def probes(self, tracer: Tracer) -> tuple[dict, list[str]]:
        spark, sc = self.spark, self.spark.sparkContext
        corpus = self.plan["main"]
        out, errors = {}, []

        scan = []
        for _ in range(PROBE_REPS):
            with tracer.span("jsonl", "scan", group="jsonl") as s:
                noop(read_movies_jsonl(spark, corpus["root"]))
            scan.append(s["end"] - s["start"])
        sc.setJobGroup("count", "probe counts")
        rows = read_movies_jsonl(spark, corpus["root"]).count()
        lines = 0
        for path in corpus["json_files"]:
            with open(path, "rb") as f:
                lines += sum(1 for _ in f)
        out["jsonl.scan_s"] = statistics.median(scan)
        out["jsonl.input_bytes"] = sum(os.path.getsize(p) for p in corpus["json_files"])
        out["jsonl.rows_decoded"] = rows
        out["jsonl.lines_dropped"] = lines - rows
        if lines - rows != corpus["corrupt_lines"]:
            errors.append(f"jsonl dropped {lines - rows} lines, {corpus['corrupt_lines']} were corrupt")

        steps = ("scan", "explode", "dedup", "group", "serialize")
        took: dict[str, list[float]] = {s: [] for s in steps}
        for _ in range(PROBE_REPS):
            movies = read_movies_jsonl(spark, corpus["root"])
            flat = mp.explode_watched(movies)
            dedup = mp.dedup_latest(flat)
            grouped = mp.group_watched(dedup)
            prefixes = (movies, flat, dedup, grouped, mp.kv_serialize(grouped))
            for step, df in zip(steps, prefixes):
                layer = "movie_pipeline" if step == "serialize" else "movie_pipeline.prefix"
                with tracer.span(layer, step, group=layer) as s:
                    noop(df)
                took[step].append(s["end"] - s["start"])
        med = {s: statistics.median(v) for s, v in took.items()}
        for prev, step in zip(steps, steps[1:]):
            out[f"movie_pipeline.{step}_s"] = med[step] - med[prev]
        sc.setJobGroup("count", "probe counts")
        out["movie_pipeline.dedup_keep_ratio"] = dedup.count() / flat.count()
        return out, errors

    def stream_probe(self, tracer: Tracer) -> tuple[str, list[dict]]:
        """A traced incremental-merge pass over the main corpus, for a
        workload whose timed pass does not stream."""
        d = os.path.join(self.wl.root, "passes", "stream-probe")
        self.wl.before_pass(d)
        with tracer.span("stream", "run_incremental_merge") as s:
            tracer.pass_span = s["id"]
            self.wl.run_pass(self.spark, self.plan["main"], d, True)
        return d, self.progress.drain(self.wl.triggers(self.plan["main"], True))


def kv_stats(kv_dir: str) -> dict:
    """Writes, bytes and part files of one KV dir, and the share of writes
    that changed the stored blob (replayed in commit order)."""
    last: dict[str, str] = {}
    writes = useful = nbytes = parts = 0
    for name in sorted(os.listdir(kv_dir)):
        if not name.endswith(".kv"):
            continue
        parts += 1
        path = os.path.join(kv_dir, name)
        nbytes += os.path.getsize(path)
        with open(path) as f:
            for line in f:
                k, _, v = line.rstrip("\n").partition("\t")
                writes += 1
                useful += last.get(k) != v
                last[k] = v
    return {
        "kv.keys_written": writes,
        "kv.bytes_written": nbytes,
        "kv.part_files": parts,
        "kv.keys_per_touched_customer": useful / writes if writes else 0.0,
    }


def stream_stats(progress: list[dict], tracer: Tracer, jobs: list[tuple[float, float]]) -> dict:
    def med(f) -> float:
        return statistics.median(f(p["durationMs"]) / 1000 for p in progress)

    windows = tracer.windows("stream")
    n = len(progress)
    return {
        "stream.add_batch_s": med(lambda d: d.get("addBatch", 0)),
        "stream.planning_s": med(lambda d: d.get("queryPlanning", 0)),
        "stream.offsets_s": med(lambda d: d.get("latestOffset", 0) + d.get("getBatch", 0)),
        "stream.wal_commit_s": med(lambda d: d.get("walCommit", 0) + d.get("commitOffsets", 0)),
        "stream.overhead_s": med(lambda d: d["triggerExecution"] - d.get("addBatch", 0)),
        "stream.batch_max_s": max(p["durationMs"]["triggerExecution"] for p in progress) / 1000,
        "stream.jobs": sum(any(a <= t0 < b for a, b in windows) for t0, _ in jobs) / n,
        "stream.driver_gap_s": eventlog.driver_gap(windows, jobs) / n,
    }


def spark_layer_stats(tracer: Tracer, log_dir: str) -> tuple[dict, list[tuple[float, float]]]:
    """Per-call Spark metrics of each layer, from the traced context's
    event log (the only one written); also every job's span."""
    (path,) = glob.glob(os.path.join(log_dir, "*"))
    groups = eventlog.summarize(eventlog.read_events(path))
    out = {}
    for layer in SPARK_LAYERS:
        s = groups.get(layer, eventlog.LayerStats())
        windows = tracer.windows(layer)
        calls = max(len(windows), 1)
        out.update(
            {
                f"{layer}.jobs": s.jobs / calls,
                f"{layer}.stages": s.stages / calls,
                f"{layer}.task_s": s.task_s / calls,
                f"{layer}.gc_s": s.gc_s / calls,
                f"{layer}.spill_bytes": s.spill_bytes / calls,
                f"{layer}.driver_gap_s": eventlog.driver_gap(windows, s.job_spans) / calls,
            }
        )
    out["movie_pipeline.shuffle_bytes"] = (
        groups.get("movie_pipeline", eventlog.LayerStats()).shuffle_write_bytes
        / max(len(tracer.windows("movie_pipeline")), 1)
    )
    out["merge.shuffle_bytes"] = (
        groups.get("merge_stream", eventlog.LayerStats()).shuffle_write_bytes
        / max(len(tracer.windows("merge_stream")), 1)
    )
    all_jobs = [span for s in groups.values() for span in s.job_spans]
    return out, all_jobs


def traced_run(runner: Runner) -> dict:
    """On the set-up's context, which logs its events: repeat the timed
    passes with spans, run the probes, and return the per-layer figures
    (overhead aside). There are no settle passes first, so that a traced
    run ends within its time limit on a busy host."""
    wl, plan = runner.wl, runner.plan
    with runner.tracing() as tracer:
        timed = runner.timed("traced")
        progress = timed["progress"]
        stream_dir = timed["dirs"][-1]
        commit_log = list(runner.commit_log)
        layers, errors = runner.probes(tracer)
        if not wl.streaming:
            stream_dir, progress = runner.stream_probe(tracer)
            commit_log = runner.commit_log[len(commit_log) :]

    spark, sc = runner.spark, runner.spark.sparkContext
    sc.setJobGroup("count", "probe counts")
    state = ParquetStateStore(spark, os.path.join(stream_dir, "state"))
    v = state.current_version()
    layers["merge_stream.state_rows"] = state.read().count()
    layers["merge_stream.state_bytes"] = du(os.path.join(state.root, f"v{v}"))
    layers["merge_stream.disk_bytes"] = du(state.root)
    layers["merge_stream.commit_s"] = statistics.median(
        s["end"] - s["start"] for s in tracer.spans if s["layer"] == "merge_stream"
    )
    # commits of one pass are v1.. (or v2.. over a seeded state); batch i
    # reads files [i*k, (i+1)*k) of the corpus
    sizes = [os.path.getsize(p) for p in plan["main"]["json_files"]]
    k = plan["files_per_trigger"]
    base = 1 if "seed_rows" not in plan else 2
    amp = [
        written / sum(sizes[(ver - base) * k : (ver - base + 1) * k])
        for ver, written in commit_log
        if 0 <= ver - base < len(sizes) / k
    ]
    layers["merge_stream.write_amp"] = statistics.median(amp)
    layers["kv.publish_s"] = statistics.median(
        s["end"] - s["start"] for s in tracer.spans if s["layer"] == "kv"
    )
    layers.update(kv_stats(os.path.join(timed["dirs"][-1], "kv")))
    runner.stop()
    runner.disable_event_log()

    spark_stats, all_jobs = spark_layer_stats(tracer, os.path.join(wl.root, "eventlog"))
    layers.update(spark_stats)
    layers.update(stream_stats(progress, tracer, all_jobs))
    layers["session.start_s"] = runner.session_start_s
    layers["registry.import_s"] = runner.registry_import_s
    return {"layers": layers, "spans": tracer.spans, "probe_errors": errors, "timed": timed}


def main(plan_path: str, t_spawn: float) -> None:
    with open(plan_path) as f:
        plan = json.load(f)
    runner = Runner(plan, t_spawn)
    result = {"raised": [], "check_dirs": [], "passes": 0}

    def record(timed: dict) -> None:
        result["passes"] += len(timed["pass_wall_s"])
        result["raised"] += timed["raised"]
        result["check_dirs"] += [os.path.join(d, "kv") for d in timed["dirs"]]

    try:
        if not plan["trace"]:
            result["setup_s"] = runner.setup()
            runner.settle()
            timed = runner.timed("pass")
            record(timed)
            result.update({k: timed[k] for k in ("pass_cpu_s", "stored_bytes")})
        else:
            # the untraced passes run last, on a JVM the traced passes
            # warmed, so the overhead is not understated
            runner.setup()
            traced = traced_run(runner)
            record(traced["timed"])
            runner.start()
            runner.prepare()
            timed = runner.timed("pass")
            record(timed)
            layers = traced["layers"]
            wall = statistics.median(timed["pass_wall_s"])
            layers["wall_s"] = wall
            layers["ratings_per_s"] = plan["main"]["valid_ratings"] / wall
            layers["batch_p50_s"] = statistics.median(timed["batch_s"])
            layers["trace.overhead_s"] = statistics.median(traced["timed"]["pass_wall_s"]) - wall
            result.update(
                layers={name: {"value": layers[name], "unit": unit} for name, unit in PER_LAYER},
                spans=traced["spans"],
                probe_errors=traced["probe_errors"],
                probe_checks=["jsonl.lines_dropped"],
            )
    finally:
        runner.stop()
    with open(os.path.join(plan["run_root"], "result.json"), "w") as f:
        json.dump(result, f)


if __name__ == "__main__":
    main(sys.argv[1], float(sys.argv[2]))
