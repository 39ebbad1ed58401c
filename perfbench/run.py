"""Benchmark of the paper's dataflow: JSONL files -> explode -> last-write-wins
dedup -> merge into stored state -> per-customer JSON -> KV write.

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 12 --trace 0

This process generates the workload's inputs from the seed, starts one
Spark driver process (perfbench/worker.py) that sets up, warms up and
times the workload, samples the peak memory of that process tree from /proc,
checks the stored KV output against the pure-Python oracle, and prints one
JSON object as its last line of output. Everything a run writes lives under
`.perfbench/run-<pid>/` in the checkout and is removed when the run ends;
a traced run (`--trace 1`) also keeps its spans in `.perfbench/traces/`.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import gen  # noqa: E402
import oracle  # noqa: E402
import procfs  # noqa: E402

PACKAGE = "movie_data_transformer_spark"
FILES_PER_TRIGGER = 10  # the reference's BATCH_SIZE
# two task threads on a 4-core host: the JVM's compiler and GC threads and
# the Python workers run beside them instead of queueing behind them
CPUS = "2"
HEAP_FLOOR = "2g"


@dataclass(frozen=True)
class Spec:
    """One workload: what is generated, and how a run warms up and times it."""

    universe: gen.Universe
    main: gen.Shape  # one timed pass reads all of it
    # timed passes per run: fixed, so a faster host does not time more
    # (and warmer) passes than a slower one
    passes: int
    # untimed passes over `main` after the last set-up: the JIT keeps
    # cutting CPU per pass for about ten passes after the JVM starts
    settle: int
    warm: gen.Shape  # corpus of the warm-up pass in each set-up
    seed: gen.Shape | None = None  # drawn first and committed as the initial state


WORKLOADS = {
    # one batch job over ~70k ratings: scan/decode, two shuffles, KV sink
    "backfill": Spec(
        gen.Universe(movies=20_000, customers=50_000),
        gen.Shape(files=6, docs_per_file=2000, watchers_per_doc=6, corrupt_lines=5),
        passes=7,
        settle=3,
        warm=gen.Shape(files=1, docs_per_file=1000, watchers_per_doc=6, corrupt_lines=1),
    ),
    # 30 small files in 3 triggers into empty state: per-batch fixed cost
    "trickle": Spec(
        gen.Universe(movies=2_000, customers=5_000),
        gen.Shape(files=30, docs_per_file=20, watchers_per_doc=10, corrupt_lines=3),
        passes=3,
        settle=1,
        warm=gen.Shape(files=20, docs_per_file=20, watchers_per_doc=10, corrupt_lines=1),
    ),
    # one trigger of ~120 ratings against ~75k rows of state: state rewrite
    "big_state": Spec(
        gen.Universe(movies=20_000, customers=200_000),
        # one rating per document, so the batch's size hardly varies by seed
        gen.Shape(files=10, docs_per_file=12, watchers_per_doc=1, corrupt_lines=1),
        passes=4,
        settle=2,
        warm=gen.Shape(files=10, docs_per_file=12, watchers_per_doc=1, corrupt_lines=1),
        seed=gen.Shape(files=1, docs_per_file=10_000, watchers_per_doc=10, corrupt_lines=0),
    ),
}

#: (name, unit) of every end-to-end metric, in output order. Wall time per
#: pass (wall_s, ratings_per_s, batch_p50_s) is a per-layer metric: on a
#: shared host it swings with other tenants' load, CPU seconds much less.
END_TO_END = (
    ("setup_s", "s"),
    ("cpu_s", "s"),
    ("peak_rss_mb", "MB"),
    ("stored_bytes_per_input_byte", "ratio"),
)


def write_state_rows(rows: list[tuple], path: str) -> None:
    """Flat rating rows as one parquet file, typed like the engine's state."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    types = (pa.string(), pa.string(), pa.int32(), pa.string(), pa.int32(), pa.string())
    cols = [pa.array(c, type=t) for c, t in zip(zip(*rows), types)]
    pq.write_table(pa.table(cols, names=list(oracle.FLAT)), path)


def generate(workload: str, seed: int, inputs: str) -> tuple[dict, dict]:
    """Write the workload's corpora; return the plan the worker reads and
    the seeded state (empty without one) for the oracle."""
    spec = WORKLOADS[workload]
    g = gen.Generator(spec.universe, seed)
    plan = {
        "workload": workload,
        "files_per_trigger": FILES_PER_TRIGGER,
        "settle": spec.settle,
    }
    initial = {}
    if spec.seed is not None:
        # drawn first, so the batches revisit its pairs; the engine is
        # handed the deduped rows and commits them as its first version
        initial = oracle.batch_lww(oracle.explode_docs(g.docs(spec.seed)))
        plan["seed_rows"] = os.path.join(inputs, "seed-state.parquet")
        os.makedirs(inputs, exist_ok=True)
        write_state_rows(list(initial.values()), plan["seed_rows"])
    plan["main"] = vars(g.write(os.path.join(inputs, "main"), spec.main))
    warm_gen = gen.Generator(spec.universe, seed + 1_000_003)
    plan["warm"] = vars(warm_gen.write(os.path.join(inputs, "warm"), spec.warm))
    return plan, initial


def expected_kv(plan: dict, initial: dict) -> dict[str, dict]:
    main = plan["main"]["json_files"]
    if plan["workload"] == "backfill":
        return oracle.expected_backfill(main)
    final = oracle.expected_stream(main, plan["files_per_trigger"], initial)
    # a pass publishes only the customers its batches touched
    touched = {r[3] for r in oracle.explode_files(main)}
    return oracle.group({k: r for k, r in final.items() if k[0] in touched})


class MemorySampler(threading.Thread):
    """Peak memory of the process tree under `pid` (the Spark driver
    process, its JVM and Python workers), as the sum of each process's
    proportional set size."""

    def __init__(self, pid: int, interval: float = 0.5):
        super().__init__(daemon=True)
        self.pid, self.interval = pid, interval
        self.peak = 0
        self._halt = threading.Event()

    def run(self) -> None:
        while not self._halt.is_set():
            total = sum(procfs.pss(p) for p in procfs.tree(self.pid))
            self.peak = max(self.peak, total)
            self._halt.wait(self.interval)

    def stop(self) -> None:
        self._halt.set()
        self.join()


def reap_group(proc: subprocess.Popen, grace: float = 10.0) -> None:
    """Stop every process of the worker's group and wait until all ended."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(proc.pid, sig)
        except ProcessLookupError:
            break
        deadline = time.time() + grace
        while time.time() < deadline and procfs.group_alive(proc.pid):
            time.sleep(0.05)
        if not procfs.group_alive(proc.pid):
            break
    proc.wait()


def run_worker(plan_path: str, run_root: str, trace: bool, t_budget: float) -> tuple[dict, int]:
    env = dict(os.environ)
    env.pop("SPARK_DRIVER_MEM", None)  # the engine's default, as a user runs it
    tmp = os.path.join(run_root, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = {"spark.ui.showConsoleProgress": "false"}
    if trace:
        # the set-up's context logs its events; the worker turns the log off
        # before it starts the context of the untraced passes
        from worker import EVENT_LOG  # noqa: PLC0415  (imports pyspark)

        log_dir = os.path.join(run_root, "eventlog")
        os.makedirs(log_dir)
        conf.update(EVENT_LOG, **{"spark.eventLog.dir": "file://" + log_dir})
    env.update(
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
        SPARK_GRAFT_CPUS=CPUS,
        SPARK_LOCAL_DIRS=os.path.join(run_root, "spark-local"),
        TMPDIR=tmp,
        # every JVM (launcher and driver) keeps its temp files in the run root
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        # the engine's own spark.driver.memory caps the heap; 2 GB of it is
        # committed and touched up front, so peak memory does not swing with
        # when G1 decides to grow the heap (heap use below 2 GB does not show)
        PYSPARK_SUBMIT_ARGS=(
            "".join(f"--conf {k}={v} " for k, v in conf.items())
            + f"--driver-java-options '-Xms{HEAP_FLOOR} -XX:+AlwaysPreTouch"
            # compiler threads live as long as the JVM, so their CPU time
            # can be told apart from the engine's (see worker.engine_cpu_s)
            " -XX:-UseDynamicNumberOfCompilerThreads' pyspark-shell"
        ),
    )
    log_path = os.path.join(run_root, "worker.log")
    cmd = [sys.executable, os.path.join(HERE, "worker.py"), plan_path, repr(time.time())]
    with open(log_path, "w") as log:
        # its own session, so the JVM and Python workers can be reaped as a group
        proc = subprocess.Popen(
            cmd, cwd=run_root, env=env, stdout=log, stderr=subprocess.STDOUT, start_new_session=True
        )
        sampler = MemorySampler(proc.pid)
        sampler.start()
        try:
            code = proc.wait(timeout=t_budget)
        except subprocess.TimeoutExpired:
            code = -9
        finally:
            sampler.stop()
            reap_group(proc)
    with open(log_path, errors="replace") as f:
        log_text = f.read()
    # the worker's own progress lines, without Spark's logging
    sys.stderr.writelines(ln for ln in log_text.splitlines(True) if ln.startswith("perfbench "))
    result_path = os.path.join(run_root, "result.json")
    if code != 0 or not os.path.exists(result_path):
        raise RuntimeError(f"worker exited with {code}; log tail:\n{log_text[-4000:]}")
    with open(result_path) as f:
        return json.load(f), sampler.peak


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    # a run times the workload's fixed number of passes, which takes about
    # BENCHMARK.json's run_seconds on a 4-core host; the value is not used
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a stop request unwinds through the `finally`s below, which stop the
    # worker's process group and remove the run root
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: package {PACKAGE!r} not found under {ROOT}", file=sys.stderr)
        return 2
    from movie_data_transformer_spark.sinks.kv import FileKVClient

    base = os.path.join(ROOT, ".perfbench")
    run_root = os.path.join(base, f"run-{os.getpid()}")
    shutil.rmtree(run_root, ignore_errors=True)
    try:
        plan, initial = generate(args.workload, args.seed, os.path.join(run_root, "inputs"))
        print(f"perfbench {time.strftime('%H:%M:%S')} inputs generated", file=sys.stderr)
        plan.update(run_root=run_root, passes=WORKLOADS[args.workload].passes, trace=bool(args.trace))
        plan_path = os.path.join(run_root, "plan.json")
        with open(plan_path, "w") as f:
            json.dump(plan, f)
        res, peak_mem = run_worker(plan_path, run_root, bool(args.trace), t_budget=170.0)
        print(f"perfbench {time.strftime('%H:%M:%S')} worker done", file=sys.stderr)

        # correctness, outside every timed section
        expected = expected_kv(plan, initial)
        failed_passes = set(res["raised"])
        for kv_dir in res["check_dirs"]:
            bad = oracle.mismatches(FileKVClient.read_all(kv_dir), expected)
            if bad:
                print(f"perfbench: {bad} KV keys differ from the oracle in {kv_dir}", file=sys.stderr)
                failed_passes.add(kv_dir)
        failed = len(failed_passes) + len(res.get("probe_errors", []))
        for err in res.get("probe_errors", []):
            print(f"perfbench: {err}", file=sys.stderr)
        attempted = res["passes"] + len(res.get("probe_checks", []))

        if args.trace:
            metrics = res["layers"]
            trace_dir = os.path.join(base, "traces")
            os.makedirs(trace_dir, exist_ok=True)
            with open(os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.json"), "w") as f:
                json.dump(res["spans"], f)
        else:
            values = {
                "setup_s": res["setup_s"],
                "cpu_s": statistics.fmean(res["pass_cpu_s"]),
                "peak_rss_mb": peak_mem / 2**20,
                "stored_bytes_per_input_byte": statistics.median(res["stored_bytes"])
                / plan["main"]["valid_bytes"],
            }
            metrics = {name: {"value": values[name], "unit": unit} for name, unit in END_TO_END}
        for name, m in metrics.items():
            print(f"{args.workload:>9}  {name:<36} {m['value']:>16.6g} {m['unit']}")
        print(
            json.dumps(
                {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}
            )
        )
        return 0
    finally:
        shutil.rmtree(run_root, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
