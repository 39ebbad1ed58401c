"""bench.py's measurement method, without Spark: the settle wait is
driven by a scripted loadavg sequence and the timing helpers by a fake
query surface and a scripted clock (no real waiting or querying).
Pinned here:
- the settled verdict needs two consecutive loadavg samples strictly
  below the threshold, so a host carrying exactly 1.0 of competing load
  is not recorded as settled;
- median-of-3 per entry, extended to median-of-5 when the 3 runs spread
  by more than _SPREAD_EXTEND;
- main() warms the JVM by running every headline entry once before the
  first timed run, and writes no file;
- the slim final line keeps its 8 keys inside _FINAL_LINE_BUDGET."""

from __future__ import annotations

import importlib.util
import shutil
import sys
from pathlib import Path
from types import SimpleNamespace

# derived from the test's own location so the suite works from any
# checkout path (r10 ADVICE low #1)
_BENCH_PATH = Path(__file__).resolve().parent.parent / "bench.py"


def _load_bench(path=_BENCH_PATH):
    spec = importlib.util.spec_from_file_location("bench_under_test", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _run_with_loads(monkeypatch, bench, loads, start=1000.0):
    """Drive _wait_for_idle against a scripted 1-min loadavg sequence;
    each sleep(15) advances the fake clock and the sequence (the last
    value repeats once exhausted)."""
    state = {"i": 0, "now": start}

    def fake_loadavg():
        i = min(state["i"], len(loads) - 1)
        return (loads[i], 0.0, 0.0)

    def fake_sleep(s):
        state["now"] += s
        state["i"] += 1

    monkeypatch.delenv("SPARK_GRAFT_BENCH_NO_WAIT", raising=False)
    monkeypatch.setattr(bench.os, "getloadavg", fake_loadavg)
    monkeypatch.setattr(bench.time, "sleep", fake_sleep)
    monkeypatch.setattr(bench.time, "time", lambda: state["now"])
    return bench._wait_for_idle()


def test_boundary_load_of_exactly_threshold_never_settles(monkeypatch):
    """The r9 failure case: a machine pinned at exactly _SETTLE_LOAD
    must NOT report settled — strict `<`, not `<=`."""
    bench = _load_bench()
    assert _run_with_loads(monkeypatch, bench, [bench._SETTLE_LOAD]) is False


def test_one_idle_sample_between_busy_ones_is_not_enough(monkeypatch):
    """A single sub-threshold dip must not settle: the verdict needs two
    CONSECUTIVE idle samples, so busy-idle-busy... never confirms."""
    bench = _load_bench()
    assert _run_with_loads(monkeypatch, bench, [0.5, 2.0] * 40) is False


def test_two_consecutive_idle_samples_settle(monkeypatch):
    """Busy then idle twice in a row -> settled, well inside the cap."""
    bench = _load_bench()
    assert _run_with_loads(monkeypatch, bench, [5.0, 3.0, 0.8, 0.7]) is True


def test_already_idle_start_still_needs_a_confirming_sample(monkeypatch):
    """Idle at entry counts as the first sample; one confirming sample
    15 s later settles. If the confirmation comes back busy, the count
    restarts rather than carrying the stale first sample."""
    bench = _load_bench()
    assert _run_with_loads(monkeypatch, bench, [0.4, 0.4]) is True
    assert _run_with_loads(monkeypatch, bench, [0.4, 1.5, 0.4, 0.4]) is True
    assert _run_with_loads(monkeypatch, bench, [0.4, 1.5]) is False  # never re-idles


def test_no_wait_env_short_circuits_on_strict_compare(monkeypatch):
    """SPARK_GRAFT_BENCH_NO_WAIT skips waiting but still judges the
    single sample strictly."""
    bench = _load_bench()
    monkeypatch.setenv("SPARK_GRAFT_BENCH_NO_WAIT", "1")
    monkeypatch.setattr(
        bench.os, "getloadavg", lambda: (bench._SETTLE_LOAD, 0.0, 0.0)
    )
    assert bench._wait_for_idle() is False
    monkeypatch.setattr(bench.os, "getloadavg", lambda: (0.2, 0.0, 0.0))
    assert bench._wait_for_idle() is True


# ---------------------------------------------------------------------
# Per-query spread extension and the order of main()'s runs. The timing
# helpers are driven with a fake Spark/query surface (no real Spark):
# 3-run median when the spread is tight, automatic extension to
# median-of-5 when the 3-run spread exceeds 0.25, one untimed run of
# every headline entry before the first timed run, and no file written.
# ---------------------------------------------------------------------


class _FakeWriter:
    def format(self, *_):
        return self

    def mode(self, *_):
        return self

    def save(self):
        pass


class _FakeDF:
    write = _FakeWriter()


class _FakeCatalog:
    def clearCache(self):
        pass


class _FakeSpark:
    catalog = _FakeCatalog()


def _drive_time_query(monkeypatch, bench, durations):
    """Run _time_query with a scripted clock: the i-th timed run takes
    durations[i] seconds (the warm-up run consumes no scripted time —
    it is not wrapped in a timer)."""
    state = {"now": 0.0, "i": -1}  # -1: first timed run starts at t0 call 0

    calls = {"n": 0}

    def fake_time():
        # _time_query calls time.time() twice per timed run: t0 then
        # the implicit end via (time.time() - t0). Advance the clock by
        # the scripted duration between the two calls.
        calls["n"] += 1
        if calls["n"] % 2 == 1:  # t0 of run k
            state["i"] += 1
            return state["now"]
        state["now"] += durations[min(state["i"], len(durations) - 1)]
        return state["now"]

    monkeypatch.setattr(bench.time, "time", fake_time)
    qs = {"q": lambda spark, sf: _FakeDF()}
    return bench._time_query(_FakeSpark(), qs, "q", "/nonexistent")


def test_tight_spread_stays_at_three_runs(monkeypatch):
    """Runs 1.0/1.1/1.0: spread 0.1 <= 0.25, median-of-3, no extension."""
    bench = _load_bench()
    med, spread, n, _cold = _drive_time_query(
        monkeypatch, bench, [1.0, 1.1, 1.0, 1.0]
    )
    assert n == 3
    assert med == 1.0
    assert spread == 0.1


def test_wide_spread_extends_to_five_runs(monkeypatch):
    """Runs 1.0/1.0/2.0 spread 1.0 > 0.25 -> two more runs; the final
    median/spread are computed over all five."""
    bench = _load_bench()
    med, spread, n, _cold = _drive_time_query(
        monkeypatch, bench, [1.0, 1.0, 2.0, 1.0, 1.0, 1.0]
    )
    assert n == 5
    assert med == 1.0
    assert spread == 1.0  # (2.0 - 1.0) / 1.0 over the five runs


def _main_with_fakes(monkeypatch, tmp_path, log):
    """Run main() of a copy of bench.py in tmp_path against the fake
    Spark and query surface, with the settle wait patched out. Every
    query build, cache clear and clock read is appended to `log`.
    Returns (module, files in tmp_path just before main ran)."""
    monkeypatch.setattr(sys, "path", list(sys.path))  # bench.py prepends its dir
    bench = _load_bench(shutil.copy(_BENCH_PATH, tmp_path / "bench.py"))

    class Catalog:
        def clearCache(self):
            log.append("clear")

    class Spark:
        catalog = Catalog()
        sparkContext = SimpleNamespace(setLogLevel=lambda _level: None)

    def query(name):
        def build(spark, sf_dir):
            log.append(name)
            return _FakeDF()

        return build

    def clock():
        log.append("clock")
        return 0.0

    monkeypatch.setattr(bench, "_wait_for_idle", lambda: True)
    monkeypatch.setattr(bench, "get_spark", lambda _name: Spark())
    monkeypatch.setattr(
        bench, "spark_queries", lambda: {n: query(n) for n in bench.HEADLINE}
    )
    monkeypatch.setattr(bench.time, "time", clock)
    before = sorted(tmp_path.rglob("*"))
    bench.main()
    return bench, before


def test_main_warms_every_headline_entry_before_the_first_timed_run(
    monkeypatch, tmp_path
):
    """Before any clock read, main() runs each HEADLINE entry exactly
    once, in order, with the cache cleared before each: the first timed
    entries must not pay the JVM's warm-up."""
    log: list[str] = []
    bench, _ = _main_with_fakes(monkeypatch, tmp_path, log)
    warm = [step for name in bench.HEADLINE for step in ("clear", name)]
    assert log[: len(warm)] == warm
    assert log.index("clock") > len(warm)


def test_main_writes_no_file_next_to_bench(monkeypatch, tmp_path, capsys):
    """A run leaves the directory bench.py runs from as it found it; the
    measurement goes to stdout only, slim line last."""
    import json

    bench, before = _main_with_fakes(monkeypatch, tmp_path, [])
    assert sorted(tmp_path.rglob("*")) == before
    lines = capsys.readouterr().out.splitlines()
    assert json.loads(lines[-2])["bench_detail"] is True
    assert set(json.loads(lines[-1])["queries"]) == set(bench.HEADLINE)


def test_final_line_fits_driver_tail_budget():
    """r11 VERDICT wrong #1: the driver captures a 2000-char stdout
    tail; the FINAL measurement line must stay under _FINAL_LINE_BUDGET
    with the REAL headline set (representative worst-case float widths),
    or BENCH_r{N}.json records parsed:null again."""
    import json

    bench = _load_bench()
    timings = {name: 12.345 for name in bench.HEADLINE}
    line = bench._slim_line(timings, 0.1, 6.28, 5.61, True, 2)
    assert len(line) < bench._FINAL_LINE_BUDGET
    assert bench._FINAL_LINE_BUDGET + 100 <= 2000  # margin inside capture
    rec = json.loads(line)
    assert rec["metric"] == "headline_queries_total_runtime"
    assert rec["queries"] == timings
    assert set(rec) == {"metric", "value", "unit", "queries", "sf",
                        "loadavg_1m", "settled", "passes"}
