"""Core-count scaling probe at a LARGER synthetic SF (r12 VERDICT next
#7): at sf0.1 every 8-vs-32-core ratio is ~1 because the suite sits on a
~0.3-0.5 s/query scheduling floor; this probe replicates the sf0.1
tables REPL times (deterministic key shifts, derived data under /tmp —
the driver testdata is read-only and untouched) and times a
scan/agg/join-shaped subset at two core counts so the shuffle/widen
claims can show a ratio that moves.

`run` prints the results as one JSON block on stdout and writes no file
in the checkout; the bench harness (slim line, HEADLINE keys,
methodology) is untouched.

Usage:
  python tools/scaling_probe.py build   [repl]      # write /tmp tables
  python tools/scaling_probe.py time    [cpus]      # print one JSON line
  python tools/scaling_probe.py run     [repl]      # build + time 32 & 8,
                                                    # print the block

Entry selection: aggregate/join-shaped only. Dedup/similarity entries
are EXCLUDED by design: replicated documents are exact duplicates, so
pair-finding entries would measure an artificial O(repl^2) pair
explosion, not scaling.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

PROBE_DIR = "/tmp/sfprobe"
DEFAULT_REPL = 10

#: scan/agg/join-shaped probe set (no pairwise-dedup entries — see module
#: docstring)
PROBE_QUERIES = [
    "tpch_q1_pricing_summary",
    "tpch_q5_local_supplier_volume",
    "tpch_q9_product_type_profit",
    "tpch_q21_suppliers_who_kept_waiting",
    "agg_rollup",
    "agg_cms_heavy_hitters",
    "stats_corr_by_year",
    "text_stats",
    "text_entropy_rate_by_lang",
    "dsir_topk_selection",
    "movies_kv",
    "events_funnel_conversion",
]

#: key shift well above any real id at sf0.1
SHIFT = 10_000_000


def build(repl: int) -> None:
    from pyspark.sql import functions as F

    from movie_data_transformer_spark.session import get_spark
    from movie_data_transformer_spark.sources.tables import load_table

    spark = get_spark("scaling-probe-build")
    spark.sparkContext.setLogLevel("ERROR")
    src = "/root/testdata/sf0.1"
    os.makedirs(PROBE_DIR, exist_ok=True)
    # dimensions copy through unchanged (replicated facts reuse them)
    for t in ("region", "nation", "customer", "supplier", "part",
              "embeddings"):
        load_table(spark, src, t).write.mode("overwrite").parquet(
            f"{PROBE_DIR}/{t}.parquet"
        )
    shifted = {
        "orders": ["o_orderkey"],
        "lineitem": ["l_orderkey"],
        "documents": ["doc_id"],
        "events": ["event_id", "user_id"],
    }
    for t, keys in shifted.items():
        base = load_table(spark, src, t)
        parts = []
        for k in range(repl):
            d = base
            for key in keys:
                d = d.withColumn(key, F.col(key) + F.lit(k * SHIFT))
            parts.append(d)
        out = parts[0]
        for d in parts[1:]:
            out = out.unionByName(d)
        out.write.mode("overwrite").parquet(f"{PROBE_DIR}/{t}.parquet")
    print(f"built {PROBE_DIR} at repl={repl}")


def time_queries() -> dict[str, float]:
    from movie_data_transformer_spark.registry import spark_queries
    from movie_data_transformer_spark.session import get_spark

    spark = get_spark("scaling-probe")
    spark.sparkContext.setLogLevel("ERROR")
    qs = spark_queries()
    out: dict[str, float] = {}
    for name in PROBE_QUERIES:
        spark.catalog.clearCache()
        try:
            qs[name](spark, PROBE_DIR).write.format("noop").mode(
                "overwrite"
            ).save()
            runs = []
            for _ in range(3):
                t0 = time.time()
                qs[name](spark, PROBE_DIR).write.format("noop").mode(
                    "overwrite"
                ).save()
                runs.append(time.time() - t0)
            out[name] = round(sorted(runs)[1], 3)
        except Exception as exc:  # noqa: BLE001
            print(f"ERR {name}: {str(exc)[:120]}", file=sys.stderr)
            out[name] = -1.0
    return out


def run(repl: int) -> None:
    build(repl)
    here = os.path.abspath(__file__)
    results: dict[str, dict[str, float]] = {}
    for cpus in ("32", "8"):
        env = dict(os.environ, SPARK_GRAFT_CPUS=cpus)
        p = subprocess.run(
            [sys.executable, here, "time"],
            env=env,
            capture_output=True,
            text=True,
            check=False,
        )
        line = [ln for ln in p.stdout.splitlines() if ln.startswith("{")]
        results[f"cpus_{cpus}"] = json.loads(line[-1]) if line else {}
    ratios = {}
    q32, q8 = results.get("cpus_32", {}), results.get("cpus_8", {})
    for name in PROBE_QUERIES:
        a, b = q32.get(name, -1), q8.get(name, -1)
        if a and a > 0 and b and b > 0:
            ratios[name] = round(b / a, 2)
    block = {
        "probe_dir": PROBE_DIR,
        "repl_of_sf0_1": repl,
        "note": "replicated sf0.1 (deterministic key shifts); "
        "agg/join-shaped subset; derived data, not driver testdata",
        **results,
        "ratio_8c_over_32c": ratios,
    }
    print(json.dumps(block, indent=1))


if __name__ == "__main__":
    mode = sys.argv[1] if len(sys.argv) > 1 else "run"
    if mode == "build":
        build(int(sys.argv[2]) if len(sys.argv) > 2 else DEFAULT_REPL)
    elif mode == "time":
        print(json.dumps(time_queries()))
    else:
        run(int(sys.argv[2]) if len(sys.argv) > 2 else DEFAULT_REPL)
