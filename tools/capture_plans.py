"""Capture `.explain("formatted")` output for registry queries.

Writes <out_dir>/<query>_<suffix>.txt for each requested query, so two
captures of the same entries (before and after a change) can be diffed.
Most plans are built without running a query; entries that run a stream
or write an export while their DataFrame is built (stream_*,
export_training_manifest) do that work here too, so a full 390-entry
capture at sf0.01 takes minutes.

Usage:
    python tools/capture_plans.py <out_dir> [suffix] [query ...]
suffix: before | after (default before).  With no query names, captures
the full bench.py HEADLINE list.  SPARK_GRAFT_SF_DIR picks the data dir
(default sf0.1 — same as bench, so the plans match the measured runs).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    from bench import HEADLINE
    from movie_data_transformer_spark import registry
    from movie_data_transformer_spark.session import get_spark

    if len(sys.argv) < 2:
        print(__doc__)
        return 2
    out_dir = sys.argv[1]
    suffix = sys.argv[2] if len(sys.argv) > 2 else "before"
    names = sys.argv[3:] or HEADLINE
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.makedirs(out_dir, exist_ok=True)

    spark = get_spark("capture-plans")
    spark.sparkContext.setLogLevel("ERROR")
    # SPARK_GRAFT_PLAN_CONF="k=v;k=v": capture plans under explicit conf
    # (r13: the size-adaptive two-pass rank is forced via
    # globalOrderTwoPassBytes=0 to dump the at-scale plan shape)
    for kv in filter(None, os.environ.get("SPARK_GRAFT_PLAN_CONF", "").split(";")):
        k, _, v = kv.partition("=")
        spark.conf.set(k.strip(), v.strip())
    qs = registry.spark_queries()
    jvm = spark.sparkContext._jvm
    for name in names:
        if name not in qs:
            print(f"SKIP {name}: not in registry")
            continue
        try:
            df = qs[name](spark, sf_dir)
            text = jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as exc:
            print(f"ERR  {name}: {str(exc)[:120]}")
            continue
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(f"== {name} ({suffix}, sf_dir={sf_dir}) ==\n")
            f.write(text)
            if not text.endswith("\n"):
                f.write("\n")
        print(f"OK   {name} -> {path}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
