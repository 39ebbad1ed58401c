"""Local mimic of the driver's correctness gate.

Runs every __spark_entry__.queries() entry at a given sf_dir AND its
oracle_sql() in DuckDB (tables registered as views), then compares:
  - row count
  - schema (sorted column names)
  - order-insensitive values (rows sorted; doubles rounded to 9 sig figs)

Usage: python tools/check_oracle.py [sf_dir] [query_name ...]
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def norm_cell(v):
    if v is None:
        return "\x00NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == 0:
            return "0"
        return f"{v:.9g}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{norm_cell(v[k])}" for k in sorted(v)) + "}"
    return str(v)


def norm_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(norm_cell(r[i]) for i in order) for r in rows)


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as e
    from movie_data_transformer_spark.session import get_spark

    spark = get_spark("oracle-check")
    # verification hook: SPARK_GRAFT_ORACLE_CONF="k=v;k=v" applies
    # runtime conf before the sweep — used to prove the size-adaptive
    # two-pass rank path (globalOrderTwoPassBytes=0) oracle-green on the
    # same entries the driver checks with defaults
    import os as _os

    extra = _os.environ.get("SPARK_GRAFT_ORACLE_CONF", "")
    for kv in filter(None, extra.split(";")):
        k, _, v = kv.partition("=")
        spark.conf.set(k.strip(), v.strip())
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs, os_ = e.queries(), e.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        # several entries persist() multi-consumer intermediates and
        # nothing unpersists — isolate queries so a 300-entry sweep
        # doesn't accumulate executor-storage litter (see bench.py)
        spark.catalog.clearCache()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as ex:
            failures.append(name)
            print(f"FAIL {name}: spark error: {ex}")
            continue
        sql = os_.get(name)
        if sql is None:
            # Rows-only entries have no oracle, so a silent regression to
            # zero rows would otherwise pass the gate (round-3 VERDICT
            # item 3 / advice 5): FAIL, don't warn. Every rows-only query
            # is expected to produce rows at every SF (their docstrings
            # state the floor; pytest pins the tighter invariants).
            if len(srows) == 0:
                failures.append(name)
                print(f"FAIL {name}: rows-only query returned ZERO rows {time.time()-t0:.1f}s")
            else:
                print(f"ok?  {name}: rows-only ({len(srows)} rows) {time.time()-t0:.1f}s")
            continue
        try:
            rel = con.sql(sql)
            dcols = rel.columns
            drows = rel.fetchall()
        except Exception as ex:
            failures.append(name)
            print(f"FAIL {name}: duckdb error: {ex}")
            continue
        ok = True
        if len(srows) != len(drows):
            ok = False
            print(f"FAIL {name}: rowcount spark={len(srows)} duckdb={len(drows)}")
        if sorted(c.lower() for c in scols) != sorted(c.lower() for c in dcols):
            ok = False
            print(f"FAIL {name}: schema spark={sorted(scols)} duckdb={sorted(dcols)}")
        if ok:
            sn, dn = norm_rows(scols, srows), norm_rows(dcols, drows)
            if sn != dn:
                ok = False
                diffs = [(a, b) for a, b in zip(sn, dn) if a != b][:3]
                print(f"FAIL {name}: value mismatch; first diffs:")
                for a, b in diffs:
                    print(f"  spark : {a}\n  duckdb: {b}")
        if ok:
            print(f"PASS {name} ({len(srows)} rows) {time.time()-t0:.1f}s")
        else:
            failures.append(name)
    print(f"\n{'ALL GREEN' if not failures else 'FAILURES: ' + ', '.join(failures)}")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
