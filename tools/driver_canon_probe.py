"""Probe the driver's pandas-based canonicalization path.

The driver (per the agg_approx_sketches traceback in CORRECTNESS_r01)
converts both results to pandas, sort_values()s them, and hashes cells.
This probe runs a query both ways (Spark.toPandas vs duckdb .df()) and
prints dtypes + repr of the first rows so the divergence is visible.

Usage: python tools/driver_canon_probe.py <query_name> [sf_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def main() -> None:
    name = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.01"

    import __spark_entry__ as e
    from movie_data_transformer_spark.session import get_spark

    spark = get_spark("canon-probe")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    sdf = e.queries()[name](spark, sf_dir)
    spdf = sdf.toPandas()
    dpdf = con.sql(e.oracle_sql()[name]).df()

    print("=== spark toPandas dtypes ===")
    print(spdf.dtypes)
    print(spdf.head(3).to_string())
    print([type(v).__name__ for v in spdf.iloc[0]])
    print("=== duckdb .df() dtypes ===")
    print(dpdf.dtypes)
    print(dpdf.head(3).to_string())
    print([type(v).__name__ for v in dpdf.iloc[0]])


if __name__ == "__main__":
    main()
