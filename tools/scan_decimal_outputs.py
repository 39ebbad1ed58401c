"""List registry queries whose FINAL schema contains decimal columns.

Those are the driver-canon hazard: Spark toPandas() yields Decimal
objects ('506627.00') while DuckDB .df() yields float64 ('506627.0'),
so any stringifying canon mismatches whenever a value has trailing
zeros. Final outputs must be double on both sides.

Usage: python tools/scan_decimal_outputs.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql.types import DecimalType


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"

    import __spark_entry__ as e
    from movie_data_transformer_spark.session import get_spark

    spark = get_spark("decimal-scan")
    hits = []
    for name, fn in e.queries().items():
        try:
            df = fn(spark, sf_dir)
        except Exception as ex:
            print(f"ERR  {name}: {type(ex).__name__}: {ex}", file=sys.stderr)
            continue
        dec = [f.name for f in df.schema.fields if isinstance(f.dataType, DecimalType)]
        if dec:
            hits.append((name, dec))
            print(f"{name}: {dec}")
    print(f"\n{len(hits)} queries with decimal output columns")


if __name__ == "__main__":
    main()
