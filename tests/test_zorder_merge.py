"""Z-order clustered layout: two-dimension file skipping (sinks/table.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from movie_data_transformer_spark.sinks.table import write_zorder
from movie_data_transformer_spark.sources.tables import load_table


def _touched(df, cond) -> int:
    return df.filter(cond).select(F.input_file_name()).distinct().count()


def test_zorder_skips_files_on_both_dimensions(spark, sf_dir, tmp_path):
    o = load_table(spark, sf_dir, "orders")
    path = str(tmp_path / "orders_z")
    write_zorder(o, path, "o_custkey", "o_totalprice", n_files=16)
    back = spark.read.parquet(path)
    assert back.count() == o.count()

    total = back.select(F.input_file_name()).distinct().count()
    assert total >= 12  # range exchange actually fanned out

    lo, hi = o.agg(F.min("o_custkey"), F.max("o_custkey")).first()
    span = hi - lo
    narrow_key = (F.col("o_custkey") >= lo) & (F.col("o_custkey") < lo + span / 16)
    narrow_price = (F.col("o_totalprice") >= 100000) & (F.col("o_totalprice") < 140000)

    t_key = _touched(back, narrow_key)
    t_price = _touched(back, narrow_price)
    # Z-order serves BOTH dimensions; a linear sort could only serve one.
    assert t_key <= total // 2, f"custkey filter touched {t_key}/{total}"
    assert t_price <= total // 2, f"price filter touched {t_price}/{total}"

    # values survive the layout rewrite
    assert back.filter(narrow_price).count() == o.filter(narrow_price).count()

