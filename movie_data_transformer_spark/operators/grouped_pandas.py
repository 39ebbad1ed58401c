"""Grouped Pandas operators (applyInPandas) — for per-group algorithms the
built-in aggregate library can't express (here: an OLS slope per group).

This is deliberately the ONLY place (besides multimodal decode) where
Python touches row data — everything else in the engine is JVM-side.
Arrow moves each group as columnar batches; the shuffle is the same
hash-by-key exchange a built-in agg would use, so scaling behavior is
identical (watch per-group size, not group count).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

TREND_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n", LongType()),
        StructField("slope_per_day", DoubleType()),
        StructField("mean_value", DoubleType()),
    ]
)


def _ols(pdf: pd.DataFrame) -> pd.DataFrame:
    """Per-group OLS slope from EXACT integer sums (x = epoch seconds,
    y = value cents via the engines' shared double->DECIMAL(18,2) HALF_UP
    cast), closed form (n*Sxy - Sx*Sy) / (n*Sxx - Sx^2): every sum is a
    Python big int (== DuckDB HUGEINT, conversion to double is
    round-nearest in both — probed), and the only FP work is ONE IEEE
    division per output column. Bit-reproducible on any partitioning /
    row order (integer addition commutes — no sort needed), which is what
    upgrades the registry entry from rows-only to a full DuckDB oracle
    while keeping the applyInPandas user-extension surface.

    slope is value-units per DAY: numerator scaled by 86400/100 = 864
    (exact int) before the single division."""
    from decimal import ROUND_HALF_UP, Decimal

    xs = (pdf["ts"].astype("int64") // 1_000_000_000).tolist()
    ys = [
        int(Decimal(float(v)).quantize(Decimal("0.01"), rounding=ROUND_HALF_UP) * 100)
        for v in pdf["value"]
    ]
    n = len(xs)
    sx, sy = sum(xs), sum(ys)
    sxy = sum(x * y for x, y in zip(xs, ys))
    sxx = sum(x * x for x in xs)
    den = n * sxx - sx * sx
    num = n * sxy - sx * sy
    slope = float(num * 864) / float(den) if n >= 2 and den != 0 else 0.0
    mean = float(sy) / float(100 * n) if n else 0.0
    return pd.DataFrame(
        {
            "user_id": [int(pdf["user_id"].iloc[0])],
            "n": [n],
            "slope_per_day": [slope],
            "mean_value": [mean],
        }
    )


def user_value_trend(events_raw: DataFrame) -> DataFrame:
    """Per-user OLS slope of event value over time (value units per day).

    Input: RAW events (ts int64 nanos). One shuffle on user_id; each group
    processed as a single Arrow batch."""
    return events_raw.groupBy("user_id").applyInPandas(_ols, schema=TREND_SCHEMA)


def gmean_udaf():
    """Grouped-aggregate pandas UDF (the UDAF extension surface — the
    UDAF leg of the UDF/UDAF/UDTF triad, next to chunk_text_udtf):
    geometric mean per group, Arrow-batched.
    Series -> scalar functionType is inferred by Spark from the
    signature. exp(mean(log)) is FP-order dependent -> rows-only in the
    registry; pinned against numpy in tests."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _gmean(v: pd.Series) -> float:
        a = v.to_numpy(dtype="float64")
        a = a[a > 0]
        if a.size == 0:
            return float("nan")
        return float(np.exp(np.log(a).mean()))

    return _gmean
