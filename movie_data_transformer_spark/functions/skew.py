"""Skew-handling recipes (SURVEY.md §7 M6): salting for hot keys.

AQE's skew-join splitting (on in ENGINE_CONF) handles most skew at
runtime; the explicit recipe here is for the case AQE can't fix — a
broadcast-ineligible join with a known-hot key distribution.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_join(
    big: DataFrame, small: DataFrame, key: str, n_salts: int = 16
) -> DataFrame:
    """Skew-safe equi-join: the big (skewed) side gets a random-ish salt in
    [0, n_salts); the small side is replicated n_salts times. The join key
    becomes (key, salt), so one hot key spreads across n_salts partitions.
    Join RESULT is independent of salt values. Use when the small side is
    too big to broadcast and AQE's split isn't available."""
    b = big.withColumn("_salt", F.pmod(F.hash(F.monotonically_increasing_id()), F.lit(n_salts)))
    s = small.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    )
    return b.join(s, [key, "_salt"]).drop("_salt")
