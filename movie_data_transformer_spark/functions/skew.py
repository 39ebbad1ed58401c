"""Skew-handling recipes (SURVEY.md §7 M6): salting for hot keys.

AQE's skew-join splitting (on in ENGINE_CONF) handles most skew at
runtime; the explicit recipe here is for the case AQE can't fix — a
broadcast-ineligible join with a known-hot key distribution.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_join(big: DataFrame, small: DataFrame, key: str) -> DataFrame:
    """Skew-safe equi-join: the big (skewed) side gets a random-ish salt in
    [0, 8); the small side is replicated 8 times. The join key becomes
    (key, salt), so one hot key spreads across 8 partitions.
    Join RESULT is independent of salt values. Use when the small side is
    too big to broadcast and AQE's split isn't available."""
    b = big.withColumn("_salt", F.pmod(F.hash(F.monotonically_increasing_id()), F.lit(8)))
    s = small.withColumn("_salt", F.explode(F.sequence(F.lit(0), F.lit(7))))
    return b.join(s, [key, "_salt"]).drop("_salt")
