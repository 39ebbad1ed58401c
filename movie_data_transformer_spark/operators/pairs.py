"""Pairs of rows that share a key: how they are generated, capped and
scored. Every "pairs within group" step of the engine runs through here —
co-watched movies and co-watchers, items in one basket, documents that
share a shingle, window hash, fingerprint or band bucket, titles that
share a neighbor.

Two generators, one per pair shape:

- `shared_key_pairs` — COUNTED pairs: an equi self-join on the key with
  `id_a < id_b`, one row per (key, pair), so a caller counts shared keys
  with one groupBy. Measured faster than collecting each key's ids and
  expanding them when a pair shares many keys (the containment shingle
  join, the co-watch edge build).
- `bucket_pairs` — VERIFIED band pairs: one groupBy(key) collect, then a
  row-local `x < y` expansion with the verify predicate inside the
  lambda, so the final distinct only shuffles pairs that passed it (the
  LSH / SimHash / dHash candidate shape; at sf0.1 the simhash cut inside
  the expansion emitted 375k generator rows instead of 2.59M).

One hub cap: a key held by more than `max_per_key` rows is dropped before
pairing (a key of w rows fans out w^2 pairs, and a key that common
carries no pair signal — a blockbuster title, a boilerplate shingle, a
mega band bucket). For the self-join it is `count(*) OVER (PARTITION BY
key)`: the window's exchange on the key is the one the join reuses, where
an aggregate + semi-join cap traversed the input twice (recsys: 2.6 s ->
1.8 s at sf0.1).

One integer Jaccard: `jaccard_micro`, exact integer micro-units (see
there for why not round()).

Rows with a NULL key share no key with any row, in both generators.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

#: bit-distance cut of the banded fingerprints (4 x 16-bit bands of 64
#: bits): by pigeonhole, a pair within 3 differing bits agrees on at
#: least one band, so the band buckets find every qualifying pair
MAX_HAMMING = 3


def _keys(key: str | list[str]) -> list[str]:
    return [key] if isinstance(key, str) else list(key)


def cap_per_key(rows: DataFrame, key: str | list[str], max_per_key: int) -> DataFrame:
    """`rows` without the keys held by more than `max_per_key` rows."""
    n = F.count("*").over(Window.partitionBy(*_keys(key)))
    return rows.withColumn("_n", n).filter(F.col("_n") <= max_per_key).drop("_n")


def shared_key_pairs(
    rows: DataFrame, key: str | list[str], id: str, max_per_key: int | None = None
) -> DataFrame:
    """One row per pair of `rows` that share a `key` value, with
    `{id}_a < {id}_b`: the key columns, then every other column twice,
    suffixed `_a` and `_b`. Keys over `max_per_key` rows are dropped
    first (see the module docstring)."""
    keys = _keys(key)
    if max_per_key is not None:
        rows = cap_per_key(rows, keys, max_per_key)
    other = [c for c in rows.columns if c not in keys]
    a = rows.select(*keys, *[F.col(c).alias(f"{c}_a") for c in other])
    b = rows.select(*keys, *[F.col(c).alias(f"{c}_b") for c in other])
    return a.join(b, keys).filter(F.col(f"{id}_a") < F.col(f"{id}_b"))


def jaccard_micro(n_inter: str, n_a: str, n_b: str) -> Column:
    """|A ∩ B| / |A ∪ B| as BIGINT micro-units, `n_inter * 10^6 div
    (n_a + n_b - n_inter)`; divide by 10^6 for the DOUBLE form. round()
    on the raw ratio is the cross-engine midpoint landmine: an exact ratio
    like odd/128 lands on a 1e-6 midpoint where Spark (exact-BigDecimal
    HALF_UP) and DuckDB (FP-scaled) round apart (the tpch_q2 bug class,
    NOTES.md pitfalls). Integer truncation is identical in both engines,
    so the value AND a threshold filter's membership agree everywhere.
    n_inter is widened to BIGINT first: an F.size count is INT, and
    n_inter * 10^6 wraps int32 at n_inter >= 2148."""
    return F.expr(f"CAST({n_inter} AS BIGINT) * 1000000 div ({n_a} + {n_b} - {n_inter})")


def jaccard_pairs(rows: DataFrame, key: str | list[str], id: str) -> DataFrame:
    """(`{id}_a`, `{id}_b`, n_inter, jaccard_micro) for every pair that
    shares a key, where an id's set is its keys in `rows` (one row per
    (id, key)). A capped model caps `rows` first (cap_per_key), so its
    sizes count the same capped universe as its intersections."""
    a, b = f"{id}_a", f"{id}_b"
    sizes = rows.groupBy(id).agg(F.count("*").alias("n"))
    return (
        shared_key_pairs(rows, key, id)
        .groupBy(a, b)
        .agg(F.count("*").alias("n_inter"))
        .join(sizes.select(F.col(id).alias(a), F.col("n").alias("n_a")), a)
        .join(sizes.select(F.col(id).alias(b), F.col("n").alias("n_b")), b)
        .select(a, b, "n_inter", jaccard_micro("n_inter", "n_a", "n_b").alias("jaccard_micro"))
    )


def bucket_pairs(
    rows: DataFrame,
    key: str | list[str],
    id: str,
    max_per_key: int | None = None,
    hamming: str | None = None,
) -> DataFrame:
    """Distinct (`{id}_a`, `{id}_b`) pairs with `{id}_a < {id}_b` of
    `rows` that share a `key` bucket. ONE shuffle: groupBy(key) collects
    each bucket's distinct ids (as (id, other columns) structs when other
    columns ride along), buckets of fewer
    than 2 or more than `max_per_key` members are dropped, and the pairs
    are expanded row-locally from the id-sorted bucket. The other columns
    must be functions of the id.

    `hamming`, when given, is a SQL bit distance between bucket members
    `x` and `y`: only pairs within MAX_HAMMING are expanded (the cut sits
    inside the expansion lambda) and it is emitted as an INT `hamming`
    column."""
    keys = _keys(key)
    others = [c for c in rows.columns if c not in keys and c != id]
    if others:
        member, x, y = F.struct(id, *others), f"x.{id}", f"y.{id}"
    else:
        # bare ids: collecting, sorting and reading one-field structs
        # cost dedup_minhash_lsh ~10% at sf0.1
        member, x, y = F.col(id), "x", "y"
    buckets = (
        rows.dropna(subset=keys)
        .groupBy(*keys)
        .agg(F.collect_set(member).alias("ds"))
        .filter(F.size("ds") >= 2)
    )
    if max_per_key is not None:
        buckets = buckets.filter(F.size("ds") <= max_per_key)
    ys = "slice(ds, i + 2, size(ds))"
    fields = f"'{id}_a', {x}, '{id}_b', {y}"
    if hamming is not None:
        ys = f"filter({ys}, y -> {hamming} <= {MAX_HAMMING})"
        fields += f", 'hamming', CAST({hamming} AS INT)"
    return (
        buckets.selectExpr("array_sort(ds) AS ds")
        .selectExpr(
            "inline(flatten(transform(ds, (x, i) -> "
            f"transform({ys}, y -> named_struct({fields})))))"
        )
        .distinct()
    )


def pair_recall(truth: DataFrame, found: DataFrame) -> DataFrame:
    """One row (n_true_pairs, n_found, n_missed, recall) scoring the
    distinct pair table `found` against the distinct pair table `truth`
    (joined on truth's columns): recall = n_found / n_true_pairs in floor
    micro-units, 1.0 when there are no true pairs. The verified
    generators find a subset of the truth, so every found pair is a hit.
    Lazy: one aggregate over truth full-outer-joined to found."""
    cols = truth.columns
    t = truth.withColumn("_t", F.lit(1))
    f = found.select(*cols).withColumn("_f", F.lit(1))
    return (
        t.join(f, cols, "full_outer")
        .agg(
            F.count("_t").alias("n_true_pairs"),
            F.count("_f").alias("n_found"),
            F.count(F.when(F.col("_f").isNull(), F.col("_t"))).alias("n_missed"),
        )
        .selectExpr(
            "n_true_pairs",
            "n_found",
            "n_missed",
            "CASE WHEN n_true_pairs = 0 THEN 1.0D"
            " ELSE CAST(n_found * 1000000 div n_true_pairs AS DOUBLE) / 1000000 END AS recall",
        )
    )
