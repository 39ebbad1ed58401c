"""Perceptual image hashing over decoded pixels: dHash (difference
hash), the standard cheap near-duplicate-image fingerprint — the visual
analogue of SimHash for text. Downsample to a (W+1) x H grayscale grid
with the same floor nearest-neighbor index map as mm_resize_nearest,
then emit one bit per horizontally-adjacent comparison (gray[x] <
gray[x+1]); images differing by compression artifacts, mild rescaling,
or small edits land within a few Hamming bits, so at 100 TB the hash
feeds the exact same banded-LSH pair machinery the text SimHash path
uses (dedup.simhash_near_pairs over 64-bit fingerprints).

Everything is exact integer arithmetic — BT.601 luma as
(299 r + 587 g + 114 b) DIV 1000, floor index maps, bit assembly as two
unsigned 32-bit halves in bigints (no sign-bit dance) — so the entry
recomputes bit-for-bit from the BMP generative pixel formula in DuckDB
(FULL oracle): a wrong luma rounding, axis swap, or off-by-one in the
9-column sampling breaks the driver hash.

Scale: decode + hash is one mapInPandas projection per blob, no
shuffle; the result is 3 bigints per image.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from movie_data_transformer_spark.operators.multimodal import (
    bmp_decode_pixels,
    map_media_rows,
    synthesize_bmp_media,
)
from movie_data_transformer_spark.operators.pairs import MAX_HAMMING, bucket_pairs
from movie_data_transformer_spark.sources.tables import load_table

DH_W = 8  # 8 comparison bits per row -> 9 sampled columns
DH_H = 8

DHASH_SCHEMA = StructType(
    [
        StructField(c, LongType())
        for c in ("doc_id", "src_w", "src_h", "hash_hi", "hash_lo")
    ]
)


def dhash_rows(media: DataFrame) -> DataFrame:
    """(doc_id, src_w, src_h, hash_hi, hash_lo): 64-bit dHash split into
    two unsigned 32-bit halves (bit k of the hash = row-major comparison
    ty * DH_W + tx; k in [32, 64) lands in hash_hi at k - 32)."""

    def _hash(row) -> list[tuple]:
        import numpy as np

        img = bmp_decode_pixels(bytes(row.content)).astype(np.int64)
        h, w = img.shape[:2]
        sx = (np.arange(DH_W + 1) * w) // (DH_W + 1)
        sy = (np.arange(DH_H) * h) // DH_H
        cell = img[np.ix_(sy, sx)]
        gray = (
            299 * cell[:, :, 0] + 587 * cell[:, :, 1] + 114 * cell[:, :, 2]
        ) // 1000
        bits = (gray[:, :-1] < gray[:, 1:]).astype(np.int64)  # (DH_H, DH_W)
        k = np.arange(DH_H * DH_W, dtype=np.int64).reshape(DH_H, DH_W)
        w_lo = np.where(k < 32, np.int64(1) << np.minimum(k, 31), 0)
        w_hi = np.where(k >= 32, np.int64(1) << np.maximum(k - 32, 0), 0)
        lo = int((bits * w_lo).sum())
        hi = int((bits * w_hi).sum())
        return [(int(row.doc_id), int(w), int(h), hi, lo)]

    return map_media_rows(media, _hash, DHASH_SCHEMA)


def q_mm_image_dhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dhash_rows(synthesize_bmp_media(load_table(spark, sf_dir, "documents")))


MAX_BUCKET = 1000


def dhash_near_pairs(fps: DataFrame) -> DataFrame:
    """(doc_a, doc_b, hamming) near-duplicate IMAGE pairs from dHash
    fingerprints: block on the four 16-bit bands of the 64-bit hash
    (pigeonhole guarantees recall at hamming <= 3), then
    pairs.bucket_pairs verifies exact bit_count(xor) per half inside its
    expansion. The hash is kept as (hash_hi, hash_lo) halves so every
    value stays an unsigned 32-bit quantity inside a bigint (portable, no
    sign games)."""
    band_structs = ", ".join(
        f"named_struct('band', {bi}, 'nib', shiftright({half}, {sh}) & 65535)"
        for bi, (half, sh) in enumerate(
            [("hash_lo", 0), ("hash_lo", 16), ("hash_hi", 0), ("hash_hi", 16)]
        )
    )
    bands = fps.selectExpr(
        "doc_id AS doc", "hash_hi", "hash_lo", f"inline(array({band_structs}))"
    )
    return bucket_pairs(
        bands,
        ["band", "nib"],
        "doc",
        MAX_BUCKET,
        hamming="bit_count(x.hash_lo ^ y.hash_lo) + bit_count(x.hash_hi ^ y.hash_hi)",
    )


def q_mm_dhash_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-dup pairs over the corpus images plus PLANTED exact
    copies (docs 0-49 re-labeled +300000, byte-identical blobs), so the
    hamming-0 clusters the operator exists to find are present at every
    SF. The copies reuse the already-synthesized blobs (content computed
    from the ORIGINAL doc_id), exactly how a crawler re-encounters the
    same image under a new URL."""
    docs = load_table(spark, sf_dir, "documents")
    media = synthesize_bmp_media(docs)
    # synthesize the copies from the PRE-FILTERED doc list: a filter on
    # the mapInPandas OUTPUT cannot push through the UDF, so filtering
    # `media` would synthesize every blob a second time to keep 50
    copies = synthesize_bmp_media(docs.filter(F.col("doc_id") < 50)).select(
        (F.col("doc_id") + 300000).alias("doc_id"), "content"
    )
    return dhash_near_pairs(dhash_rows(media.unionByName(copies)))


# shared oracle template: recompute each image's dHash from the BMP
# generative pixel formula, given an `aug(doc_id, src)` CTE where src is
# the doc id the pixels derive from (src = doc_id for originals; planted
# copies carry the original's src under a new doc_id).
_DHASH_HASH_CTES = """
p AS (SELECT doc_id, src, 4 + src % 13 AS w, 4 + src % 9 AS h FROM aug),
txs AS (SELECT doc_id, src, w, h, unnest(range(0, __W__)) AS tx FROM p),
cell AS (SELECT doc_id, src, w, h, tx, unnest(range(0, __H__)) AS ty FROM txs),
m AS (SELECT doc_id, src, w, h, tx, ty,
             (tx * w) // (__W__ + 1) AS sxa,
             ((tx + 1) * w) // (__W__ + 1) AS sxb,
             (ty * h) // __H__ AS sy
      FROM cell),
g AS (SELECT doc_id, w, h, ty * __W__ + tx AS k,
             (299 * ((src * 7 + sxa * 13 + sy * 31) % 256)
            + 587 * ((src * 11 + sxa * 17 + sy * 5) % 256)
            + 114 * ((src * 3 + sxa * 29 + sy * 23) % 256)) // 1000 AS ga,
             (299 * ((src * 7 + sxb * 13 + sy * 31) % 256)
            + 587 * ((src * 11 + sxb * 17 + sy * 5) % 256)
            + 114 * ((src * 3 + sxb * 29 + sy * 23) % 256)) // 1000 AS gb
      FROM m),
bits AS (SELECT doc_id, w, h, k,
                CASE WHEN ga < gb THEN 1 ELSE 0 END AS bit FROM g),
hashes AS (
    SELECT doc_id,
           CAST(w AS BIGINT) AS src_w,
           CAST(h AS BIGINT) AS src_h,
           CAST(sum(CASE WHEN k >= 32 THEN bit * (1::BIGINT << (k - 32))
                         ELSE 0 END) AS BIGINT) AS hash_hi,
           CAST(sum(CASE WHEN k < 32 THEN bit * (1::BIGINT << k)
                         ELSE 0 END) AS BIGINT) AS hash_lo
    FROM bits
    GROUP BY doc_id, w, h
)
""".replace("__W__", str(DH_W)).replace("__H__", str(DH_H))

SQL_MM_IMAGE_DHASH = f"""
WITH aug AS (SELECT doc_id, doc_id AS src FROM documents),
{_DHASH_HASH_CTES}
SELECT doc_id, src_w, src_h, hash_hi, hash_lo FROM hashes
"""

SQL_MM_DHASH_NEAR_PAIRS = f"""
WITH aug AS (SELECT doc_id, doc_id AS src FROM documents
             UNION ALL
             SELECT doc_id + 300000, doc_id FROM documents WHERE doc_id < 50),
{_DHASH_HASH_CTES},
bands AS (
    SELECT doc_id, hash_hi, hash_lo, 0 AS band, hash_lo % 65536 AS nib FROM hashes
    UNION ALL
    SELECT doc_id, hash_hi, hash_lo, 1, (hash_lo // 65536) % 65536 FROM hashes
    UNION ALL
    SELECT doc_id, hash_hi, hash_lo, 2, hash_hi % 65536 FROM hashes
    UNION ALL
    SELECT doc_id, hash_hi, hash_lo, 3, (hash_hi // 65536) % 65536 FROM hashes
),
ok AS (SELECT band, nib FROM bands
       GROUP BY band, nib HAVING count(*) BETWEEN 2 AND {MAX_BUCKET}),
bk AS (SELECT b.* FROM bands b JOIN ok USING (band, nib))
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.hash_lo, b.hash_lo))
          + bit_count(xor(a.hash_hi, b.hash_hi)) AS INT) AS hamming
FROM bk a JOIN bk b
  ON a.band = b.band AND a.nib = b.nib AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.hash_lo, b.hash_lo))
    + bit_count(xor(a.hash_hi, b.hash_hi)) <= {MAX_HAMMING}
"""


def q_mm_image_dedup_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IMAGE curation pipeline as ONE dataflow (the multimodal twin
    of corpus_pipeline_e2e): synthesize/decode -> dHash fingerprints ->
    banded near-pair candidates -> exact Hamming verify -> greedy
    min-neighbor keep (an image is dropped iff a LOWER-id image sits
    within MAX_HAMMING — one anti-join, no iterative closure) ->
    per-dimension accounting. Every planted copy (id+300000) drops; the
    oracle composes the same stages over the generative formula, so the
    hash binds the whole chain, not just its pieces."""
    docs = load_table(spark, sf_dir, "documents")
    media = synthesize_bmp_media(docs)
    copies = synthesize_bmp_media(docs.filter(F.col("doc_id") < 50)).select(
        (F.col("doc_id") + 300000).alias("doc_id"), "content"
    )
    # persisted: the fingerprint table is consumed by the pair
    # generator, the keep anti-join, and the per-dimension totals —
    # without the cache each consumer re-runs the Arrow-batched BMP
    # synthesize + decode, the most expensive stage of the pipeline;
    # the cached rows are five scalars per image
    fps = dhash_rows(media.unionByName(copies)).persist()
    pairs = dhash_near_pairs(fps)
    dropped = pairs.select(F.col("doc_b").alias("doc_id")).distinct()
    kept_flag = fps.join(dropped, "doc_id", "left_anti")
    return (
        fps.groupBy("src_w", "src_h")
        .agg(F.count("*").cast("bigint").alias("n_total"))
        .join(
            kept_flag.groupBy("src_w", "src_h").agg(
                F.count("*").cast("bigint").alias("n_kept")
            ),
            ["src_w", "src_h"],
            "left",
        )
        .selectExpr(
            "src_w",
            "src_h",
            "n_total",
            "coalesce(n_kept, CAST(0 AS BIGINT)) AS n_kept",
            "n_total - coalesce(n_kept, CAST(0 AS BIGINT)) AS n_dropped",
        )
    )


SQL_MM_IMAGE_DEDUP_PIPELINE = f"""
WITH aug AS (SELECT doc_id, doc_id AS src FROM documents
             UNION ALL
             SELECT doc_id + 300000, doc_id FROM documents WHERE doc_id < 50),
{_DHASH_HASH_CTES},
bands AS (
    SELECT doc_id, hash_hi, hash_lo, 0 AS band, hash_lo % 65536 AS nib FROM hashes
    UNION ALL
    SELECT doc_id, hash_hi, hash_lo, 1, (hash_lo // 65536) % 65536 FROM hashes
    UNION ALL
    SELECT doc_id, hash_hi, hash_lo, 2, hash_hi % 65536 FROM hashes
    UNION ALL
    SELECT doc_id, hash_hi, hash_lo, 3, (hash_hi // 65536) % 65536 FROM hashes
),
ok AS (SELECT band, nib FROM bands
       GROUP BY band, nib HAVING count(*) BETWEEN 2 AND {MAX_BUCKET}),
bk AS (SELECT b.* FROM bands b JOIN ok USING (band, nib)),
dropped AS (
    SELECT DISTINCT b.doc_id
    FROM bk a JOIN bk b
      ON a.band = b.band AND a.nib = b.nib AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.hash_lo, b.hash_lo))
        + bit_count(xor(a.hash_hi, b.hash_hi)) <= {MAX_HAMMING}
)
SELECT src_w, src_h,
       CAST(count(*) AS BIGINT) AS n_total,
       CAST(count(*) FILTER (doc_id NOT IN (SELECT doc_id FROM dropped))
            AS BIGINT) AS n_kept,
       CAST(count(*) FILTER (doc_id IN (SELECT doc_id FROM dropped))
            AS BIGINT) AS n_dropped
FROM hashes
GROUP BY src_w, src_h
"""


QUERIES = {
    "mm_image_dhash": (q_mm_image_dhash, SQL_MM_IMAGE_DHASH),
    "mm_dhash_near_pairs": (q_mm_dhash_near_pairs, SQL_MM_DHASH_NEAR_PAIRS),
    "mm_image_dedup_pipeline": (
        q_mm_image_dedup_pipeline,
        SQL_MM_IMAGE_DEDUP_PIPELINE,
    ),
}
