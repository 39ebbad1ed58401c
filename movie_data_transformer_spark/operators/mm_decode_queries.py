"""REAL multimodal container decode entries (no codec libraries): WAV
PCM audio via the stdlib wave module, 24-bit BMP images via struct +
numpy, COMPRESSED 8-bit truecolor PNG via stdlib zlib (all five
scanline filters), GIF87a via a hand-rolled variable-width LZW, and
baseline JFIF JPEG via a hand-rolled T.81 decoder (canonical Huffman,
entropy decode, dequant, de-zigzag, IDCT) — see operators/multimodal.py.
Each entry runs the full encode -> container-parse ->
exact-integer-features loop distributed (mapInPandas both ways) and is
held to a DuckDB oracle that recomputes the features from the integer
generative formulas alone, so a header mis-parse, a padding bug, an
endianness slip, a channel-order swap, or an entropy-decode slip breaks
the driver value hash. Video is the AVI tier of mm_video_queries;
compressed video codecs (H.264/mp4) are not decoded.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from movie_data_transformer_spark.operators.multimodal import (
    bmp_features,
    gif_features,
    jpeg_features,
    png_features,
    synthesize_bmp_media,
    synthesize_gif_media,
    synthesize_jpeg_media,
    synthesize_png_media,
    synthesize_wav_media,
    wav_features,
)
from movie_data_transformer_spark.sources.tables import load_table


def q_mm_wav_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio: real 16-bit PCM WAV blobs (sawtooth per _wav_params),
    decoded by parsing the RIFF container; peak / zero-crossing / energy
    features in exact bigints."""
    docs = load_table(spark, sf_dir, "documents")
    return wav_features(synthesize_wav_media(docs))


SQL_MM_WAV_DECODE = """
WITH p AS (SELECT doc_id, 400 + doc_id % 400 AS n, 64 + doc_id % 1000 AS step
           FROM documents),
s AS (SELECT doc_id, n, step, unnest(range(0, n)) AS i FROM p),
v AS (SELECT doc_id, n, i, ((i * step) % 65536) - 32768 AS x FROM s),
lagged AS (SELECT doc_id, n, x,
                  lag(x) OVER (PARTITION BY doc_id ORDER BY i) AS prev
           FROM v)
SELECT doc_id,
       CAST(n AS BIGINT) AS n_samples,
       CAST(8000 AS BIGINT) AS sample_rate,
       CAST(max(abs(x)) AS BIGINT) AS peak_abs,
       CAST(sum(CASE WHEN prev IS NOT NULL AND ((prev < 0) <> (x < 0))
                     THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings,
       CAST(sum(x * x) AS BIGINT) AS energy
FROM lagged
GROUP BY doc_id, n
"""


def q_mm_bmp_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Images: real 24-bit BMP blobs (pixels from _bmp_pixel, bottom-up
    BGR rows with mod-4 padding), decoded by parsing the BITMAPINFOHEADER;
    per-channel exact integer sums."""
    docs = load_table(spark, sf_dir, "documents")
    return bmp_features(synthesize_bmp_media(docs))


SQL_MM_BMP_DECODE = """
WITH p AS (SELECT doc_id, 4 + doc_id % 13 AS w, 4 + doc_id % 9 AS h
           FROM documents),
xs AS (SELECT doc_id, w, h, unnest(range(0, w)) AS x FROM p),
cell AS (SELECT doc_id, w, h, x, unnest(range(0, h)) AS y FROM xs),
px AS (SELECT doc_id, w, h,
              (doc_id * 7 + x * 13 + y * 31) % 256 AS r,
              (doc_id * 11 + x * 17 + y * 5) % 256 AS g,
              (doc_id * 3 + x * 29 + y * 23) % 256 AS b
       FROM cell)
SELECT doc_id,
       CAST(w AS BIGINT) AS width,
       CAST(h AS BIGINT) AS height,
       CAST(sum(r) AS BIGINT) AS sum_r,
       CAST(sum(g) AS BIGINT) AS sum_g,
       CAST(sum(b) AS BIGINT) AS sum_b
FROM px
GROUP BY doc_id, w, h
"""


def q_mm_png_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Images, COMPRESSED tier: real 8-bit truecolor PNGs (zlib IDAT,
    CRC-checked chunks, scanline filters cycling None/Sub/Up/Average/
    Paeth), decoded with stdlib zlib alone; per-channel exact integer
    sums — a wrong unfilter in ANY of the five paths breaks the hash."""
    docs = load_table(spark, sf_dir, "documents")
    return png_features(synthesize_png_media(docs))


SQL_MM_PNG_DECODE = """
WITH p AS (SELECT doc_id, 4 + doc_id % 11 AS w, 4 + doc_id % 7 AS h
           FROM documents),
xs AS (SELECT doc_id, w, h, unnest(range(0, w)) AS x FROM p),
cell AS (SELECT doc_id, w, h, x, unnest(range(0, h)) AS y FROM xs),
px AS (SELECT doc_id, w, h,
              (doc_id * 7 + x * 13 + y * 31) % 256 AS r,
              (doc_id * 11 + x * 17 + y * 5) % 256 AS g,
              (doc_id * 3 + x * 29 + y * 23) % 256 AS b
       FROM cell)
SELECT doc_id,
       CAST(w AS BIGINT) AS width,
       CAST(h AS BIGINT) AS height,
       CAST(sum(r) AS BIGINT) AS sum_r,
       CAST(sum(g) AS BIGINT) AS sum_g,
       CAST(sum(b) AS BIGINT) AS sum_b
FROM px
GROUP BY doc_id, w, h
"""


def q_mm_gif_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Images, LZW tier: real GIF87a blobs (256-color global palette,
    hand-rolled variable-width LZW in sub-blocks), fully decoded —
    palette lookup included — with exact integer channel sums."""
    docs = load_table(spark, sf_dir, "documents")
    return gif_features(synthesize_gif_media(docs))


SQL_MM_GIF_DECODE = """
WITH p AS (SELECT doc_id, 6 + doc_id % 10 AS w, 4 + doc_id % 8 AS h
           FROM documents),
xs AS (SELECT doc_id, w, h, unnest(range(0, w)) AS x FROM p),
cell AS (SELECT doc_id, w, h, x, unnest(range(0, h)) AS y FROM xs),
px AS (SELECT doc_id, w, h,
              (doc_id * 5 + x * 11 + y * 17) % 256 AS i
       FROM cell)
SELECT doc_id,
       CAST(w AS BIGINT) AS width,
       CAST(h AS BIGINT) AS height,
       CAST(sum(i) AS BIGINT) AS sum_r,
       CAST(sum((i * 7) % 256) AS BIGINT) AS sum_g,
       CAST(sum((i * 13) % 256) AS BIGINT) AS sum_b
FROM px
GROUP BY doc_id, w, h
"""


def q_mm_jpeg_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Images, LOSSY-codec tier: real baseline JFIF files decoded by the
    hand-rolled T.81 decoder (canonical DHT, entropy decode with
    EXTEND/ZRL/EOB, dequant, de-zigzag, float IDCT). Fixture images are
    piecewise-constant on the 8x8 grid with an all-ones quant table, so
    decode is bit-exact and the oracle recomputes sum/max/min pixel
    features from the block-value formula alone."""
    docs = load_table(spark, sf_dir, "documents")
    return jpeg_features(synthesize_jpeg_media(docs))


SQL_MM_JPEG_DECODE = """
WITH p AS (SELECT doc_id, 2 + doc_id % 3 AS bw, 1 + doc_id % 2 AS bh
           FROM documents),
xs AS (SELECT doc_id, bw, bh, unnest(range(0, bw)) AS bx FROM p),
cell AS (SELECT doc_id, bw, bh, bx, unnest(range(0, bh)) AS by FROM xs),
blk AS (SELECT doc_id, bw, bh,
               (doc_id * 7 + bx * 13 + by * 31) % 256 AS v
        FROM cell)
SELECT doc_id,
       CAST(8 * bw AS BIGINT) AS width,
       CAST(8 * bh AS BIGINT) AS height,
       CAST(64 * sum(v) AS BIGINT) AS sum_px,
       CAST(max(v) AS BIGINT) AS max_px,
       CAST(min(v) AS BIGINT) AS min_px
FROM blk
GROUP BY doc_id, bw, bh
"""


QUERIES = {
    "mm_wav_decode": (q_mm_wav_decode, SQL_MM_WAV_DECODE),
    "mm_bmp_decode": (q_mm_bmp_decode, SQL_MM_BMP_DECODE),
    "mm_png_decode": (q_mm_png_decode, SQL_MM_PNG_DECODE),
    "mm_gif_decode": (q_mm_gif_decode, SQL_MM_GIF_DECODE),
    "mm_jpeg_decode": (q_mm_jpeg_decode, SQL_MM_JPEG_DECODE),
}
