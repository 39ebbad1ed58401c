"""Real pixel TRANSFORMS over decoded media (beyond decode-and-measure).

`mm_resize_nearest` is a real pixel resample: decode the 24-bit BMP,
nearest-neighbor downscale to a fixed 4x4 target with the floor index
mapping sx = (tx * w) DIV tw — pure integer arithmetic, so the oracle
recomputes the resized pixels from the generative formula exactly and a
wrong rounding convention, an axis swap, or an off-by-one in the index
map breaks the driver hash.

Scale: one mapInPandas projection (decode + numpy fancy-indexing per
blob), no shuffle; the per-image output is constant-size, which is what
a thumbnail/embedding preprocessing stage wants at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import LongType, StructField, StructType

from movie_data_transformer_spark.operators.multimodal import (
    bmp_decode_pixels,
    map_media_rows,
    pcm_stats,
    synthesize_bmp_media,
    synthesize_wav_media,
    wav_decode_samples,
)
from movie_data_transformer_spark.sources.tables import load_table

TARGET_W = 4
TARGET_H = 4

RESIZE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("src_w", LongType()),
        StructField("src_h", LongType()),
        StructField("out_w", LongType()),
        StructField("out_h", LongType()),
        StructField("sum_r", LongType()),
        StructField("sum_g", LongType()),
        StructField("sum_b", LongType()),
    ]
)


def q_mm_resize_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    media = synthesize_bmp_media(docs)

    def resize(row) -> list[tuple]:
        import numpy as np

        img = bmp_decode_pixels(bytes(row.content))
        h, w = img.shape[:2]
        sx = (np.arange(TARGET_W) * w) // TARGET_W
        sy = (np.arange(TARGET_H) * h) // TARGET_H
        small = img[np.ix_(sy, sx)]
        return [
            (
                int(row.doc_id),
                int(w),
                int(h),
                TARGET_W,
                TARGET_H,
                int(small[:, :, 0].sum()),
                int(small[:, :, 1].sum()),
                int(small[:, :, 2].sum()),
            )
        ]

    return map_media_rows(media, resize, RESIZE_SCHEMA)


SQL_MM_RESIZE_NEAREST = """
WITH p AS (SELECT doc_id, 4 + doc_id % 13 AS w, 4 + doc_id % 9 AS h
           FROM documents),
txs AS (SELECT doc_id, w, h, unnest(range(0, __TW__)) AS tx FROM p),
cell AS (SELECT doc_id, w, h, tx, unnest(range(0, __TH__)) AS ty FROM txs),
mapped AS (SELECT doc_id, w, h,
                  (tx * w) // __TW__ AS sx,
                  (ty * h) // __TH__ AS sy
           FROM cell),
px AS (SELECT doc_id, w, h,
              (doc_id * 7 + sx * 13 + sy * 31) % 256 AS r,
              (doc_id * 11 + sx * 17 + sy * 5) % 256 AS g,
              (doc_id * 3 + sx * 29 + sy * 23) % 256 AS b
       FROM mapped)
SELECT doc_id,
       CAST(w AS BIGINT) AS src_w,
       CAST(h AS BIGINT) AS src_h,
       CAST(__TW__ AS BIGINT) AS out_w,
       CAST(__TH__ AS BIGINT) AS out_h,
       CAST(sum(r) AS BIGINT) AS sum_r,
       CAST(sum(g) AS BIGINT) AS sum_g,
       CAST(sum(b) AS BIGINT) AS sum_b
FROM px
GROUP BY doc_id, w, h
""".replace("__TW__", str(TARGET_W)).replace("__TH__", str(TARGET_H))


NORM_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("max_r", LongType()),
        StructField("max_g", LongType()),
        StructField("max_b", LongType()),
        StructField("norm_sum_r", LongType()),
        StructField("norm_sum_g", LongType()),
        StructField("norm_sum_b", LongType()),
    ]
)


def q_mm_brightness_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second real pixel transform: per-channel max normalization
    (v * 255 DIV channel_max — integer floor, the classic brightness
    stretch) over decoded 24-bit BMPs, reported as the normalized
    per-channel pixel sums plus the maxima the stretch divided by.
    Pure integer arithmetic end-to-end, so the oracle recomputes the
    normalized sums from the generative pixel formula exactly; a wrong
    per-channel max (e.g. computed over the whole image instead of the
    channel) or a round-instead-of-floor breaks the hash. One
    mapInPandas projection, no shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    media = synthesize_bmp_media(docs)

    def norm(media_row) -> list[tuple]:
        import numpy as np

        img = bmp_decode_pixels(bytes(media_row.content)).astype(np.int64)
        maxes = img.reshape(-1, 3).max(axis=0)
        row = [int(media_row.doc_id)]
        row += [int(m) for m in maxes]
        for ch in range(3):
            row.append(int((img[:, :, ch] * 255 // maxes[ch]).sum()))
        return [tuple(row)]

    return map_media_rows(media, norm, NORM_SCHEMA)


SQL_MM_BRIGHTNESS_NORMALIZE = """
WITH p AS (SELECT doc_id, 4 + doc_id % 13 AS w, 4 + doc_id % 9 AS h
           FROM documents),
xs AS (SELECT doc_id, w, h, unnest(range(0, w)) AS x FROM p),
cell AS (SELECT doc_id, w, h, x, unnest(range(0, h)) AS y FROM xs),
px AS (SELECT doc_id,
              (doc_id * 7 + x * 13 + y * 31) % 256 AS r,
              (doc_id * 11 + x * 17 + y * 5) % 256 AS g,
              (doc_id * 3 + x * 29 + y * 23) % 256 AS b
       FROM cell),
m AS (SELECT doc_id, max(r) AS max_r, max(g) AS max_g, max(b) AS max_b
      FROM px GROUP BY 1)
SELECT p.doc_id,
       CAST(m.max_r AS BIGINT) AS max_r,
       CAST(m.max_g AS BIGINT) AS max_g,
       CAST(m.max_b AS BIGINT) AS max_b,
       CAST(sum(p.r * 255 // m.max_r) AS BIGINT) AS norm_sum_r,
       CAST(sum(p.g * 255 // m.max_g) AS BIGINT) AS norm_sum_g,
       CAST(sum(p.b * 255 // m.max_b) AS BIGINT) AS norm_sum_b
FROM px p JOIN m USING (doc_id)
GROUP BY p.doc_id, m.max_r, m.max_g, m.max_b
"""


AUDIO_WINDOW = 128

AUDIO_WINDOW_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("window_idx", LongType()),
        StructField("n_samples", LongType()),
        StructField("peak_abs", LongType()),
        StructField("zero_crossings", LongType()),
        StructField("energy", LongType()),
    ]
)


def q_mm_audio_window_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed audio ANALYSIS over decoded PCM (beyond the whole-file
    features of mm_wav_decode): decode each 16-bit WAV, slice the
    waveform into fixed 128-sample windows, and emit per-window
    peak / strict sign-change zero crossings / energy — all exact
    bigints, recomputed by the oracle from the sawtooth generative
    formula so a windowing off-by-one or a crossing counted across a
    window boundary breaks the driver hash. Zero crossings are counted
    WITHIN a window only (the pair straddling a boundary belongs to
    neither window) — the same convention as the oracle's
    lag-over-(doc, window) partition.

    Scale: one mapInPandas fan-out (decode + numpy reshape per blob,
    ~n/128 rows out per clip), no shuffle — the VAD/segmentation
    pre-processing shape for audio corpora at 100 TB."""
    docs = load_table(spark, sf_dir, "documents")
    media = synthesize_wav_media(docs)

    def windows(row) -> list[tuple]:
        out = []
        _rate, s = wav_decode_samples(row.content)
        n = len(s)
        for wi in range(0, (n + AUDIO_WINDOW - 1) // AUDIO_WINDOW):
            seg = s[wi * AUDIO_WINDOW : (wi + 1) * AUDIO_WINDOW]
            out.append((int(row.doc_id), wi, len(seg)) + pcm_stats(seg))
        return out

    return map_media_rows(media, windows, AUDIO_WINDOW_SCHEMA)


SQL_MM_AUDIO_WINDOW_ENERGY = """
WITH p AS (SELECT doc_id, 400 + doc_id % 400 AS n, 64 + doc_id % 1000 AS step
           FROM documents),
s AS (SELECT doc_id, n, step, unnest(range(0, n)) AS i FROM p),
v AS (SELECT doc_id, i // __W__ AS window_idx, i,
             ((i * step) % 65536) - 32768 AS x
      FROM s),
lagged AS (SELECT doc_id, window_idx, x,
                  lag(x) OVER (PARTITION BY doc_id, window_idx ORDER BY i)
                      AS prev
           FROM v)
SELECT doc_id,
       CAST(window_idx AS BIGINT) AS window_idx,
       CAST(count(*) AS BIGINT) AS n_samples,
       CAST(max(abs(x)) AS BIGINT) AS peak_abs,
       CAST(sum(CASE WHEN prev IS NOT NULL AND ((prev < 0) <> (x < 0))
                     THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings,
       CAST(sum(x * x) AS BIGINT) AS energy
FROM lagged
GROUP BY doc_id, window_idx
""".replace("__W__", str(AUDIO_WINDOW))


QUERIES = {
    "mm_resize_nearest": (q_mm_resize_nearest, SQL_MM_RESIZE_NEAREST),
    "mm_audio_window_energy": (q_mm_audio_window_energy, SQL_MM_AUDIO_WINDOW_ENERGY),
    "mm_brightness_normalize": (q_mm_brightness_normalize, SQL_MM_BRIGHTNESS_NORMALIZE),
}
