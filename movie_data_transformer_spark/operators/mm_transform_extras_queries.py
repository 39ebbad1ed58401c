"""Round-6 multimodal transform extension: nearest-neighbor AUDIO
downsample — the PCM twin of mm_resize_nearest, completing the
resample story across modalities. Decode the real WAV container, pick
every floor-mapped source sample (si = (j * n) DIV m for a target of
m = n DIV 2 samples), and emit the exact integer feature summary of the
RESAMPLED signal (count, peak, strict sign-change zero crossings,
energy). Pure integer index math + integer samples -> the oracle
recomputes everything from the sawtooth generative formula (FULL
oracle); a wrong rounding convention or off-by-one in the index map
shifts which samples survive and breaks the hash.

Scale: decode + resample + summarize in ONE mapInPandas projection, no
shuffle; constant-size output per blob.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import LongType, StructField, StructType

from movie_data_transformer_spark.operators.multimodal import (
    map_media_rows,
    pcm_stats,
    synthesize_wav_media,
    wav_decode_samples,
)
from movie_data_transformer_spark.sources.tables import load_table


RESAMPLE_SCHEMA = StructType(
    [
        StructField(c, LongType())
        for c in (
            "doc_id", "n_samples", "m_samples", "peak_abs",
            "zero_crossings", "energy",
        )
    ]
)


def q_mm_audio_resample_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    media = synthesize_wav_media(docs)

    def resample(row) -> list[tuple]:
        import numpy as np

        _rate, x = wav_decode_samples(row.content)
        n = len(x)
        m = n // 2
        si = (np.arange(m, dtype=np.int64) * n) // m
        y = x[si]
        return [(int(row.doc_id), n, m) + pcm_stats(y)]

    return map_media_rows(media, resample, RESAMPLE_SCHEMA)


SQL_MM_AUDIO_RESAMPLE_NEAREST = """
WITH p AS (SELECT doc_id, 400 + doc_id % 400 AS n, 64 + doc_id % 1000 AS step
           FROM documents),
idx AS (SELECT doc_id, n, step, unnest(range(0, n // 2)) AS j FROM p),
y AS (SELECT doc_id, n, j,
             (((j * n) // (n // 2)) * step) % 65536 - 32768 AS x
      FROM idx),
lagged AS (SELECT doc_id, n, x,
                  lag(x) OVER (PARTITION BY doc_id ORDER BY j) AS prev
           FROM y)
SELECT doc_id,
       CAST(n AS BIGINT) AS n_samples,
       CAST(count(*) AS BIGINT) AS m_samples,
       CAST(max(abs(x)) AS BIGINT) AS peak_abs,
       CAST(sum(CASE WHEN prev IS NOT NULL AND ((prev < 0) <> (x < 0))
                     THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings,
       CAST(sum(x * x) AS BIGINT) AS energy
FROM lagged
GROUP BY doc_id, n
"""


QUERIES = {
    "mm_audio_resample_nearest": (
        q_mm_audio_resample_nearest,
        SQL_MM_AUDIO_RESAMPLE_NEAREST,
    ),
}
