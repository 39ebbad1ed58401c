"""Empty-input robustness: every core operator must handle zero rows
(first batch of a stream, fully-filtered partitions) without error."""

from __future__ import annotations

import pytest

from movie_data_transformer_spark.operators import multimodal as mm
from movie_data_transformer_spark.operators.merge import merge_flat
from movie_data_transformer_spark.operators.movie_pipeline import (
    dedup_latest,
    explode_watched,
    group_watched,
    kv_serialize,
    run_pipeline,
)
from movie_data_transformer_spark.schemas import MOVIE_INPUT, RATING_FLAT


def _empty_movies(spark):
    return spark.createDataFrame([], MOVIE_INPUT)


def _empty_flat(spark):
    return spark.createDataFrame([], RATING_FLAT)


def _flat(spark, rows):
    return spark.createDataFrame(
        [(m, f"T_{m}", 2000, c, r, d) for (m, c, r, d) in rows], RATING_FLAT
    )


def test_pipeline_on_empty_input(spark):
    assert run_pipeline(_empty_movies(spark)).count() == 0


def test_dedup_variants_on_empty(spark):
    assert dedup_latest(_empty_flat(spark)).count() == 0


def test_merge_empty_sides(spark):
    rows = [("m1", "c1", 3, "2024-01-01")]
    assert merge_flat(_empty_flat(spark), _flat(spark, rows)).count() == 1
    assert merge_flat(_flat(spark, rows), _empty_flat(spark)).count() == 1
    assert merge_flat(_empty_flat(spark), _empty_flat(spark)).count() == 0


def test_null_watchedby_drops_row(spark):
    # null list behaves like empty list under explode (not explode_outer)
    df = spark.createDataFrame(
        [{"movieId": "m", "title": "T", "yearOfRelease": 2000, "watchedBy": None}], MOVIE_INPUT
    )
    assert explode_watched(df).count() == 0


def test_kv_serialize_empty(spark):
    assert kv_serialize(group_watched(_empty_flat(spark))).count() == 0


def test_incremental_dedup_empty_batch_and_empty_state(spark):
    """First trigger of a stream (empty state) and an empty micro-batch
    must both produce zero pairs without error."""
    from movie_data_transformer_spark.operators.dedup import (
        band_table,
        doc_shingle_sets,
        incremental_minhash_pairs_from_index,
        minhash_signatures_from_arrays,
    )

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "one two three four")],
        "doc_id long, text string",
    )
    empty = spark.createDataFrame([], "doc_id long, text string")
    sets = doc_shingle_sets(docs)
    bands = band_table(minhash_signatures_from_arrays(sets))
    e_sets = doc_shingle_sets(empty)
    e_bands = band_table(minhash_signatures_from_arrays(e_sets))
    # empty batch vs populated index
    assert (
        incremental_minhash_pairs_from_index(sets, bands, e_sets).count()
        == 0
    )
    # populated batch vs empty index: no state, no self-pairs suppressed
    # beyond the index contract (batch docs still pair among themselves)
    got = incremental_minhash_pairs_from_index(e_sets, e_bands, sets)
    assert got.count() == 0  # the two docs share no shingles


def test_ivf_assign_empty_batch(spark):
    from movie_data_transformer_spark.operators.similarity import (
        frozen_centroids_micro,
        ivf_assign_from_centroids,
    )

    seed = spark.createDataFrame(
        [(1, [0.1, 0.2], 0), (2, [0.9, 0.8], 1)],
        "vec_id long, embedding array<double>, label int",
    )
    cents = frozen_centroids_micro(seed)
    empty = spark.createDataFrame([], "vec_id long, embedding array<double>, label int")
    assert ivf_assign_from_centroids(cents, empty).count() == 0
    # and a singleton batch assigns to the nearer centroid
    one = spark.createDataFrame(
        [(10, [0.85, 0.75])], "vec_id long, embedding array<double>"
    )
    row = ivf_assign_from_centroids(cents, one).collect()[0]
    assert (row.vec_id, row.cell) == (10, 1)


@pytest.mark.parametrize(
    ("build", "schema"),
    [
        pytest.param(lambda d: mm.wav_features(mm.synthesize_wav_media(d)),
                     mm.WAV_FEATURES_SCHEMA, id="wav"),
        pytest.param(lambda d: mm.bmp_features(mm.synthesize_bmp_media(d)),
                     mm.BMP_FEATURES_SCHEMA, id="bmp"),
        pytest.param(lambda d: mm.png_features(mm.synthesize_png_media(d)),
                     mm.BMP_FEATURES_SCHEMA, id="png"),
        pytest.param(lambda d: mm.gif_features(mm.synthesize_gif_media(d)),
                     mm.BMP_FEATURES_SCHEMA, id="gif"),
        pytest.param(lambda d: mm.jpeg_features(mm.synthesize_jpeg_media(d)),
                     mm.JPEG_FEATURES_SCHEMA, id="jpeg"),
        pytest.param(lambda d: mm.avi_features(mm.synthesize_avi_media(d)),
                     mm.AVI_FEATURES_SCHEMA, id="avi"),
        pytest.param(lambda d: mm.avi_scene_cuts(mm.synthesize_avi_media(d), 100),
                     mm.SCENE_CUT_SCHEMA, id="avi_scene_cuts"),
        pytest.param(lambda d: mm.bmp_contrast_stats(mm.synthesize_bmp_media(d), 100),
                     mm.CONTRAST_SCHEMA, id="bmp_contrast_stats"),
        pytest.param(lambda d: mm.bmp_phash_dct(mm.synthesize_bmp_media(d)),
                     mm.PHASH_SCHEMA, id="bmp_phash_dct"),
    ],
)
def test_media_operators_on_empty_input(spark, build, schema):
    """Zero documents in: zero rows out, with exactly the declared
    schema. Every media operator crosses into the Python worker through
    multimodal.map_media_rows, so one defect there shows in all."""
    out = build(spark.createDataFrame([], "doc_id long"))
    assert out.schema == schema
    assert out.collect() == []
