"""Text analysis + multimodal plumbing unit tests (golden values on tiny
literal inputs — the sf-scale equivalence is covered by the oracles)."""

from __future__ import annotations

import pytest

from movie_data_transformer_spark.operators.multimodal import (
    extract_features,
    frame_sample,
    synthesize_media,
)
from movie_data_transformer_spark.operators.text import fingerprint, language_id, text_stats
from movie_data_transformer_spark.sources.tables import load_table


def _docs(spark, rows):
    return spark.createDataFrame(
        [(i, t, "en", "src0", len(t)) for i, t in enumerate(rows)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )


def test_text_stats_golden(spark):
    rows = text_stats(_docs(spark, ["the cat the cat", "a b3c d"])).collect()
    r0 = next(r for r in rows if r.doc_id == 0)
    assert (r0.n_tokens, r0.n_uniq_tokens, r0.ttr) == (4, 2, 0.5)
    r1 = next(r for r in rows if r.doc_id == 1)
    assert r1.n_tokens == 3
    assert r1.n_tokens_re == 5  # 'a' + ('b','3','c' from b3c) + 'd'


def test_language_id_golden(spark):
    rows = language_id(
        _docs(spark, ["the cat of the house", "der hund und die katze", "le chat et les oiseaux"])
    ).collect()
    assert [r.pred_lang for r in sorted(rows, key=lambda r: r.doc_id)] == ["en", "de", "fr"]


def test_fingerprint_normalization_invariance(spark):
    a = fingerprint(_docs(spark, ["Hello   World"])).collect()[0]
    b = fingerprint(_docs(spark, ["  hello world  "])).collect()[0]
    assert a.fp_md5 == b.fp_md5 and a.fp_int == b.fp_int


def test_media_features_deterministic_histogram(spark):
    media = synthesize_media(_docs(spark, ["abab"]))  # bytes 97,98,97,98
    feats = extract_features(media).collect()[0]
    # 97%8=1, 98%8=2 -> buckets 1 and 2 get 0.5 each
    expect = [0.0, 0.5, 0.5, 0.0, 0.0, 0.0, 0.0, 0.0]
    assert [round(x, 6) for x in feats.features] == expect
    assert feats.n_bytes == 4


def test_frame_sample_only_videos(spark, sf_dir):
    media = synthesize_media(load_table(spark, sf_dir, "documents"))
    frames = frame_sample(media)
    ids = {r.doc_id for r in frames.select("doc_id").distinct().collect()}
    assert ids and all(i % 3 == 2 for i in ids)


def test_chunk_udtf_matches_expression_form(spark, sf_dir):
    """The Python UDTF (extension surface) and the built-in expression
    chunker (production path) must agree row-for-row."""
    from movie_data_transformer_spark.operators.text import chunk_documents, chunk_text_udtf
    from movie_data_transformer_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents").limit(50)
    expr_rows = sorted(
        (r.doc_id, r.chunk_idx, r.chunk_text, r.n_tokens)
        for r in chunk_documents(docs, chunk_tokens=16).collect()
    )
    ChunkText = chunk_text_udtf()
    spark.udtf.register("chunk_text", ChunkText)
    docs.createOrReplaceTempView("chunk_docs")
    udtf_rows = sorted(
        (r.doc_id, r.chunk_idx, r.chunk_text, r.n_tokens)
        for r in spark.sql(
            "SELECT d.doc_id, c.* FROM chunk_docs d, "
            "LATERAL chunk_text(d.text, 16) c"
        ).collect()
    )
    assert expr_rows == udtf_rows and len(expr_rows) > 50


def test_pii_redact_golden(spark):
    """Planted PII strings: exact masked output and exact counts."""
    from movie_data_transformer_spark.operators.text import pii_redact

    docs = spark.createDataFrame(
        [
            (1, "mail a.b@x.io and c%d_e@y.co.uk now"),
            (2, "call 555-123-4567 or 555.987.6543 x9"),
            (3, "hosts 1.2.3.4 and 10.20.30.40 up"),
            (4, "clean text only"),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in pii_redact(docs).collect()}
    assert got[1].clean_text == "mail <EMAIL> and <EMAIL> now"
    assert (got[1].n_emails, got[1].n_phones, got[1].n_ips) == (2, 0, 0)
    assert got[2].clean_text == "call <PHONE> or <PHONE> x9"
    assert got[2].n_phones == 2
    assert got[3].clean_text == "hosts <IP> and <IP> up"
    assert got[3].n_ips == 2
    assert got[4].clean_text == "clean text only"
    assert (got[4].n_emails, got[4].n_phones, got[4].n_ips) == (0, 0, 0)


def test_repetition_stats_golden(spark):
    """Hand-computed Gopher signals on tiny docs."""
    from movie_data_transformer_spark.operators.text import repetition_stats

    docs = spark.createDataFrame(
        [
            (1, "spam spam spam ok"),        # top token 3x4=12 of 14 chars
            (2, "a b c d"),                  # no repetition at all
            (3, "x y x y x y"),              # every bigram duplicated
            (4, "one"),                      # single token: no 2/3-grams
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in repetition_stats(docs).collect()}
    assert abs(got[1].frac_chars_top_token - 12 / 14) < 1e-6
    # doc1 trigrams: "spam spam spam", "spam spam ok" -> no dups
    assert got[1].frac_dup_3grams == 0.0
    # doc1 bigrams: "spam spam" x2 (9 chars each), "spam ok" -> 18/25
    assert abs(got[1].frac_chars_dup_2grams - 18 / 25) < 1e-6
    assert got[2].frac_chars_top_token == 0.25
    assert got[2].frac_chars_dup_2grams == 0.0 and got[2].frac_dup_3grams == 0.0
    # doc3: bigrams x y,y x,x y,y x,x y -> all 5 duplicated; trigrams
    # "x y x" x2, "y x y" x2 -> 4/4 duplicated
    assert got[3].frac_chars_dup_2grams == 1.0
    assert got[3].frac_dup_3grams == 1.0
    assert (got[4].frac_chars_dup_2grams, got[4].frac_dup_3grams) == (0.0, 0.0)


def test_sliding_chunks_cover_and_overlap(spark):
    """Sliding chunks: every token is covered, consecutive chunks overlap
    by window-stride tokens, and start offsets advance by the stride."""
    from movie_data_transformer_spark.operators.text import chunk_documents_sliding

    text = " ".join(f"w{i}" for i in range(10))
    docs = spark.createDataFrame([(1, text)], "doc_id long, text string")
    rows = sorted(
        chunk_documents_sliding(docs, window=4, stride=2).collect(),
        key=lambda r: r.chunk_idx,
    )
    assert [r.start_tok for r in rows] == [0, 2, 4, 6, 8]
    assert rows[0].chunk_text == "w0 w1 w2 w3"
    assert rows[1].chunk_text == "w2 w3 w4 w5"  # 2-token overlap
    assert rows[-1].chunk_text == "w8 w9" and rows[-1].n_tokens == 2
    covered = set()
    for r in rows:
        covered.update(r.chunk_text.split())
    assert covered == {f"w{i}" for i in range(10)}


def test_pack_sequences_budget_and_determinism(spark, sf_dir):
    from movie_data_transformer_spark.operators.text import chunk_documents, pack_sequences
    from movie_data_transformer_spark.sources.tables import load_table

    chunks = chunk_documents(load_table(spark, sf_dir, "documents"))
    packed = pack_sequences(chunks)
    rows = packed.collect()
    assert len(rows) == chunks.count()  # every chunk assigned exactly once

    # no bin exceeds the budget (single chunks <= 64 < 200 always fit)
    from collections import defaultdict

    fill = defaultdict(int)
    for r in rows:
        fill[(r.bucket, r.bin_id)] += r.n_tokens
    assert all(v <= 200 for v in fill.values())
    # bins are USED: mean fill well above half the budget (packing is
    # the point — one chunk per bin would show ~64 here)
    assert sum(fill.values()) / len(fill) > 140

    # deterministic under a different input partitioning
    again = pack_sequences(chunks.repartition(17))
    a = {(r.doc_id, r.chunk_idx): (r.bucket, r.bin_id) for r in rows}
    b = {(r.doc_id, r.chunk_idx): (r.bucket, r.bin_id) for r in again.collect()}
    assert a == b


def test_gmean_udaf_matches_numpy(spark, sf_dir):
    import numpy as np

    from movie_data_transformer_spark.operators.llm_queries import q_events_gmean_udaf
    from movie_data_transformer_spark.sources.tables import load_table

    got = {r.event_type: r.gmean_value for r in q_events_gmean_udaf(spark, sf_dir).collect()}
    ev = load_table(spark, sf_dir, "events").select("event_type", "value").collect()
    from collections import defaultdict

    vals = defaultdict(list)
    for r in ev:
        if r.value is not None and r.value > 0:
            vals[r.event_type].append(r.value)
    for t, v in vals.items():
        want = float(np.exp(np.log(np.array(v)).mean()))
        assert abs(got[t] - want) < 1e-9, (t, got[t], want)


def test_wav_decode_reads_container_not_metadata(spark):
    """The audio features must come from PARSING the RIFF container:
    tampering with the sample-rate field in the header changes the
    decoded rate (proving it is read from bytes, not assumed), while the
    PCM-derived features are untouched."""
    import struct

    from pyspark.sql import functions as F

    from movie_data_transformer_spark.operators.multimodal import (
        synthesize_wav_media,
        wav_features,
    )

    docs = spark.createDataFrame([(7,), (21,)], "doc_id long")
    media = synthesize_wav_media(docs)
    base = {r.doc_id: r for r in wav_features(media).collect()}
    assert all(r.sample_rate == 8000 for r in base.values())
    assert all(r.peak_abs > 0 and r.energy > 0 for r in base.values())

    # tamper: WAV stores the sample rate at byte offset 24 (LE uint32)
    def tamper(content):
        b = bytearray(content)
        b[24:28] = struct.pack("<I", 4000)
        return bytes(b)

    tampered = media.select(
        "doc_id", F.udf(tamper, "binary")("content").alias("content")
    )
    got = {r.doc_id: r for r in wav_features(tampered).collect()}
    for d, r in got.items():
        assert r.sample_rate == 4000  # read from the container
        assert r.energy == base[d].energy  # PCM payload unchanged
        assert r.zero_crossings == base[d].zero_crossings


def test_bmp_decode_handles_every_padding_case(spark):
    """Widths 4..16 cover all four mod-4 row paddings; channel sums must
    match the pixel formula exactly for each (a padding slip shifts BGR
    bytes and breaks the sums)."""
    from movie_data_transformer_spark.operators.multimodal import (
        _bmp_params,
        _bmp_pixel,
        bmp_features,
        synthesize_bmp_media,
    )

    ids = list(range(12))  # widths 4..15 -> row_len % 4 in all classes
    docs = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    got = {r.doc_id: r for r in bmp_features(synthesize_bmp_media(docs)).collect()}
    for d in ids:
        w, h = _bmp_params(d)
        sr = sg = sb = 0
        for x in range(w):
            for y in range(h):
                r, g, b = _bmp_pixel(d, x, y)
                sr += r
                sg += g
                sb += b
        row = got[d]
        assert (row.width, row.height) == (w, h)
        assert (row.sum_r, row.sum_g, row.sum_b) == (sr, sg, sb), d


def test_png_filters_all_exercised_and_tamper_detected(spark):
    """The synthetic PNGs must actually use all five scanline filter
    types (else the decoder's unfilter paths are untested), and the
    decoder must verify chunk CRCs (a flipped IDAT byte raises, never
    silently wrong sums)."""
    import struct
    import zlib

    import pytest

    from movie_data_transformer_spark.operators.multimodal import (
        png_features,
        synthesize_png_media,
    )

    docs = spark.range(0, 10).selectExpr("id AS doc_id")
    blobs = {r.doc_id: bytes(r.content) for r in synthesize_png_media(docs).collect()}
    seen = set()
    for d, data in blobs.items():
        pos = 8
        idat = b""
        while pos < len(data):
            (ln,) = struct.unpack_from(">I", data, pos)
            tag = data[pos + 4 : pos + 8]
            if tag == b"IHDR":
                w, h = struct.unpack_from(">II", data, pos + 8)
            if tag == b"IDAT":
                idat += data[pos + 8 : pos + 8 + ln]
            pos += 12 + ln
        raw = zlib.decompress(idat)
        stride = w * 3 + 1
        seen |= {raw[y * stride] for y in range(h)}
    assert seen == {0, 1, 2, 3, 4}

    # tamper: flip one byte inside the first IDAT payload -> CRC fails
    d0 = min(blobs)
    data = bytearray(blobs[d0])
    pos = 8
    while True:
        (ln,) = struct.unpack_from(">I", bytes(data), pos)
        tag = bytes(data[pos + 4 : pos + 8])
        if tag == b"IDAT":
            data[pos + 8] ^= 0xFF
            break
        pos += 12 + ln
    bad = spark.createDataFrame(
        [(int(d0), bytes(data))], "doc_id long, content binary"
    )
    with pytest.raises(Exception, match="CRC"):
        png_features(bad).collect()


def test_decoders_reject_bad_input_under_python_O():
    """The container checks are ValueErrors, not asserts, so they hold
    under `python -O`: a CRC-flipped PNG and a bad-signature GIF still
    raise instead of decoding to wrong sums."""
    import subprocess
    import sys
    from pathlib import Path

    code = """
from movie_data_transformer_spark.operators.multimodal import (
    _gif_bytes, _png_bytes, gif_decode_pixels, png_decode_pixels,
)
assert not __debug__
png = bytearray(_png_bytes(3))
png[-1] ^= 0xFF  # the IEND chunk's CRC
gif = b"GIX87a" + _gif_bytes(3)[6:]
for decode, blob in ((png_decode_pixels, bytes(png)), (gif_decode_pixels, gif)):
    try:
        decode(blob)
        print("decoded")
    except ValueError as e:
        print("ValueError:", e)
"""
    repo = Path(__file__).resolve().parents[1]
    out = subprocess.run(
        [sys.executable, "-O", "-c", code],
        cwd=repo, capture_output=True, text=True, check=True,
    ).stdout.splitlines()
    assert out == ["ValueError: CRC", "ValueError: bad GIF signature"], out


def test_decoders_reject_truncated_input_with_value_error():
    """Every prefix of a PNG, GIF and JPEG blob either decodes to the
    full image (only cuts after the last needed byte can) or raises
    ValueError: no IndexError, struct.error or zlib.error escapes. An
    LZW stream that ends without its EOI code says so."""
    from movie_data_transformer_spark.operators import multimodal as m

    for synth, decode in (
        (m._png_bytes, m.png_decode_pixels),
        (m._gif_bytes, m.gif_decode_pixels),
        (m._jpeg_bytes, m.jpeg_decode_gray),
    ):
        blob = synth(7)
        full = decode(blob)
        for n in range(len(blob)):
            try:
                got = decode(blob[:n])
            except ValueError:
                continue
            assert got.shape == full.shape and (got == full).all(), (decode.__name__, n)
    # a clear code (256), then 7 of the next code's 9 bits
    with pytest.raises(ValueError, match="missing EOI"):
        m._lzw_decode(b"\x00\x01")


def test_lzw_codec_fuzz_round_trip():
    """The hand-rolled GIF LZW: fuzz round trip incl. the dict-growth,
    4096-reset, and KwKwK paths."""
    import random

    from movie_data_transformer_spark.operators.multimodal import (
        _lzw_decode,
        _lzw_encode,
    )

    rng = random.Random(7)
    for _ in range(100):
        n = rng.randint(1, 3000)
        idx = bytes(rng.randint(0, 255) for _ in range(n))
        assert _lzw_decode(_lzw_encode(idx)) == idx
    rep = bytes([1, 2, 3] * 5000)  # forces width growth to 12 + clear/reset
    assert _lzw_decode(_lzw_encode(rep)) == rep
    kwk = bytes([5]) * 64  # classic KwKwK (code == len(table)) case
    assert _lzw_decode(_lzw_encode(kwk)) == kwk


def test_collapse_repeats_golden(spark):
    """'a a a b b a' collapses to 'a b a' — runs shrink to one token,
    non-adjacent repeats survive (it is run-collapse, not a set)."""
    import hashlib

    df = spark.createDataFrame(
        [(1, "a a a b b a"), (2, "x"), (3, "y y")], "doc_id long, text string"
    )
    df.createOrReplaceTempView("_cr_docs")
    from movie_data_transformer_spark.operators.text_cleaning_queries import (
        q_text_collapse_repeats,
    )
    from unittest.mock import patch

    with patch(
        "movie_data_transformer_spark.operators.text_cleaning_queries.load_table",
        lambda _s, _d, _t: df,
    ):
        got = {r.doc_id: r for r in q_text_collapse_repeats(spark, "unused").collect()}
    assert (got[1].n_tokens_before, got[1].n_tokens_after) == (6, 3)
    assert got[1].clean_md5 == hashlib.md5(b"a b a").hexdigest()
    assert (got[2].n_tokens_before, got[2].n_tokens_after) == (1, 1)
    assert (got[3].n_tokens_before, got[3].n_tokens_after) == (2, 1)
    assert got[3].clean_md5 == hashlib.md5(b"y").hexdigest()


def test_line_dedup_boilerplate_golden(spark):
    """Five docs with ids divisible by 3 share the planted header (df=5
    -> dropped everywhere); one normal doc keeps everything. Documents
    shorter than one chunk still form a single (short) line."""
    import hashlib
    from unittest.mock import patch

    from movie_data_transformer_spark.operators.text_cleaning_queries import (
        BOILERPLATE_LINE,
        q_text_line_dedup_boilerplate,
    )

    texts = {i: f"tok{i}a tok{i}b tok{i}c" for i in (0, 3, 6, 9, 12)}
    texts[1] = " ".join(f"w{k}" for k in range(25))  # 25 toks -> 3 chunks
    df = spark.createDataFrame(
        [(i, t) for i, t in texts.items()], "doc_id long, text string"
    )
    with patch(
        "movie_data_transformer_spark.operators.text_cleaning_queries.load_table",
        lambda _s, _d, _t: df,
    ):
        got = {r.doc_id: r for r in q_text_line_dedup_boilerplate(spark, "x").collect()}
    # header planted on the 5 ids % 3 == 0 -> df = 5 -> dropped; own line kept
    for i in (0, 3, 6, 9, 12):
        assert (got[i].n_lines_before, got[i].n_lines_after) == (2, 1)
        assert got[i].clean_md5 == hashlib.md5(texts[i].encode()).hexdigest()
    # doc 1: no header (1 % 3 != 0), 3 unique chunks, nothing dropped
    assert (got[1].n_lines_before, got[1].n_lines_after) == (3, 3)
    assert got[1].clean_md5 == hashlib.md5(texts[1].encode()).hexdigest()
    assert BOILERPLATE_LINE.count(" ") == 11  # stays a 12-token line


def test_c4_line_filters_golden(spark):
    """Line ends at 'the'; <5-token and badword lines drop; docs need
    >= 2 kept lines to survive."""
    import hashlib
    from unittest.mock import patch

    from movie_data_transformer_spark.operators.text_cleaning_queries import (
        q_text_c4_line_filters,
    )

    df = spark.createDataFrame(
        [
            # 3 lines: kept, badword-dropped, kept -> doc survives
            (1, "x1 x2 x3 x4 x5 the slow a b c d e the p q r s t"),
            # 2 lines: kept, too-short -> only 1 kept -> doc dropped
            (2, "y1 y2 y3 y4 y5 the a b"),
            # leading/double 'the' make empty token-less lines -> no rows
            (3, "the the z1 z2 z3 z4 z5 the q1 q2 q3 q4 q5 q6"),
        ],
        "doc_id long, text string",
    )
    with patch(
        "movie_data_transformer_spark.operators.text_cleaning_queries.load_table",
        lambda _s, _d, _t: df,
    ):
        got = {r.doc_id: r for r in q_text_c4_line_filters(spark, "x").collect()}
    assert set(got) == {1, 3}
    assert (got[1].n_lines, got[1].n_lines_kept, got[1].n_tokens_kept) == (3, 2, 10)
    assert got[1].clean_md5 == hashlib.md5(b"x1 x2 x3 x4 x5 | p q r s t").hexdigest()
    # doc 3: empty lines produce no rows, so n_lines counts NONEMPTY lines
    assert (got[3].n_lines, got[3].n_lines_kept, got[3].n_tokens_kept) == (2, 2, 11)
    assert (
        got[3].clean_md5
        == hashlib.md5(b"z1 z2 z3 z4 z5 | q1 q2 q3 q4 q5 q6").hexdigest()
    )


def test_c4_line_filters_single_shuffle(spark, sf_dir):
    """The doc_id window partitioning must be reused by BOTH downstream
    groupBys ((doc_id, line_id) and doc_id) — exactly one hash exchange
    in the plan, no cartesian."""
    from movie_data_transformer_spark.operators.text_cleaning_queries import (
        q_text_c4_line_filters,
    )
    from tests.plan_audit import audit_plan

    a = audit_plan(q_text_c4_line_filters(spark, sf_dir))
    assert a.n_exchanges == 1 and not a.has_cartesian


def test_udtf_polymorphic_columns_golden(spark):
    """The analyze()-built schema yields exactly N_PARTS string columns;
    uneven and shorter-than-N token lists pad with empty segments."""
    from unittest.mock import patch

    from movie_data_transformer_spark.operators.udtf_poly_queries import (
        q_udtf_polymorphic_columns,
    )

    df = spark.createDataFrame(
        [(1, "a b c d e"), (2, "x"), (3, "p q r")],
        "doc_id long, text string",
    )
    with patch(
        "movie_data_transformer_spark.operators.udtf_poly_queries.load_table",
        lambda _s, _d, _t: df,
    ):
        out = q_udtf_polymorphic_columns(spark, "x")
        assert out.columns == ["doc_id", "part0", "part1", "part2"]
        got = {r.doc_id: (r.part0, r.part1, r.part2) for r in out.collect()}
    assert got[1] == ("a b", "c d", "e")  # per = ceil(5/3) = 2
    assert got[2] == ("x", "", "")  # per = 1, tokens run out
    assert got[3] == ("p", "q", "r")


def test_jpeg_zigzag_and_coeff_roundtrip():
    """The generated zigzag matches the spec head, and the entropy layer
    (canonical DHT, DC differences, ZRL runs, EOB, EXTEND) round-trips
    arbitrary sparse coefficient blocks — including a >15 zero run and
    negative values."""
    import random

    from movie_data_transformer_spark.operators import multimodal as m

    assert m._ZZ[:10] == [0, 1, 8, 16, 9, 2, 3, 10, 17, 24]
    assert sorted(m._ZZ) == list(range(64))
    rng = random.Random(42)
    blocks = []
    for _ in range(20):
        zz = [0] * 64
        zz[0] = rng.randint(-1024, 1016)
        for _ in range(rng.randint(0, 8)):
            zz[rng.randint(1, 63)] = rng.choice([-1023, -5, -1, 1, 7, 1023])
        blocks.append(zz)
    zz = [0] * 64
    zz[0], zz[40] = 100, -3  # forces two ZRL (0xF0) emissions
    blocks.append(zz)
    data = m.jpeg_encode_blocks(blocks)
    dc = {
        (ln, c): v
        for v, (c, ln) in m._canonical_codes(m._JPEG_DC_BITS, m._JPEG_DC_VALS).items()
    }
    ac = {
        (ln, c): v
        for v, (c, ln) in m._canonical_codes(m._JPEG_AC_BITS, m._JPEG_AC_VALS).items()
    }
    assert m.jpeg_decode_blocks(data, len(blocks), dc, ac) == blocks


def test_jpeg_full_file_pixel_exact_and_tamper():
    """End-to-end: encode -> parse the FILE's own DQT/DHT -> decode gives
    bit-exact pixels for the piecewise-flat fixtures; corrupting the scan
    changes the output or fails decode (features really come from the
    entropy-coded payload, not the header)."""
    from movie_data_transformer_spark.operators import multimodal as m

    for d in (0, 1, 5, 17):
        blob = m._jpeg_bytes(d)
        img = m.jpeg_decode_gray(blob)
        bw, bh = m._jpeg_params(d)
        assert img.shape == (8 * bh, 8 * bw)
        for by in range(bh):
            for bx in range(bw):
                v = int(m._jpeg_block_value(d, bx, by))
                assert (img[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] == v).all()
    blob = bytearray(m._jpeg_bytes(3))
    sos = blob.index(b"\xff\xda")
    k = sos + 10  # inside the entropy-coded scan
    blob[k] ^= 0x55
    try:
        tampered = m.jpeg_decode_gray(bytes(blob))
        assert (tampered != m.jpeg_decode_gray(m._jpeg_bytes(3))).any()
    except (ValueError, IndexError, AssertionError):
        pass  # refusing to decode the corrupt scan is equally acceptable


def test_avi_container_roundtrip_and_tamper():
    """RIFF walk correctness: dims from strf, frame count and order from
    the movi '00db' chunks, bottom-up BGR un-flip; truncating a frame
    chunk or corrupting the RIFF tag fails decode."""
    import numpy as np
    import pytest

    from movie_data_transformer_spark.operators import multimodal as m

    for d in (0, 3, 7, 11):
        w, h, frames = m.avi_decode_frames(m._avi_bytes(d))
        ew, eh, en = m._avi_params(d)
        assert (w, h, len(frames)) == (ew, eh, en)
        x = np.arange(w)[None, :]
        y = np.arange(h)[:, None]
        for f, fr in enumerate(frames):
            r, g, b = m._avi_pixel(d, f, x, y)
            assert (fr[:, :, 0] == r).all()
            assert (fr[:, :, 1] == g).all()
            assert (fr[:, :, 2] == b).all()
    blob = bytearray(m._avi_bytes(3))
    blob[0:4] = b"XIFF"
    with pytest.raises(ValueError):
        m.avi_decode_frames(bytes(blob))
    with pytest.raises(Exception):
        m.avi_decode_frames(m._avi_bytes(3)[:-20])  # truncated last frame


def _bmp_blob(m, doc_id):
    """Rebuild one BMP blob with the same layout the fixture writer
    uses (bottom-up padded BGR rows, 54-byte header)."""
    import struct as struct_mod

    import numpy as np

    w, h = m._bmp_params(doc_id)
    x = np.arange(w, dtype=np.int64)[None, :]
    y = np.arange(h, dtype=np.int64)[:, None]
    r, g, b = m._bmp_pixel(doc_id, x, y)
    pad = (-(w * 3)) % 4
    rows = []
    for yy in range(h - 1, -1, -1):
        px = np.empty((w, 3), dtype=np.uint8)
        px[:, 0] = b[yy]
        px[:, 1] = g[yy]
        px[:, 2] = r[yy]
        rows.append(px.tobytes() + b"\x00" * pad)
    pixel_data = b"".join(rows)
    dib = struct_mod.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(pixel_data), 0, 0, 0, 0)
    hdr = b"BM" + struct_mod.pack("<IHHI", 14 + 40 + len(pixel_data), 0, 0, 54)
    return hdr + dib + pixel_data


def test_resize_nearest_golden():
    """bmp_decode_pixels inverts the BMP layout exactly, and the 8 -> 4
    nearest-neighbor index map picks columns 0,2,4,6."""
    import numpy as np

    from movie_data_transformer_spark.operators import multimodal as m

    d = next(d for d in range(30) if m._bmp_params(d)[0] == 8)
    img = m.bmp_decode_pixels(_bmp_blob(m, d))
    w = img.shape[1]
    assert w == 8
    assert list((np.arange(4) * w) // 4) == [0, 2, 4, 6]
    x = np.arange(w)[None, :]
    y = np.arange(img.shape[0])[:, None]
    r, g, b = m._bmp_pixel(d, x, y)
    assert (img[:, :, 0] == r).all()
    assert (img[:, :, 1] == g).all()
    assert (img[:, :, 2] == b).all()


def test_audio_windows_tile_the_clip(spark, sf_dir):
    """Per-doc window invariants for mm_audio_window_energy: windows
    tile the waveform exactly (counts sum to the clip length, window
    count is ceil(n/128)), energies are additive, and zero crossings
    sum to <= the whole-file count (boundary-straddling pairs belong to
    neither window — the documented convention)."""
    from movie_data_transformer_spark.operators.mm_decode_queries import (
        q_mm_wav_decode,
    )
    from movie_data_transformer_spark.operators.mm_transform_queries import (
        AUDIO_WINDOW,
        q_mm_audio_window_energy,
    )

    whole = {r.doc_id: r for r in q_mm_wav_decode(spark, sf_dir).collect()}
    per_doc = {}
    for r in q_mm_audio_window_energy(spark, sf_dir).collect():
        per_doc.setdefault(r.doc_id, []).append(r)
    assert set(per_doc) == set(whole)
    for doc_id, wins in per_doc.items():
        w = whole[doc_id]
        n_win = (w.n_samples + AUDIO_WINDOW - 1) // AUDIO_WINDOW
        assert sorted(r.window_idx for r in wins) == list(range(n_win))
        assert sum(r.n_samples for r in wins) == w.n_samples
        assert sum(r.energy for r in wins) == w.energy
        assert sum(r.zero_crossings for r in wins) <= w.zero_crossings
        assert max(r.peak_abs for r in wins) == w.peak_abs
