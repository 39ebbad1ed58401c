"""Multimodal column pattern (SURVEY.md §7 M5): image/audio/video as
opaque `binary` columns with typed metadata, processed by Arrow-batched
Pandas UDFs.

Every media type is decoded for REAL in this module, each held to a
full DuckDB oracle (operators/mm_decode_queries.py, mm_video_queries.py):
audio — 16-bit PCM WAV (stdlib wave); images — 24-bit BMP (struct +
numpy), compressed PNG (stdlib zlib, all five scanline filters), GIF87a
(hand-rolled variable-width LZW), baseline JFIF JPEG (hand-rolled T.81:
canonical DHT, entropy decode, dequant, de-zigzag, float IDCT — the
lossy tier, made oracle-exact by piecewise-flat fixtures with an
all-ones quant table); video — AVI with raw DIB frames (real RIFF
container machinery). The decoders parse containers only: there is no
external codec (libjpeg, ffmpeg) and no compressed-video decode.
`extract_features` histograms the raw payload bytes.

Every per-row pass crosses into the Python worker through one helper,
`map_media_rows`. Decoders reject malformed input with ValueError,
never `assert`, so the checks hold under `python -O`.

Scale notes: binary payloads ride in parquet binary columns; decode/
feature-extract run as mapInPandas over Arrow record batches, so Python
touches columnar buffers (no per-row serialization). Partition sizing for
blobs: keep `spark.sql.files.maxPartitionBytes` at default 128MB so a
task holds ~100 x 1MB blobs; never collect() media to the driver.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

#: the typed media column contract: opaque bytes + declared metadata
MEDIA_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("content", BinaryType()),
        StructField("media_type", StringType()),  # image|audio|video
        StructField("format", StringType()),  # png|wav|mp4|...
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_bytes", LongType()),
    ]
)

FEATURE_DIM = 8

FEATURES_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("media_type", StringType()),
        StructField("n_bytes", LongType()),
        StructField("features", ArrayType(FloatType())),
    ]
)


def map_media_rows(df: DataFrame, per_row, schema: StructType) -> DataFrame:
    """The one crossing into the Python worker for per-row media work:
    a single mapInPandas pass over Arrow batches. `per_row(row)` gets
    one input row (a namedtuple of `df`'s columns) and returns a list of
    output tuples in `schema` order — one for a decode or feature row,
    several for a fan-out (scene cuts, frame samples, audio windows).
    Output column names come from `schema`."""
    cols = schema.fieldNames()

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = [t for row in pdf.itertuples(index=False) for t in per_row(row)]
            yield pd.DataFrame(out, columns=cols)

    return df.mapInPandas(run, schema)


def _synthesize_blobs(docs: DataFrame, to_bytes) -> DataFrame:
    """(doc_id, content) with content = to_bytes(doc_id), mapped over the
    (doc_id)-only frame WIDENED to core parallelism when the upstream
    scan is narrower (r12 opt round): the generative work (numpy
    waveform / pixel synthesis + container packing) is the expensive
    part and otherwise runs at the one-row-group testdata scan's
    single-task width. The widen shuffles ONLY the 8-byte ids — the
    cheapest possible proxy exchange (guide §8: move decisions on small
    rows, heavy bytes once) — and is a no-op on an already-wide cluster
    scan."""
    from movie_data_transformer_spark.operators.sizing import widen_for_compute

    return map_media_rows(
        widen_for_compute(docs.select("doc_id")),
        lambda row: [(int(row.doc_id), to_bytes(int(row.doc_id)))],
        MEDIA_BLOB_SCHEMA,
    )


def synthesize_media(docs: DataFrame) -> DataFrame:
    """Build a media table from the documents table: content = utf-8 bytes
    of the text (a stand-in payload with real, variable-length binary),
    metadata derived deterministically. This exercises the exact schema &
    plumbing a real image/audio table would use."""
    return docs.select(
        "doc_id",
        F.encode("text", "utf-8").alias("content"),
        F.element_at(F.array(F.lit("image"), F.lit("audio"), F.lit("video")), (F.col("doc_id") % 3 + 1).cast("int")).alias("media_type"),
        F.element_at(F.array(F.lit("png"), F.lit("wav"), F.lit("mp4")), (F.col("doc_id") % 3 + 1).cast("int")).alias("format"),
        (F.col("doc_id") % 640 + 32).cast("int").alias("width"),
        (F.col("doc_id") % 480 + 32).cast("int").alias("height"),
        F.length(F.encode("text", "utf-8")).cast("long").alias("n_bytes"),
    )


def extract_features(media: DataFrame) -> DataFrame:
    """Arrow-batched feature extraction over binary payloads via
    mapInPandas, on the raw payload bytes. The feature is a
    deterministic byte histogram folded to FEATURE_DIM buckets — stands
    in for an image/audio embedding while exercising identical batch
    shapes.

    Normalization is EXACT INTEGER micro-units ((count * 10^6) // total,
    then one IEEE division by 10^6): no float rounding call anywhere, so
    the values are bit-reproducible across engines and the registry entry
    carries a full DuckDB oracle instead of a rows-only check (cf. the
    round(double, n) midpoint pitfall in NOTES.md)."""

    def _extract(row) -> list[tuple]:
        buckets = [0] * FEATURE_DIM
        for byte in row.content:
            buckets[byte % FEATURE_DIM] += 1
        total = max(len(row.content), 1)
        feats = [(b * 1000000) // total / 1e6 for b in buckets]
        return [(row.doc_id, row.media_type, row.n_bytes, feats)]

    return map_media_rows(media, _extract, FEATURES_SCHEMA)


def frame_sample(media: DataFrame) -> DataFrame:
    """Metadata-planned sampling of every 10th frame of the stand-in
    video rows (the frame plan is real Spark arithmetic; pixels are not
    decoded).
    The REAL pixel-decoding form — one row per sampled frame with exact
    per-frame features — is mm_video_queries.q_mm_avi_frame_sample,
    built on avi_decode_frames below."""
    videos = media.filter(F.col("media_type") == "video")
    n_frames = (F.col("n_bytes") / 100 + 1).cast("int")  # fake duration model
    return videos.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), n_frames, F.lit(10))).alias("frame_idx"),
        "width",
        "height",
    )


# --- REAL container decode (no codec libraries needed) ---------------------
#
# Uncompressed containers need no codec library: WAV is a 44-byte RIFF
# header + raw PCM (stdlib `wave`), BMP is a 54-byte header + raw BGR
# rows (struct + numpy). These pipelines
# synthesize REAL container bytes from integer generative formulas,
# decode them back by PARSING THE CONTAINER (not by trusting the
# metadata), and emit exact-integer features — so the full
# encode -> decode -> feature loop carries a DuckDB oracle that
# recomputes the features from the formulas alone. A real deployment
# swaps the synthesizer for its media table and keeps the decoder.

WAV_RATE = 8000

#: shared blob-row contract of every container synthesizer: extending
#: one format's metadata means giving it its OWN schema, not widening
#: this one.
MEDIA_BLOB_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("content", BinaryType()),
    ]
)

WAV_FEATURES_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_samples", LongType()),
        StructField("sample_rate", LongType()),
        StructField("peak_abs", LongType()),
        StructField("zero_crossings", LongType()),
        StructField("energy", LongType()),
    ]
)


def _wav_params(doc_id: int) -> tuple[int, int]:
    """(n_samples, sawtooth step) — integer generative parameters. The
    sawtooth sample is ((i * step) % 65536) - 32768: pure integer, so
    the DuckDB oracle reproduces every sample exactly (a sine would pin
    the oracle to libm's non-correctly-rounded sin())."""
    return 400 + doc_id % 400, 64 + doc_id % 1000


def _wav_bytes(doc_id: int) -> bytes:
    """A REAL 16-bit mono PCM WAV blob (stdlib wave writer), waveform
    generated from _wav_params."""
    import io
    import wave as wave_mod

    import numpy as np

    n, step = _wav_params(doc_id)
    i = np.arange(n, dtype=np.int64)
    samples = ((i * step) % 65536 - 32768).astype("<i2")
    buf = io.BytesIO()
    with wave_mod.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(WAV_RATE)
        w.writeframes(samples.tobytes())
    return buf.getvalue()


def synthesize_wav_media(docs: DataFrame) -> DataFrame:
    """REAL 16-bit mono PCM WAV blobs (_wav_bytes), one per doc.
    mapInPandas: blobs are built executor-side from Arrow batches, never
    on the driver."""
    return _synthesize_blobs(docs, _wav_bytes)


def wav_decode_samples(blob: bytes):
    """Parse a 16-bit mono PCM WAV: (sample rate from the RIFF header,
    int64 samples from the PCM payload)."""
    import io
    import wave

    import numpy as np

    with wave.open(io.BytesIO(bytes(blob)), "rb") as w:
        rate = w.getframerate()
        raw = w.readframes(w.getnframes())
    return rate, np.frombuffer(raw, dtype="<i2").astype(np.int64)


def pcm_stats(s) -> tuple[int, int, int]:
    """(peak |amplitude|, strict sign-change zero crossings, energy =
    sum of squares) of int64 samples — exact integers."""
    import numpy as np

    neg = s < 0
    return (
        int(np.abs(s).max()) if len(s) else 0,
        int((neg[1:] != neg[:-1]).sum()),
        int((s * s).sum()),
    )


def wav_features(media: DataFrame, passthrough: tuple[str, ...] = ()) -> DataFrame:
    """Decode REAL WAV bytes by parsing the RIFF container (rate and
    sample count come from the HEADER, samples from the PCM payload) and
    emit exact-integer audio features: peak |amplitude|, strict
    sign-change zero crossings, total energy (sum of squares). All
    bigint — no FP anywhere — so the registry oracle recomputes them
    from the generative formula and any container/decode bug breaks the
    value hash.

    `passthrough` names extra BIGINT columns of `media` to carry through
    unchanged (e.g. a source's file-size metadata) so callers don't need
    a second scan + self-join just to keep sibling columns."""

    def dec(row) -> list[tuple]:
        rate, s = wav_decode_samples(row.content)
        return [
            (int(row.doc_id), len(s), rate)
            + pcm_stats(s)
            + tuple(int(getattr(row, c)) for c in passthrough)
        ]

    schema = StructType(
        WAV_FEATURES_SCHEMA.fields + [StructField(c, LongType()) for c in passthrough]
    )
    return map_media_rows(media, dec, schema)


BMP_FEATURES_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("sum_r", LongType()),
        StructField("sum_g", LongType()),
        StructField("sum_b", LongType()),
    ]
)


def _bmp_params(doc_id: int) -> tuple[int, int]:
    """(width, height) — widths cycle through every mod-4 padding case."""
    return 4 + doc_id % 13, 4 + doc_id % 9


def _bmp_pixel(doc_id: int, x, y):
    """(r, g, b) integer pixel formula — numpy-broadcastable."""
    return (
        (doc_id * 7 + x * 13 + y * 31) % 256,
        (doc_id * 11 + x * 17 + y * 5) % 256,
        (doc_id * 3 + x * 29 + y * 23) % 256,
    )


def bmp_container(pixel_data: bytes, w: int, h: int) -> bytes:
    """Assemble a real 24-bit uncompressed BMP (14-byte file header +
    40-byte BITMAPINFOHEADER) around a caller-supplied pixel array
    (bottom-up padded BGR rows) — the single header-assembly path for
    both the fixture generator and planted-content tests."""
    import struct as struct_mod

    dib = struct_mod.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(pixel_data), 2835, 2835, 0, 0
    )
    header = struct_mod.pack(
        "<2sIHHI", b"BM", 14 + 40 + len(pixel_data), 0, 0, 14 + 40
    )
    return header + dib + pixel_data


def _dib_rows(r, g, b) -> bytes:
    """(h, w) r/g/b planes -> bottom-up BGR rows padded to 4 bytes: the
    DIB pixel-array layout of BMP files and AVI '00db' frames (the
    inverse of _unpack_dib_rows)."""
    import numpy as np

    h, w = r.shape
    pad = (-(w * 3)) % 4
    # bottom-up storage: row y=h-1 first
    rows = []
    for yy in range(h - 1, -1, -1):
        px = np.empty((w, 3), dtype=np.uint8)
        px[:, 0] = b[yy]  # BGR order
        px[:, 1] = g[yy]
        px[:, 2] = r[yy]
        rows.append(px.tobytes() + b"\x00" * pad)
    return b"".join(rows)


def _bmp_bytes(d: int) -> bytes:
    """A REAL 24-bit uncompressed BMP blob (bmp_container layout), pixels
    from _bmp_pixel."""
    import numpy as np

    w, h = _bmp_params(d)
    x = np.arange(w, dtype=np.int64)[None, :]
    y = np.arange(h, dtype=np.int64)[:, None]
    return bmp_container(_dib_rows(*_bmp_pixel(d, x, y)), w, h)


def synthesize_bmp_media(docs: DataFrame) -> DataFrame:
    """REAL 24-bit uncompressed BMP blobs (_bmp_bytes), one per doc.
    Executor-side via mapInPandas."""
    return _synthesize_blobs(docs, _bmp_bytes)


def _rgb_sums(decode):
    """The per-row body shared by the image decoders that return an
    (h, w, 3) RGB array: (doc_id, width, height, sum_r, sum_g, sum_b)."""

    def dec(row) -> list[tuple]:
        img = decode(bytes(row.content))
        return [
            (
                int(row.doc_id),
                int(img.shape[1]),
                int(img.shape[0]),
                int(img[:, :, 0].sum()),
                int(img[:, :, 1].sum()),
                int(img[:, :, 2].sum()),
            )
        ]

    return dec


def bmp_features(media: DataFrame) -> DataFrame:
    """Decode REAL BMP bytes (bmp_decode_pixels: header parse + the
    shared DIB row unpack) and emit exact-integer channel sums —
    oracle-recomputable from _bmp_pixel."""
    return map_media_rows(media, _rgb_sums(bmp_decode_pixels), BMP_FEATURES_SCHEMA)


# --- PNG: a real COMPRESSED container, decoded with stdlib zlib only ----------


def _png_params(doc_id: int) -> tuple[int, int]:
    """(width, height) for the synthetic PNG — small and varied."""
    return 4 + doc_id % 11, 4 + doc_id % 7


def _paeth(a: int, b: int, c: int) -> int:
    """PNG Paeth predictor (spec §9.4)."""
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def _png_chunk(tag: bytes, payload: bytes) -> bytes:
    import struct as struct_mod
    import zlib

    return (
        struct_mod.pack(">I", len(payload))
        + tag
        + payload
        + struct_mod.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
    )


def _png_bytes(d: int) -> bytes:
    """A REAL 8-bit truecolor PNG blob: signature + IHDR + one
    zlib-deflated IDAT + IEND, CRC32 on every chunk. Pixels come from the
    same integer formula as the BMPs (_bmp_pixel, with _png_params dims);
    the scanline FILTER TYPE CYCLES y % 5 through None/Sub/Up/Average/
    Paeth, so a decoder that mis-implements any of the five unfilters
    produces wrong channel sums and breaks the oracle hash."""
    import struct as struct_mod
    import zlib

    import numpy as np

    w, h = _png_params(d)
    x = np.arange(w, dtype=np.int64)[None, :]
    y = np.arange(h, dtype=np.int64)[:, None]
    r, g, b = _bmp_pixel(d, x, y)
    raw_rows = []
    for yy in range(h):
        px = np.empty((w, 3), dtype=np.uint8)
        px[:, 0] = r[yy]
        px[:, 1] = g[yy]
        px[:, 2] = b[yy]
        raw_rows.append(px.reshape(-1).astype(np.int64))
    scanlines = []
    zeros = np.zeros(w * 3, dtype=np.int64)
    for yy in range(h):
        cur, prior = raw_rows[yy], raw_rows[yy - 1] if yy else zeros
        left = np.concatenate([np.zeros(3, dtype=np.int64), cur[:-3]])
        ul = np.concatenate([np.zeros(3, dtype=np.int64), prior[:-3]])
        ft = yy % 5
        if ft == 0:
            filt = cur
        elif ft == 1:
            filt = cur - left
        elif ft == 2:
            filt = cur - prior
        elif ft == 3:
            filt = cur - (left + prior) // 2
        else:
            pred = np.array(
                [_paeth(int(a), int(bb), int(c))
                 for a, bb, c in zip(left, prior, ul)],
                dtype=np.int64,
            )
            filt = cur - pred
        scanlines.append(
            bytes([ft]) + (filt % 256).astype(np.uint8).tobytes()
        )
    ihdr = struct_mod.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(b"".join(scanlines)))
        + _png_chunk(b"IEND", b"")
    )


def synthesize_png_media(docs: DataFrame) -> DataFrame:
    """REAL PNG blobs (_png_bytes), one per doc. Executor-side via
    mapInPandas — PNG is the compressed-container tier of the decode
    story (WAV/BMP are raw)."""
    return _synthesize_blobs(docs, _png_bytes)


def png_decode_pixels(data: bytes):
    """Decode an 8-bit truecolor PNG into (h, w, 3) RGB int64: verify
    signature + per-chunk CRC32, parse IHDR, zlib-inflate the
    concatenated IDAT stream, reverse all five scanline filters
    (None/Sub/Up/Average/Paeth)."""
    import struct as struct_mod
    import zlib

    import numpy as np

    if data[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("bad PNG signature")
    pos, w = 8, None
    idat = b""
    while pos < len(data):
        (ln,) = struct_mod.unpack_from(">I", data, pos)
        tag = data[pos + 4 : pos + 8]
        payload = data[pos + 8 : pos + 8 + ln]
        (crc,) = struct_mod.unpack_from(">I", data, pos + 8 + ln)
        if crc != (zlib.crc32(tag + payload) & 0xFFFFFFFF):
            raise ValueError("CRC")
        if tag == b"IHDR":
            w, h, depth, ctype = struct_mod.unpack_from(">IIBB", payload)
            if not (depth == 8 and ctype == 2):
                raise ValueError("unsupported PNG")
        elif tag == b"IDAT":
            idat += payload
        elif tag == b"IEND":
            break
        pos += 12 + ln
    raw = zlib.decompress(idat)
    stride = w * 3
    prior = np.zeros(stride, dtype=np.int64)
    rows = []
    for yy in range(h):
        off = yy * (stride + 1)
        ft = raw[off]
        filt = np.frombuffer(
            raw, dtype=np.uint8, count=stride, offset=off + 1
        ).astype(np.int64)
        if ft == 0:
            cur = filt
        elif ft == 1:  # Sub: per-channel prefix sum
            cur = filt.reshape(-1, 3).cumsum(axis=0).reshape(-1) % 256
        elif ft == 2:
            cur = (filt + prior) % 256
        else:  # Average / Paeth: sequential left dependency
            cur = np.empty(stride, dtype=np.int64)
            for i in range(stride):
                left = cur[i - 3] if i >= 3 else 0
                up = int(prior[i])
                ul = int(prior[i - 3]) if i >= 3 else 0
                if ft == 3:
                    cur[i] = (filt[i] + (left + up) // 2) % 256
                else:
                    cur[i] = (filt[i] + _paeth(int(left), up, ul)) % 256
        rows.append(cur.reshape(-1, 3))
        prior = cur
    return np.stack(rows)


def png_features(media: DataFrame) -> DataFrame:
    """Decode REAL PNG bytes (png_decode_pixels) and emit exact-integer
    channel sums — oracle-recomputable from the pixel formula alone."""
    return map_media_rows(media, _rgb_sums(png_decode_pixels), BMP_FEATURES_SCHEMA)


# --- GIF: LZW-compressed container (variable-width codes, hand-rolled) --------


def _gif_params(doc_id: int) -> tuple[int, int]:
    return 6 + doc_id % 10, 4 + doc_id % 8


def _gif_palette_rgb(idx):
    """256-entry palette formula (numpy-broadcastable): r=i, g=(i*7)%256,
    b=(i*13)%256 — mirrored verbatim by the DuckDB oracle."""
    return idx % 256, (idx * 7) % 256, (idx * 13) % 256


#: the 256-color global palette every synthetic GIF carries
_GIF_PALETTE = bytes(v for i in range(256) for v in _gif_palette_rgb(i))


#: the LZW min code size the synthetic GIFs declare (8-bit palette indices)
GIF_LZW_MIN_CODE_SIZE = 8


def _lzw_encode(indices: bytes) -> bytes:
    """GIF-variant LZW with variable code width (min+1 .. 12 bits,
    LSB-first packing), clear/EOI codes, dict reset at 4096."""
    min_code_size = GIF_LZW_MIN_CODE_SIZE
    clear, eoi = 1 << min_code_size, (1 << min_code_size) + 1
    next_code, width = eoi + 1, min_code_size + 1
    table = {bytes([i]): i for i in range(1 << min_code_size)}
    codes: list[tuple[int, int]] = [(clear, width)]
    w = b""
    for k in indices:
        wk = w + bytes([k])
        if wk in table:
            w = wk
            continue
        codes.append((table[w], width))
        if next_code < 4096:
            table[wk] = next_code
            next_code += 1
            if next_code - 1 == (1 << width) and width < 12:
                width += 1
        else:
            codes.append((clear, width))
            table = {bytes([i]): i for i in range(1 << min_code_size)}
            next_code, width = eoi + 1, min_code_size + 1
        w = bytes([k])
    if w:
        codes.append((table[w], width))
    codes.append((eoi, width))
    buf, acc, nbits = bytearray(), 0, 0
    for code, wd in codes:
        acc |= code << nbits
        nbits += wd
        while nbits >= 8:
            buf.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8
    if nbits:
        buf.append(acc & 0xFF)
    return bytes(buf)


def _lzw_decode(data: bytes, min_code_size: int = 8) -> bytes:
    clear, eoi = 1 << min_code_size, (1 << min_code_size) + 1
    width = min_code_size + 1
    base = [bytes([i]) for i in range(1 << min_code_size)] + [b"", b""]
    table = list(base)
    acc = nbits = pos = 0
    out = bytearray()
    prev = None
    while True:
        while nbits < width:
            acc |= data[pos] << nbits
            pos += 1
            nbits += 8
        code = acc & ((1 << width) - 1)
        acc >>= width
        nbits -= width
        if code == clear:
            table, width, prev = list(base), min_code_size + 1, None
            continue
        if code == eoi:
            return bytes(out)
        if code < len(table):
            entry = table[code]
        elif code == len(table) and prev is not None:
            entry = prev + prev[:1]  # the KwKwK case
        else:
            raise ValueError("bad LZW code")
        out += entry
        if prev is not None:
            table.append(prev + entry[:1])
            if len(table) == (1 << width) and width < 12:
                width += 1
        prev = entry
    raise ValueError("missing EOI")


def _gif_bytes(d: int) -> bytes:
    """A REAL GIF87a blob: header + logical screen descriptor + 256-color
    global palette (_gif_palette_rgb) + image descriptor + hand-rolled
    LZW-compressed pixel indices in <=255-byte sub-blocks + trailer.
    Pixel index formula (doc_id*5 + x*11 + y*17) % 256. The LZW variant
    (variable width, clear/EOI, 4096 reset) is round-trip-fuzzed in
    tests."""
    import struct as struct_mod

    import numpy as np

    w, h = _gif_params(d)
    x = np.arange(w, dtype=np.int64)[None, :]
    y = np.arange(h, dtype=np.int64)[:, None]
    idx = ((d * 5 + x * 11 + y * 17) % 256).astype(np.uint8)
    lzw = _lzw_encode(idx.tobytes())
    sub = b"".join(
        bytes([len(lzw[i : i + 255])]) + lzw[i : i + 255]
        for i in range(0, len(lzw), 255)
    )
    return (
        b"GIF87a"
        + struct_mod.pack("<HHBBB", w, h, 0xF7, 0, 0)  # GCT, 256 colors
        + _GIF_PALETTE
        + b"\x2c"
        + struct_mod.pack("<HHHHB", 0, 0, w, h, 0)  # image descriptor
        + bytes([GIF_LZW_MIN_CODE_SIZE])
        + sub
        + b"\x00\x3b"  # block terminator + trailer
    )


def synthesize_gif_media(docs: DataFrame) -> DataFrame:
    """REAL GIF87a blobs (_gif_bytes), one per doc. Executor-side via
    mapInPandas."""
    return _synthesize_blobs(docs, _gif_bytes)


def gif_decode_pixels(data: bytes):
    """Decode a GIF into (h, w, 3) RGB int64: parse header/screen
    descriptor, read the global color table, parse the image descriptor,
    reassemble the LZW sub-blocks, decompress, map indices through the
    palette."""
    import struct as struct_mod

    import numpy as np

    if data[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("bad GIF signature")
    sw, sh, flags, _bg, _ar = struct_mod.unpack_from("<HHBBB", data, 6)
    if not flags & 0x80:
        raise ValueError("no global color table")
    gct_len = 2 << (flags & 0x07)
    pos = 13
    pal = np.frombuffer(
        data, dtype=np.uint8, count=gct_len * 3, offset=pos
    ).reshape(gct_len, 3).astype(np.int64)
    pos += gct_len * 3
    if data[pos] != 0x2C:
        raise ValueError("expected image descriptor")
    _l, _t, w, h, iflags = struct_mod.unpack_from("<HHHHB", data, pos + 1)
    if iflags & 0x40:
        raise ValueError("interlace unsupported")
    pos += 10
    mcs = data[pos]
    pos += 1
    lzw = bytearray()
    while data[pos] != 0:
        ln = data[pos]
        lzw += data[pos + 1 : pos + 1 + ln]
        pos += 1 + ln
    idx = np.frombuffer(
        _lzw_decode(bytes(lzw), mcs), dtype=np.uint8
    ).astype(np.int64)
    if idx.size != w * h:
        raise ValueError("pixel count mismatch")
    return pal[idx].reshape(h, w, 3)


def gif_features(media: DataFrame) -> DataFrame:
    """Decode REAL GIF bytes (gif_decode_pixels) and emit exact-integer
    channel sums."""
    return map_media_rows(media, _rgb_sums(gif_decode_pixels), BMP_FEATURES_SCHEMA)


# ---- JPEG (baseline JFIF, grayscale) — the LOSSY-codec tier -------------
#
# A real ITU T.81 baseline decoder (marker parse, DQT, canonical DHT code
# assignment per spec C.2, entropy decode with EXTEND/ZRL/EOB, dequant,
# de-zigzag, float IDCT) and the matching encoder. Exactness strategy for
# the oracle: the fixture images are PIECEWISE-CONSTANT on the 8x8 block
# grid and the quant table is all ones, so every block is DC-only and the
# decoded pixels are bit-exact (the DC-only IDCT is a single float product
# with error ~1e-14, far inside the rounding radius). The ENTROPY layer is
# general (arbitrary sparse coefficients incl. >15 zero runs) and is
# fuzz-tested at the coefficient level in tests/test_text_multimodal.py.


def _jpeg_zigzag() -> list[int]:
    """Zigzag order -> raster index, generated (not typed) from the
    diagonal rule: odd anti-diagonals start at the top, even at the
    bottom. First entries pinned by test: 0,1,8,16,9,2,..."""
    out = []
    for s in range(15):
        rs = range(max(0, s - 7), min(s, 7) + 1)
        for r in (rs if s % 2 else reversed(list(rs))):
            out.append(r * 8 + (s - r))
    return out


_ZZ = _jpeg_zigzag()

#: custom (spec-legal) Huffman tables, canonical per T.81 C.2 — shared by
#: encoder and decoder through the same DHT segment bytes.
_JPEG_DC_BITS = [0, 0, 0, 12] + [0] * 12  # categories 0..11, all length 4
_JPEG_DC_VALS = list(range(12))
_JPEG_AC_VALS = [0x00, 0xF0] + [
    (r << 4) | s for r in range(16) for s in range(1, 11)
]
_JPEG_AC_BITS = [0] * 7 + [len(_JPEG_AC_VALS)] + [0] * 8  # all length 8


def _canonical_codes(bits: list[int], values: list[int]) -> dict[int, tuple[int, int]]:
    """T.81 Annex C.2: value -> (code, length)."""
    codes: dict[int, tuple[int, int]] = {}
    code, k = 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            codes[values[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return codes


class _JpegBitWriter:
    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, value: int, length: int) -> None:
        for i in reversed(range(length)):
            self.acc = (self.acc << 1) | ((value >> i) & 1)
            self.n += 1
            if self.n == 8:
                self.buf.append(self.acc)
                if self.acc == 0xFF:  # byte stuffing
                    self.buf.append(0x00)
                self.acc = self.n = 0

    def flush(self) -> bytes:
        while self.n:
            self.write(1, 1)  # pad with 1-bits per spec
        return bytes(self.buf)


class _JpegBitReader:
    def __init__(self, data: bytes) -> None:
        # un-stuff FF00 -> FF
        out = bytearray()
        i = 0
        while i < len(data):
            out.append(data[i])
            if data[i] == 0xFF and i + 1 < len(data) and data[i + 1] == 0x00:
                i += 1
            i += 1
        self.data = bytes(out)
        self.pos = 0  # bit position

    def bit(self) -> int:
        byte = self.data[self.pos >> 3]
        b = (byte >> (7 - (self.pos & 7))) & 1
        self.pos += 1
        return b

    def bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.bit()
        return v


def _huff_decode(reader: _JpegBitReader, table: dict[tuple[int, int], int]) -> int:
    code, length = 0, 0
    while length <= 16:
        code = (code << 1) | reader.bit()
        length += 1
        if (length, code) in table:
            return table[(length, code)]
    raise ValueError("invalid Huffman code in scan")


def _magnitude(v: int) -> tuple[int, int]:
    """(category, appended bits) per F.1.2.1 (two's-complement-ish)."""
    cat = abs(v).bit_length()
    return cat, (v if v >= 0 else v + (1 << cat) - 1)


def _extend(v: int, t: int) -> int:
    return v if t == 0 or v >= (1 << (t - 1)) else v + (-1 << t) + 1


def jpeg_encode_blocks(blocks: list[list[int]]) -> bytes:
    """Entropy-encode zigzag-order coefficient blocks (general baseline:
    DC differences, AC run-length with ZRL for >15 zero runs, EOB)."""
    dc = _canonical_codes(_JPEG_DC_BITS, _JPEG_DC_VALS)
    ac = _canonical_codes(_JPEG_AC_BITS, _JPEG_AC_VALS)
    w = _JpegBitWriter()
    pred = 0
    for zz in blocks:
        diff = zz[0] - pred
        pred = zz[0]
        cat, bits = _magnitude(diff)
        c, ln = dc[cat]
        w.write(c, ln)
        if cat:
            w.write(bits, cat)
        run = 0
        for k in range(1, 64):
            v = zz[k]
            if v == 0:
                run += 1
                continue
            while run > 15:
                c, ln = ac[0xF0]
                w.write(c, ln)
                run -= 16
            s, bits = _magnitude(v)
            c, ln = ac[(run << 4) | s]
            w.write(c, ln)
            w.write(bits, s)
            run = 0
        if run:
            c, ln = ac[0x00]
            w.write(c, ln)
    return w.flush()


def jpeg_decode_blocks(
    data: bytes,
    n_blocks: int,
    dc_table: dict[tuple[int, int], int],
    ac_table: dict[tuple[int, int], int],
) -> list[list[int]]:
    """Entropy-decode n_blocks zigzag-order coefficient blocks."""
    r = _JpegBitReader(data)
    out = []
    pred = 0
    for _ in range(n_blocks):
        zz = [0] * 64
        cat = _huff_decode(r, dc_table)
        pred += _extend(r.bits(cat), cat) if cat else 0
        zz[0] = pred
        k = 1
        while k < 64:
            rs = _huff_decode(r, ac_table)
            if rs == 0x00:  # EOB
                break
            if rs == 0xF0:  # ZRL
                k += 16
                continue
            k += rs >> 4
            s = rs & 0x0F
            zz[k] = _extend(r.bits(s), s)
            k += 1
        out.append(zz)
    return out


def _jpeg_params(doc_id: int) -> tuple[int, int]:
    """(block columns, block rows) — images are 8x8-aligned."""
    return 2 + doc_id % 3, 1 + doc_id % 2


def _jpeg_block_value(doc_id: int, bx, by):
    """Constant gray value of block (bx, by) — numpy-broadcastable."""
    return (doc_id * 7 + bx * 13 + by * 31) % 256


def _dht_segment(class_id: int, bits: list[int], values: list[int]) -> bytes:
    import struct as struct_mod

    payload = bytes([class_id]) + bytes(bits) + bytes(values)
    return b"\xff\xc4" + struct_mod.pack(">H", 2 + len(payload)) + payload


def _jpeg_bytes(doc_id: int) -> bytes:
    """A complete baseline JFIF file: flat 8x8 blocks, all-ones quant."""
    import struct as struct_mod

    bw, bh = _jpeg_params(doc_id)
    w, h = 8 * bw, 8 * bh
    blocks = []
    for by in range(bh):
        for bx in range(bw):
            v = int(_jpeg_block_value(doc_id, bx, by))
            zz = [8 * (v - 128)] + [0] * 63
            blocks.append(zz)
    scan = jpeg_encode_blocks(blocks)
    segs = [
        b"\xff\xd8",  # SOI
        b"\xff\xe0" + struct_mod.pack(">H", 16) + b"JFIF\x00\x01\x01\x00"
        + struct_mod.pack(">HH", 1, 1) + b"\x00\x00",  # APP0
        b"\xff\xdb" + struct_mod.pack(">H", 67) + b"\x00" + bytes([1] * 64),  # DQT
        b"\xff\xc0" + struct_mod.pack(">H", 11) + b"\x08"
        + struct_mod.pack(">HH", h, w) + b"\x01" + bytes([1, 0x11, 0]),  # SOF0
        _dht_segment(0x00, _JPEG_DC_BITS, _JPEG_DC_VALS),
        _dht_segment(0x10, _JPEG_AC_BITS, _JPEG_AC_VALS),
        b"\xff\xda" + struct_mod.pack(">H", 8) + b"\x01" + bytes([1, 0x00])
        + bytes([0, 63, 0]),  # SOS
        scan,
        b"\xff\xd9",  # EOI
    ]
    return b"".join(segs)


def jpeg_decode_gray(blob: bytes):
    """Parse a baseline grayscale JFIF file and return the decoded pixel
    array (h, w) uint8 — real marker walk, DHT/DQT from the FILE, entropy
    decode, dequant, de-zigzag, float IDCT, level shift."""
    import struct as struct_mod

    import numpy as np

    if blob[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    i = 2
    qt = None
    dc_table = ac_table = None
    w = h = None
    scan = None
    while i < len(blob):
        if blob[i] != 0xFF:
            raise ValueError("marker expected")
        marker = blob[i + 1]
        if marker == 0xD9:  # EOI
            break
        ln = struct_mod.unpack(">H", blob[i + 2 : i + 4])[0]
        seg = blob[i + 4 : i + 2 + ln]
        if marker == 0xDB:
            if seg[0] != 0x00:
                raise ValueError("only 8-bit quant table 0 supported")
            qt = list(seg[1:65])
        elif marker == 0xC0:
            h, w = struct_mod.unpack(">HH", seg[1:5])
            if seg[5] != 1:
                raise ValueError("grayscale only")
        elif marker == 0xC4:
            cls = seg[0]
            bits = list(seg[1:17])
            values = list(seg[17 : 17 + sum(bits)])
            dec = {
                (ln_, code): val
                for val, (code, ln_) in _canonical_codes(bits, values).items()
            }
            if cls & 0x10:
                ac_table = dec
            else:
                dc_table = dec
        elif marker == 0xDA:
            # entropy data runs to the next real marker (EOI here)
            j = i + 2 + ln
            k = j
            while not (blob[k] == 0xFF and blob[k + 1] not in (0x00,)):
                k += 1
            scan = blob[j:k]
            i = k
            continue
        i += 2 + ln
    if None in (qt, dc_table, ac_table, w, h, scan):
        raise ValueError("incomplete JPEG")
    bw, bh = w // 8, h // 8
    blocks = jpeg_decode_blocks(scan, bw * bh, dc_table, ac_table)
    u = np.arange(8)
    a = 0.5 * np.cos((2 * u[None, :] + 1) * u[:, None] * np.pi / 16)
    a[0, :] *= 1.0 / np.sqrt(2.0)
    img = np.zeros((h, w), dtype=np.int64)
    for idx, zz in enumerate(blocks):
        fmat = np.zeros((8, 8))
        for z, raster in enumerate(_ZZ):
            fmat[raster // 8, raster % 8] = zz[z] * qt[z]
        px = np.rint(a.T @ fmat @ a + 128.0).clip(0, 255).astype(np.int64)
        by, bx = divmod(idx, bw)
        img[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = px
    return img


JPEG_FEATURES_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("sum_px", LongType()),
        StructField("max_px", LongType()),
        StructField("min_px", LongType()),
    ]
)


def synthesize_jpeg_media(docs: DataFrame) -> DataFrame:
    """REAL baseline JFIF blobs, one per doc, executor-side."""

    return _synthesize_blobs(docs, _jpeg_bytes)


def jpeg_features(media: DataFrame) -> DataFrame:
    """Full-decode features from the pixel array (never the header
    alone): exact integer sum/max/min over decoded pixels."""

    def dec(row) -> list[tuple]:
        img = jpeg_decode_gray(bytes(row.content))
        return [
            (
                int(row.doc_id),
                int(img.shape[1]),
                int(img.shape[0]),
                int(img.sum()),
                int(img.max()),
                int(img.min()),
            )
        ]

    return map_media_rows(media, dec, JPEG_FEATURES_SCHEMA)


# ---- AVI (RIFF video container, raw DIB frames) — the VIDEO tier --------
#
# Video needs no CODEC when frames are stored uncompressed ('DIB '
# stream, BI_RGB): the work is honest CONTAINER parsing — RIFF chunk
# walk, LIST nesting (hdrl/strl/movi), word alignment, per-frame '00db'
# payloads unpacked exactly like bottom-up padded BGR BMP rows.


def _avi_params(doc_id: int) -> tuple[int, int, int]:
    """(width, height, n_frames)."""
    return 4 + doc_id % 8, 4 + doc_id % 6, 2 + doc_id % 4


def _avi_pixel(doc_id: int, f: int, x, y):
    """(r, g, b) integer pixel formula per frame — numpy-broadcastable."""
    return (
        (doc_id * 5 + f * 19 + x * 7 + y * 3) % 256,
        (doc_id * 13 + f * 23 + x * 3 + y * 11) % 256,
        (doc_id * 17 + f * 29 + x * 19 + y * 7) % 256,
    )


def _dib_frame(doc_id: int, f: int, w: int, h: int) -> bytes:
    """Frame f of the synthetic clip as DIB rows (_dib_rows)."""
    import numpy as np

    x = np.arange(w, dtype=np.int64)[None, :]
    y = np.arange(h, dtype=np.int64)[:, None]
    return _dib_rows(*_avi_pixel(doc_id, f, x, y))


def _chunk(fcc: bytes, payload: bytes) -> bytes:
    import struct as struct_mod

    body = fcc + struct_mod.pack("<I", len(payload)) + payload
    return body + (b"\x00" if len(payload) % 2 else b"")  # word align


def _list_chunk(kind: bytes, payload: bytes) -> bytes:
    return _chunk(b"LIST", kind + payload)


def avi_container(dib_frames: list[bytes], w: int, h: int) -> bytes:
    """Assemble a RIFF/AVI container (raw-DIB 24-bit video stream) around
    caller-supplied frame payloads — the single header-assembly path for
    both the fixture generator and planted-content tests, so a container
    layout change cannot silently diverge between them."""
    import struct as struct_mod

    n = len(dib_frames)
    frame_bytes = (w * 3 + ((-(w * 3)) % 4)) * h
    # the header's dwSuggestedBufferSize / biSizeImage are DERIVED from
    # (w, h); a caller-supplied frame of any other length would assemble
    # a container avi_decode_frames only rejects later with 'frame
    # payload size mismatch' — fail at construction instead (r9 ADVICE
    # low #3)
    for i, fr in enumerate(dib_frames):
        if len(fr) != frame_bytes:
            raise ValueError(
                f"avi_container: frame {i} is {len(fr)} bytes, expected"
                f" {frame_bytes} for {w}x{h} 24-bit bottom-up DIB rows"
            )
    avih = struct_mod.pack(
        "<14I", 40000, frame_bytes * 25, 0, 0x10, n, 0, 1, frame_bytes, w, h,
        0, 0, 0, 0,
    )
    strh = (
        b"vids" + b"DIB " + struct_mod.pack("<I", 0)
        + struct_mod.pack("<2H", 0, 0)
        + struct_mod.pack("<8I", 0, 1, 25, 0, n, frame_bytes, 0, 0)
        + struct_mod.pack("<4h", 0, 0, w, h)
    )
    strf = struct_mod.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, frame_bytes, 0, 0, 0, 0)
    hdrl = _list_chunk(
        b"hdrl",
        _chunk(b"avih", avih)
        + _list_chunk(b"strl", _chunk(b"strh", strh) + _chunk(b"strf", strf)),
    )
    movi = _list_chunk(
        b"movi", b"".join(_chunk(b"00db", fr) for fr in dib_frames)
    )
    riff_payload = b"AVI " + hdrl + movi
    return b"RIFF" + struct_mod.pack("<I", len(riff_payload)) + riff_payload


def _avi_bytes(doc_id: int) -> bytes:
    w, h, n = _avi_params(doc_id)
    return avi_container([_dib_frame(doc_id, f, w, h) for f in range(n)], w, h)


def avi_decode_frames(blob: bytes):
    """Parse the RIFF container and return (width, height, [frame arrays
    (h, w, 3) RGB]) — dimensions from the strf BITMAPINFOHEADER, frames
    from the movi '00db' chunks, rows un-padded and re-flipped."""
    import struct as struct_mod

    import numpy as np

    if blob[:4] != b"RIFF" or blob[8:12] != b"AVI ":
        raise ValueError("not an AVI")
    w = h = None
    frames = []

    def walk(data: bytes) -> None:
        nonlocal w, h
        i = 0
        while i + 8 <= len(data):
            fcc = data[i : i + 4]
            size = struct_mod.unpack("<I", data[i + 4 : i + 8])[0]
            payload = data[i + 8 : i + 8 + size]
            if fcc == b"LIST":
                walk(payload[4:])  # skip the list kind, recurse
            elif fcc == b"strf":
                _, bw, bh = struct_mod.unpack("<Iii", payload[:12])
                bit_count = struct_mod.unpack("<H", payload[14:16])[0]
                if bit_count != 24:
                    raise ValueError("only 24-bit DIB frames supported")
                w, h = bw, bh
            elif fcc == b"00db":
                frames.append(payload)
            i += 8 + size + (size % 2)  # word alignment

    walk(blob[12:])
    if w is None or not frames:
        raise ValueError("incomplete AVI")
    stride = w * 3 + ((-(w * 3)) % 4)
    for payload in frames:
        if len(payload) != stride * h:
            raise ValueError("frame payload size mismatch")
    return w, h, [_unpack_dib_rows(p, w, h) for p in frames]


AVI_FEATURES_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("n_frames", LongType()),
        StructField("sum_r", LongType()),
        StructField("sum_g", LongType()),
        StructField("sum_b", LongType()),
    ]
)


def synthesize_avi_media(docs: DataFrame) -> DataFrame:
    """REAL AVI blobs (raw-DIB video stream), one per doc, executor-side."""

    return _synthesize_blobs(docs, _avi_bytes)


def avi_features(media: DataFrame) -> DataFrame:
    """Decode ALL frames and emit exact integer per-channel sums across
    the whole clip plus container metadata."""

    def dec(row) -> list[tuple]:
        w, h, frames = avi_decode_frames(bytes(row.content))
        return [
            (
                int(row.doc_id),
                int(w),
                int(h),
                len(frames),
                int(sum(f[:, :, 0].sum() for f in frames)),
                int(sum(f[:, :, 1].sum() for f in frames)),
                int(sum(f[:, :, 2].sum() for f in frames)),
            )
        ]

    return map_media_rows(media, dec, AVI_FEATURES_SCHEMA)


FRAME_SAMPLE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("frame_idx", IntegerType()),
        StructField("sum_r", LongType()),
        StructField("sum_g", LongType()),
        StructField("sum_b", LongType()),
    ]
)


def _unpack_dib_rows(payload: bytes, w: int, h: int):
    """Bottom-up padded BGR rows -> (h, w, 3) RGB int64 — the DIB pixel
    array layout shared by BMP files and AVI '00db' frames (single
    source: bmp_features, bmp_decode_pixels, and avi_decode_frames all
    decode through here)."""
    import numpy as np

    stride = w * 3 + ((-(w * 3)) % 4)
    rows = np.frombuffer(payload[: stride * h], dtype=np.uint8).reshape(h, stride)
    bgr = rows[:, : w * 3].reshape(h, w, 3)[::-1]
    return bgr[:, :, ::-1].astype(np.int64)


def bmp_decode_pixels(blob: bytes):
    """Decode a 24-bit BMP into (h, w, 3) RGB int64 — header dims and
    pixel-array offset from the BITMAPINFOHEADER, rows via
    _unpack_dib_rows."""
    import struct as struct_mod

    if blob[:2] != b"BM":
        raise ValueError("not a BMP")
    (off,) = struct_mod.unpack_from("<I", blob, 10)
    w, h = struct_mod.unpack_from("<ii", blob, 18)
    (bpp,) = struct_mod.unpack_from("<H", blob, 28)
    if bpp != 24:
        raise ValueError("only 24-bit BMPs supported")
    if h < 0:
        # negative biHeight = top-down row order; _unpack_dib_rows
        # assumes bottom-up, so refuse loudly rather than silently
        # returning a vertically mirrored image
        raise ValueError("top-down (negative-height) BMPs not supported")
    return _unpack_dib_rows(blob[off:], w, h)


SCENE_CUT_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("frame_idx", IntegerType()),
        StructField("delta_sum", LongType()),
        StructField("mean_delta_milli", LongType()),
        StructField("is_cut", IntegerType()),
    ]
)


def avi_scene_cuts(media: DataFrame, thresh_milli: int) -> DataFrame:
    """Shot-boundary detection over decoded AVI frames: for every
    consecutive frame pair, the exact integer sum of absolute per-pixel
    per-channel differences, its per-cell mean in milli units, and the
    cut flag (mean >= thresh_milli). One mapInPandas pass; frames stay
    executor-side (media bytes never shuffle)."""

    def dec(row) -> list[tuple]:
        import numpy as np

        out = []
        w, h, frames = avi_decode_frames(bytes(row.content))
        cells = w * h * 3
        for i in range(1, len(frames)):
            delta = int(np.abs(frames[i] - frames[i - 1]).sum())
            mean_milli = delta * 1000 // cells
            out.append(
                (
                    int(row.doc_id),
                    i,
                    delta,
                    mean_milli,
                    int(mean_milli >= thresh_milli),
                )
            )
        return out

    return map_media_rows(media, dec, SCENE_CUT_SCHEMA)


CONTRAST_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_px", LongType()),
        StructField("sum_luma", LongType()),
        StructField("var_num", LongType()),
        StructField("is_low_contrast", IntegerType()),
    ]
)


def bmp_contrast_stats(media: DataFrame, var_milli_thresh: int) -> DataFrame:
    """Image-quality screening over decoded BMP pixels: integer luma per
    pixel (the BT.601-ish 2/5/1 rational weighting, x8 to stay integer:
    luma8 = 2r + 5g + b), EXACT population-variance numerator
    n*sum(luma8^2) - sum(luma8)^2, and the low-contrast flag
    (var_num * 1000 < thresh * n^2 cross-multiplied — no division, no
    doubles). One mapInPandas decode pass; media never shuffles."""

    def dec(row) -> list[tuple]:
        import numpy as np

        px = bmp_decode_pixels(bytes(row.content))
        luma = (
            2 * px[:, :, 0].astype(np.int64)
            + 5 * px[:, :, 1]
            + px[:, :, 2]
        ).ravel()
        n = int(luma.size)
        s = int(luma.sum())
        s2 = int((luma * luma).sum())
        var_num = n * s2 - s * s
        return [
            (
                int(row.doc_id),
                n,
                s,
                var_num,
                int(var_num * 1000 < var_milli_thresh * n * n),
            )
        ]

    return map_media_rows(media, dec, CONTRAST_SCHEMA)


#: 8-point DCT-II cosine basis in micro units: COS8_MICRO[k][x] =
#: round(cos(pi*(2x+1)*k/16) * 1e6) — planted identically in the DuckDB
#: oracle so the whole pHash is exact integer arithmetic (the
#: ranking_eval DISC_MICRO discipline; no transcendental at query time).
COS8_MICRO = (
    (1000000, 1000000, 1000000, 1000000, 1000000, 1000000, 1000000, 1000000),
    (980785, 831470, 555570, 195090, -195090, -555570, -831470, -980785),
    (923880, 382683, -382683, -923880, -923880, -382683, 382683, 923880),
    (831470, -195090, -980785, -555570, 555570, 980785, 195090, -831470),
    (707107, -707107, -707107, 707107, 707107, -707107, -707107, 707107),
    (555570, -980785, 195090, 831470, -831470, -195090, 980785, -555570),
    (382683, -923880, 923880, -382683, -382683, 923880, -923880, 382683),
    (195090, -555570, 831470, -980785, 980785, -831470, 555570, -195090),
)

PHASH_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("phash", LongType()),
        StructField("dc_coeff", LongType()),
        StructField("median_coeff", LongType()),
    ]
)


def bmp_phash_dct(media: DataFrame) -> DataFrame:
    """Perceptual hash, DCT tier (the classic pHash recipe at 8x8):
    nearest-resize the decoded image to 8x8 (floor index mapping
    sx = tx*w DIV 8 — the mm_resize_nearest rule), integer luma8
    (2r+5g+b), exact integer 8x8 DCT-II via the planted COS8_MICRO
    basis, then the hash bit for each of the 15 lowest-frequency AC
    coefficients (zigzag-free top-left 4x4 minus DC) is coeff > median
    (median = mean of the 8th/9th order statistics of those 15 — exact
    under integer-sum-of-two DIV 2). One mapInPandas pass."""

    import numpy as np

    cos = np.array(COS8_MICRO, dtype=np.int64)

    def dec(row) -> list[tuple]:
        px = bmp_decode_pixels(bytes(row.content))
        h, w = px.shape[0], px.shape[1]
        sy = (np.arange(8) * h) // 8
        sx = (np.arange(8) * w) // 8
        small = px[np.ix_(sy, sx)]
        luma = (
            2 * small[:, :, 0].astype(np.int64)
            + 5 * small[:, :, 1]
            + small[:, :, 2]
        )
        # D[k,l] = sum_{y,x} luma[y,x] * cos[k,y] * cos[l,x]
        d = cos @ luma @ cos.T
        ac = [
            int(d[k, l])
            for k in range(4)
            for l in range(4)
            if not (k == 0 and l == 0)
        ]
        s = sorted(ac)
        median2 = s[7] + s[8]  # 15 values: median = 8th (idx 7);
        # use the mean of idx 7 and 8 to match an even-split rule
        # shared with the oracle (sum DIV 2, exact both engines)
        median = median2 // 2 if median2 >= 0 else -((-median2) // 2)
        bits = 0
        pos = 0
        for k in range(4):
            for l in range(4):
                if k == 0 and l == 0:
                    continue
                if int(d[k, l]) > median:
                    bits |= 1 << pos
                pos += 1
        return [(int(row.doc_id), bits, int(d[0, 0]), median)]

    return map_media_rows(media, dec, PHASH_SCHEMA)
