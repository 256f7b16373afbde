"""Multimodal column plumbing (BASELINE.json mandate): image/audio/video
payloads as opaque ``binary`` columns with typed metadata, encoded, decoded
and feature-extracted through the engine's one Arrow row kernel,
:func:`findb_spark.session.map_rows`.  Each operator below is only its
per-row function — ``(doc_id, payload) -> [output tuples]`` — and its
output schema; the kernel owns the batch loop and the frame assembly.

The real media libraries (PIL/ffmpeg/torchaudio) are not in this
container, so the *decode* step in the first operators below is a
deterministic fake over the payload bytes (clearly marked), while
everything Spark-side — schema, binary handling, Arrow batch shape,
partitioning — is real and tested. Swap `_decode_image_bytes` for a PIL
call and the pipeline is production shaped. The operators further down
are REAL codecs end-to-end: P6 PPM + RIFF/WAV (uncompressed), RFC 2083
PNG (chunked, CRC-32, zlib DEFLATE, all five scanline filters) and ITU-T
G.711 mu-law (lossy integer companding) — see functions/media_codec.py.

Scale: payloads at 100 TB dominate row size — the layout rule is to keep
metadata and payloads in the same row but rely on Parquet column pruning
(metadata-only queries never deserialize payload pages), and to size
``spark.sql.files.maxPartitionBytes`` so one task holds a bounded number
of payloads. map_rows streams Arrow record batches, so executor memory
is bounded by batch size, not partition size.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame, functions as F

from findb_spark.session import map_rows

#: metadata schema produced by the decode step
DECODED_SCHEMA = (
    "doc_id BIGINT, n_bytes INT, width INT, height INT, channels INT, format STRING"
)


def attach_payload(docs: DataFrame) -> DataFrame:
    """Attach a deterministic synthetic binary payload (md5 digest bytes of
    the text) plus source metadata — stands in for real image bytes."""
    # project the payload once, then measure it — inlining the md5 twice
    # would evaluate it twice per row (Catalyst does not reliably CSE
    # across projection expressions)
    return docs.select(
        "doc_id",
        F.unhex(F.md5(F.col("text"))).alias("payload"),
        F.lit("image/fake").alias("media_type"),
    ).withColumn("n_bytes", F.octet_length("payload"))


def _attach_encoded(docs: DataFrame, encode) -> DataFrame:
    """``(doc_id, payload)`` with ``payload = encode(doc_id)``."""
    return map_rows(
        docs.select("doc_id"), lambda d: [(d, encode(d))], "doc_id BIGINT, payload BINARY"
    )


def _decode_image_bytes(payload: bytes) -> tuple[int, int, int, str]:
    """DETERMINISTIC FAKE of an image decode (no media libs in container).

    Derives (width, height, channels, format) from the payload bytes the
    way a real decoder would read a header. Replace with PIL:
    ``img = PIL.Image.open(io.BytesIO(payload))``.
    """
    width = 16 + (int.from_bytes(payload[0:2], "big") % 640)
    height = 16 + (int.from_bytes(payload[2:4], "big") % 480)
    channels = 1 + (payload[4] % 3)
    return width, height, channels, "fake"


def decode_metadata(with_payload: DataFrame) -> DataFrame:
    """Arrow-batched decode: map_rows over (doc_id, payload) producing
    typed image metadata. Batch-shape-real; decode itself is the fake."""
    return map_rows(
        with_payload.select("doc_id", "payload"),
        lambda doc_id, payload: [(doc_id, len(payload), *_decode_image_bytes(payload))],
        DECODED_SCHEMA,
    )


#: schema of the frame-sampling step: one output row per sampled frame
FRAMES_SCHEMA = "doc_id BIGINT, frame_index INT, frame_key BIGINT"

#: bytes per synthetic "frame" inside a payload
FRAME_BYTES = 4


def sample_frames(with_payload: DataFrame, every_n: int = 2) -> DataFrame:
    """Frame sampling with REAL Spark plumbing and a deterministic fake
    decoder (no ffmpeg in container): the payload is treated as a
    concatenation of 4-byte frames; every ``every_n``-th frame is emitted
    as (doc_id, frame_index, frame_key), a row-expanding (1 -> n_frames)
    Arrow-batched map_rows stage — the exact batch shape a real
    ffmpeg-backed sampler would have (replace the int.from_bytes with a
    frame decode + feature hash).

    Scale: expansion happens executor-side inside the Arrow batch; no
    shuffle. Downstream per-frame ops see a normal DataFrame."""

    def frames(doc_id, payload):
        n_frames = len(payload) // FRAME_BYTES
        return [
            (doc_id, i, int.from_bytes(payload[i * FRAME_BYTES : (i + 1) * FRAME_BYTES], "big"))
            for i in range(0, n_frames, every_n)
        ]

    return map_rows(with_payload.select("doc_id", "payload"), frames, FRAMES_SCHEMA)


# --- REAL codecs: PPM images / WAV audio (no media libs required) ---------
#
# The fake-decode paths above keep the original contract; the operators
# below are REAL end-to-end: actual P6/RIFF byte encoding on attach, actual
# header-parse + pixel/sample decode in the row functions. See
# functions/media_codec.py. (JPEG/OPUS would swap the codec lines only.)

PPM_DECODED_SCHEMA = (
    "doc_id BIGINT, width INT, height INT, channels INT, sum_pixels BIGINT"
)


def attach_ppm_payload(docs: DataFrame) -> DataFrame:
    """(doc_id, payload): a valid P6 PPM image per doc, content a
    closed-form function of doc_id (media_codec.image_pixels)."""
    from findb_spark.functions.media_codec import encode_ppm, image_pixels

    return _attach_encoded(docs, lambda d: encode_ppm(image_pixels(int(d))))


def decode_ppm_metadata(with_payload: DataFrame) -> DataFrame:
    """REAL image decode: P6 header parse + pixel read; emits dimensions and
    the exact integer pixel sum (feature extraction with no float drift)."""
    from findb_spark.functions.media_codec import decode_ppm

    def metadata(doc_id, payload):
        px = decode_ppm(bytes(payload))
        return [(doc_id, px.shape[1], px.shape[0], px.shape[2], int(px.sum()))]

    return map_rows(with_payload.select("doc_id", "payload"), metadata, PPM_DECODED_SCHEMA)


def resize_ppm_images(with_payload: DataFrame, out_w: int, out_h: int) -> DataFrame:
    """REAL resize: decode P6 -> nearest-neighbor resample -> re-encode P6.
    Output (doc_id, payload, width, height) — a valid image column again,
    ready for the next pipeline stage."""
    from findb_spark.functions.media_codec import (
        decode_ppm,
        encode_ppm,
        resize_nearest,
    )

    def resized(doc_id, payload):
        small = resize_nearest(decode_ppm(bytes(payload)), out_w, out_h)
        return [(doc_id, encode_ppm(small), out_w, out_h)]

    return map_rows(
        with_payload.select("doc_id", "payload"),
        resized,
        "doc_id BIGINT, payload BINARY, width INT, height INT",
    )


AUDIO_FEATURES_SCHEMA = (
    "doc_id BIGINT, sample_rate INT, n_samples INT, "
    "sum_sq BIGINT, zero_crossings INT"
)


def attach_wav_payload(docs: DataFrame) -> DataFrame:
    """(doc_id, payload): a valid RIFF/WAV PCM16 clip per doc
    (media_codec.audio_samples)."""
    from findb_spark.functions.media_codec import audio_samples, encode_wav

    return _attach_encoded(docs, lambda d: encode_wav(audio_samples(int(d))))


def wav_features(with_payload: DataFrame) -> DataFrame:
    """REAL audio feature extraction: RIFF header parse, int16 sample
    decode, exact integer energy (sum of squares) + zero-crossing count."""
    from findb_spark.functions.media_codec import decode_wav

    def features(doc_id, payload):
        rate, s = decode_wav(bytes(payload))
        s64 = s.astype("int64")
        zc = int(np.count_nonzero(np.signbit(s64[1:]) != np.signbit(s64[:-1])))
        return [(doc_id, rate, len(s), int((s64 * s64).sum()), zc)]

    return map_rows(with_payload.select("doc_id", "payload"), features, AUDIO_FEATURES_SCHEMA)


#: aHash output schema: 64-bit perceptual hash split into two 32-bit words
#: (a single bigint would need bit 63, whose shift overflow semantics
#: differ across engines)
AHASH_SCHEMA = "doc_id BIGINT, ahash_hi BIGINT, ahash_lo BIGINT"


def image_ahash(with_payload: DataFrame) -> DataFrame:
    """Perceptual average-hash (aHash) over REAL decoded P6 PPM payloads:
    integer grayscale ((r+g+b)//3), nearest-neighbor 8x8 downsample
    (src index (i*dim)//8 — the same mapping media_codec's resize uses),
    threshold at the floor-mean, bit i = row-major (r*8+c).  All integer
    ops, so the hash is reproducible by the closed-form pixel formula
    oracle without parsing bytes.

    This is the multimodal analog of SimHash: near-identical images land
    on identical (or near) hashes, so a plain hash groupBy gives
    perceptual dedup buckets at any corpus size."""
    from findb_spark.functions.media_codec import decode_ppm

    def ahash(doc_id, payload):
        px = decode_ppm(bytes(payload)).astype(np.int64)
        h, w = px.shape[0], px.shape[1]
        gray = px.sum(axis=2) // 3
        r_idx = (np.arange(8) * h) // 8
        c_idx = (np.arange(8) * w) // 8
        g8 = gray[np.ix_(r_idx, c_idx)]
        mean = int(g8.sum()) // 64
        bits = (g8 >= mean).flatten()  # i = r*8 + c
        lo = sum(1 << i for i in range(32) if bits[i])
        hi = sum(1 << (i - 32) for i in range(32, 64) if bits[i])
        return [(doc_id, hi, lo)]

    return map_rows(with_payload.select("doc_id", "payload"), ahash, AHASH_SCHEMA)


#: frame-level audio features: one row per 64-sample frame
AUDIO_FRAMES_SCHEMA = "doc_id BIGINT, frame_idx INT, frame_energy BIGINT"

AUDIO_FRAME_LEN = 64


def wav_frame_energies(with_payload: DataFrame) -> DataFrame:
    """REAL windowed audio feature extraction: decode the RIFF/WAV PCM16
    payload and emit one row per 64-sample frame with its exact integer
    energy (sum of squared int16 samples) — the row-expanding frame shape
    a real spectrogram/VAD pipeline has, with no float drift."""
    from findb_spark.functions.media_codec import decode_wav

    def energies(doc_id, payload):
        _, s = decode_wav(bytes(payload))
        s64 = s.astype("int64")
        n_frames = len(s64) // AUDIO_FRAME_LEN
        rows = []
        for fi in range(n_frames):
            seg = s64[fi * AUDIO_FRAME_LEN : (fi + 1) * AUDIO_FRAME_LEN]
            rows.append((doc_id, fi, int((seg * seg).sum())))
        return rows

    return map_rows(with_payload.select("doc_id", "payload"), energies, AUDIO_FRAMES_SCHEMA)


#: long-format thumbnail cells: one row per (doc, out-row, out-col)
THUMB_SCHEMA = "doc_id BIGINT, r INT, c INT, red INT, green INT, blue INT"


def _cells(doc_id, img, offset: int = 0) -> list[tuple]:
    """One :data:`THUMB_SCHEMA` row per cell of the (h, w, 3) integer image
    ``img``; cell (r, c) is reported at (r + offset, c + offset)."""
    return [
        (
            doc_id,
            r + offset,
            c + offset,
            int(img[r, c, 0]),
            int(img[r, c, 1]),
            int(img[r, c, 2]),
        )
        for r in range(img.shape[0])
        for c in range(img.shape[1])
    ]


def image_resize_thumbs(
    with_payload: DataFrame, out_w: int = 4, out_h: int = 4
) -> DataFrame:
    """REAL image resize over decoded P6 PPM payloads: nearest-neighbor
    downsample to (out_h, out_w) (floor index mapping, media_codec
    .resize_nearest — the same mapping image_ahash uses for its 8x8
    grid), emitted LONG (one row per output cell) so the thumbnail is a
    relational object downstream operators can join/aggregate.

    The integer-only pipeline keeps every output cell reproducible from
    the closed-form pixel formula — the oracle for the registered query
    recomputes the thumbnails without touching bytes.  At corpus scale
    this is the standard decode->resize Arrow stage: one narrow
    map_rows pass, out_h*out_w rows per image regardless of source
    resolution."""
    from findb_spark.functions.media_codec import decode_ppm, resize_nearest

    def thumbs(doc_id, payload):
        px = decode_ppm(bytes(payload))
        return _cells(doc_id, resize_nearest(px, out_w, out_h).astype(np.int64))

    return map_rows(with_payload.select("doc_id", "payload"), thumbs, THUMB_SCHEMA)


def image_boxblur_cells(with_payload: DataFrame) -> DataFrame:
    """REAL stencil kernel over decoded P6 PPM payloads: 3x3 integer box
    blur (sum of the 9-neighborhood, floor-divided by 9) on the image
    interior ('valid' region, no padding semantics to pin), emitted LONG —
    one row per interior cell per channel triple.

    This is the convolution stage of an image feature pipeline with the
    library dependency removed: separable two-pass numpy sums inside one
    Arrow map_rows batch, all-integer so every output cell is exactly
    the closed-form pixel formula's neighborhood mean — the registered
    oracle recomputes it without touching bytes. At corpus scale the
    kernel is embarrassingly parallel per image; batch shape and schema
    are identical to the resize stage so the two compose."""
    from findb_spark.functions.media_codec import decode_ppm

    def blurred(doc_id, payload):
        px = decode_ppm(bytes(payload)).astype(np.int64)
        s = px[:-2, :, :] + px[1:-1, :, :] + px[2:, :, :]
        s = s[:, :-2, :] + s[:, 1:-1, :] + s[:, 2:, :]
        return _cells(doc_id, s // 9, offset=1)

    return map_rows(with_payload.select("doc_id", "payload"), blurred, THUMB_SCHEMA)


# --- REAL compressed / companded codecs: PNG images, G.711 mu-law audio ----
#
# These close the "compressed-format decode" gap the PPM/WAV codecs leave
# open: PNG is a real chunked+CRC'd+DEFLATE format (stdlib zlib), mu-law a
# real ITU-T telephony codec. Same map_rows plumbing as above.

PNG_DECODED_SCHEMA = (
    "doc_id BIGINT, width INT, height INT, sum_pixels BIGINT, sum_sq BIGINT"
)


def attach_png_payload(docs: DataFrame) -> DataFrame:
    """(doc_id, payload): a valid RFC 2083 PNG per doc — IHDR/IDAT/IEND
    chunks, CRC-32, zlib-DEFLATE scanlines filtered with type r % 5 —
    content a closed-form function of doc_id (media_codec.png_pixels)."""
    from findb_spark.functions.media_codec import encode_png, png_pixels

    return _attach_encoded(docs, lambda d: encode_png(png_pixels(int(d))))


def decode_png_metadata(with_payload: DataFrame) -> DataFrame:
    """REAL compressed-image decode: CRC-verified chunk walk, zlib inflate,
    all-five-filter scanline reconstruction; emits dimensions plus exact
    integer pixel sum and sum of squares (no float drift)."""
    from findb_spark.functions.media_codec import decode_png

    def metadata(doc_id, payload):
        px = decode_png(bytes(payload)).astype(np.int64)
        return [(doc_id, px.shape[1], px.shape[0], int(px.sum()), int((px * px).sum()))]

    return map_rows(with_payload.select("doc_id", "payload"), metadata, PNG_DECODED_SCHEMA)


MULAW_FEATURES_SCHEMA = (
    "doc_id BIGINT, n_samples INT, sum_decoded BIGINT, sum_abs_err BIGINT"
)


def attach_mulaw_payload(docs: DataFrame) -> DataFrame:
    """(doc_id, payload): one G.711 mu-law byte per sample of the doc's
    synthetic PCM clip (media_codec.audio_samples)."""
    from findb_spark.functions.media_codec import audio_samples, encode_mulaw

    return _attach_encoded(docs, lambda d: encode_mulaw(audio_samples(int(d))))


def mulaw_roundtrip_features(with_payload: DataFrame) -> DataFrame:
    """REAL lossy-codec roundtrip metrics: decode the mu-law bytes through
    the 256-entry inverse companding table and emit the exact integer sum
    of reconstructed samples plus the total absolute quantization error
    against the original PCM (the codec-quality signal, all int64)."""
    from findb_spark.functions.media_codec import audio_samples, decode_mulaw

    def features(doc_id, payload):
        y = decode_mulaw(bytes(payload)).astype(np.int64)
        x = audio_samples(int(doc_id)).astype(np.int64)
        return [(doc_id, len(y), int(y.sum()), int(np.abs(y - x).sum()))]

    return map_rows(with_payload.select("doc_id", "payload"), features, MULAW_FEATURES_SCHEMA)


JPEG_FEATURES_SCHEMA = (
    "doc_id BIGINT, width INT, height INT, sum_decoded BIGINT, sum_abs_err BIGINT"
)


def attach_jpeg_payload(docs: DataFrame) -> DataFrame:
    """(doc_id, payload): a real baseline JFIF stream per doc —
    SOI/APP0/DQT/SOF0/DHT/SOS/EOI, canonical Huffman entropy coding with
    byte stuffing — content a closed-form function of doc_id
    (jpeg_codec.jpeg_pixels)."""
    from findb_spark.functions.jpeg_codec import encode_jpeg, jpeg_pixels

    return _attach_encoded(docs, lambda d: encode_jpeg(jpeg_pixels(int(d))))


def jpeg_roundtrip_features(with_payload: DataFrame) -> DataFrame:
    """REAL lossy image codec roundtrip: Huffman-decode the JFIF entropy
    scan, dequantize, inverse integer DCT, and emit exact integer decoded
    sum plus total absolute reconstruction error vs the source pixels."""
    from findb_spark.functions.jpeg_codec import decode_jpeg, jpeg_pixels

    def features(doc_id, payload):
        dec = decode_jpeg(bytes(payload)).astype(np.int64)
        src = jpeg_pixels(int(doc_id)).astype(np.int64)
        return [
            (doc_id, dec.shape[1], dec.shape[0], int(dec.sum()), int(np.abs(dec - src).sum()))
        ]

    return map_rows(with_payload.select("doc_id", "payload"), features, JPEG_FEATURES_SCHEMA)
