"""Pure-Python/numpy media codecs: PPM (P6) and PNG (RFC 2083) images,
WAV (RIFF PCM16) and G.711 mu-law audio.

These are REAL byte-format codecs — actual header parse + payload decode —
chosen precisely because they need no external media library (the container
has no PIL/ffmpeg): P6 is `b"P6\\n<w> <h>\\n255\\n" + RGB bytes`, WAV is a
44-byte RIFF header + little-endian int16 samples, PNG is chunked
(IHDR/IDAT/IEND with CRC-32) zlib-DEFLATE-compressed scanlines under the
five RFC 2083 §6 filter types, and mu-law is the ITU-T G.711 logarithmic
companding codec (the Sun/CCITT integer formulation). The Spark operators
in ops/multimodal.py call these from per-row functions that the engine's
one Arrow row kernel (session.map_rows) runs; swapping in a JPEG/OPUS
codec changes only these few dozen lines, none of the Spark plumbing.

Synthetic content is a closed-form integer function of (doc_id, position),
so a DuckDB oracle can recompute features *from the formula* while Spark
recomputes them *from the decoded bytes* — the parity check covers the
entire encode → bytes → decode → feature path end-to-end with exact
integer math. PNG is lossless, so the oracle is the pixel formula itself;
mu-law is lossy but memoryless, so decode(encode(x)) is a closed-form
integer function of x that the oracle expresses directly in SQL.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

# --- deterministic synthetic content (the "sensor") -----------------------


def image_dims(doc_id: int) -> tuple[int, int]:
    return 8 + doc_id % 5, 6 + doc_id % 4  # (width, height)


def image_pixels(doc_id: int) -> np.ndarray:
    """(h, w, 3) uint8 — pixel(ch, r, c) = (doc_id*31 + r*17 + c*13 + ch*7) % 256."""
    w, h = image_dims(doc_id)
    r = np.arange(h).reshape(h, 1, 1)
    c = np.arange(w).reshape(1, w, 1)
    ch = np.arange(3).reshape(1, 1, 3)
    return ((doc_id * 31 + r * 17 + c * 13 + ch * 7) % 256).astype(np.uint8)


N_SAMPLES = 256
SAMPLE_RATE = 8000


def audio_samples(doc_id: int) -> np.ndarray:
    """int16[N_SAMPLES] — s_i = ((doc_id*7349 + i*4799) % 65536) - 32768."""
    i = np.arange(N_SAMPLES, dtype=np.int64)
    return ((doc_id * 7349 + i * 4799) % 65536 - 32768).astype(np.int16)


# --- PPM (P6) -------------------------------------------------------------


def encode_ppm(pixels: np.ndarray) -> bytes:
    h, w, _ = pixels.shape
    return b"P6\n%d %d\n255\n" % (w, h) + pixels.tobytes()


def decode_ppm(payload: bytes) -> np.ndarray:
    """Parse the P6 header and return the (h, w, 3) uint8 pixel array."""
    if not payload.startswith(b"P6"):
        raise ValueError("not a P6 PPM payload")
    # header: magic, whitespace, width, height, maxval, single whitespace
    parts = payload.split(b"\n", 3)
    w, h = (int(x) for x in parts[1].split())
    maxval = int(parts[2])
    if maxval != 255:
        raise ValueError(f"unsupported maxval {maxval}")
    return np.frombuffer(parts[3], dtype=np.uint8, count=h * w * 3).reshape(h, w, 3)


def resize_nearest(pixels: np.ndarray, out_w: int, out_h: int) -> np.ndarray:
    """Nearest-neighbor resize (floor index mapping — deterministic)."""
    h, w, _ = pixels.shape
    rows = (np.arange(out_h) * h) // out_h
    cols = (np.arange(out_w) * w) // out_w
    return pixels[rows][:, cols]


# --- WAV (RIFF PCM16 mono) ------------------------------------------------


def encode_wav(samples: np.ndarray, sample_rate: int = SAMPLE_RATE) -> bytes:
    data = samples.astype("<i2").tobytes()
    hdr = struct.pack(
        "<4sI4s4sIHHIIHH4sI",
        b"RIFF", 36 + len(data), b"WAVE",
        b"fmt ", 16, 1, 1, sample_rate, sample_rate * 2, 2, 16,
        b"data", len(data),
    )
    return hdr + data


def decode_wav(payload: bytes) -> tuple[int, np.ndarray]:
    """Parse the RIFF header; return (sample_rate, int16 samples)."""
    (riff, _, wave, fmt, fmt_len, codec, n_ch, rate, _, _, bits, data, data_len) = (
        struct.unpack("<4sI4s4sIHHIIHH4sI", payload[:44])
    )
    if riff != b"RIFF" or wave != b"WAVE" or codec != 1 or bits != 16 or n_ch != 1:
        raise ValueError("unsupported WAV layout")
    return rate, np.frombuffer(payload[44 : 44 + data_len], dtype="<i2")

# --- PNG (RFC 2083): real chunked + CRC'd + DEFLATE-compressed images ------
#
# Encoder filters scanline r with filter type (r % 5), so a correct decoder
# must implement ALL FIVE RFC 2083 §6 filters (None/Sub/Up/Average/Paeth)
# to reconstruct even one image; the stdlib zlib provides the (real)
# DEFLATE layer. Color type 2 (8-bit truecolor RGB), no interlace.

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
_PNG_BPP = 3  # bytes per pixel (8-bit RGB)


def png_dims(doc_id: int) -> tuple[int, int]:
    """(width, height) of the synthetic PNG for doc_id — larger than the
    PPM images so every filter type appears in every image (h >= 12 > 5)."""
    return 16 + doc_id % 9, 12 + doc_id % 7


def png_pixels(doc_id: int) -> np.ndarray:
    """(h, w, 3) uint8 — pixel(ch, r, c) = (doc_id*37 + r*19 + c*11 + ch*5) % 256.

    Distinct constants from image_pixels so the PNG relation is not a
    restatement of the PPM one."""
    w, h = png_dims(doc_id)
    r = np.arange(h).reshape(h, 1, 1)
    c = np.arange(w).reshape(1, w, 1)
    ch = np.arange(3).reshape(1, 1, 3)
    return ((doc_id * 37 + r * 19 + c * 11 + ch * 5) % 256).astype(np.uint8)


def _paeth(a: np.ndarray, b: np.ndarray, c: np.ndarray) -> np.ndarray:
    """RFC 2083 §6.6 Paeth predictor, vectorized (int32 in/out)."""
    p = a + b - c
    pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - c)
    return np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c))


def _png_chunk(typ: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + typ
        + data
        + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
    )


def encode_png(pixels: np.ndarray) -> bytes:
    """Encode (h, w, 3) uint8 pixels as a real PNG byte stream.

    Scanline r uses filter type r % 5 — a deterministic schedule that
    exercises the whole filter spec on every image."""
    h, w, _ = pixels.shape
    px = pixels.astype(np.int32)
    zero = np.zeros((1, _PNG_BPP), np.int32)
    prev = np.zeros((w, _PNG_BPP), np.int32)
    lines = bytearray()
    for r in range(h):
        row = px[r]
        a = np.vstack([zero, row[:-1]])       # left neighbor (same channel)
        b = prev                              # above
        c = np.vstack([zero, prev[:-1]])      # upper-left
        ft = r % 5
        if ft == 0:
            f = row
        elif ft == 1:
            f = row - a
        elif ft == 2:
            f = row - b
        elif ft == 3:
            f = row - (a + b) // 2
        else:
            f = row - _paeth(a, b, c)
        lines.append(ft)
        lines += (f % 256).astype(np.uint8).tobytes()
        prev = row
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(lines)))
        + _png_chunk(b"IEND", b"")
    )


def decode_png(payload: bytes) -> np.ndarray:
    """Decode a PNG byte stream (8-bit RGB, non-interlaced) to (h, w, 3)
    uint8: chunk walk with CRC-32 verification, zlib inflate, then
    scanline unfiltering for all five RFC 2083 filter types."""
    if payload[:8] != _PNG_SIG:
        raise ValueError("not a PNG payload")
    pos, w, h, idat = 8, None, None, bytearray()
    while pos + 12 <= len(payload):
        (ln,) = struct.unpack(">I", payload[pos : pos + 4])
        if pos + 12 + ln > len(payload):
            raise ValueError("truncated chunk")
        typ = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + ln]
        (crc,) = struct.unpack(">I", payload[pos + 8 + ln : pos + 12 + ln])
        if crc != (zlib.crc32(typ + data) & 0xFFFFFFFF):
            raise ValueError(f"bad CRC in {typ!r} chunk")
        if typ == b"IHDR":
            w, h, depth, ctype, comp, filt, inter = struct.unpack(">IIBBBBB", data)
            if (depth, ctype, comp, filt, inter) != (8, 2, 0, 0, 0):
                raise ValueError("unsupported PNG layout")
        elif typ == b"IDAT":
            idat += data
        elif typ == b"IEND":
            break
        pos += 12 + ln
    if w is None:
        raise ValueError("missing IHDR")
    raw = zlib.decompress(bytes(idat))
    stride = w * _PNG_BPP
    if len(raw) != h * (stride + 1):
        raise ValueError("IDAT length does not match dimensions")
    out = bytearray(h * stride)
    prev = bytes(stride)
    bpp = _PNG_BPP
    for r in range(h):
        ft = raw[r * (stride + 1)]
        line = bytearray(raw[r * (stride + 1) + 1 : (r + 1) * (stride + 1)])
        if ft == 1:  # Sub
            for i in range(bpp, stride):
                line[i] = (line[i] + line[i - bpp]) & 0xFF
        elif ft == 2:  # Up
            for i in range(stride):
                line[i] = (line[i] + prev[i]) & 0xFF
        elif ft == 3:  # Average
            for i in range(stride):
                a = line[i - bpp] if i >= bpp else 0
                line[i] = (line[i] + (a + prev[i]) // 2) & 0xFF
        elif ft == 4:  # Paeth
            for i in range(stride):
                a = line[i - bpp] if i >= bpp else 0
                c = prev[i - bpp] if i >= bpp else 0
                b = prev[i]
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                line[i] = (line[i] + pred) & 0xFF
        elif ft != 0:
            raise ValueError(f"unknown filter type {ft}")
        out[r * stride : (r + 1) * stride] = line
        prev = bytes(line)
    return np.frombuffer(bytes(out), dtype=np.uint8).reshape(h, w, _PNG_BPP)


# --- G.711 mu-law (ITU-T; Sun/CCITT integer formulation) -------------------
#
# Encode: clip |x| at 32635, add bias 132, find the segment exponent
# e in 0..7 (biased magnitude < 256 << e), take the 4-bit mantissa below
# the leading bit, and emit the BITWISE COMPLEMENT of sign|e|mantissa.
# Decode: magnitude = 132*(2^e - 1) + mantissa * 2^(e+3) — the segment
# midpoint, so |decode(encode(x)) - x| <= 4 * 2^e. Both directions are
# pure integer maps, so the oracle can express decode(encode(x)) in SQL.

_MULAW_BIAS = 132
_MULAW_CLIP = 32635

#: segment upper bounds for biased magnitude -> exponent via searchsorted
_MULAW_SEG = np.array([256, 512, 1024, 2048, 4096, 8192, 16384], dtype=np.int32)


def encode_mulaw(samples: np.ndarray) -> bytes:
    """int16 PCM -> one G.711 mu-law byte per sample."""
    x = samples.astype(np.int32)
    sign = np.where(x < 0, 0x80, 0)
    mag = np.minimum(np.abs(x), _MULAW_CLIP) + _MULAW_BIAS
    e = np.searchsorted(_MULAW_SEG, mag, side="right").astype(np.int32)
    m = (mag >> (e + 3)) & 0x0F
    return ((~(sign | (e << 4) | m)) & 0xFF).astype(np.uint8).tobytes()


#: 256-entry decode table, built once from the inverse integer formula
_MULAW_DECODE = None


def _mulaw_table() -> np.ndarray:
    global _MULAW_DECODE
    if _MULAW_DECODE is None:
        u = ~np.arange(256, dtype=np.int32) & 0xFF
        e = (u >> 4) & 7
        m = u & 0x0F
        mag = _MULAW_BIAS * ((1 << e) - 1) + (m << (e + 3))
        _MULAW_DECODE = np.where(u & 0x80, -mag, mag).astype(np.int32)
    return _MULAW_DECODE


def decode_mulaw(payload: bytes) -> np.ndarray:
    """G.711 mu-law bytes -> reconstructed int32 PCM samples."""
    return _mulaw_table()[np.frombuffer(payload, dtype=np.uint8)]
