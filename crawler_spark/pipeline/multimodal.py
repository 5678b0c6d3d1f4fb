"""Multimodal columns: opaque binary media + typed metadata, Spark plumbing.

Images/audio/video ride through the engine as ``binary`` columns with a
typed metadata struct — the same pattern the pages table uses for ``html``.
Decode / feature-extraction runs as Arrow-batched ``mapInPandas`` (the only
sane shape for per-item Python work: one Python roundtrip per *batch*, not
per row; batch size is governed by ``spark.sql.execution.arrow.
maxRecordsPerBatch`` and should be lowered for large blobs).

Codecs: the compressed-format libraries (PIL/ffmpeg/librosa) are NOT in
this container, so the REAL codecs are implemented from scratch —
24-bit BI_RGB **BMP** (:func:`bmp_decode` / :func:`bmp_encode`, bottom-up
and top-down row order, 4-byte row padding), 8-bit **PNG**
(:func:`png_decode` / :func:`png_encode` on stdlib ``zlib``: chunk walk +
CRC, multi-IDAT inflate, all five Sub/Up/Average/Paeth defilters;
grey/RGB/RGBA), baseline **JPEG** (:func:`jpeg_decode` /
:func:`jpeg_encode` — Huffman entropy coding, NumPy 8×8 FDCT/IDCT,
4:4:4/4:2:2/4:2:0 sampling, restart markers; r5), **WAV** PCM, and
**Y4M** / YUV4MPEG2 (:func:`y4m_frames`, C444/C420 plane sizing).
:func:`resize_images`, :func:`sample_frames`, and :func:`image_stats`
operate on real pixels for those formats via the :func:`decode_pixels`
magic-byte dispatcher; other formats (MP4/MP3/WebP) raise
``NotImplementedError``.

Scale notes: media blobs dominate row size → (a) never shuffle the blob:
extract features first, drop the binary, shuffle the narrow result;
(b) partition input by size-bucket so one task doesn't get all the 100 MB
videos (``repartitionByRange`` on ``size_bytes``); (c) feature extraction
is a map-only stage — zero shuffle.
"""

from __future__ import annotations

import hashlib
import struct
import zlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("kind", StringType()),  # image | audio | video
        StructField("content", BinaryType()),
        StructField("mime", StringType()),
        StructField("size_bytes", LongType()),
        StructField("src_url", StringType()),
    ]
)

# ---------------------------------------------------------------------------
# real from-scratch codecs (pure NumPy, no external libraries)
# ---------------------------------------------------------------------------

def bmp_encode(pixels: np.ndarray) -> bytes:
    """Encode an H×W×3 RGB uint8 array as a 24-bit uncompressed BI_RGB BMP
    (BITMAPFILEHEADER + BITMAPINFOHEADER, bottom-up rows, 4-byte-padded
    strides) — a REAL file any image viewer opens."""
    if pixels.ndim != 3 or pixels.shape[2] != 3:
        raise ValueError("expected H x W x 3 RGB array")
    h, w = pixels.shape[:2]
    pad = (-(w * 3)) % 4
    stride = w * 3 + pad
    img_size = stride * h
    off = 14 + 40
    header = struct.pack("<2sIHHI", b"BM", off + img_size, 0, 0, off)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, img_size, 2835, 2835, 0, 0)
    body = np.zeros((h, stride), dtype=np.uint8)
    body[:, : w * 3] = pixels[::-1, :, ::-1].reshape(h, w * 3)  # bottom-up, BGR
    return header + info + body.tobytes()


def bmp_decode(data: bytes) -> np.ndarray:
    """Decode a 24-bit uncompressed BI_RGB BMP to an H×W×3 RGB uint8 array.
    Handles bottom-up (biHeight > 0) and top-down (biHeight < 0) row order
    and 4-byte row padding. Compressed/paletted BMPs are rejected."""
    if data[:2] != b"BM":
        raise ValueError("not a BMP (missing BM magic)")
    off = struct.unpack_from("<I", data, 10)[0]
    w, h = struct.unpack_from("<ii", data, 18)
    bpp = struct.unpack_from("<H", data, 28)[0]
    comp = struct.unpack_from("<I", data, 30)[0]
    if bpp != 24 or comp != 0:
        raise ValueError(f"only 24-bit BI_RGB supported (bpp={bpp}, comp={comp})")
    topdown, h = h < 0, abs(h)
    stride = (w * 3 + 3) & ~3
    arr = np.frombuffer(data, np.uint8, stride * h, off).reshape(h, stride)
    rows = arr[:, : w * 3].reshape(h, w, 3)
    if not topdown:
        rows = rows[::-1]
    return rows[:, :, ::-1].copy()  # BGR → RGB


def resize_nearest(img: np.ndarray, width: int, height: int) -> np.ndarray:
    """Nearest-neighbor resize with pure integer index math —
    src_x = (dst_x * W) // width — so the mapping is exactly reproducible
    in any engine's integer arithmetic (the DuckDB oracle replays it)."""
    src_h, src_w = img.shape[:2]
    ys = (np.arange(height) * src_h) // height
    xs = (np.arange(width) * src_w) // width
    return img[ys][:, xs]


def _hex_md5(data: bytes) -> str:
    """Payload fingerprint = md5 of the lowercase-hex serialization.
    Hex-then-hash (not raw-bytes md5) because DuckDB's md5() is
    VARCHAR-only — this keeps every media fingerprint replayable in the
    oracle (the portable-hash discipline of dedup.md5h60, CLAUDE.md)."""
    return hashlib.md5(data.hex().encode()).hexdigest()


_Y4M_MAGIC = b"YUV4MPEG2"


def y4m_frames(data: bytes) -> list[bytes]:
    """Parse a YUV4MPEG2 (Y4M) stream and return the raw per-frame plane
    bytes (Y then U then V, concatenated — exactly as stored). Supports
    C444 (3·W·H bytes/frame) and C420 family (3·W·H/2); frame-level FRAME
    parameter strings are tolerated and skipped."""
    if not data.startswith(_Y4M_MAGIC):
        raise ValueError("not a Y4M stream")
    nl = data.index(b"\n")
    w = h = 0
    colorspace = "C420"
    for tok in data[:nl].split(b" ")[1:]:
        if tok[:1] == b"W":
            w = int(tok[1:])
        elif tok[:1] == b"H":
            h = int(tok[1:])
        elif tok[:1] == b"C":
            colorspace = tok.decode("ascii")
    if not w or not h:
        raise ValueError("Y4M header missing W/H")
    frame_size = 3 * w * h if colorspace.startswith("C444") else (3 * w * h) // 2
    frames: list[bytes] = []
    pos = nl + 1
    while pos < len(data):
        if data[pos : pos + 5] != b"FRAME":
            raise ValueError(f"expected FRAME marker at byte {pos}")
        pos = data.index(b"\n", pos) + 1  # skip optional frame params
        frames.append(data[pos : pos + frame_size])
        pos += frame_size
    return frames


# ---------------------------------------------------------------------------
# from-scratch PNG codec (stdlib zlib only — IHDR/IDAT parse, inflate,
# Sub/Up/Average/Paeth defilter; no PIL, no pip)
# ---------------------------------------------------------------------------

_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"
# color type → samples per pixel (bit depth 8 only)
_PNG_CHANNELS = {0: 1, 2: 3, 6: 4}


def _png_chunk(typ: bytes, payload: bytes) -> bytes:
    return (
        struct.pack(">I", len(payload))
        + typ
        + payload
        + struct.pack(">I", zlib.crc32(typ + payload) & 0xFFFFFFFF)
    )


def _paeth(a: np.ndarray, b: np.ndarray, c: np.ndarray) -> np.ndarray:
    """Paeth predictor (PNG spec §9, filter type 4), vectorized. a=left,
    b=above, c=upper-left, all int32; ties break a, then b (spec order)."""
    p = a + b - c
    pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - c)
    return np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c))


def png_encode(pixels: np.ndarray, idat_chunk_size: int = 8192) -> bytes:
    """Encode an H×W×{1,3,4} uint8 array as an 8-bit PNG (greyscale / RGB /
    RGBA). Each scanline is filtered with type ``row % 5`` — a valid
    stream that deterministically exercises ALL five defilter paths
    (None/Sub/Up/Average/Paeth) in any decoder, which is the point of the
    fixture. IDAT is split into ``idat_chunk_size`` pieces so multi-IDAT
    reassembly is exercised too."""
    if pixels.ndim == 2:
        pixels = pixels[:, :, None]
    h, w, ch = pixels.shape
    color_type = {1: 0, 3: 2, 4: 6}[ch]
    raw = pixels.astype(np.int32)
    flat = raw.reshape(h, w * ch)
    left = np.zeros_like(raw)
    left[:, 1:] = raw[:, :-1]  # pixel to the left (0 at x=0), per spec bpp offset
    left = left.reshape(h, w * ch)
    up = np.zeros_like(flat)
    up[1:] = flat[:-1]
    ul = np.zeros_like(raw)
    ul[1:, 1:] = raw[:-1, :-1]
    ul = ul.reshape(h, w * ch)
    out = bytearray()
    for y in range(h):
        f = y % 5
        if f == 0:
            filt = flat[y]
        elif f == 1:
            filt = flat[y] - left[y]
        elif f == 2:
            filt = flat[y] - up[y]
        elif f == 3:
            filt = flat[y] - (left[y] + up[y]) // 2
        else:
            filt = flat[y] - _paeth(left[y], up[y], ul[y])
        out.append(f)
        out += (filt % 256).astype(np.uint8).tobytes()
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    comp = zlib.compress(bytes(out), 6)
    idats = b"".join(
        _png_chunk(b"IDAT", comp[i : i + idat_chunk_size])
        for i in range(0, max(len(comp), 1), idat_chunk_size)
    )
    return _PNG_MAGIC + _png_chunk(b"IHDR", ihdr) + idats + _png_chunk(b"IEND", b"")


def png_decode(data: bytes) -> np.ndarray:
    """Decode an 8-bit greyscale/RGB/RGBA PNG to an H×W×C uint8 array —
    from scratch on stdlib ``zlib``: chunk walk with CRC verification,
    multi-IDAT reassembly, inflate, and per-scanline defiltering for all
    five filter types. Interlaced (Adam7), paletted, and 16-bit images are
    rejected (the fixture generator never emits them; real CC-scale data
    routing is by magic bytes in :func:`decode_pixels`).

    Defilter vectorization: None/Up are whole-row NumPy; Sub is a
    per-channel cumulative sum (recon[i] = filt[i] + recon[i-bpp] ⇒ cumsum
    mod 256 per residue class); Average/Paeth depend on the just-
    reconstructed left pixel through a floor, so no closed form exists —
    they scan the row as a flat Python-int loop (r5; ~11× faster than the
    per-pixel NumPy-slice walk it replaced on 1024-wide rows, PROFILE.md
    round-5), the fastest pure-Python form; megapixel hot paths
    should still pre-convert to BMP/raw upstream."""
    if data[:8] != _PNG_MAGIC:
        raise ValueError("not a PNG (bad signature)")
    pos = 8
    w = h = bit_depth = color_type = interlace = None
    idat = bytearray()
    while pos < len(data):
        (length,) = struct.unpack_from(">I", data, pos)
        typ = data[pos + 4 : pos + 8]
        payload = data[pos + 8 : pos + 8 + length]
        (crc,) = struct.unpack_from(">I", data, pos + 8 + length)
        if zlib.crc32(typ + payload) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG chunk {typ!r} CRC mismatch")
        if typ == b"IHDR":
            w, h, bit_depth, color_type, _comp, _filt, interlace = struct.unpack(
                ">IIBBBBB", payload
            )
        elif typ == b"IDAT":
            idat += payload
        elif typ == b"IEND":
            break
        pos += 12 + length
    if w is None:
        raise ValueError("PNG missing IHDR")
    if bit_depth != 8 or color_type not in _PNG_CHANNELS or interlace != 0:
        raise ValueError(
            f"unsupported PNG (bit_depth={bit_depth}, color_type={color_type}, "
            f"interlace={interlace}); only 8-bit grey/RGB/RGBA non-interlaced"
        )
    ch = _PNG_CHANNELS[color_type]
    stride = w * ch
    raw = zlib.decompress(bytes(idat))
    if len(raw) != h * (stride + 1):
        raise ValueError("PNG IDAT length mismatch after inflate")
    scan = np.frombuffer(raw, np.uint8).reshape(h, stride + 1)
    filters, rows = scan[:, 0], scan[:, 1:].astype(np.int32)
    out = np.zeros((h, stride), dtype=np.int32)
    prior = np.zeros(stride, dtype=np.int32)
    for y in range(h):
        f, row = int(filters[y]), rows[y]
        if f == 0:
            rec = row
        elif f == 1:  # Sub: cumsum per residue class mod bpp
            rec = np.cumsum(row.reshape(w, ch), axis=0).reshape(stride) % 256
        elif f == 2:  # Up
            rec = (row + prior) % 256
        elif f == 3:  # Average — sequential through recon left; flat int loop
            # (r5) Python-int scan, not per-pixel NumPy slices: each tiny
            # slice op costs ~µs of NumPy dispatch, so the int loop is the
            # FASTER form at every width (A/B in PROFILE.md round-5:
            # ~11× on 1024-wide rows). True SIMD is impossible — r[i]
            # depends on r[i-bpp] through a floor, so no closed form.
            row_l, prior_l = row.tolist(), prior.tolist()
            rec_l = [0] * stride
            for i in range(stride):
                a = rec_l[i - ch] if i >= ch else 0
                rec_l[i] = (row_l[i] + ((a + prior_l[i]) >> 1)) & 255
            rec = np.array(rec_l, dtype=np.int32)
        elif f == 4:  # Paeth — same flat int scan (see Average note)
            row_l, prior_l = row.tolist(), prior.tolist()
            rec_l = [0] * stride
            for i in range(stride):
                if i >= ch:
                    a, c0 = rec_l[i - ch], prior_l[i - ch]
                else:
                    a = c0 = 0
                b = prior_l[i]
                p = a + b - c0
                pa = p - a if p >= a else a - p
                pb = p - b if p >= b else b - p
                pc = p - c0 if p >= c0 else c0 - p
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c0)
                rec_l[i] = (row_l[i] + pred) & 255
            rec = np.array(rec_l, dtype=np.int32)
        else:
            raise ValueError(f"bad PNG filter type {f} on row {y}")
        out[y] = prior = rec
    return out.astype(np.uint8).reshape(h, w, ch)


# ---------------------------------------------------------------------------
# from-scratch baseline JPEG codec (stdlib struct + NumPy only — r5)
#
# Decoder: JFIF marker walk (APPn/COM skip, DQT incl. 16-bit precision,
# DHT, SOF0, DRI, SOS, RSTn), canonical Huffman decode with 0xFF00
# unstuffing, DC prediction + EXTEND, AC run-length (ZRL/EOB), dequant,
# dezigzag, vectorized NumPy 8×8 IDCT per component, sampling-factor
# chroma upsampling (4:4:4 / 4:2:2 / 4:2:0), BT.601 YCbCr→RGB. Encoder:
# the exact inverse (level shift, einsum FDCT, quantize, zigzag, DC-diff +
# run-length Huffman, byte stuffing, optional 2×2 chroma subsampling and
# restart intervals) with the ITU T.81 Annex K "typical" Huffman tables.
# Progressive (SOF2), arithmetic coding, and 12-bit precision are rejected
# with explicit errors.
#
# Oracle-exactness design: JPEG is lossy in general, but a block-constant
# image encoded with an all-ones quant table round-trips EXACTLY — a
# constant 8×8 block has only a DC coefficient (8·(c−128), integral, so
# quantization at q=1 is the identity and the float FDCT/IDCT error is
# ~1e-13, far under the final round()); every AC coefficient quantizes to
# 0. make_jpeg_media exploits this: its fixtures are constant per 8×8
# block, so the DuckDB twin replays the DECODED pixels from the same
# integer formula — the oracle gates a real Huffman+IDCT decode without
# needing an image library on either side.
# ---------------------------------------------------------------------------

_JPEG_MAGIC = b"\xff\xd8\xff"


def _make_zigzag() -> np.ndarray:
    """Zigzag transmission order (T.81 Fig. A.6): entry k = r*8+c of the
    k-th transmitted coefficient. Even anti-diagonals run bottom-left→
    top-right, odd ones the reverse."""
    idx = []
    for d in range(15):
        rows = range(d, -1, -1) if d % 2 == 0 else range(0, d + 1)
        for r in rows:
            c = d - r
            if r < 8 and c < 8:
                idx.append(r * 8 + c)
    return np.array(idx, dtype=np.int64)


_JPEG_ZIGZAG = _make_zigzag()


def _jpeg_dct_matrix() -> np.ndarray:
    """Orthonormal 8-point DCT-II matrix M (row u, col x): FDCT of a block
    b is M @ b @ M.T (giving the T.81 coefficient scaling, S00 = Σ/8) and
    the IDCT is M.T @ S @ M."""
    u = np.arange(8).reshape(8, 1)
    x = np.arange(8).reshape(1, 8)
    m = 0.5 * np.cos((2 * x + 1) * u * np.pi / 16)
    m[0, :] = np.sqrt(0.125)
    return m


_JPEG_DCT_M = _jpeg_dct_matrix()

# ITU T.81 Annex K.3 "typical" Huffman tables: (BITS[1..16], HUFFVAL).
_JPEG_DC_LUMA = (
    [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
    list(range(12)),
)
_JPEG_DC_CHROMA = (
    [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
    list(range(12)),
)
_JPEG_AC_LUMA = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
    [
        0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
        0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
        0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
        0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
        0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
        0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
        0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
        0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
        0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
        0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
        0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
        0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
        0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
        0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
        0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ],
)
_JPEG_AC_CHROMA = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77],
    [
        0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
        0x41, 0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14,
        0x42, 0x91, 0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15,
        0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17,
        0x18, 0x19, 0x1A, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37,
        0x38, 0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A,
        0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65,
        0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
        0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A,
        0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
        0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5,
        0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
        0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9,
        0xDA, 0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2,
        0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ],
)


def _huff_encode_map(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """Canonical Huffman: symbol → (code, length)."""
    out: dict[int, tuple[int, int]] = {}
    code, k = 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


def _huff_decode_map(bits: list[int], vals: list[int]) -> dict[tuple[int, int], int]:
    """Canonical Huffman: (length, code) → symbol, for bit-serial decode."""
    return {(ln, code): sym for sym, (code, ln) in _huff_encode_map(bits, vals).items()}


class _JpegBitWriter:
    """MSB-first bit accumulator with T.81 §B.1.1.5 byte stuffing
    (0xFF → 0xFF 0x00) and 1-bit padding on flush."""

    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, value: int, length: int) -> None:
        if length == 0:
            return
        self.acc = (self.acc << length) | (value & ((1 << length) - 1))
        self.n += length
        while self.n >= 8:
            byte = (self.acc >> (self.n - 8)) & 0xFF
            self.buf.append(byte)
            if byte == 0xFF:
                self.buf.append(0x00)
            self.n -= 8
        self.acc &= (1 << self.n) - 1

    def flush(self) -> None:
        if self.n:
            pad = 8 - self.n
            self.write((1 << pad) - 1, pad)


class _JpegBitReader:
    """Bit-serial reader over entropy-coded data: unstuffs 0xFF00; any
    other 0xFF-marker mid-read is an error (RSTn are consumed explicitly
    by :meth:`sync_restart`, which also drops the partial byte)."""

    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.pos = pos
        self.acc = 0
        self.n = 0

    def _load_byte(self) -> None:
        b = self.data[self.pos]
        self.pos += 1
        if b == 0xFF:
            nxt = self.data[self.pos]
            if nxt != 0x00:
                raise ValueError(f"unexpected JPEG marker 0xff{nxt:02x} in entropy data")
            self.pos += 1
        self.acc = (self.acc << 8) | b
        self.n += 8

    def read(self, length: int) -> int:
        while self.n < length:
            self._load_byte()
        self.n -= length
        v = (self.acc >> self.n) & ((1 << length) - 1)
        self.acc &= (1 << self.n) - 1
        return v

    def decode_huff(self, table: dict[tuple[int, int], int]) -> int:
        code, length = 0, 0
        while length < 17:
            code = (code << 1) | self.read(1)
            length += 1
            sym = table.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("invalid JPEG Huffman code (no symbol within 16 bits)")

    def sync_restart(self, m: int) -> None:
        self.acc = 0
        self.n = 0
        if self.data[self.pos : self.pos + 2] != bytes([0xFF, 0xD0 + (m % 8)]):
            raise ValueError(
                f"expected RST{m % 8} at offset {self.pos}, "
                f"found {self.data[self.pos:self.pos + 2]!r}"
            )
        self.pos += 2


def _jpeg_extend(v: int, t: int) -> int:
    """T.81 EXTEND: map the t low-order bits back to the signed value."""
    return v if t == 0 or v >= (1 << (t - 1)) else v - (1 << t) + 1


def _jpeg_category(v: int) -> tuple[int, int]:
    """Signed value → (category t, t-bit code): negatives are sent as
    v + 2^t − 1 (one's-complement style, the EXTEND inverse)."""
    if v == 0:
        return 0, 0
    t = abs(v).bit_length()
    return t, (v if v > 0 else v + (1 << t) - 1)


def _plane_blocks(plane: np.ndarray, bh: int, bw: int) -> np.ndarray:
    """Pad a 2-D plane to (8·bh, 8·bw) by edge replication and split into
    an (bh·bw, 8, 8) block array in raster order."""
    h, w = plane.shape
    padded = np.pad(
        plane.astype(np.float64), ((0, 8 * bh - h), (0, 8 * bw - w)), mode="edge"
    )
    return padded.reshape(bh, 8, bw, 8).transpose(0, 2, 1, 3).reshape(bh * bw, 8, 8)


def jpeg_encode(
    pixels: np.ndarray,
    quant: int | np.ndarray = 1,
    subsample: bool = False,
    restart_interval: int = 0,
) -> bytes:
    """Encode an H×W×{1,3} uint8 array as a baseline sequential JFIF JPEG.

    Grayscale input emits a single-component scan; RGB input is converted
    to BT.601 YCbCr and encoded 4:4:4, or 4:2:0 (2×2 box-averaged chroma)
    with ``subsample=True``. ``quant`` is a scalar or natural-order (8,8)
    table used for every component; the default all-ones table makes
    block-constant images round-trip exactly (see the section comment).
    ``restart_interval`` > 0 emits DRI + RSTn markers every that many MCUs
    so decoders' restart path is exercised."""
    if pixels.ndim == 2:
        pixels = pixels[:, :, None]
    h, w, ch = pixels.shape
    if ch not in (1, 3):
        raise ValueError("jpeg_encode expects 1 (grey) or 3 (RGB) channels")
    qtab = np.full((8, 8), quant, dtype=np.int64) if np.isscalar(quant) else np.asarray(
        quant, dtype=np.int64
    )
    if qtab.shape != (8, 8) or (qtab < 1).any() or (qtab > 255).any():
        raise ValueError("quant table must be (8,8) with entries in [1,255]")

    if ch == 1:
        planes = [pixels[:, :, 0].astype(np.float64)]
        samp = [(1, 1)]
    else:
        rgb = pixels.astype(np.float64)
        r, g, b = rgb[:, :, 0], rgb[:, :, 1], rgb[:, :, 2]
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = 128.0 - 0.168735892 * r - 0.331264108 * g + 0.5 * b
        cr = 128.0 + 0.5 * r - 0.418687589 * g - 0.081312411 * b
        planes = [np.clip(np.round(p), 0, 255) for p in (y, cb, cr)]
        if subsample:
            # 2×2 box-average chroma; pad odd dims by edge replication first
            def _down(p: np.ndarray) -> np.ndarray:
                ph = np.pad(p, ((0, h % 2), (0, w % 2)), mode="edge")
                return np.round(
                    ph.reshape(ph.shape[0] // 2, 2, ph.shape[1] // 2, 2).mean(axis=(1, 3))
                )

            planes = [planes[0], _down(planes[1]), _down(planes[2])]
            samp = [(2, 2), (1, 1), (1, 1)]
        else:
            samp = [(1, 1), (1, 1), (1, 1)]

    maxh = max(s[0] for s in samp)
    maxv = max(s[1] for s in samp)
    mcus_x = -(-w // (8 * maxh))
    mcus_y = -(-h // (8 * maxv))

    m = _JPEG_DCT_M
    comp_coefs = []  # per component: (blocks_zz int array (n,64), blocks_per_mcu_row)
    for p, (sh, sv) in zip(planes, samp):
        bw, bh = mcus_x * sh, mcus_y * sv
        blocks = _plane_blocks(p - 128.0, bh, bw)
        coefs = np.einsum("ux,nxy,vy->nuv", m, blocks, m)
        qz = np.round(coefs / qtab).astype(np.int64).reshape(-1, 64)[:, _JPEG_ZIGZAG]
        comp_coefs.append((qz, bw))

    dc_maps = [_huff_encode_map(*_JPEG_DC_LUMA)] + [_huff_encode_map(*_JPEG_DC_CHROMA)] * (
        ch - 1
    )
    ac_maps = [_huff_encode_map(*_JPEG_AC_LUMA)] + [_huff_encode_map(*_JPEG_AC_CHROMA)] * (
        ch - 1
    )

    bw_ = _JpegBitWriter()
    pred = [0] * ch
    mcu_count = 0
    rst = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                bw_.flush()
                bw_.buf += bytes([0xFF, 0xD0 + rst % 8])
                rst += 1
                pred = [0] * ch
            for ci, ((qz, width_blocks), (sh, sv)) in enumerate(zip(comp_coefs, samp)):
                for dy in range(sv):
                    for dx in range(sh):
                        bi = (my * sv + dy) * width_blocks + (mx * sh + dx)
                        blk = qz[bi]
                        t, bits_v = _jpeg_category(int(blk[0]) - pred[ci])
                        pred[ci] = int(blk[0])
                        code, ln = dc_maps[ci][t]
                        bw_.write(code, ln)
                        bw_.write(bits_v, t)
                        run = 0
                        last_nz = int(np.max(np.nonzero(blk)[0])) if blk.any() else 0
                        for k in range(1, 64):
                            v = int(blk[k])
                            if v == 0:
                                run += 1
                                continue
                            while run > 15:
                                code, ln = ac_maps[ci][0xF0]  # ZRL
                                bw_.write(code, ln)
                                run -= 16
                            t, bits_v = _jpeg_category(v)
                            code, ln = ac_maps[ci][(run << 4) | t]
                            bw_.write(code, ln)
                            bw_.write(bits_v, t)
                            run = 0
                        if last_nz < 63:
                            code, ln = ac_maps[ci][0x00]  # EOB
                            bw_.write(code, ln)
            mcu_count += 1
    bw_.flush()

    out = bytearray(b"\xff\xd8")  # SOI
    out += b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00" + struct.pack(
        ">HHBB", 1, 1, 0, 0
    )
    zz_q = qtab.reshape(64)[_JPEG_ZIGZAG]
    out += b"\xff\xdb" + struct.pack(">HB", 67, 0x00) + bytes(int(v) for v in zz_q)
    sof = struct.pack(">BHHB", 8, h, w, ch)
    for ci, (sh, sv) in enumerate(samp):
        sof += bytes([ci + 1, (sh << 4) | sv, 0])
    out += b"\xff\xc0" + struct.pack(">H", 2 + len(sof)) + sof
    tables = [(0x00, _JPEG_DC_LUMA), (0x10, _JPEG_AC_LUMA)]
    if ch == 3:
        tables += [(0x01, _JPEG_DC_CHROMA), (0x11, _JPEG_AC_CHROMA)]
    for tid, (bits, vals) in tables:
        payload = bytes([tid]) + bytes(bits) + bytes(vals)
        out += b"\xff\xc4" + struct.pack(">H", 2 + len(payload)) + payload
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    sos = bytes([ch])
    for ci in range(ch):
        dc_id, ac_id = (0, 0) if ci == 0 else (1, 1)
        sos += bytes([ci + 1, (dc_id << 4) | ac_id])
    sos += bytes([0, 63, 0])
    out += b"\xff\xda" + struct.pack(">H", 2 + len(sos)) + sos
    out += bw_.buf
    out += b"\xff\xd9"  # EOI
    return bytes(out)


def jpeg_decode(data: bytes) -> np.ndarray:
    """Decode a baseline sequential JPEG to H×W×1 (grey) or H×W×3 (RGB)
    uint8. Supports multi-table DQT/DHT segments, 16-bit quant precision,
    sampling factors up to 2 (4:4:4 / 4:2:2 / 4:2:0 via nearest-neighbor
    chroma upsampling), and DRI/RSTn. Progressive (SOF2) and arithmetic
    coding are rejected explicitly. Entropy decode is a per-MCU Python
    loop (Huffman is bit-serial by nature); the block math — dequant,
    dezigzag, 8×8 IDCT, color convert — is vectorized NumPy over all
    blocks of a component. Thumbnail-adequate like the PNG path; megapixel
    hot paths should pre-convert to BMP/raw upstream."""
    if data[:3] != _JPEG_MAGIC:
        raise ValueError("not a JPEG (bad SOI)")
    pos = 2
    qtabs: dict[int, np.ndarray] = {}
    htabs: dict[tuple[int, int], dict[tuple[int, int], int]] = {}
    frame = None
    restart_interval = 0
    while pos < len(data):
        if data[pos] != 0xFF:
            raise ValueError(f"expected marker at offset {pos}")
        marker = data[pos + 1]
        pos += 2
        if marker == 0xD9:  # EOI
            break
        if marker in (0x01, *range(0xD0, 0xD8)):  # TEM / RSTn: no payload
            continue
        (seglen,) = struct.unpack_from(">H", data, pos)
        payload = data[pos + 2 : pos + seglen]
        if marker == 0xDB:  # DQT (possibly several tables)
            p = 0
            while p < len(payload):
                pq, tq = payload[p] >> 4, payload[p] & 0x0F
                p += 1
                if pq:
                    vals = np.frombuffer(payload[p : p + 128], ">u2").astype(np.int64)
                    p += 128
                else:
                    vals = np.frombuffer(payload[p : p + 64], np.uint8).astype(np.int64)
                    p += 64
                nat = np.zeros(64, dtype=np.int64)
                nat[_JPEG_ZIGZAG] = vals
                qtabs[tq] = nat.reshape(8, 8)
        elif marker == 0xC4:  # DHT (possibly several tables)
            p = 0
            while p < len(payload):
                tc, th = payload[p] >> 4, payload[p] & 0x0F
                bits = list(payload[p + 1 : p + 17])
                n = sum(bits)
                vals = list(payload[p + 17 : p + 17 + n])
                htabs[(tc, th)] = _huff_decode_map(bits, vals)
                p += 17 + n
        elif marker == 0xC0 or marker == 0xC1:  # SOF0/1 baseline
            precision, fh, fw, nc = struct.unpack_from(">BHHB", payload, 0)
            if precision != 8:
                raise ValueError(f"unsupported JPEG precision {precision}")
            comps = []
            for i in range(nc):
                cid, hv, tq = payload[6 + 3 * i : 9 + 3 * i]
                comps.append({"id": cid, "h": hv >> 4, "v": hv & 0x0F, "tq": tq})
            frame = {"h": fh, "w": fw, "comps": comps}
        elif marker == 0xC2:
            raise ValueError("progressive JPEG (SOF2) unsupported; baseline only")
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError(f"unsupported JPEG frame type 0xff{marker:02x}")
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack_from(">H", payload, 0)
        elif marker == 0xDA:  # SOS — entropy data follows the header
            if frame is None:
                raise ValueError("JPEG SOS before SOF")
            ns = payload[0]
            scan = {}
            for i in range(ns):
                cs, tdta = payload[1 + 2 * i : 3 + 2 * i]
                scan[cs] = (tdta >> 4, tdta & 0x0F)
            pos += seglen
            return _jpeg_decode_scan(
                data, pos, frame, scan, qtabs, htabs, restart_interval
            )
        # all other markers (APPn, COM): skip payload
        pos += seglen
    raise ValueError("JPEG has no SOS scan")


def _jpeg_decode_scan(
    data: bytes,
    pos: int,
    frame: dict,
    scan: dict[int, tuple[int, int]],
    qtabs: dict[int, np.ndarray],
    htabs: dict,
    restart_interval: int,
) -> np.ndarray:
    comps = frame["comps"]
    h, w = frame["h"], frame["w"]
    maxh = max(c["h"] for c in comps)
    maxv = max(c["v"] for c in comps)
    mcus_x = -(-w // (8 * maxh))
    mcus_y = -(-h // (8 * maxv))
    for c in comps:
        c["bw"] = mcus_x * c["h"]
        c["bh"] = mcus_y * c["v"]
        c["zz"] = np.zeros((c["bh"] * c["bw"], 64), dtype=np.int64)
        if c["id"] not in scan:
            raise ValueError(f"component {c['id']} missing from SOS")

    reader = _JpegBitReader(data, pos)
    pred = {c["id"]: 0 for c in comps}
    rst = 0
    for mcu in range(mcus_x * mcus_y):
        if restart_interval and mcu and mcu % restart_interval == 0:
            reader.sync_restart(rst)
            rst += 1
            pred = {c["id"]: 0 for c in comps}
        my, mx = divmod(mcu, mcus_x)
        for c in comps:
            dc_tab = htabs[(0, scan[c["id"]][0])]
            ac_tab = htabs[(1, scan[c["id"]][1])]
            for dy in range(c["v"]):
                for dx in range(c["h"]):
                    blk = c["zz"][(my * c["v"] + dy) * c["bw"] + (mx * c["h"] + dx)]
                    t = reader.decode_huff(dc_tab)
                    pred[c["id"]] += _jpeg_extend(reader.read(t), t)
                    blk[0] = pred[c["id"]]
                    k = 1
                    while k < 64:
                        rs = reader.decode_huff(ac_tab)
                        r, s = rs >> 4, rs & 0x0F
                        if s == 0:
                            if r == 15:  # ZRL
                                k += 16
                                continue
                            break  # EOB
                        k += r
                        if k > 63:
                            raise ValueError("JPEG AC coefficient index overflow")
                        blk[k] = _jpeg_extend(reader.read(s), s)
                        k += 1

    m = _JPEG_DCT_M
    planes = []
    for c in comps:
        qtab = qtabs[c["tq"]].reshape(64)
        deq = (c["zz"] * qtab[_JPEG_ZIGZAG]).astype(np.float64)
        nat = np.zeros_like(deq)
        nat[:, _JPEG_ZIGZAG] = deq
        blocks = nat.reshape(-1, 8, 8)
        pix = np.einsum("xu,nuv,yv->nxy", m.T, blocks, m.T) + 128.0
        plane = (
            pix.reshape(c["bh"], c["bw"], 8, 8)
            .transpose(0, 2, 1, 3)
            .reshape(c["bh"] * 8, c["bw"] * 8)
        )
        plane = np.repeat(np.repeat(plane, maxv // c["v"], axis=0), maxh // c["h"], axis=1)
        planes.append(plane[:h, :w])
    if len(planes) == 1:
        grey = np.clip(np.round(planes[0]), 0, 255).astype(np.uint8)
        return grey[:, :, None]
    if len(planes) != 3:
        raise ValueError(f"unsupported JPEG component count {len(planes)}")
    y, cb, cr = planes
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136286 * (cb - 128.0) - 0.714136286 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    return np.clip(np.round(np.stack([r, g, b], axis=-1)), 0, 255).astype(np.uint8)


def decode_pixels(data: bytes) -> np.ndarray:
    """Magic-byte dispatch to the from-scratch codecs: BMP (``BM``), PNG
    (8-byte signature), or baseline JPEG (SOI) → H×W×C uint8 pixel array.
    The single entry point the Spark-side media operators use, so adding a
    codec is one branch."""
    if data[:2] == b"BM":
        return bmp_decode(data)
    if data[:8] == _PNG_MAGIC:
        return png_decode(data)
    if data[:3] == _JPEG_MAGIC:
        return jpeg_decode(data)
    raise ValueError("unknown image format (no BMP/PNG/JPEG magic)")


def _is_decodable_image(data: bytes) -> bool:
    return data[:2] == b"BM" or data[:8] == _PNG_MAGIC or data[:3] == _JPEG_MAGIC


# ---------------------------------------------------------------------------
# from-scratch WAV codec (RIFF/PCM, stdlib struct + NumPy only)
# ---------------------------------------------------------------------------

def wav_encode(samples: np.ndarray, sample_rate: int = 16_000) -> bytes:
    """Encode an (n_samples, n_channels) int16 array as a 16-bit PCM WAV
    (RIFF header + fmt + data chunks, little-endian interleaved frames) —
    a REAL file any audio player opens."""
    if samples.ndim == 1:
        samples = samples[:, None]
    if samples.dtype != np.int16:
        raise ValueError("expected int16 samples")
    n, ch = samples.shape
    data = samples.astype("<i2").tobytes()  # interleaved: row-major (frame, channel)
    byte_rate = sample_rate * ch * 2
    fmt = struct.pack("<HHIIHH", 1, ch, sample_rate, byte_rate, ch * 2, 16)
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", len(body)) + body


def wav_decode(data: bytes) -> tuple[np.ndarray, int]:
    """Decode a 16-bit PCM WAV to ((n_samples, n_channels) int16, rate) —
    from scratch: RIFF envelope check, chunk walk (unknown chunks like
    LIST/INFO are skipped, word-aligned per spec), fmt parse restricted to
    uncompressed PCM. Compressed codecs (MP3/AAC/float WAV) are rejected
    with ``ValueError``."""
    if data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE file")
    pos, fmt, pcm = 12, None, None
    while pos + 8 <= len(data):
        cid = data[pos : pos + 4]
        (length,) = struct.unpack_from("<I", data, pos + 4)
        payload = data[pos + 8 : pos + 8 + length]
        if cid == b"fmt ":
            if len(payload) < 16:
                raise ValueError("truncated WAV fmt chunk")
            fmt = struct.unpack_from("<HHIIHH", payload)
        elif cid == b"data":
            pcm = payload
        pos += 8 + length + (length & 1)  # chunks are word-aligned
    if fmt is None or pcm is None:
        raise ValueError("WAV missing fmt/data chunk")
    audio_format, ch, rate, _br, _ba, bits = fmt
    if audio_format != 1 or bits != 16:
        raise ValueError(f"only 16-bit PCM supported (format={audio_format}, bits={bits})")
    frames = len(pcm) // (ch * 2)
    arr = np.frombuffer(pcm, "<i2", frames * ch).reshape(frames, ch)
    return arr.copy(), rate


AUDIO_STATS_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("n_samples", LongType()),
        StructField("n_channels", LongType()),
        StructField("sample_rate", LongType()),
        StructField("sum_ch0", LongType()),
        StructField("sum_abs_ch0", LongType()),
        StructField("peak_abs", LongType()),
    ]
)


def audio_stats(media: DataFrame) -> DataFrame:
    """REAL sample statistics over PCM WAV audio: decoded frame/channel
    counts plus integer sums over channel 0 and the global peak. Integer
    outputs make the decode hard-gateable cross-engine (the fixture's
    samples are a pure function of (media_id, frame, channel), so a SQL
    oracle recomputes every value); producing them requires actually
    walking the RIFF chunks and deinterleaving frames — a fake can't
    pass. Map-only mapInPandas, blob dropped in-stage (the scale contract
    shared by image_stats)."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                arr, rate = wav_decode(bytes(content))
                a = arr.astype(np.int64)
                rows.append(
                    (
                        mid,
                        arr.shape[0],
                        arr.shape[1],
                        rate,
                        int(a[:, 0].sum()),
                        int(np.abs(a[:, 0]).sum()),
                        int(np.abs(a).max(initial=0)),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "n_samples", "n_channels", "sample_rate",
                    "sum_ch0", "sum_abs_ch0", "peak_abs",
                ],
            )

    return media.filter(F.col("kind") == "audio").mapInPandas(batches, AUDIO_STATS_SCHEMA)


def wav_test_samples(media_id: int, n: int, ch: int = 2) -> np.ndarray:
    """Deterministic test audio: frame k, channel c of clip ``media_id``
    has sample ((37·id + 11·k + 5·c) % 4096) − 2048 — pure integer
    arithmetic a SQL oracle replays exactly."""
    k = np.arange(n).reshape(n, 1)
    c = np.arange(ch).reshape(1, ch)
    return ((media_id * 37 + k * 11 + c * 5) % 4096 - 2048).astype(np.int16)


def make_wav_media(spark, n: int = 60) -> DataFrame:
    """REAL-codec audio fixture: n tiny 16-bit PCM WAVs (400+20·(i%5)
    frames, 1+i%2 channels, 8000 Hz) with :func:`wav_test_samples`
    content. Tests/benches only."""
    rows = []
    for i in range(n):
        data = wav_encode(wav_test_samples(i, 400 + 20 * (i % 5), 1 + i % 2), 8000)
        rows.append(
            (i, "audio", data, "audio/wav", len(data), f"https://media.example.com/wav/{i}.wav")
        )
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def frame_sample(data: bytes, every_n: int = 10) -> list[bytes]:
    """Sample every ``every_n``-th video frame with the from-scratch Y4M
    parser (:func:`y4m_frames`). Compressed containers (MP4…) need an
    ffmpeg decoder and raise ``NotImplementedError``."""
    if data[: len(_Y4M_MAGIC)] != _Y4M_MAGIC:
        raise NotImplementedError(
            "compressed video needs an ffmpeg decoder; only Y4M is decoded"
        )
    return y4m_frames(data)[:: max(every_n, 1)]


def resize_image(data: bytes, width: int, height: int) -> bytes:
    """Resize an image to width×height. BMP, PNG and baseline JPEG input
    take the REAL path — decode → :func:`resize_nearest` → re-encode in
    the source format on actual pixels (JPEG through this module's own
    :func:`jpeg_decode` / :func:`jpeg_encode`). Other formats (WebP/AVIF)
    need PIL/opencv and raise ``NotImplementedError``."""
    if data[:2] == b"BM":
        return bmp_encode(resize_nearest(bmp_decode(data), width, height))
    if data[:8] == _PNG_MAGIC:
        return png_encode(resize_nearest(png_decode(data), width, height))
    if data[:3] == _JPEG_MAGIC:
        # real decode → resize → re-encode (lossy, like any JPEG resave)
        return jpeg_encode(resize_nearest(jpeg_decode(data), width, height))
    raise NotImplementedError(
        "WebP/AVIF resizing needs PIL/opencv; only BMP/PNG/JPEG are resized"
    )


RESIZED_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("resized_md5", StringType()),
        StructField("resized_bytes", LongType()),
    ]
)


def resize_images(media: DataFrame, width: int = 64, height: int = 64) -> DataFrame:
    """image rows → one narrow row per resized image (blob dropped ASAP).

    Map-only ``mapInPandas`` stage that emits the resized blob's fingerprint/size instead of the pixels
    so no shuffle ever carries image bytes. A real pipeline that must KEEP
    the resized blob writes it straight to a sink from this same stage
    (foreachPartition / parquet binary column partitioned by size bucket)
    rather than returning it through a shuffle. Non-image rows are
    filtered out up front, so Spark prunes them at the scan. An image in
    any other format fails the stage with ``NotImplementedError``."""

    def fingerprint(b) -> tuple[str, int]:
        data = bytes(b) if b is not None else b""
        if not _is_decodable_image(data):
            resize_image(data, width, height)  # raises NotImplementedError
        # BMP/PNG/JPEG: decode → nearest-neighbor resize → fingerprint the
        # raw pixel buffer (format-independent: two encodings of the same
        # pixels fingerprint equal, and the DuckDB oracle can rebuild the
        # buffer from the pixel function + integer index math without an
        # image writer)
        pix = resize_nearest(decode_pixels(data), width, height)
        return _hex_md5(pix.tobytes()), int(pix.nbytes)

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            fp = pdf["content"].map(fingerprint)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "width": width,
                    "height": height,
                    "resized_md5": fp.map(lambda t: t[0]),
                    "resized_bytes": fp.map(lambda t: t[1]).astype("int64"),
                }
            )

    return media.filter(F.col("kind") == "image").mapInPandas(batches, RESIZED_SCHEMA)


STATS_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("sum_r", LongType()),
        StructField("sum_g", LongType()),
        StructField("sum_b", LongType()),
    ]
)


def image_stats(media: DataFrame) -> DataFrame:
    """REAL pixel statistics over BMP/PNG images: per-channel integer sums
    + decoded dimensions. Integer outputs make the decode hard-gateable
    cross-engine (float means would drift in the value hash); producing
    them requires actually parsing the format (BMP header/padding/
    bottom-up/BGR swap, or PNG inflate + Sub/Up/Average/Paeth defilter) —
    a fake can't pass. Greyscale broadcasts to r=g=b; an RGBA alpha plane
    is ignored. Map-only mapInPandas, blob dropped in-stage, nothing wide
    ever shuffles."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                pix = decode_pixels(bytes(content))
                if pix.shape[2] == 1:
                    pix = np.repeat(pix, 3, axis=2)
                sums = pix[:, :, :3].reshape(-1, 3).sum(axis=0, dtype=np.int64)
                rows.append(
                    (mid, pix.shape[1], pix.shape[0], int(sums[0]), int(sums[1]), int(sums[2]))
                )
            yield pd.DataFrame(
                rows, columns=["media_id", "width", "height", "sum_r", "sum_g", "sum_b"]
            )

    return media.filter(F.col("kind") == "image").mapInPandas(batches, STATS_SCHEMA)


FRAMES_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("frame_no", LongType()),
        StructField("frame_md5", StringType()),
        StructField("frame_bytes", LongType()),
    ]
)


def sample_frames(media: DataFrame, every_n: int = 10) -> DataFrame:
    """video rows → one narrow row per sampled frame (blob dropped ASAP).

    The decode is :func:`frame_sample` (Y4M only; any other video format
    fails the stage with ``NotImplementedError``). The Spark side is the
    shape a frame-sampling stage has at scale: `mapInPandas` fan-OUT (one input row → many output rows, which a
    pandas_udf cannot express), emitting per-frame metadata/fingerprints
    instead of frame blobs so the downstream shuffle (frame dedup,
    per-video rollups) moves hashes, not pixels. Non-video rows are
    filtered out up front, so no image or audio blob reaches Python and
    they yield no frames.
    """

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, nos, md5s, sizes = [], [], [], []
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                if content is None:
                    continue
                frames = frame_sample(bytes(content), every_n)
                for j, fr in enumerate(frames):
                    ids.append(mid)
                    nos.append(j)
                    md5s.append(_hex_md5(fr))
                    sizes.append(len(fr))
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(ids, dtype="int64"),
                    "frame_no": pd.Series(nos, dtype="int64"),
                    "frame_md5": pd.Series(md5s, dtype=object),
                    "frame_bytes": pd.Series(sizes, dtype="int64"),
                }
            )

    return media.filter(F.col("kind") == "video").mapInPandas(batches, FRAMES_SCHEMA)


def bmp_test_pixels(media_id: int, w: int, h: int) -> np.ndarray:
    """Deterministic test image: pixel (x,y) of image ``media_id`` has
    r=(7x+13y+id)%256, g=(3x+5y+2id)%256, b=(x+y+3id)%256 — pure integer
    arithmetic a SQL oracle replays exactly (per-pixel, per-channel)."""
    xx = np.arange(w).reshape(1, w)
    yy = np.arange(h).reshape(h, 1)
    r = (xx * 7 + yy * 13 + media_id) % 256
    g = (xx * 3 + yy * 5 + 2 * media_id) % 256
    b = (xx + yy + 3 * media_id) % 256
    return np.stack(np.broadcast_arrays(r, g, b), axis=-1).astype(np.uint8)


def make_bmp_media(spark, n: int = 60) -> DataFrame:
    """REAL-codec media fixture: n tiny 24-bit BMPs (w=16+i%9, h=12+i%7)
    with :func:`bmp_test_pixels` content. Tests/benches only."""
    rows = []
    for i in range(n):
        w, h = 16 + i % 9, 12 + i % 7
        data = bmp_encode(bmp_test_pixels(i, w, h))
        rows.append(
            (i, "image", data, "image/bmp", len(data), f"https://media.example.com/bmp/{i}.bmp")
        )
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def make_png_media(spark, n: int = 60, id_offset: int = 100) -> DataFrame:
    """REAL-codec media fixture: n tiny 8-bit RGB PNGs (w=16+i%9, h=12+i%7)
    with :func:`bmp_test_pixels` content keyed on media_id=id_offset+i —
    the same integer pixel function the BMP fixture uses, so a SQL oracle
    replays both from one formula. :func:`png_encode` filters scanline y
    with type y%5, so decoding these exercises every defilter path.
    Tests/benches only."""
    rows = []
    for i in range(n):
        mid = id_offset + i
        w, h = 16 + i % 9, 12 + i % 7
        data = png_encode(bmp_test_pixels(mid, w, h))
        rows.append(
            (mid, "image", data, "image/png", len(data), f"https://media.example.com/png/{mid}.png")
        )
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def jpeg_test_pixels(media_id: int, w: int, h: int) -> np.ndarray:
    """Deterministic BLOCK-CONSTANT grey test image: pixel (x,y) of image
    ``media_id`` has value (11·(x//8) + 23·(y//8) + 5·id) % 256 — constant
    on every 8×8 JPEG block, so with the all-ones quant table the lossy
    codec round-trips it exactly (see the codec section comment) and a SQL
    oracle replays the DECODED pixels with integer floor-division math."""
    bx = np.arange(w).reshape(1, w) // 8
    by = np.arange(h).reshape(h, 1) // 8
    return ((11 * bx + 23 * by + 5 * media_id) % 256).astype(np.uint8)[:, :, None]


def make_jpeg_media(spark, n: int = 60, id_offset: int = 200) -> DataFrame:
    """REAL-codec media fixture: n tiny baseline grayscale JPEGs
    (w=16+8·(i%3), h=16+8·(i%2) — multiples of 8 so no edge padding enters
    the oracle contract) with :func:`jpeg_test_pixels` content, all-ones
    quant. Every 4th file carries a restart interval so DRI/RSTn decode is
    oracle-gated too. Tests/benches only."""
    rows = []
    for i in range(n):
        mid = id_offset + i
        w, h = 16 + 8 * (i % 3), 16 + 8 * (i % 2)
        data = jpeg_encode(
            jpeg_test_pixels(mid, w, h), quant=1, restart_interval=2 if i % 4 == 0 else 0
        )
        rows.append(
            (
                mid,
                "image",
                data,
                "image/jpeg",
                len(data),
                f"https://media.example.com/jpg/{mid}.jpg",
            )
        )
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def y4m_test_stream(media_id: int, w: int = 8, h: int = 6, n_frames: int = 6) -> bytes:
    """Deterministic C444 Y4M stream: frame f, plane p (Y/U/V), offset k has
    byte value (31·id + 17·f + 7·p + k) % 256."""
    out = bytearray(f"YUV4MPEG2 W{w} H{h} F25:1 Ip A1:1 C444\n".encode())
    k = np.arange(w * h)
    for f in range(n_frames):
        out += b"FRAME\n"
        vals = (media_id * 31 + f * 17 + (np.arange(3).reshape(3, 1) * 7 + k)) % 256
        out += vals.astype(np.uint8).tobytes()
    return bytes(out)


def make_y4m_media(spark, n: int = 60) -> DataFrame:
    """REAL-codec video fixture: n tiny Y4M streams (8×6 C444, 6+i%5
    frames) with :func:`y4m_test_stream` content. Tests/benches only."""
    rows = []
    for i in range(n):
        data = y4m_test_stream(i, 8, 6, 6 + i % 5)
        rows.append(
            (i, "video", data, "video/x-y4m", len(data), f"https://media.example.com/y4m/{i}.y4m")
        )
    return spark.createDataFrame(rows, MEDIA_SCHEMA)

