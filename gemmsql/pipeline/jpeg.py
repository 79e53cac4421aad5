"""Baseline JPEG codec (grayscale AND YCbCr 4:2:0 color JFIF),
dependency-free, plus the gated corpus queries that drive it.

The container has no codec libraries, so this is a full pure-NumPy
baseline-JPEG implementation: 8x8 forward/inverse DCT, quantization,
zigzag, DC-difference + AC run-length entropy coding with the JPEG
Annex K luminance AND chroma Huffman tables, 0xFF byte stuffing, and a
marker parser (SOI/APP0/DQT/SOF0/DHT/SOS/EOI) on the decode side.  The
color path is the real-world JPEG layout: three interleaved scan
components (Y sampling 2x2, Cb/Cr 1x1), two quant tables, four Huffman
tables, per-component DC predictors, 2x2 box chroma subsampling and
the half-up JFIF color conversions.  It rounds out the
compressed-format tier next to the PNG decoder in ``multimodal.py``:
PNG gates inflate + filtering, JPEG gates entropy decoding +
dequantization + IDCT + the full color pipeline.

Hash-parity strategy for a LOSSY codec: the DuckDB oracle cannot run
an IDCT, so the gated query synthesizes payloads inside the codec's
EXACTNESS subdomain — images that are flat per 8x8 block.  A flat
block's DCT is DC-only (DC = 8 * (v - 128), all AC = 0), and with the
DC quantizer pinned to 8 the quantized coefficient is exactly
``v - 128``: decode returns the input bit-for-bit (the float IDCT's
~1e-13 drift is killed by the final round-to-integer).  The oracle
therefore re-derives every block value from the md5 chain — exactly
the ``payload_features`` pattern — while the bytes on the wire are
REAL entropy-coded JPEG.  The color gate extends the same idea to
flat 16x16 MCUs: subsampling is exact on flat regions and the two
JFIF color conversions use half-up ``floor(x + 0.5)`` rounding, the
one convention NumPy and DuckDB replay identically — so the oracle
runs the ENTIRE pixel pipeline as SQL integer formulas.  The lossy
path (nonzero AC, magnitude categories, ZRL) is covered by round-trip
property tests in ``tests/test_pipeline.py`` instead
(tolerance-based, as befits a lossy format).

Scale shape: encode and decode are narrow Arrow-batched maps — no
shuffle; at 100 TB a decode pass is scan-bound, which is the right
bound.
"""

from __future__ import annotations

import hashlib
import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gemmsql.datamodel import load_table

# ----------------------------------------------------------- constants

#: zigzag scan order: zigzag index -> (row, col) raster index
_ZIGZAG = np.array([
     0,  1,  8, 16,  9,  2,  3, 10,
    17, 24, 32, 25, 18, 11,  4,  5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13,  6,  7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63,
])

#: quantization table (zigzag order).  q[0] = 8 pins the DC quantizer
#: to the flat-block exactness subdomain (see module docstring); the
#: AC entries are the JPEG Annex K luminance table, which only the
#: lossy path exercises.
_QUANT_AC_ANNEX_K = [
    16, 11, 12, 14, 12, 10, 16, 14, 13, 14, 18, 17, 16, 19, 24,
    40, 26, 24, 22, 22, 24, 49, 35, 37, 29, 40, 58, 51, 61, 60,
    57, 51, 56, 55, 64, 72, 92, 78, 64, 68, 87, 69, 55, 56, 80,
    109, 81, 87, 95, 98, 103, 104, 103, 62, 77, 113, 121, 112,
    100, 120, 92, 101, 103, 99,
]
QUANT_TABLE = np.array([8] + _QUANT_AC_ANNEX_K[1:], dtype=np.int32)

# Annex K luminance Huffman specs: (bits per code length 1..16, values)
_DC_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_DC_VALS = list(range(12))
_AC_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
_AC_VALS = [
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
]

# Annex K CHROMA quant table in zigzag order, DC pinned to 8 like the
# luminance table (same exactness-subdomain argument)
_QUANT_CHROMA_ANNEX_K = [
    17, 18, 18, 24, 21, 24, 47, 26, 26, 47, 99, 66, 56, 66, 99, 99,
] + [99] * 48
CHROMA_QUANT_TABLE = np.array(
    [8] + _QUANT_CHROMA_ANNEX_K[1:], dtype=np.int32
)

# Annex K CHROMA Huffman specs
_DC_BITS_C = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
_DC_VALS_C = list(range(12))
_AC_BITS_C = [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77]
_AC_VALS_C = [
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
]

# orthonormal-free DCT basis per the JPEG spec convention:
# S = (1/4) C diag-scaled cosine transform; implemented as matrix M
# with M[u, x] = c(u)/2 * cos((2x+1) u pi / 16), so S = M @ B @ M.T
_M = np.zeros((8, 8))
for _u in range(8):
    _c = (1 / np.sqrt(2)) if _u == 0 else 1.0
    for _x in range(8):
        _M[_u, _x] = 0.5 * _c * np.cos((2 * _x + 1) * _u * np.pi / 16)


def _build_codes(bits, vals):
    """Canonical Huffman assignment per the JPEG spec -> two maps:
    symbol -> (code, length) and (length, code) -> symbol."""
    enc, dec = {}, {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            enc[vals[k]] = (code, length)
            dec[(length, code)] = vals[k]
            code += 1
            k += 1
        code <<= 1
    return enc, dec

# encode-side tables; the decoder builds its own from the DHT bytes
_DC_ENC, _ = _build_codes(_DC_BITS, _DC_VALS)
_AC_ENC, _ = _build_codes(_AC_BITS, _AC_VALS)
_DC_ENC_C, _ = _build_codes(_DC_BITS_C, _DC_VALS_C)
_AC_ENC_C, _ = _build_codes(_AC_BITS_C, _AC_VALS_C)


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def put(self, value: int, length: int) -> None:
        self.acc = (self.acc << length) | (value & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            b = (self.acc >> (self.nbits - 8)) & 0xFF
            self.out.append(b)
            if b == 0xFF:          # byte stuffing
                self.out.append(0x00)
            self.nbits -= 8
        self.acc &= (1 << self.nbits) - 1

    def flush(self) -> None:
        if self.nbits:
            pad = 8 - self.nbits
            self.put((1 << pad) - 1, pad)  # pad with 1s per spec


def _category(v: int) -> int:
    return int(v).bit_length() if v > 0 else int(-v).bit_length()


def _quantize_plane(plane: np.ndarray, qtable: np.ndarray) -> np.ndarray:
    """Level-shifted float plane (H, W), H and W multiples of 8 ->
    quantized zigzag coefficient rows (n_blocks, 64) in raster block
    order: DCT over the whole block stack in one einsum."""
    ph, pw = plane.shape
    blocks = (
        plane.reshape(ph // 8, 8, pw // 8, 8)
        .transpose(0, 2, 1, 3)
        .reshape(-1, 8, 8)
    )
    coef = np.einsum("ux,bxy,vy->buv", _M, blocks, _M)
    q = np.zeros((8, 8), dtype=np.int32)
    q.flat[_ZIGZAG] = qtable
    quant = np.round(coef / q).astype(np.int64)
    return quant.reshape(-1, 64)[:, _ZIGZAG]


def _put_block(wr: _BitWriter, row, pred: int, dc_enc, ac_enc) -> int:
    """Entropy-code one zigzag coefficient row; returns the new DC
    predictor for this component."""
    dc = int(row[0])
    diff = dc - pred
    s = _category(diff)
    code, length = dc_enc[s]
    wr.put(code, length)
    if s:
        wr.put(diff if diff >= 0 else diff + (1 << s) - 1, s)
    run = 0
    nz = np.nonzero(row[1:])[0]
    last_nz = (nz[-1] + 1) if len(nz) else 0
    for k in range(1, last_nz + 1):
        v = int(row[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, length = ac_enc[0xF0]    # ZRL
            wr.put(code, length)
            run -= 16
        s = _category(v)
        code, length = ac_enc[run * 16 + s]
        wr.put(code, length)
        wr.put(v if v >= 0 else v + (1 << s) - 1, s)
        run = 0
    if last_nz < 63:
        code, length = ac_enc[0x00]        # EOB
        wr.put(code, length)
    return dc


def encode_jpeg_gray(
    img: np.ndarray, *, restart_every: int | None = None
) -> bytes:
    """(H, W) uint8 grayscale -> baseline JFIF bytes (single component,
    quant table :data:`QUANT_TABLE`, Annex K luminance Huffman).

    ``restart_every`` emits a DRI segment and an RSTn marker after
    every that-many MCUs (here one MCU = one block): the DC predictor
    resets and the bitstream byte-aligns at each marker, which is what
    makes camera JPEGs decodable — and at 100 TB, *parallelizable* —
    in independent segments."""
    h, w = img.shape
    zz = _quantize_plane(_pad_plane(img, 8) - 128.0, QUANT_TABLE)

    wr = _BitWriter()
    pred = 0
    for i, row in enumerate(zz):
        if restart_every and i and i % restart_every == 0:
            wr.flush()
            wr.out += bytes(
                [0xFF, 0xD0 + (i // restart_every - 1) % 8]
            )
            pred = 0
        pred = _put_block(wr, row, pred, _DC_ENC, _AC_ENC)
    wr.flush()

    dqt = bytes([0x00]) + bytes(int(v) for v in QUANT_TABLE)
    sof = struct.pack(">BHHB", 8, h, w, 1) + bytes([1, 0x11, 0])
    dht_dc = bytes([0x00]) + bytes(_DC_BITS) + bytes(_DC_VALS)
    dht_ac = bytes([0x10]) + bytes(_AC_BITS) + bytes(_AC_VALS)
    sos = bytes([1, 1, 0x00, 0, 63, 0])
    dri = (
        _seg(0xFFDD, struct.pack(">H", restart_every))
        if restart_every else b""
    )
    return (
        b"\xff\xd8"                                   # SOI
        + _seg(0xFFE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
        + _seg(0xFFDB, dqt)
        + _seg(0xFFC0, sof)
        + _seg(0xFFC4, dht_dc)
        + _seg(0xFFC4, dht_ac)
        + dri
        + _seg(0xFFDA, sos)
        + bytes(wr.out)
        + b"\xff\xd9"                                 # EOI
    )


def _seg(marker: int, body: bytes) -> bytes:
    return struct.pack(">HH", marker, len(body) + 2) + body


def _pad_plane(plane: np.ndarray, mult: int) -> np.ndarray:
    """Edge-replicate a (H, W) array to multiples of ``mult``, float."""
    h, w = plane.shape
    ph, pw = -(-h // mult) * mult, -(-w // mult) * mult
    out = np.empty((ph, pw), dtype=np.float64)
    out[:h, :w] = plane
    out[h:, :w] = plane[h - 1:h, :]
    out[:, w:] = out[:, w - 1:w]
    return out


def _half_up(x: np.ndarray) -> np.ndarray:
    """floor(x + 0.5): deterministic half-UP rounding, mirrored by the
    oracle's ``FLOOR(x + 0.5)`` (NumPy's round() is banker's and DuckDB
    ROUND is half-away — this is the one convention both replay)."""
    return np.floor(x + 0.5)


def rgb_to_ycbcr(img: np.ndarray) -> np.ndarray:
    """(H, W, 3) uint8 RGB -> int YCbCr per JFIF, half-up rounded and
    clipped (Cb/Cr for saturated inputs land exactly on 256 before the
    clip)."""
    r = img[..., 0].astype(np.float64)
    g = img[..., 1].astype(np.float64)
    b = img[..., 2].astype(np.float64)
    y = _half_up(0.299 * r + 0.587 * g + 0.114 * b)
    cb = _half_up(128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b)
    cr = _half_up(128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b)
    return np.clip(np.stack([y, cb, cr], axis=-1), 0, 255)


def ycbcr_to_rgb(y: np.ndarray, cb: np.ndarray, cr: np.ndarray):
    """int YCbCr planes -> (H, W, 3) uint8 RGB, half-up + clip."""
    y = y.astype(np.float64)
    cbc = cb.astype(np.float64) - 128.0
    crc = cr.astype(np.float64) - 128.0
    r = _half_up(y + 1.402 * crc)
    g = _half_up(y - 0.344136 * cbc - 0.714136 * crc)
    b = _half_up(y + 1.772 * cbc)
    return np.clip(np.stack([r, g, b], axis=-1), 0, 255).astype(np.uint8)


def encode_jpeg_color(
    img: np.ndarray, *, restart_every: int | None = None
) -> bytes:
    """(H, W, 3) uint8 RGB -> baseline JFIF bytes, YCbCr 4:2:0: the
    real-world JPEG layout.  Three components (Y sampling 2x2, Cb/Cr
    1x1), two quant tables (luma / Annex K chroma, both DC-pinned to
    8), four Huffman tables, interleaved MCU entropy coding
    (Y1 Y2 Y3 Y4 Cb Cr per 16x16 MCU) with per-component DC
    predictors.  Chroma is box-subsampled 2x2 with half-up integer
    averaging — deterministic and oracle-replayable.
    ``restart_every`` emits DRI + RSTn every that-many MCUs (see
    :func:`encode_jpeg_gray`)."""
    h, w, _ = img.shape
    ycc = rgb_to_ycbcr(img)
    yp = _pad_plane(ycc[..., 0], 16)
    cbp = _pad_plane(ycc[..., 1], 16)
    crp = _pad_plane(ycc[..., 2], 16)
    # 4:2:0 chroma: half-up integer average over each 2x2
    def sub(p):
        s = p[0::2, 0::2] + p[0::2, 1::2] + p[1::2, 0::2] + p[1::2, 1::2]
        return np.floor((s + 2.0) / 4.0)

    yzz = _quantize_plane(yp - 128.0, QUANT_TABLE)
    cbzz = _quantize_plane(sub(cbp) - 128.0, CHROMA_QUANT_TABLE)
    crzz = _quantize_plane(sub(crp) - 128.0, CHROMA_QUANT_TABLE)

    mbh, mbw = yp.shape[0] // 16, yp.shape[1] // 16
    ybw = yp.shape[1] // 8                   # Y blocks per row
    wr = _BitWriter()
    py = pcb = pcr = 0
    n_mcu = 0
    for my in range(mbh):
        for mx in range(mbw):
            if restart_every and n_mcu and n_mcu % restart_every == 0:
                wr.flush()
                wr.out += bytes(
                    [0xFF, 0xD0 + (n_mcu // restart_every - 1) % 8]
                )
                py = pcb = pcr = 0
            n_mcu += 1
            for dy in range(2):
                for dx in range(2):
                    row = yzz[(2 * my + dy) * ybw + 2 * mx + dx]
                    py = _put_block(wr, row, py, _DC_ENC, _AC_ENC)
            pcb = _put_block(
                wr, cbzz[my * mbw + mx], pcb, _DC_ENC_C, _AC_ENC_C
            )
            pcr = _put_block(
                wr, crzz[my * mbw + mx], pcr, _DC_ENC_C, _AC_ENC_C
            )
    wr.flush()

    dqt0 = bytes([0x00]) + bytes(int(v) for v in QUANT_TABLE)
    dqt1 = bytes([0x01]) + bytes(int(v) for v in CHROMA_QUANT_TABLE)
    sof = struct.pack(">BHHB", 8, h, w, 3) + bytes(
        [1, 0x22, 0, 2, 0x11, 1, 3, 0x11, 1]
    )
    dht = (
        _seg(0xFFC4, bytes([0x00]) + bytes(_DC_BITS) + bytes(_DC_VALS))
        + _seg(0xFFC4, bytes([0x10]) + bytes(_AC_BITS) + bytes(_AC_VALS))
        + _seg(0xFFC4, bytes([0x01]) + bytes(_DC_BITS_C) + bytes(_DC_VALS_C))
        + _seg(0xFFC4, bytes([0x11]) + bytes(_AC_BITS_C) + bytes(_AC_VALS_C))
    )
    sos = bytes([3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0])
    dri = (
        _seg(0xFFDD, struct.pack(">H", restart_every))
        if restart_every else b""
    )
    return (
        b"\xff\xd8"
        + _seg(0xFFE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
        + _seg(0xFFDB, dqt0)
        + _seg(0xFFDB, dqt1)
        + _seg(0xFFC0, sof)
        + dht
        + dri
        + _seg(0xFFDA, sos)
        + bytes(wr.out)
        + b"\xff\xd9"
    )


from functools import lru_cache


@lru_cache(maxsize=16)
def _huff_lut(bits: bytes, vals: bytes):
    """DHT spec -> (symbol, length) flat 16-bit-prefix lookup tables:
    peek 16 bits, one index, done — instead of a bit-by-bit tree walk
    per symbol.  Cached on the raw table bytes, so a corpus of
    same-table images builds each LUT once per worker."""
    _, dec = _build_codes(list(bits), list(vals))
    sym = [-1] * (1 << 16)
    ln = [0] * (1 << 16)
    for (length, code), s in dec.items():
        lo = code << (16 - length)
        for v in range(lo, lo + (1 << (16 - length))):
            sym[v] = s
            ln[v] = length
    return sym, ln


def _scan_words(data: bytes):
    """Destuffed entropy-coded scan -> list of 32-bit big-endian words
    (word ``i`` holds bytes ``i..i+3``), so bits ``p..p+n-1`` are one
    shift+mask on ``words[p >> 3]``.  The scan ends at the first real
    marker (0xFF followed by non-zero); stuffed 0xFF 0x00 pairs become
    a plain 0xFF byte.  Padding is 0xFF so a read past the end hits an
    invalid Huffman prefix instead of decoding silence."""
    arr = np.frombuffer(data, dtype=np.uint8)
    ff = np.where(arr[:-1] == 0xFF)[0]
    markers = ff[arr[ff + 1] != 0]
    end = int(markers[0]) if len(markers) else len(arr)
    arr = arr[:end]
    keep = np.ones(len(arr), dtype=bool)
    ffpos = np.where(arr[:-1] == 0xFF)[0]
    keep[ffpos + 1] = False          # the stuffed 0x00 after each 0xFF
    d = np.concatenate([arr[keep], np.full(8, 0xFF, np.uint8)])
    w = (
        (d[:-3].astype(np.uint32) << 24)
        | (d[1:-2].astype(np.uint32) << 16)
        | (d[2:-1].astype(np.uint32) << 8)
        | d[3:].astype(np.uint32)
    )
    return w.tolist()


def _extend(v: int, s: int) -> int:
    return v if v >= (1 << (s - 1)) else v - (1 << s) + 1


def _split_restarts(data: bytes) -> list[bytes]:
    """Split raw entropy data at RSTn markers (0xFF 0xD0-0xD7).  A
    stuffed 0xFF is always followed by 0x00, so any 0xFF + 0xD0-0xD7
    pair is a true restart marker.  Each returned segment is
    independently decodable (byte-aligned, predictors reset) — the
    property that lets a 100 TB decode pass split ONE huge scan across
    tasks, not just across files."""
    segs = []
    start = 0
    i = 0
    n = len(data)
    while i < n - 1:
        if data[i] == 0xFF and 0xD0 <= data[i + 1] <= 0xD7:
            segs.append(data[start:i])
            start = i + 2
            i += 2
        else:
            i += 1 + (data[i] == 0xFF)   # skip stuffed pair atomically
    segs.append(data[start:])
    return segs


def _parse_segments(payload: bytes):
    """Walk the marker stream -> (qtables, huffman specs, frame, scan
    components, scan byte offset).  Shared by the grayscale and color
    decoders; nothing is assumed shared with the encoder."""
    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    pos = 2
    qtables: dict[int, np.ndarray] = {}
    hspecs: dict[tuple[int, int], tuple[bytes, bytes]] = {}
    frame = None          # (h, w, [(cid, hs, vs, tq), ...])
    scan = None           # [(cid, dc_t, ac_t), ...]
    scan_start = None
    dri = 0               # restart interval in MCUs (0 = none)
    while pos < len(payload):
        if payload[pos] != 0xFF:
            raise ValueError("marker expected")
        marker = payload[pos + 1]
        pos += 2
        if marker == 0xD9:          # EOI
            break
        ln = struct.unpack(">H", payload[pos:pos + 2])[0]
        body = payload[pos + 2:pos + ln]
        pos += ln
        if marker == 0xDB:          # DQT (possibly several tables)
            o = 0
            while o < len(body):
                pq, tq = body[o] >> 4, body[o] & 0xF
                if pq != 0:
                    raise ValueError("only 8-bit quant tables")
                qtables[tq] = np.frombuffer(
                    body[o + 1:o + 65], dtype=np.uint8
                ).astype(np.int32)
                o += 65
        elif marker == 0xC0:        # SOF0 baseline
            prec, h, w, nc = struct.unpack(">BHHB", body[:6])
            if prec != 8:
                raise ValueError("only 8-bit baseline")
            comps = []
            for c in range(nc):
                cid, samp, tq = body[6 + 3 * c:9 + 3 * c]
                comps.append((cid, samp >> 4, samp & 0xF, tq))
            frame = (h, w, comps)
        elif marker == 0xC4:        # DHT (possibly several tables)
            o = 0
            while o < len(body):
                tc, th = body[o] >> 4, body[o] & 0xF
                nv = sum(body[o + 1:o + 17])
                hspecs[(tc, th)] = (
                    bytes(body[o + 1:o + 17]),
                    bytes(body[o + 17:o + 17 + nv]),
                )
                o += 17 + nv
        elif marker == 0xDD:        # DRI: restart interval
            dri = struct.unpack(">H", body[:2])[0]
        elif marker == 0xDA:        # SOS: entropy data follows
            ns = body[0]
            scan = [
                (body[1 + 2 * c], body[2 + 2 * c] >> 4,
                 body[2 + 2 * c] & 0xF)
                for c in range(ns)
            ]
            scan_start = pos
            break
        elif marker in (0xC1, 0xC2, 0xC3):
            raise ValueError("only baseline (SOF0) supported")
        # APPn / COM / anything else: skipped
    if scan_start is None or frame is None:
        raise ValueError("no scan in stream")
    return qtables, hspecs, frame, scan, scan_start, dri


def _scan_luts(hspecs, dc_t: int, ac_t: int):
    """``(dc_sym, dc_len, ac_sym, ac_len)`` for one scan component.  A
    table id that no DHT segment defined means a corrupt stream."""
    try:
        dc, ac = hspecs[(0, dc_t)], hspecs[(1, ac_t)]
    except KeyError as e:
        raise ValueError(f"scan uses undefined Huffman table {e.args[0]}") from None
    return (*_huff_lut(*dc), *_huff_lut(*ac))


def _qtable(qtables, tq: int) -> np.ndarray:
    try:
        return qtables[tq]
    except KeyError:
        raise ValueError(f"frame uses undefined quant table {tq}") from None


def _read_block(words, p, dc_sym, dc_len, ac_sym, ac_len, pred, out):
    """Entropy-decode one block into ``out`` (a 64-long row); returns
    (new bit cursor, new DC predictor)."""
    peek = (words[p >> 3] >> (16 - (p & 7))) & 0xFFFF
    s = dc_sym[peek]
    if s < 0:
        raise ValueError("invalid Huffman code")
    p += dc_len[peek]
    if s:
        off = p & 7
        v = (words[p >> 3] >> (32 - off - s)) & ((1 << s) - 1)
        pred += _extend(v, s)
        p += s
    out[0] = pred
    k = 1
    while k < 64:
        peek = (words[p >> 3] >> (16 - (p & 7))) & 0xFFFF
        sym = ac_sym[peek]
        if sym < 0:
            raise ValueError("invalid Huffman code")
        p += ac_len[peek]
        if sym == 0x00:             # EOB
            break
        if sym == 0xF0:             # ZRL
            k += 16
            continue
        run, s = sym >> 4, sym & 0xF
        k += run
        if k > 63:
            raise ValueError("AC run past block end (corrupt scan)")
        off = p & 7
        v = (words[p >> 3] >> (32 - off - s)) & ((1 << s) - 1)
        out[k] = _extend(v, s)
        p += s
        k += 1
    return p, pred


def _plane_from_zz(zz: np.ndarray, q: np.ndarray, bh: int, bw: int):
    """Quantized zigzag rows (raster block order) -> float pixel plane
    (8*bh, 8*bw), level-shifted back but NOT yet rounded."""
    deq = zz * q.astype(np.int64)[None, :]
    blocks = np.zeros((bh * bw, 64), dtype=np.float64)
    blocks[:, _ZIGZAG] = deq        # un-zigzag to raster
    blocks = blocks.reshape(-1, 8, 8)
    pix = np.einsum("xu,buv,yv->bxy", _M.T, blocks, _M.T)
    return (
        pix.reshape(bh, bw, 8, 8)
        .transpose(0, 2, 1, 3)
        .reshape(bh * 8, bw * 8)
    ) + 128.0


def decode_jpeg_gray(payload: bytes) -> np.ndarray:
    """Baseline JFIF bytes -> (H, W) uint8 grayscale.  A real parser:
    walks markers, reads DQT/SOF0/DHT from the stream (nothing is
    assumed shared with the encoder), entropy-decodes the scan, then
    dequantizes + IDCT + level shift."""
    qtables, hspecs, (h, w, comps), scan, scan_start, dri = (
        _parse_segments(payload)
    )
    if len(comps) != 1:
        raise ValueError(
            "grayscale decoder: single-component stream required"
        )
    _, _, _, tq = comps[0]
    _, dc_t, ac_t = scan[0]
    dc_sym, dc_len, ac_sym, ac_len = _scan_luts(hspecs, dc_t, ac_t)
    q = _qtable(qtables, tq)
    segs = (
        _split_restarts(payload[scan_start:]) if dri
        else [payload[scan_start:]]
    )
    words = _scan_words(segs[0])
    seg = 0
    bh, bw = -(-h // 8), -(-w // 8)
    zz = np.zeros((bh * bw, 64), dtype=np.int64)
    pred = 0
    p = 0
    for b in range(bh * bw):
        if dri and b and b % dri == 0:
            # restart: next segment, byte-aligned, predictor reset
            seg += 1
            if seg >= len(segs):
                raise ValueError("missing restart segment")
            words = _scan_words(segs[seg])
            p = 0
            pred = 0
        p, pred = _read_block(
            words, p, dc_sym, dc_len, ac_sym, ac_len, pred, zz[b]
        )
    img = _plane_from_zz(zz, q, bh, bw)
    out = np.clip(np.round(img), 0, 255).astype(np.uint8)
    return out[:h, :w]


def decode_jpeg_color(payload: bytes) -> np.ndarray:
    """Baseline JFIF YCbCr 4:2:0 bytes -> (H, W, 3) uint8 RGB.

    The full color path: three scan components with per-component
    quant/Huffman tables and DC predictors, interleaved MCU entropy
    decoding (4 Y + Cb + Cr per 16x16), 2x nearest upsampling of the
    chroma planes, then the half-up JFIF YCbCr -> RGB conversion."""
    qtables, hspecs, (h, w, comps), scan, scan_start, dri = (
        _parse_segments(payload)
    )
    if len(comps) != 3:
        raise ValueError("color decoder: 3-component stream required")
    samps = [(hs, vs) for _, hs, vs, _ in comps]
    if samps != [(2, 2), (1, 1), (1, 1)]:
        raise ValueError(f"only 4:2:0 sampling supported, got {samps}")
    luts = {cid: _scan_luts(hspecs, dc_t, ac_t) for cid, dc_t, ac_t in scan}
    qs = {cid: _qtable(qtables, tq) for cid, _, _, tq in comps}
    ids = [cid for cid, _, _, _ in comps]

    segs = (
        _split_restarts(payload[scan_start:]) if dri
        else [payload[scan_start:]]
    )
    words = _scan_words(segs[0])
    seg = 0
    n_mcu = 0
    mbh, mbw = -(-h // 16), -(-w // 16)
    ybw = 2 * mbw
    yzz = np.zeros((4 * mbh * mbw, 64), dtype=np.int64)
    cbzz = np.zeros((mbh * mbw, 64), dtype=np.int64)
    crzz = np.zeros((mbh * mbw, 64), dtype=np.int64)
    preds = {cid: 0 for cid in ids}
    p = 0
    for my in range(mbh):
        for mx in range(mbw):
            if dri and n_mcu and n_mcu % dri == 0:
                seg += 1
                if seg >= len(segs):
                    raise ValueError("missing restart segment")
                words = _scan_words(segs[seg])
                p = 0
                preds = {cid: 0 for cid in ids}
            n_mcu += 1
            for dy in range(2):
                for dx in range(2):
                    row = yzz[(2 * my + dy) * ybw + 2 * mx + dx]
                    p, preds[ids[0]] = _read_block(
                        words, p, *luts[ids[0]], preds[ids[0]], row
                    )
            m = my * mbw + mx
            p, preds[ids[1]] = _read_block(
                words, p, *luts[ids[1]], preds[ids[1]], cbzz[m]
            )
            p, preds[ids[2]] = _read_block(
                words, p, *luts[ids[2]], preds[ids[2]], crzz[m]
            )

    yplane = np.clip(
        _half_up(_plane_from_zz(yzz, qs[ids[0]], 2 * mbh, 2 * mbw)),
        0, 255,
    )
    cb = np.clip(
        _half_up(_plane_from_zz(cbzz, qs[ids[1]], mbh, mbw)), 0, 255
    )
    cr = np.clip(
        _half_up(_plane_from_zz(crzz, qs[ids[2]], mbh, mbw)), 0, 255
    )
    cb = np.repeat(np.repeat(cb, 2, axis=0), 2, axis=1)
    cr = np.repeat(np.repeat(cr, 2, axis=0), 2, axis=1)
    rgb = ycbcr_to_rgb(yplane, cb, cr)
    return rgb[:h, :w]


# ------------------------------------------------- gated corpus query

#: geometry: W = 16 (2 blocks/row), H = 8 * (1 + doc_id % JPEG_HB_MOD)
JPEG_W = 16
JPEG_HB_MOD = 7


def _jpeg_block_values(doc_id: int, n_blocks: int) -> list[int]:
    """Per-block gray values from the md5 chain keyed (doc_id, tile):
    digest byte i of tile t feeds block 16*t + i."""
    out: list[int] = []
    for t in range(-(-n_blocks // 16)):
        out.extend(hashlib.md5(f"jp:{doc_id}:{t}".encode()).digest())
    return out[:n_blocks]


def with_jpeg_payload(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attach a REAL baseline-JPEG payload per document, synthesized
    inside the codec's exactness subdomain: every 8x8 block is flat at
    an md5-chain gray value, so decode == source bit-for-bit while the
    wire bytes are genuinely entropy-coded (DC differences + EOBs
    through the Annex K tables, with byte stuffing)."""
    # repartition the doc list: the single-file documents scan is one
    # partition, which would serialize the Arrow synth/decode maps and
    # the staged payload files on one core (round-9 fix)
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            payloads = []
            for doc_id in pdf["doc_id"]:
                hb = 1 + int(doc_id) % JPEG_HB_MOD
                nb = hb * (JPEG_W // 8)
                vals = _jpeg_block_values(int(doc_id), nb)
                img = np.zeros((hb * 8, JPEG_W), dtype=np.uint8)
                for b, v in enumerate(vals):
                    by, bx = divmod(b, JPEG_W // 8)
                    img[by * 8:(by + 1) * 8, bx * 8:(bx + 1) * 8] = v
                # restart marker per block row: the gate exercises
                # DRI/RSTn parsing too (pixels — and the oracle — are
                # unchanged; pinned by test_jpeg_restart_markers)
                payloads.append(
                    encode_jpeg_gray(img, restart_every=JPEG_W // 8)
                )
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"].values, "payload": payloads}
            )

    return docs.mapInPandas(synth, schema="doc_id long, payload binary")


def jpeg_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode every JPEG payload with the REAL baseline decoder
    (marker parse -> Huffman -> dequant -> IDCT) and emit exact-int64
    grayscale statistics ``(doc_id, n_px, mean, std)``.

    A wrong Huffman table, DC predictor, stuffing bug, or IDCT scale
    changes the pixels and breaks the value hash against DuckDB's
    md5-chain reconstruction.  Zero shuffle — one narrow decode map
    (the ``payload_features`` shape; multimodal.py:426).  Payloads are
    staged to session-local parquet once (staging.py) so the timed
    query is pure decode."""
    from gemmsql.pipeline.staging import stage_payload_table

    b = stage_payload_table(spark, sf_dir, "jpeg", with_jpeg_payload)

    def stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids, ns, sums, sqs = [], [], [], []
            for doc_id, p in zip(pdf["doc_id"], pdf["payload"]):
                img = decode_jpeg_gray(bytes(p)).astype(np.int64)
                ids.append(doc_id)
                ns.append(img.size)
                sums.append(int(img.sum()))
                sqs.append(int((img * img).sum()))
            yield pd.DataFrame(
                {"doc_id": ids, "n_px": ns, "s": sums, "s2": sqs}
            )

    part = b.mapInPandas(
        stats, schema="doc_id long, n_px long, s long, s2 long"
    )
    n = F.col("n_px").cast("double")
    s = F.col("s").cast("double")
    s2 = F.col("s2").cast("double")
    return part.select(
        "doc_id",
        "n_px",
        F.round(s / n, 6).alias("mean"),
        F.round(F.sqrt((s2 - s * s / n) / n), 6).alias("std"),
    )


# oracle: block b of doc d is flat at byte (b % 16) of
# md5('jp:d:' || b // 16); every block contributes 64 identical pixels
JPEG_FEATURES_SQL = f"""
WITH d AS (
  SELECT doc_id, 1 + doc_id % {JPEG_HB_MOD} AS hb FROM documents
),
blk AS (
  SELECT d.doc_id, d.hb,
         CAST('0x' || substr(
           md5('jp:' || CAST(d.doc_id AS VARCHAR) || ':'
               || CAST(s.b // 16 AS VARCHAR)),
           2 * (s.b % 16) + 1, 2) AS BIGINT) AS v
  FROM d JOIN generate_series(0, {2 * JPEG_HB_MOD - 1}) s(b)
    ON s.b < d.hb * {JPEG_W // 8}
),
agg AS (
  SELECT doc_id,
         CAST(64 * COUNT(*) AS BIGINT) AS n_px,
         CAST(64 * SUM(v) AS BIGINT) AS s,
         CAST(64 * SUM(v * v) AS BIGINT) AS s2
  FROM blk GROUP BY doc_id
)
SELECT doc_id, n_px,
  ROUND(CAST(s AS DOUBLE) / CAST(n_px AS DOUBLE), 6) AS mean,
  ROUND(SQRT((CAST(s2 AS DOUBLE)
              - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                / CAST(n_px AS DOUBLE))
             / CAST(n_px AS DOUBLE)), 6) AS std
FROM agg
"""


# ------------------------------------------- color gate (4:2:0 tier)

#: color geometry: W = 32 (2 MCUs/row), H = 16 * (1 + doc_id % MOD)
JPEG_C_W = 32
JPEG_C_HB_MOD = 4


def _jpeg_mcu_rgb(doc_id: int, n_mcus: int) -> list[tuple[int, int, int]]:
    """Per-MCU (r, g, b) from the md5 chain keyed ('jc', doc_id, tile):
    bytes 3m, 3m+1, 3m+2 of the concatenated digests feed MCU m."""
    need = 3 * n_mcus
    chain = b"".join(
        hashlib.md5(f"jc:{doc_id}:{t}".encode()).digest()
        for t in range(-(-need // 16))
    )
    return [
        (chain[3 * m], chain[3 * m + 1], chain[3 * m + 2])
        for m in range(n_mcus)
    ]


def with_color_jpeg_payload(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attach a REAL YCbCr 4:2:0 baseline-JPEG payload per document,
    flat per 16x16 MCU at md5-chain RGB colors — the codec's exactness
    subdomain, so decode replays as pure integer formulas while the
    wire bytes exercise the full interleaved three-component scan."""
    # repartition the doc list: the single-file documents scan is one
    # partition, which would serialize the Arrow synth/decode maps and
    # the staged payload files on one core (round-9 fix)
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            payloads = []
            for doc_id in pdf["doc_id"]:
                mh = 1 + int(doc_id) % JPEG_C_HB_MOD
                mw = JPEG_C_W // 16
                rgbs = np.array(
                    _jpeg_mcu_rgb(int(doc_id), mh * mw), dtype=np.uint8
                ).reshape(mh, mw, 3)
                img = np.repeat(np.repeat(rgbs, 16, axis=0), 16, axis=1)
                # one restart per MCU row (see the gray synth note)
                payloads.append(
                    encode_jpeg_color(img, restart_every=mw)
                )
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"].values, "payload": payloads}
            )

    return docs.mapInPandas(synth, schema="doc_id long, payload binary")


def jpeg_color_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode every color payload with the REAL 4:2:0 decoder (three
    scan components, four Huffman tables, MCU interleave, chroma
    upsample, half-up YCbCr->RGB) and emit per-doc per-channel exact
    int64 stats ``(doc_id, channel, n_px, mean, std)``.

    The oracle replays the whole pixel pipeline in SQL: forward JFIF
    conversion with FLOOR(x + 0.5) half-up rounding and clipping, then
    the inverse — so a wrong chroma table, swapped component order,
    broken per-component DC predictor, or rounding-mode drift all
    break the value hash.  Payloads are staged to session-local
    parquet once (staging.py) so the timed query is pure decode."""
    from gemmsql.pipeline.staging import stage_payload_table

    b = stage_payload_table(
        spark, sf_dir, "jpeg_color", with_color_jpeg_payload
    )

    def stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids, chans, ns, sums, sqs = [], [], [], [], []
            for doc_id, p in zip(pdf["doc_id"], pdf["payload"]):
                img = decode_jpeg_color(bytes(p)).astype(np.int64)
                n = img.shape[0] * img.shape[1]
                for c in range(3):
                    ch = img[:, :, c]
                    ids.append(doc_id)
                    chans.append(c)
                    ns.append(n)
                    sums.append(int(ch.sum()))
                    sqs.append(int((ch * ch).sum()))
            yield pd.DataFrame(
                {"doc_id": ids, "channel": chans, "n_px": ns,
                 "s": sums, "s2": sqs}
            )

    part = b.mapInPandas(
        stats,
        schema="doc_id long, channel int, n_px long, s long, s2 long",
    )
    n = F.col("n_px").cast("double")
    s = F.col("s").cast("double")
    s2 = F.col("s2").cast("double")
    return part.select(
        "doc_id",
        F.col("channel").cast("long").alias("channel"),
        "n_px",
        F.round(s / n, 6).alias("mean"),
        F.round(F.sqrt((s2 - s * s / n) / n), 6).alias("std"),
    )


def _clip_sql(x: str) -> str:
    return f"LEAST(255, GREATEST(0, {x}))"


# oracle: MCU m of doc d is flat at rgb = chain bytes (3m, 3m+1, 3m+2);
# replay forward + inverse JFIF conversion with FLOOR(+0.5) rounding;
# each MCU contributes 256 identical pixels per channel
JPEG_COLOR_FEATURES_SQL = f"""
WITH d AS (
  SELECT doc_id, (1 + doc_id % {JPEG_C_HB_MOD}) * {JPEG_C_W // 16}
           AS n_mcus
  FROM documents
),
chain AS (
  SELECT d.doc_id, s.m,
         {"||".join(
             f"md5('jc:' || CAST(d.doc_id AS VARCHAR) || ':{t}')"
             for t in range(2)
         )} AS hx
  FROM d JOIN generate_series(0, {2 * JPEG_C_HB_MOD - 1}) s(m)
    ON s.m < d.n_mcus
),
rgb AS (
  SELECT doc_id, m,
    CAST('0x' || substr(hx, 2 * (3 * m) + 1, 2) AS BIGINT) AS r,
    CAST('0x' || substr(hx, 2 * (3 * m + 1) + 1, 2) AS BIGINT) AS g,
    CAST('0x' || substr(hx, 2 * (3 * m + 2) + 1, 2) AS BIGINT) AS b
  FROM chain
),
ycc AS (
  SELECT doc_id, m,
    {_clip_sql("FLOOR(0.299 * r + 0.587 * g + 0.114 * b + 0.5)")} AS y,
    {_clip_sql(
        "FLOOR(128 - 0.168736 * r - 0.331264 * g + 0.5 * b + 0.5)"
    )} AS cb,
    {_clip_sql(
        "FLOOR(128 + 0.5 * r - 0.418688 * g - 0.081312 * b + 0.5)"
    )} AS cr
  FROM rgb
),
back AS (
  SELECT doc_id, m,
    {_clip_sql("FLOOR(y + 1.402 * (cr - 128) + 0.5)")} AS r2,
    {_clip_sql(
        "FLOOR(y - 0.344136 * (cb - 128) - 0.714136 * (cr - 128) + 0.5)"
    )} AS g2,
    {_clip_sql("FLOOR(y + 1.772 * (cb - 128) + 0.5)")} AS b2
  FROM ycc
),
px AS (
  SELECT doc_id, 0 AS channel, r2 AS v FROM back
  UNION ALL SELECT doc_id, 1, g2 FROM back
  UNION ALL SELECT doc_id, 2, b2 FROM back
),
agg AS (
  SELECT doc_id, channel,
         CAST(256 * COUNT(*) AS BIGINT) AS n_px,
         CAST(256 * SUM(v) AS BIGINT) AS s,
         CAST(256 * SUM(v * v) AS BIGINT) AS s2
  FROM px GROUP BY doc_id, channel
)
SELECT doc_id, CAST(channel AS BIGINT) AS channel, n_px,
  ROUND(CAST(s AS DOUBLE) / CAST(n_px AS DOUBLE), 6) AS mean,
  ROUND(SQRT((CAST(s2 AS DOUBLE)
              - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                / CAST(n_px AS DOUBLE))
             / CAST(n_px AS DOUBLE)), 6) AS std
FROM agg
"""


def decode_jpeg(payload: bytes) -> np.ndarray:
    """Route on the frame's component count: 1 -> grayscale replicated
    to RGB, 3 -> the 4:2:0 color path.  The (H, W, 3) uint8 contract
    of ``multimodal.decode_image``."""
    _, _, (_, _, comps), _, _, _ = _parse_segments(payload)
    if len(comps) == 1:
        gray = decode_jpeg_gray(payload)
        return np.repeat(gray[:, :, None], 3, axis=2)
    return decode_jpeg_color(payload)
