"""Pure-stdlib baseline-JPEG codec (struct + numpy) for the multimodal verbs.

The container ships no image libraries, but baseline sequential DCT JPEG
is decodable with nothing beyond ``struct`` and numpy — the format is
public (ITU-T T.81 / ISO 10918-1). This module implements the minimal
honest subset the engine needs, in the same spirit as png_codec.py:

* :func:`encode_jpeg_gray` — 8-bit grayscale, baseline sequential, one
  component, standard Annex K luminance Huffman tables, a caller-chosen
  flat quantization table. Real forward DCT → quantize → Huffman
  entropy coding with byte stuffing.
* :func:`decode_jpeg` — parses SOI/APP/DQT/SOF0|SOF2/DHT/SOS,
  Huffman-decodes the entropy stream (DC prediction, AC run-length,
  EOB/ZRL), dequantizes, inverse-DCTs, level-shifts, crops and (color)
  chroma-upsamples + BT.601-converts. Covers baseline sequential
  (grayscale + 4:4:4/4:2:2/4:2:0 color, r13) and Huffman PROGRESSIVE
  (grayscale + 4:2:0 color: interleaved DC scans, non-interleaved AC
  spectral-selection + successive-approximation scans, r13); only
  arithmetic coding is rejected rather than decoded.
* :func:`synth_jpeg_from_bytes` — the text-fixture bridge: dimensions
  from the same byte-length rule as the PNG path, pixels CONSTANT per
  8×8 block (v = (11·bx + 7·by) mod 256). With a flat quant table of
  8, a constant block's only nonzero coefficient is the DC term
  8·(v−128), which quantizes and reconstructs EXACTLY — so the decoded
  image equals the synthesized one bit-for-bit and an oracle can state
  the pixel sum in closed form despite JPEG being lossy in general.

Everything is numpy-vectorized per image; inside an Arrow batch the
per-row Python overhead is one function call, matching the engine's
"Python only in batched kernels" rule (SURVEY.md §6).
"""

from __future__ import annotations

import struct

import numpy as np

JPEG_SIG = b"\xff\xd8"

# Zigzag scan order (T.81 Figure 5): zigzag index -> raster index.
_ZIGZAG = np.array([
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
], dtype=np.int64)
_UNZIGZAG = np.argsort(_ZIGZAG)

# Standard luminance Huffman tables (T.81 Annex K.3): BITS counts per
# code length 1..16, then the symbol values in code order.
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


# Standard chrominance Huffman tables (T.81 Annex K.3.2) — the Cb/Cr
# twin of the luminance tables above, used by the 4:2:0 color path.
_DC_C_BITS = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
_DC_C_VALS = list(range(12))
_AC_C_BITS = [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77]
_AC_C_VALS = [
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


# Canonical-code dicts are pure functions of the (bits, vals) payload and
# every encoder rebuilds the same Annex K set per image — memoize (r15;
# _canonical_codes was 8% of the progressive-color kernel). Entries are
# read-only by convention; bounded like _LUT_CACHE, FIFO-evicted.
_CANON_CACHE: dict[bytes, dict[int, tuple[int, int]]] = {}


def _canonical_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length) per T.81 Annex C code assignment."""
    key = bytes(bits) + bytes(vals)
    cached = _CANON_CACHE.get(key)
    if cached is not None:
        return cached
    out: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    if len(_CANON_CACHE) >= _LUT_CACHE_MAX:
        _CANON_CACHE.pop(next(iter(_CANON_CACHE)))
    _CANON_CACHE[key] = out
    return out


class _HuffTable(dict):
    """Decoder-side Huffman table: the (length, code) -> symbol dict plus
    a flat 65536-entry lookup table ``lut`` indexed by the next 16 bits
    of the stream, each entry ``(code_length << 8) | symbol`` (0 = no
    code with that prefix). The LUT turns the per-bit tree walk into one
    list index per symbol (guide §4.2: constant work per decision); the
    dict form is kept for the tests and for error-path introspection."""

    __slots__ = ("lut", "lut_np")

    def __init__(self, items: dict[tuple[int, int], int],
                 lut: list[int], lut_np: np.ndarray) -> None:
        super().__init__(items)
        self.lut = lut
        self.lut_np = lut_np


# LUT cache keyed by the DHT payload (bits + vals): real streams reuse
# the same few tables (usually the Annex K set) across every image, and
# materializing 65536 plain ints per table costs more than decoding a
# small image. Bounded so adversarial fuzz streams full of one-off DHTs
# cannot grow it without limit.
_LUT_CACHE: dict[bytes, tuple[list[int], np.ndarray]] = {}
_LUT_CACHE_MAX = 64


# Assembled-table memo on top of _LUT_CACHE: the per-image dict/_HuffTable
# rebuild itself showed up in the progressive-color profile (r15). Tables
# are read-only by convention, so sharing one instance is safe. FIFO
# eviction (one entry, not a full clear) on both caches.
_TABLE_CACHE: dict[bytes, _HuffTable] = {}


def _decode_table(bits: list[int], vals: list[int]) -> _HuffTable:
    """(length, code) -> symbol, the decoder-side view (with 16-bit LUT)."""
    key = bytes(bits) + bytes(vals)
    table = _TABLE_CACHE.get(key)
    if table is not None:
        return table
    items = {
        (length, code): sym
        for sym, (code, length) in _canonical_codes(bits, vals).items()
    }
    cached = _LUT_CACHE.get(key)
    if cached is None:
        arr = np.zeros(1 << 16, dtype=np.int64)
        for (length, code), sym in items.items():
            lo = code << (16 - length)
            arr[lo : lo + (1 << (16 - length))] = (length << 8) | sym
        cached = (arr.tolist(), arr)
        if len(_LUT_CACHE) >= _LUT_CACHE_MAX:
            _LUT_CACHE.pop(next(iter(_LUT_CACHE)))
        _LUT_CACHE[key] = cached
    table = _HuffTable(items, cached[0], cached[1])
    if len(_TABLE_CACHE) >= _LUT_CACHE_MAX:
        _TABLE_CACHE.pop(next(iter(_TABLE_CACHE)))
    _TABLE_CACHE[key] = table
    return table


# Orthonormal 8x8 DCT-II basis: A @ x @ A.T gives exactly the T.81
# coefficient definition (F(0,0) = 8 * mean of the level-shifted block).
_A = np.zeros((8, 8))
for _u in range(8):
    for _x in range(8):
        _c = np.sqrt(1 / 8) if _u == 0 else np.sqrt(2 / 8)
        _A[_u, _x] = _c * np.cos((2 * _x + 1) * _u * np.pi / 16)


def _pad_edge(a: np.ndarray, pb: int, pr: int) -> np.ndarray:
    """Edge-replicate pad ``a`` by ``pb`` rows below / ``pr`` cols right —
    exactly ``np.pad(a, ((0, pb), (0, pr)), mode="edge")`` but ~5x
    cheaper (np.pad's generic machinery was a visible slice of every
    encoder's profile at these image sizes — r15)."""
    if not pb and not pr:
        return a
    h, w = a.shape
    out = np.empty((h + pb, w + pr), dtype=a.dtype)
    out[:h, :w] = a
    if pr:
        out[:h, w:] = a[:, -1:]
    if pb:
        out[h:, :] = out[h - 1 : h, :]
    return out


def _blocks_of(px: np.ndarray) -> tuple[np.ndarray, int, int]:
    """Pad to 8x8 multiples (edge-replicate, the T.81 recommendation)
    and return (blocks[by, bx, 8, 8] float64 level-shifted, bw, bh)."""
    h, w = px.shape
    bw, bh = (w + 7) // 8, (h + 7) // 8
    pad = _pad_edge(px.astype(np.float64) - 128.0, bh * 8 - h, bw * 8 - w)
    return (
        pad.reshape(bh, 8, bw, 8).transpose(0, 2, 1, 3),
        bw,
        bh,
    )


class _BitWriter:
    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, length: int) -> None:
        if length == 0:
            return
        self.acc = (self.acc << length) | (value & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            self.nbits -= 8
            byte = (self.acc >> self.nbits) & 0xFF
            self.buf.append(byte)
            if byte == 0xFF:  # byte stuffing (T.81 B.1.1.5)
                self.buf.append(0x00)

    def flush(self) -> bytes:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)
        return bytes(self.buf)


def _magnitude(v: int) -> tuple[int, int]:
    """(size, bits): T.81 F.1.2.1 magnitude category + appended bits
    (ones'-complement representation for negatives)."""
    if v == 0:
        return 0, 0
    size = int(abs(v)).bit_length()
    bits = v if v >= 0 else v + (1 << size) - 1
    return size, bits


def _mag_fields(diffs: np.ndarray, codes: dict) -> tuple[np.ndarray, np.ndarray]:
    """(values, lengths) (n, 2) int64 arrays for a DC diff sequence: per
    diff the Huffman (code, length) of its magnitude category, then the
    appended bits — the vectorized twin of `_magnitude` + ``codes[size]``
    + two write() calls per DC (r15). np.frexp's exponent IS bit_length
    for the int64 magnitudes here (exact below 2^53), and a size absent
    from the table — including any size above 16, which no table can
    hold — raises the same KeyError the dict lookup raised."""
    ab = np.abs(diffs)
    size = np.frexp(ab.astype(np.float64))[1].astype(np.int64)
    code_arr = np.full(17, -1, dtype=np.int64)
    len_arr = np.zeros(17, dtype=np.int64)
    for s, (c, ln) in codes.items():
        if 0 <= s < 17:
            code_arr[s] = c
            len_arr[s] = ln
    code_f = np.where(size > 16, -1, code_arr[np.minimum(size, 16)])
    if code_f.min(initial=0) < 0:
        raise KeyError(int(size[int(np.argmin(code_f))]))  # as the scalar path
    bits = np.where(diffs >= 0, diffs, diffs + (np.int64(1) << size) - 1)
    return (
        np.stack([code_f, bits], axis=1),
        np.stack([len_arr[size], size], axis=1),
    )


def _encode_block_fast(bwr: _BitWriter, zz: list[int], last_nz: int,
                       pred: int, dc_codes: dict, ac_codes: dict) -> int:
    """Entropy-encode one zigzagged quantized block (T.81 F.1.2) given a
    plain-int list and its precomputed last nonzero AC index; returns
    the new DC predictor. The per-image caller computes every block's
    ``last_nz`` in one vectorized pass (r14: the old per-block
    ``np.nonzero`` was most of the encoder's time on sparse blocks)."""
    diff = zz[0] - pred
    pred = zz[0]
    size, bits = _magnitude(diff)
    code, length = dc_codes[size]
    bwr.write(code, length)
    bwr.write(bits, size)
    run = 0
    for k in range(1, last_nz + 1):
        v = zz[k]
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, length = ac_codes[0xF0]  # ZRL
            bwr.write(code, length)
            run -= 16
        size, bits = _magnitude(v)
        code, length = ac_codes[(run << 4) | size]
        bwr.write(code, length)
        bwr.write(bits, size)
        run = 0
    if last_nz < 63:
        code, length = ac_codes[0x00]  # EOB
        bwr.write(code, length)
    return pred


def _zigzag_blocks(q: np.ndarray) -> tuple[list, list]:
    """(bh, bw, 8, 8) quantized coefficients → (zigzag block rows as
    nested plain-int lists in raster order, last-nonzero-AC index per
    block) — the whole-image vectorized prep for the entropy loop."""
    bh, bw = q.shape[0], q.shape[1]
    Z = q.reshape(bh * bw, 64)[:, _ZIGZAG]
    nz = Z[:, 1:] != 0
    has = nz.any(axis=1)
    last = np.where(has, 63 - np.argmax(nz[:, ::-1], axis=1), 0)
    return Z.tolist(), last.tolist()


def encode_jpeg_gray(px: np.ndarray, quant: int = 8) -> bytes:
    """Encode an 8-bit grayscale image as baseline sequential JPEG with
    a FLAT quantization table (every entry = ``quant``) and the Annex K
    luminance Huffman tables."""
    px = np.asarray(px, dtype=np.uint8)
    h, w = px.shape
    blocks, bw, bh = _blocks_of(px)
    coefs = ((_A @ blocks) @ _A.T)
    q = np.rint(coefs / float(quant)).astype(np.int64)

    dc_codes = _canonical_codes(_DC_BITS, _DC_VALS)
    ac_codes = _canonical_codes(_AC_BITS, _AC_VALS)
    bwr = _BitWriter()
    pred = 0
    zrows, lasts = _zigzag_blocks(q)
    for zz, last_nz in zip(zrows, lasts):
        pred = _encode_block_fast(bwr, zz, last_nz, pred, dc_codes, ac_codes)

    qtab = np.full(64, quant, dtype=np.uint8)[_UNZIGZAG][_ZIGZAG]
    # (flat table: the zigzag permutation is the identity on it, but
    # keep the transform explicit for non-flat callers.)
    out = bytearray()
    out += b"\xff\xd8"  # SOI
    out += b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    out += b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + bytes(qtab)
    out += b"\xff\xc0" + struct.pack(">HBHHB", 11, 8, h, w, 1) + b"\x01\x11\x00"
    out += b"\xff\xc4" + struct.pack(">H", 2 + 1 + 16 + len(_DC_VALS)) + b"\x00"
    out += bytes(_DC_BITS) + bytes(_DC_VALS)
    out += b"\xff\xc4" + struct.pack(">H", 2 + 1 + 16 + len(_AC_VALS)) + b"\x10"
    out += bytes(_AC_BITS) + bytes(_AC_VALS)
    out += b"\xff\xda" + struct.pack(">H", 8) + b"\x01\x01\x00\x00\x3f\x00"
    out += bwr.flush()
    out += b"\xff\xd9"  # EOI
    return bytes(out)


def encode_jpeg_420(y: np.ndarray, cb: np.ndarray, cr: np.ndarray,
                    quant: int = 8) -> bytes:
    """Encode a YCbCr image as baseline sequential JPEG with 4:2:0
    chroma subsampling (Y sampling 2×2, Cb/Cr 1×1 — the layout of most
    real-world JPEGs), FLAT quantization tables (luma table 0 and
    chroma table 1, every entry = ``quant``) and the Annex K
    luminance + chrominance Huffman tables.

    ``y``/``cb``/``cr`` are FULL-RESOLUTION uint8 planes; the encoder
    downsamples chroma by 2×2 block mean (edge-padding odd dimensions
    first, so macroblock-constant planes subsample exactly). The scan
    is MCU-interleaved per T.81 A.2.3: each 16×16 MCU emits its four Y
    blocks (left-to-right, top-to-bottom), then one Cb, then one Cr,
    with independent DC predictors per component."""
    y = np.asarray(y, dtype=np.uint8)
    cb = np.asarray(cb, dtype=np.uint8)
    cr = np.asarray(cr, dtype=np.uint8)
    if y.shape != cb.shape or y.shape != cr.shape:
        raise ValueError("jpeg: component planes must share dimensions")
    h, w = y.shape
    mcux, mcuy = (w + 15) // 16, (h + 15) // 16

    # Y padded to MCU (16-pixel) multiples so every MCU owns 4 blocks.
    ypad = _pad_edge(y.astype(np.float64) - 128.0,
                     mcuy * 16 - h, mcux * 16 - w)
    yblocks = ypad.reshape(mcuy * 2, 8, mcux * 2, 8).transpose(0, 2, 1, 3)
    qy = np.rint(((_A @ yblocks) @ _A.T) / float(quant)).astype(np.int64)

    # Chroma: edge-pad to even dims, 2×2 mean, pad to 8-multiples
    # (= the MCU grid: ceil(ceil(w/2)/8) == ceil(w/16)).
    def _sub(plane: np.ndarray) -> np.ndarray:
        ph = _pad_edge(plane.astype(np.float64), h % 2, w % 2)
        s = ph.reshape(ph.shape[0] // 2, 2, ph.shape[1] // 2, 2).mean(axis=(1, 3))
        return _pad_edge(s - 128.0, mcuy * 8 - s.shape[0], mcux * 8 - s.shape[1])

    qcb = np.rint(((_A @ _sub(cb).reshape(mcuy, 8, mcux, 8).transpose(0, 2, 1, 3))
         @ _A.T) / float(quant)).astype(np.int64)
    qcr = np.rint(((_A @ _sub(cr).reshape(mcuy, 8, mcux, 8).transpose(0, 2, 1, 3))
         @ _A.T) / float(quant)).astype(np.int64)

    dc_l = _canonical_codes(_DC_BITS, _DC_VALS)
    ac_l = _canonical_codes(_AC_BITS, _AC_VALS)
    dc_c = _canonical_codes(_DC_C_BITS, _DC_C_VALS)
    ac_c = _canonical_codes(_AC_C_BITS, _AC_C_VALS)
    bwr = _BitWriter()
    pred = [0, 0, 0]
    zy, ly = _zigzag_blocks(qy)
    zcb, lcb = _zigzag_blocks(qcb)
    zcr, lcr = _zigzag_blocks(qcr)
    yw = 2 * mcux  # Y block-grid width (raster index = row * yw + col)
    for my in range(mcuy):
        for mx in range(mcux):
            for dy in range(2):
                for dx in range(2):
                    bi = (2 * my + dy) * yw + 2 * mx + dx
                    pred[0] = _encode_block_fast(
                        bwr, zy[bi], ly[bi], pred[0], dc_l, ac_l
                    )
            bi = my * mcux + mx
            pred[1] = _encode_block_fast(
                bwr, zcb[bi], lcb[bi], pred[1], dc_c, ac_c
            )
            pred[2] = _encode_block_fast(
                bwr, zcr[bi], lcr[bi], pred[2], dc_c, ac_c
            )

    qtab = bytes(np.full(64, quant, dtype=np.uint8))
    out = bytearray()
    out += b"\xff\xd8"  # SOI
    out += b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    out += b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + qtab
    out += b"\xff\xdb" + struct.pack(">H", 67) + b"\x01" + qtab
    # SOF0: 3 components — Y id 1 sampling 0x22 qtab 0; Cb id 2 / Cr id 3
    # sampling 0x11 qtab 1.
    out += b"\xff\xc0" + struct.pack(">HBHHB", 17, 8, h, w, 3)
    out += b"\x01\x22\x00" + b"\x02\x11\x01" + b"\x03\x11\x01"
    for tc_th, bits, vals in (
        (b"\x00", _DC_BITS, _DC_VALS), (b"\x10", _AC_BITS, _AC_VALS),
        (b"\x01", _DC_C_BITS, _DC_C_VALS), (b"\x11", _AC_C_BITS, _AC_C_VALS),
    ):
        out += b"\xff\xc4" + struct.pack(">H", 2 + 1 + 16 + len(vals))
        out += tc_th + bytes(bits) + bytes(vals)
    # SOS: Y → DC/AC tables 0, Cb/Cr → DC/AC tables 1.
    out += b"\xff\xda" + struct.pack(">H", 12) + b"\x03"
    out += b"\x01\x00" + b"\x02\x11" + b"\x03\x11" + b"\x00\x3f\x00"
    out += bwr.flush()
    out += b"\xff\xd9"  # EOI
    return bytes(out)


def encode_jpeg_progressive(px: np.ndarray, quant: int = 8,
                            script: list | None = None) -> bytes:
    """Encode an 8-bit grayscale image as PROGRESSIVE (SOF2, Huffman)
    JPEG. ``script`` is the scan progression as (Ss, Se, Ah, Al)
    tuples; the default four-scan script exercises every progressive
    scan type (T.81 Annex G): DC first at Al=1 → AC first (band 1–63,
    Al=1) → DC refinement → AC refinement. Callers can pass
    libjpeg-style progressions (spectral band SPLITS, multi-level
    successive approximation) — tests pin a 9-scan band-split script
    against the textbook model. Spectral values use the spec's point
    transforms (arithmetic shift for DC, magnitude shift for AC);
    refinement scans interleave correction bits for
    already-significant coefficients with the run/size symbols in the
    exact order the decoder consumes them. EOB runs are flushed per
    block (run length 1 — valid, just less compressed than libjpeg's
    cross-block buffering)."""
    px = np.asarray(px, dtype=np.uint8)
    h, w = px.shape
    blocks, bw, bh = _blocks_of(px)
    coefs = ((_A @ blocks) @ _A.T)
    q = np.rint(coefs / float(quant)).astype(np.int64)
    Z = q.reshape(bh * bw, 64)[:, _ZIGZAG]
    dcv = Z[:, 0]
    dc_codes = _canonical_codes(_DC_BITS, _DC_VALS)
    ac_codes = _canonical_codes(_AC_BITS, _AC_VALS)

    def dc_first(al: int) -> bytes:
        # arithmetic point transform, per-block predictor diff chain —
        # vectorized (r15): diff/magnitude/code lookups as array ops,
        # one _pack_fields per scan.
        t = dcv >> al
        v2, l2 = _mag_fields(np.diff(t, prepend=np.int64(0)), dc_codes)
        return _pack_hybrid(v2.reshape(-1), l2.reshape(-1))

    def dc_refine(al: int) -> bytes:
        bits = (dcv >> al) & 1
        return _pack_hybrid(bits, np.ones_like(bits))

    def ac_first(ss: int, se: int, al: int) -> bytes:
        return _ac_scan_emit(Z[:, ss : se + 1], 0, al, ac_codes)

    def ac_refine(ss: int, se: int, al: int) -> bytes:
        return _ac_scan_emit(Z[:, ss : se + 1], 1, al, ac_codes)

    def sos(ss: int, se: int, ah: int, al: int) -> bytes:
        return (
            b"\xff\xda" + struct.pack(">H", 8) + b"\x01\x01\x00"
            + bytes([ss, se, (ah << 4) | al])
        )

    qtab = bytes(np.full(64, quant, dtype=np.uint8))
    out = bytearray()
    out += b"\xff\xd8"
    out += b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    out += b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + qtab
    out += b"\xff\xc2" + struct.pack(">HBHHB", 11, 8, h, w, 1) + b"\x01\x11\x00"
    out += b"\xff\xc4" + struct.pack(">H", 2 + 1 + 16 + len(_DC_VALS)) + b"\x00"
    out += bytes(_DC_BITS) + bytes(_DC_VALS)
    out += b"\xff\xc4" + struct.pack(">H", 2 + 1 + 16 + len(_AC_VALS)) + b"\x10"
    out += bytes(_AC_BITS) + bytes(_AC_VALS)
    if script is None:
        script = [(0, 0, 0, 1), (1, 63, 0, 1), (0, 0, 1, 0), (1, 63, 1, 0)]
    for ss, se, ah, al in script:
        out += sos(ss, se, ah, al)
        if ss == 0:
            out += dc_first(al) if ah == 0 else dc_refine(al)
        elif ah == 0:
            out += ac_first(ss, se, al)
        else:
            out += ac_refine(ss, se, al)
    out += b"\xff\xd9"
    return bytes(out)



# Below this many fields the vectorized _pack_fields' fixed numpy cost
# (np.add.at × 5) exceeds a Python big-int accumulator; progressive scans
# of small images sit far under it (r15 measurement: crossover ~400).
_PACK_SMALL_N = 384


def _pack_fields_small(vals: list[int], lens: list[int]) -> bytes:
    """Big-int twin of :func:`_pack_fields` for short field lists:
    identical output (MSB-first fields, 1-padded final byte, FF00
    stuffing), O(n²/word) in the accumulator but faster below
    _PACK_SMALL_N fields."""
    acc = 0
    total = 0
    for v, ln in zip(vals, lens):
        acc = (acc << ln) | (v & ((1 << ln) - 1))
        total += ln
    if total == 0:
        return b""
    pad = (8 - (total & 7)) & 7
    if pad:
        acc = (acc << pad) | ((1 << pad) - 1)
        total += pad
    return acc.to_bytes(total >> 3, "big").replace(b"\xff", b"\xff\x00")



def _pack_hybrid(values: np.ndarray, lengths: np.ndarray) -> bytes:
    """Array-input dispatcher between the big-int and vectorized packers."""
    if values.size < _PACK_SMALL_N:
        return _pack_fields_small(values.tolist(), lengths.tolist())
    return _pack_fields(values, lengths)


def _ac_scan_emit(Zb: np.ndarray, ah: int, al: int,
                  ac_codes: dict) -> bytes:
    """One progressive AC scan for every block of one component,
    returned as the flushed entropy segment: the point transforms,
    last-nonzero and EOB indexes are computed for ALL blocks in one
    vectorized pass (r14), the per-block bit loops build (value, length)
    field lists (empty blocks — the common case on sparse spectra —
    shortcut to their EOB symbol, and an all-empty scan is two bulk
    extends), and ONE `_pack_fields` call packs the scan (r15 — the
    per-field _BitWriter.write calls were a visible slice of the
    progressive profile). ``Zb`` is the (nblocks, band_width) zigzag
    band slice."""
    width = Zb.shape[1]
    vals: list[int] = []
    lens: list[int] = []
    eob_code, eob_len = ac_codes[0x00]
    if ah == 0:
        T = np.where(Zb > 0, 1, -1) * (np.abs(Zb) >> al)
        nzm = T != 0
        has = nzm.any(axis=1)
        if not has.any():
            n = Zb.shape[0]
            vals = [eob_code] * n
            lens = [eob_len] * n
        else:
            last = np.where(
                has, width - 1 - np.argmax(nzm[:, ::-1], axis=1), -1
            )
            for t, lst in zip(T.tolist(), last.tolist()):
                if lst < 0:
                    vals.append(eob_code)
                    lens.append(eob_len)
                else:
                    _prog_ac_first_bits(vals, lens, t, lst, ac_codes)
    else:
        A = np.abs(Zb) >> al
        nz = A != 0
        hasnz = nz.any(axis=1)
        if not hasnz.any():
            n = Zb.shape[0]
            vals = [eob_code] * n
            lens = [eob_len] * n
        else:
            m1 = A == 1
            has1 = m1.any(axis=1)
            eob = np.where(
                has1, width - 1 - np.argmax(m1[:, ::-1], axis=1), -1
            )
            for zzb, av, e, hz in zip(
                Zb.tolist(), A.tolist(), eob.tolist(), hasnz.tolist()
            ):
                if not hz:
                    vals.append(eob_code)
                    lens.append(eob_len)
                else:
                    _prog_ac_refine_bits(vals, lens, zzb, av, e, ac_codes)
    if len(vals) < _PACK_SMALL_N:
        return _pack_fields_small(vals, lens)
    return _pack_fields(
        np.array(vals, dtype=np.int64), np.array(lens, dtype=np.int64)
    )


def _prog_ac_first_bits(vals: list[int], lens: list[int], t: list[int],
                        last: int, ac_codes: dict) -> None:
    """One block's AC-first-scan fields (band run/size coding of the
    PRE-point-transformed values ``t``, per-block EOB); ``last`` is the
    last nonzero band index (-1 when the band is empty). Appends
    (value, bit-length) pairs for :func:`_pack_fields`."""
    run = 0
    for i in range(last + 1):
        v = t[i]
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, length = ac_codes[0xF0]
            vals.append(code)
            lens.append(length)
            run -= 16
        size, bits = _magnitude(v)
        code, length = ac_codes[(run << 4) | size]
        vals.append(code)
        lens.append(length)
        vals.append(bits)
        lens.append(size)
        run = 0
    if last < len(t) - 1:
        code, length = ac_codes[0x00]
        vals.append(code)
        lens.append(length)


def _prog_ac_refine_bits(vals: list[int], lens: list[int], zzb: list[int],
                         absv: list[int], eob: int, ac_codes: dict) -> None:
    """One block's AC-refinement fields: newly-significant coefficients
    as (run|1)+sign symbols, correction bits for already-significant
    ones interleaved in the exact order the decoder consumes them.
    ``zzb`` is the raw zigzag band, ``absv`` its point-transformed
    magnitudes, ``eob`` the last newly-significant index (-1: none) —
    all precomputed vectorized by :func:`_ac_scan_emit`."""
    run = 0
    br: list[int] = []
    for i, t in enumerate(absv):
        if t == 0:
            run += 1
            continue
        while run > 15 and i <= eob:
            code, length = ac_codes[0xF0]
            vals.append(code)
            lens.append(length)
            for b in br:
                vals.append(b)
                lens.append(1)
            br = []
            run -= 16
        if t > 1:
            br.append(t & 1)
            continue
        code, length = ac_codes[(run << 4) | 1]
        vals.append(code)
        lens.append(length)
        vals.append(1 if zzb[i] > 0 else 0)
        lens.append(1)
        for b in br:
            vals.append(b)
            lens.append(1)
        br = []
        run = 0
    if run > 0 or br:
        code, length = ac_codes[0x00]
        vals.append(code)
        lens.append(length)
        for b in br:
            vals.append(b)
            lens.append(1)


def encode_jpeg_progressive_420(y: np.ndarray, cb: np.ndarray,
                                cr: np.ndarray, quant: int = 8) -> bytes:
    """Encode YCbCr as PROGRESSIVE 4:2:0 JPEG — the libjpeg-default
    combination most real-world progressive photos use: one INTERLEAVED
    DC scan (all three components, MCU order, per-component predictors)
    at Al=1, then per-component non-interleaved AC scans (band 1–63,
    Al=1), the interleaved DC refinement, and per-component AC
    refinements — 8 scans total, every T.81 Annex G scan type in both
    interleaved and non-interleaved form. Chroma downsampling and
    tables match encode_jpeg_420."""
    y = np.asarray(y, dtype=np.uint8)
    cb = np.asarray(cb, dtype=np.uint8)
    cr = np.asarray(cr, dtype=np.uint8)
    if y.shape != cb.shape or y.shape != cr.shape:
        raise ValueError("jpeg: component planes must share dimensions")
    h, w = y.shape
    mcux, mcuy = (w + 15) // 16, (h + 15) // 16

    ypad = _pad_edge(y.astype(np.float64) - 128.0,
                     mcuy * 16 - h, mcux * 16 - w)
    yblocks = ypad.reshape(mcuy * 2, 8, mcux * 2, 8).transpose(0, 2, 1, 3)
    qy = np.rint(
        ((_A @ yblocks) @ _A.T) / float(quant)
    ).astype(np.int64)

    def _sub(plane: np.ndarray) -> np.ndarray:
        ph = _pad_edge(plane.astype(np.float64), h % 2, w % 2)
        s = ph.reshape(ph.shape[0] // 2, 2, ph.shape[1] // 2, 2).mean(axis=(1, 3))
        return _pad_edge(s - 128.0, mcuy * 8 - s.shape[0], mcux * 8 - s.shape[1])

    qc = [
        np.rint(((_A @ _sub(p).reshape(mcuy, 8, mcux, 8).transpose(0, 2, 1, 3))
             @ _A.T) / float(quant)).astype(np.int64)
        for p in (cb, cr)
    ]
    # zigzag stores, one per component (Y on the 2×2-per-MCU grid);
    # the DC plane as plain-int lists for the interleaved bit loop
    Zs = [
        z[:, :, _ZIGZAG]
        for z in (
            [qy.reshape(mcuy * 2, mcux * 2, 64)]
            + [c.reshape(mcuy, mcux, 64) for c in qc]
        )
    ]
    samp = [(2, 2), (1, 1), (1, 1)]
    dc_codes = [
        _canonical_codes(_DC_BITS, _DC_VALS),
        _canonical_codes(_DC_C_BITS, _DC_C_VALS),
        _canonical_codes(_DC_C_BITS, _DC_C_VALS),
    ]
    ac_codes = [
        _canonical_codes(_AC_BITS, _AC_VALS),
        _canonical_codes(_AC_C_BITS, _AC_C_VALS),
        _canonical_codes(_AC_C_BITS, _AC_C_VALS),
    ]
    # DC planes in MCU emission order (r15 — the six-deep per-MCU Python
    # loop was a visible slice of the progressive-color profile): Y's
    # 2×2-per-MCU grid flattens to my → mx → dy → dx order, chroma is
    # one block per MCU; each component's predictor chain is a diff over
    # its own flattened sequence.
    n_mcu = mcux * mcuy
    y_seq = (
        Zs[0][:, :, 0]
        .reshape(mcuy, 2, mcux, 2)
        .transpose(0, 2, 1, 3)
        .reshape(-1)
    )
    cb_seq = Zs[1][:, :, 0].reshape(-1)
    cr_seq = Zs[2][:, :, 0].reshape(-1)

    def dc_interleaved(ah: int, al: int) -> bytes:
        if ah == 0:
            V = np.empty((n_mcu, 12), dtype=np.int64)
            L = np.empty((n_mcu, 12), dtype=np.int64)
            for seq, codes, lo, hi in (
                (y_seq, dc_codes[0], 0, 8),
                (cb_seq, dc_codes[1], 8, 10),
                (cr_seq, dc_codes[2], 10, 12),
            ):
                t = seq >> al
                v2, l2 = _mag_fields(np.diff(t, prepend=np.int64(0)), codes)
                V[:, lo:hi] = v2.reshape(n_mcu, hi - lo)
                L[:, lo:hi] = l2.reshape(n_mcu, hi - lo)
            return _pack_hybrid(V.reshape(-1), L.reshape(-1))
        B = np.empty((n_mcu, 6), dtype=np.int64)
        B[:, 0:4] = ((y_seq >> al) & 1).reshape(n_mcu, 4)
        B[:, 4] = (cb_seq >> al) & 1
        B[:, 5] = (cr_seq >> al) & 1
        flat = B.reshape(-1)
        return _pack_hybrid(flat, np.ones_like(flat))

    def ac_scan(ci: int, ah: int, al: int) -> bytes:
        # non-interleaved grid: ceil(cw_i/8) × ceil(ch_i/8)
        hs, vs = samp[ci]
        bw_i = (w * hs + 15) // 16  # hmax = 2 → ceil(w·hs / 16)
        bh_i = (h * vs + 15) // 16
        return _ac_scan_emit(
            Zs[ci][:bh_i, :bw_i, 1:64].reshape(bh_i * bw_i, 63),
            ah, al, ac_codes[ci],
        )

    qtab = bytes(np.full(64, quant, dtype=np.uint8))
    out = bytearray()
    out += b"\xff\xd8"
    out += b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    out += b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + qtab
    out += b"\xff\xdb" + struct.pack(">H", 67) + b"\x01" + qtab
    out += b"\xff\xc2" + struct.pack(">HBHHB", 17, 8, h, w, 3)
    out += b"\x01\x22\x00" + b"\x02\x11\x01" + b"\x03\x11\x01"
    for tc_th, bits, vals in (
        (b"\x00", _DC_BITS, _DC_VALS), (b"\x10", _AC_BITS, _AC_VALS),
        (b"\x01", _DC_C_BITS, _DC_C_VALS), (b"\x11", _AC_C_BITS, _AC_C_VALS),
    ):
        out += b"\xff\xc4" + struct.pack(">H", 2 + 1 + 16 + len(vals))
        out += tc_th + bytes(bits) + bytes(vals)

    def sos_multi(ah: int, al: int) -> bytes:
        return (
            b"\xff\xda" + struct.pack(">H", 12) + b"\x03"
            + b"\x01\x00" + b"\x02\x10" + b"\x03\x10"
            + bytes([0, 0, (ah << 4) | al])
        )

    def sos_one(cid: int, tsel: int, ah: int, al: int) -> bytes:
        return (
            b"\xff\xda" + struct.pack(">H", 8) + b"\x01"
            + bytes([cid, tsel, 1, 63, (ah << 4) | al])
        )

    out += sos_multi(0, 1) + dc_interleaved(0, 1)
    for ci, cid, tsel in ((0, 1, 0x00), (1, 2, 0x01), (2, 3, 0x01)):
        out += sos_one(cid, tsel, 0, 1) + ac_scan(ci, 0, 1)
    out += sos_multi(1, 0) + dc_interleaved(1, 0)
    for ci, cid, tsel in ((0, 1, 0x00), (1, 2, 0x01), (2, 3, 0x01)):
        out += sos_one(cid, tsel, 1, 0) + ac_scan(ci, 1, 0)
    out += b"\xff\xd9"
    return bytes(out)


class _BitReader:
    """Bit cursor over an UNSTUFFED entropy segment (r14 optimization:
    the old reader walked the Huffman tree one ``read(1)``/dict-probe
    per bit — up to 16 fills per symbol; this one unstuffs the segment
    once, then serves each symbol with one 3-byte peek + one LUT index,
    and each appended-bits read with one 4-byte slice — guide §4.2).

    Semantics are unchanged: bits after the terminating marker are
    1-PAD (``pad_consumed`` flips exactly when a read dips into them —
    a truncated scan whose remaining blocks would decode
    garbage from pad-1 sequences must be rejectable); a segment that
    ends WITHOUT a marker raises the truncated-stream error instead of
    serving pad."""

    __slots__ = ("ub", "pos", "nreal", "has_marker", "pad_consumed")

    _PAD = b"\xff" * 64

    def __init__(self, data: bytes) -> None:
        # Split at the first marker (0xFF followed by anything but the
        # 0x00 stuffing byte; a lone trailing 0xFF counts as a marker
        # start), then drop the stuffing bytes in one pass.
        i = 0
        end = len(data)
        has_marker = False
        while True:
            i = data.find(b"\xff", i)
            if i < 0:
                break
            if i + 1 >= len(data) or data[i + 1] != 0x00:
                end, has_marker = i, True
                break
            i += 2
        self.ub = data[:end].replace(b"\xff\x00", b"\xff") + self._PAD
        self.nreal = (len(self.ub) - len(self._PAD)) * 8
        self.pos = 0
        self.has_marker = has_marker
        self.pad_consumed = False

    def _pad_check(self, end: int) -> None:
        if not self.has_marker:
            raise ValueError("jpeg: truncated entropy stream")
        self.pad_consumed = True
        # The pad tail is logically infinite 1s; grow it when a decoder
        # (legally, within the final MCU) runs deep into it.
        if (end >> 3) + 8 >= len(self.ub):
            self.ub += self._PAD

    def read(self, n: int) -> int:
        if n == 0:
            return 0
        pos = self.pos
        end = pos + n
        if end > self.nreal:
            self._pad_check(end)
        i = pos >> 3
        v = (
            int.from_bytes(self.ub[i : i + 4], "big")
            >> (32 - (pos & 7) - n)
        ) & ((1 << n) - 1)
        self.pos = end
        return v

    def read_huff(self, table: _HuffTable) -> int:
        pos = self.pos
        i = pos >> 3
        peek = (
            int.from_bytes(self.ub[i : i + 3], "big") >> (8 - (pos & 7))
        ) & 0xFFFF
        ent = table.lut[peek]
        if ent == 0:
            # No code has this prefix. Mirror the old per-bit walk's
            # error split: if the 16-bit window ran past an UNMARKED
            # segment end, the stream is truncated, not invalid.
            if pos + 16 > self.nreal and not self.has_marker:
                raise ValueError("jpeg: truncated entropy stream")
            raise ValueError("jpeg: invalid Huffman code")
        end = pos + (ent >> 8)
        if end > self.nreal:
            self._pad_check(end)
        self.pos = end
        return ent & 0xFF


def _extend(bits: int, size: int) -> int:
    """T.81 F.2.2.1 EXTEND: ones'-complement magnitude decode."""
    if size == 0:
        return 0
    if bits < (1 << (size - 1)):
        return bits - (1 << size) + 1
    return bits


def _read_block_list(rdr: _BitReader, dc_tab, ac_tab,
                     pred: int) -> tuple[list[int], int]:
    """Entropy-decode one block (T.81 F.2.2) → (zigzag list[64], new DC
    predictor). Plain-int list output so the MCU loop never touches
    numpy per coefficient; callers un-zigzag/dequantize whole component
    stores in one vectorized pass at scan end."""
    zz = [0] * 64
    read, read_huff = rdr.read, rdr.read_huff
    size = read_huff(dc_tab)
    if size:
        v = read(size)
        pred += v if v >= (1 << (size - 1)) else v - (1 << size) + 1
    zz[0] = pred
    k = 1
    while k < 64:
        sym = read_huff(ac_tab)
        if sym == 0x00:  # EOB
            break
        run, size = sym >> 4, sym & 0x0F
        if size == 0:
            if run != 15:
                raise ValueError("jpeg: bad AC symbol")
            k += 16  # ZRL
            continue
        k += run
        if k > 63:
            raise ValueError("jpeg: AC index overflow")
        v = read(size)
        zz[k] = v if v >= (1 << (size - 1)) else v - (1 << size) + 1
        k += 1
    return zz, pred


def _entropy_end(data: bytes, start: int) -> int:
    """Index of the first marker (0xFF followed by non-stuffing byte)
    at or after ``start`` — the end of one scan's entropy segment."""
    i = start
    while True:
        i = data.find(b"\xff", i)
        if i < 0 or i + 1 >= len(data):
            return len(data)
        if data[i + 1] != 0x00:
            return i
        i += 2


def _prog_dc_scan(rdr: _BitReader, pcoef: list, ah: int, al: int,
                  dc_tab) -> None:
    """Progressive DC scan over the raster block grid (T.81 G.1.2.1).
    First scan (Ah=0) codes the point-transformed diffs (arithmetic
    shift by Al, stored pre-shifted-back); a refinement scan appends
    one bit per block at position Al. ``pcoef`` is the nested-list view
    of the coefficient store (rows of 64-int block lists)."""
    pred = 0
    read, read_huff = rdr.read, rdr.read_huff
    for row in pcoef:
        for blk in row:
            if ah == 0:
                size = read_huff(dc_tab)
                pred += _extend(read(size), size)
                blk[0] = pred << al
            elif read(1):
                blk[0] |= 1 << al


def _prog_dc_interleaved(rdr: _BitReader, pcoefs: list, sel: list,
                         comps: list, mcux: int, mcuy: int,
                         ah: int, al: int) -> None:
    """Progressive DC scan over the interleaved MCU grid (the libjpeg
    default script's first scan): per MCU, each selected component
    contributes its hs×vs blocks with an independent DC predictor.
    ``pcoefs`` holds nested-list coefficient stores."""
    preds = {ci: 0 for ci, _tab in sel}
    read, read_huff = rdr.read, rdr.read_huff
    for my in range(mcuy):
        for mx in range(mcux):
            for ci, dc_tab in sel:
                _cid, hs, vs, _tq = comps[ci]
                for dy in range(vs):
                    for dx in range(hs):
                        blk = pcoefs[ci][my * vs + dy][mx * hs + dx]
                        if ah == 0:
                            size = read_huff(dc_tab)
                            preds[ci] += _extend(read(size), size)
                            blk[0] = preds[ci] << al
                        elif read(1):
                            blk[0] |= 1 << al


def _prog_ac_first(rdr: _BitReader, pcoef: list, ss: int, se: int,
                   al: int, ac_tab) -> None:
    """Progressive AC first scan (Ah=0) over one spectral band
    (T.81 G.1.2.2): baseline-style run/size coding of the
    point-transformed values, plus EOBn codes whose run spans blocks.
    ``pcoef`` is the nested-list coefficient store view."""
    eobrun = 0
    read, read_huff = rdr.read, rdr.read_huff
    for row in pcoef:
        for coef in row:
            if eobrun:
                eobrun -= 1
                continue
            k = ss
            while k <= se:
                rs = read_huff(ac_tab)
                r, s = rs >> 4, rs & 0x0F
                if s == 0:
                    if r != 15:
                        eobrun = (1 << r) - 1
                        if r:
                            eobrun += read(r)
                        break
                    k += 16  # ZRL
                    continue
                k += r
                if k > se:
                    raise ValueError("jpeg: AC index beyond band")
                v = read(s)
                coef[k] = (
                    v if v >= (1 << (s - 1)) else v - (1 << s) + 1
                ) << al
                k += 1


def _prog_ac_refine(rdr: _BitReader, pcoef: list, ss: int, se: int,
                    al: int, ac_tab) -> None:
    """Progressive AC refinement scan (T.81 G.1.2.3): every coefficient
    already nonzero in history receives a correction bit; run lengths
    count only zero-history positions; EOBn runs consume the remaining
    correction bits of each covered block. ``pcoef`` is the nested-list
    coefficient store view."""
    p1, m1 = 1 << al, -1 << al
    eobrun = 0
    read, read_huff = rdr.read, rdr.read_huff

    def _correct(coef, k):
        if read(1) and not (coef[k] & p1):
            coef[k] += p1 if coef[k] >= 0 else m1

    for row in pcoef:
        for coef in row:
            k = ss
            if eobrun == 0:
                while k <= se:
                    rs = read_huff(ac_tab)
                    r, s = rs >> 4, rs & 0x0F
                    val = 0
                    if s == 0:
                        if r != 15:
                            eobrun = (1 << r) - 1
                            if r:
                                eobrun += read(r)
                            break
                        # ZRL: skip 16 zero-history positions
                    else:
                        if s != 1:
                            raise ValueError("jpeg: bad refinement size")
                        val = p1 if read(1) else m1
                    while k <= se:
                        if coef[k]:
                            _correct(coef, k)
                        else:
                            r -= 1
                            if r < 0:
                                break
                        k += 1
                    if val and k <= se:
                        coef[k] = val
                    k += 1
            else:
                eobrun -= 1
            # EOB-covered remainder of the band: correction bits only.
            # (k > se when the while-loop ran to completion — nothing
            # left to correct.) The C-speed any() guard skips the walk
            # for all-zero-history blocks — the common case on sparse
            # spectra, where this loop was a 63-iteration no-op per
            # block (r15).
            if (eobrun or k <= se) and any(coef[k : se + 1]):
                while k <= se:
                    if coef[k]:
                        _correct(coef, k)
                    k += 1
    # a trailing eobrun is consumed by subsequent blocks above; if the
    # stream ends with blocks still owed, the pad guard in the caller
    # catches the truncation.


def decode_jpeg_planes(payload: bytes) -> tuple[int, int, list[np.ndarray]]:
    """Decode a baseline sequential JPEG → ``(width, height, planes)``
    where ``planes`` is one full-resolution ``uint8[h, w]`` array per
    component (Y, or Y/Cb/Cr) — subsampled chroma is upsampled by
    sample replication (nearest neighbor), the simplest T.81/JFIF
    reconstruction, BEFORE any color conversion, so callers that need
    exact per-plane arithmetic (the jpeg_subsampled oracle) see the
    dequantized planes untouched by float color math.

    Supports grayscale and 3-component interleaved scans with
    per-component sampling factors in {1, 2} — which covers 4:4:4,
    4:2:2 and the 4:2:0 layout of most real-world JPEGs. Loud
    rejection for anything outside that subset (progressive SOF2,
    arithmetic coding, restart markers, 16-bit quant tables), and for
    entropy streams that hit the terminating marker before the last
    MCU finishes (the pad-1 bits after a marker may form valid Huffman
    codes; decoding garbage from them silently would be worse than the
    error)."""
    if payload[:2] != JPEG_SIG:
        raise ValueError("jpeg: missing SOI")
    pos = 2
    qtables: dict[int, np.ndarray] = {}
    htables: dict[tuple[int, int], dict[tuple[int, int], int]] = {}
    w = h = -1
    comps: list[tuple[int, int, int, int]] = []  # (cid, hs, vs, tq)
    scan: list[tuple[int, int, int]] = []        # (comp index, dc, ac)
    progressive = False
    pcoefs: list[np.ndarray] | None = None       # progressive: zigzag coefs
    scan_start = -1
    while pos + 4 <= len(payload):
        if payload[pos] != 0xFF:
            raise ValueError("jpeg: expected marker")
        marker = payload[pos + 1]
        if marker == 0xD9:
            break
        seg_len = struct.unpack(">H", payload[pos + 2 : pos + 4])[0]
        body = payload[pos + 4 : pos + 2 + seg_len]
        if marker == 0xDB:  # DQT
            i = 0
            while i < len(body):
                pq, tq = body[i] >> 4, body[i] & 0x0F
                if pq != 0:
                    raise NotImplementedError("jpeg: 16-bit quant tables")
                tab = np.frombuffer(body[i + 1 : i + 65], dtype=np.uint8)
                qtables[tq] = tab.astype(np.int64)[_UNZIGZAG].reshape(8, 8)
                i += 65
        elif marker in (0xC0, 0xC1, 0xC2):
            # SOF0 baseline / SOF1 extended sequential (identical
            # structure; 8-bit precision enforced below) / SOF2
            # progressive
            progressive = marker == 0xC2
            h = struct.unpack(">H", body[1:3])[0]
            w = struct.unpack(">H", body[3:5])[0]
            ncomp = body[5]
            if body[0] != 8:
                raise NotImplementedError("jpeg: non-8-bit precision")
            if ncomp not in (1, 3):
                raise NotImplementedError(
                    "jpeg: only 1- or 3-component baseline supported"
                )
            for ci in range(ncomp):
                cid = body[6 + 3 * ci]
                hs, vs = body[7 + 3 * ci] >> 4, body[7 + 3 * ci] & 0x0F
                if hs not in (1, 2) or vs not in (1, 2):
                    raise NotImplementedError(
                        "jpeg: sampling factors beyond 2 unsupported"
                    )
                comps.append((cid, hs, vs, body[8 + 3 * ci]))
            if ncomp == 1 and comps[0][1:3] != (1, 1):
                raise NotImplementedError("jpeg: subsampled grayscale")
            if progressive:
                # coefficient stores sized to the MCU grid: interleaved
                # DC scans cover the MCU-padding blocks; non-interleaved
                # AC scans later write the ceil(cw_i/8)-wide sub-view
                hmax_p = max(c[1] for c in comps)
                vmax_p = max(c[2] for c in comps)
                mcux_p = (w + 8 * hmax_p - 1) // (8 * hmax_p)
                mcuy_p = (h + 8 * vmax_p - 1) // (8 * vmax_p)
                # nested plain-int lists (r14: the scan loops are pure
                # Python — per-coefficient numpy indexing was most of
                # their time); converted to ndarrays once after the
                # marker walk
                pcoefs = [
                    [
                        [[0] * 64 for _ in range(mcux_p * hs)]
                        for _ in range(mcuy_p * vs)
                    ]
                    for _cid, hs, vs, _tq in comps
                ]
        elif marker == 0xC9:  # SOF9: arithmetic-coded sequential (r13)
            from pubsub2bq_spark.functions.jpeg_arith import (
                decode_jpeg_arith_planes,
            )

            return decode_jpeg_arith_planes(payload)
        elif marker == 0xC3:  # SOF3: lossless predictive (r13)
            return decode_jpeg_lossless(payload)
        elif marker == 0xDE:  # DHP: hierarchical pyramid (r13)
            from pubsub2bq_spark.functions.jpeg_hier import (
                decode_jpeg_hier_planes,
            )

            return decode_jpeg_hier_planes(payload)
        elif marker == 0xCA:  # SOF10: arithmetic progressive (r14)
            from pubsub2bq_spark.functions.jpeg_arith_prog import (
                decode_jpeg_arith_progressive_planes,
            )

            return decode_jpeg_arith_progressive_planes(payload)
        elif marker == 0xCB:  # SOF11: arithmetic lossless (r14)
            from pubsub2bq_spark.functions.jpeg_arith_lossless import (
                decode_jpeg_arith_lossless,
            )

            return decode_jpeg_arith_lossless(payload)
        elif marker in (0xC5, 0xC6, 0xC7, 0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                "jpeg: every T.81 process decodes — sequential "
                "(SOF0/SOF1/SOF9), progressive (SOF2/SOF10), lossless "
                "(SOF3/SOF11), hierarchical (DHP+SOF5) — except a "
                "differential frame OUTSIDE a DHP pyramid, which is "
                "malformed"
            )
        elif marker == 0xC4:  # DHT
            i = 0
            while i < len(body):
                tc, th = body[i] >> 4, body[i] & 0x0F
                bits = list(body[i + 1 : i + 17])
                nv = sum(bits)
                vals = list(body[i + 17 : i + 17 + nv])
                htables[(tc, th)] = _decode_table(bits, vals)
                i += 17 + nv
        elif marker == 0xDD:
            raise NotImplementedError("jpeg: restart intervals unsupported")
        elif marker == 0xDA:  # SOS
            if progressive:
                # One scan of a multi-scan progressive stream: decode it
                # in place over the shared coefficient arrays, then keep
                # walking markers (DHT redefinitions, further scans).
                ns = body[0]
                ss_, se_ = body[1 + 2 * ns], body[2 + 2 * ns]
                ahal = body[3 + 2 * ns]
                ah, al = ahal >> 4, ahal & 0x0F
                cids = [c[0] for c in comps]
                data_start = pos + 2 + seg_len
                data_end = _entropy_end(payload, data_start)
                srdr = _BitReader(payload[data_start:data_end])
                if ns == 1:
                    # non-interleaved: the component's own block grid
                    # (ceil(cw_i/8) × ceil(ch_i/8)) as a view into the
                    # MCU-padded store
                    cidx = cids.index(body[1])
                    tsel = body[2]
                    _cid, hs, vs, _tq = comps[cidx]
                    bw_i = (w * hs + 8 * hmax_p - 1) // (8 * hmax_p)
                    bh_i = (h * vs + 8 * vmax_p - 1) // (8 * vmax_p)
                    # the sliced outer lists share the inner 64-int
                    # block lists, so in-place scan mutations land in
                    # the full store
                    view = [row[:bw_i] for row in pcoefs[cidx][:bh_i]]
                    if ss_ == 0:
                        if se_ != 0:
                            raise ValueError("jpeg: DC scan with Se != 0")
                        _prog_dc_scan(
                            srdr, view, ah, al, htables.get((0, tsel >> 4))
                        )
                    elif ah == 0:
                        _prog_ac_first(
                            srdr, view, ss_, se_, al,
                            htables[(1, tsel & 0x0F)],
                        )
                    else:
                        _prog_ac_refine(
                            srdr, view, ss_, se_, al,
                            htables[(1, tsel & 0x0F)],
                        )
                else:
                    # interleaved scans are legal for DC only (T.81
                    # G.1.1.1 — Ss must be 0 when Ns > 1)
                    if ss_ != 0 or se_ != 0:
                        raise ValueError("jpeg: interleaved AC scan")
                    sel = []
                    for si in range(ns):
                        cidx = cids.index(body[1 + 2 * si])
                        tsel = body[2 + 2 * si]
                        sel.append((cidx, htables.get((0, tsel >> 4))))
                    _prog_dc_interleaved(
                        srdr, pcoefs, sel, comps, mcux_p, mcuy_p, ah, al
                    )
                pos = data_end
                continue
            if body[0] != len(comps):
                raise NotImplementedError("jpeg: partial-component scan")
            cids = [c[0] for c in comps]
            for ci in range(body[0]):
                cs = body[1 + 2 * ci]
                if cs not in cids:
                    raise ValueError("jpeg: scan names unknown component")
                tsel = body[2 + 2 * ci]
                scan.append((cids.index(cs), tsel >> 4, tsel & 0x0F))
            scan_start = pos + 2 + seg_len
            break
        pos += 2 + seg_len
    if w < 0 or not comps:
        raise ValueError("jpeg: missing SOF")
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)
    if progressive:
        if pcoefs is None:
            raise ValueError("jpeg: missing SOF2")
        coefs = []
        for (_cid, _hs, _vs, tq), pl in zip(comps, pcoefs):
            pc = np.array(pl, dtype=np.int64)
            coefs.append(
                pc[:, :, _UNZIGZAG]
                .reshape(pc.shape[0], pc.shape[1], 8, 8)
                .astype(np.float64)
                * qtables[tq][None, None]
            )
        return _planes_of(coefs, comps, w, h, hmax, vmax)
    if scan_start < 0:
        raise ValueError("jpeg: missing SOS")
    zstores = [
        np.zeros((mcuy * vs, mcux * hs, 64), dtype=np.int64)
        for _cid, hs, vs, _tq in comps
    ]
    preds = [0] * len(comps)
    rdr = _BitReader(payload[scan_start:])
    first = True
    for my in range(mcuy):
        for mx in range(mcux):
            for ci, dc_id, ac_id in scan:
                _cid, hs, vs, tq = comps[ci]
                zs = zstores[ci]
                for dy in range(vs):
                    for dx in range(hs):
                        if rdr.pad_consumed and not first:
                            raise ValueError(
                                "jpeg: entropy stream ended before the "
                                "last MCU (truncated or corrupt scan)"
                            )
                        first = False
                        zz, preds[ci] = _read_block_list(
                            rdr, htables[(0, dc_id)], htables[(1, ac_id)],
                            preds[ci],
                        )
                        zs[my * vs + dy, mx * hs + dx] = zz
    # un-zigzag + dequantize every component in one vectorized pass
    coefs = [
        zs[:, :, _UNZIGZAG]
        .reshape(zs.shape[0], zs.shape[1], 8, 8)
        .astype(np.float64)
        * qtables[tq][None, None]
        for (_cid, _hs, _vs, tq), zs in zip(comps, zstores)
    ]
    return _planes_of(coefs, comps, w, h, hmax, vmax)


def _planes_of(coefs: list, comps: list, w: int, h: int,
               hmax: int, vmax: int) -> tuple[int, int, list[np.ndarray]]:
    """Dequantized coefficient blocks → full-resolution uint8 planes:
    IDCT, level shift, crop to each component's true subsampled dims,
    then replicate up to full resolution (identity for full-rate
    components). Shared by the baseline and progressive tails."""
    planes: list[np.ndarray] = []
    for (_cid, hs, vs, _tq), c in zip(comps, coefs):
        spatial = ((_A.T @ c) @ _A)
        bh, bw = c.shape[0], c.shape[1]
        full = spatial.transpose(0, 2, 1, 3).reshape(bh * 8, bw * 8) + 128.0
        sub = np.clip(np.rint(full), 0, 255).astype(np.uint8)
        cw, ch = -(-w * hs // hmax), -(-h * vs // vmax)
        sub = sub[:ch, :cw]
        if hs == hmax and vs == vmax:
            planes.append(sub)  # full-rate component: replication is identity
        else:
            ys = np.arange(h) * vs // vmax
            xs = np.arange(w) * hs // hmax
            planes.append(sub[np.ix_(ys, xs)])
    return w, h, planes


# JFIF/BT.601 YCbCr→RGB coefficients (public: JFIF 1.02 §7).
_YCC = ((1.402, 0.0), (-0.714136, -0.344136), (0.0, 1.772))


def decode_jpeg(payload: bytes) -> tuple[int, int, int, np.ndarray]:
    """Decode a baseline sequential JPEG →
    ``(width, height, channels, pixels[h, w, channels] uint8)``.
    Grayscale decodes to 1 channel; 3-component YCbCr (4:4:4 / 4:2:2 /
    4:2:0) decodes to RGB via the JFIF BT.601 conversion. See
    :func:`decode_jpeg_planes` for the supported subset and rejection
    behavior."""
    w, h, planes = decode_jpeg_planes(payload)
    if len(planes) == 1:
        return w, h, 1, planes[0][:, :, None]
    y = planes[0].astype(np.float64)
    cb = planes[1].astype(np.float64) - 128.0
    cr = planes[2].astype(np.float64) - 128.0
    rgb = np.stack(
        [y + kcr * cr + kcb * cb for kcr, kcb in _YCC], axis=2
    )
    return w, h, 3, np.clip(np.rint(rgb), 0, 255).astype(np.uint8)


def synth_jpeg_from_bytes(payload: bytes) -> bytes:
    """Synthesize a *real* baseline JPEG whose dimensions follow the
    byte-length rule shared with :func:`...multimodal.fake_decode_meta`
    (w = n%64+16, h = (n//64)%64+16) and whose pixel at (x, y) is the
    8×8-BLOCK-CONSTANT value ``(11·(x//8) + 7·(y//8)) mod 256``.

    Block-constant pixels make the lossy pipeline exact: the only
    nonzero coefficient is DC = 8·(v−128), which the flat quant step 8
    reduces to the integer v−128 and reconstructs bit-for-bit — so the
    decode round-trip equals the synthesized image and an oracle can
    state Σpx in closed form (sum over the block grid of v·(block area
    inside the crop)) despite the real Huffman/DCT machinery running.
    """
    n = len(payload)
    w = n % 64 + 16
    h = (n // 64) % 64 + 16
    bx = np.arange(w) // 8
    by = np.arange(h) // 8
    px = ((11 * bx[None, :] + 7 * by[:, None]) % 256).astype(np.uint8)
    return encode_jpeg_gray(px, quant=8)


def synth_jpeg_progressive_from_bytes(payload: bytes) -> bytes:
    """Synthesize a *real* PROGRESSIVE (SOF2) JPEG: dims from the shared
    byte-length rule, pixels 8×8-BLOCK-CONSTANT at
    ``(13·(x//8) + 5·(y//8) + 3) mod 256``. Block-constant pixels keep
    the four-scan progressive pipeline exact (only the DC term is
    nonzero; its two-scan successive approximation — arithmetic-shifted
    first scan + one refinement bit — reassembles the integer v−128
    exactly, and the AC scans are pure EOB runs), so the decode
    round-trip equals the synthesized image and the oracle states Σpx
    in closed form. The general AC first/refinement machinery is pinned
    separately by tests against random images (exact equality with the
    textbook DCT model)."""
    n = len(payload)
    w = n % 64 + 16
    h = (n // 64) % 64 + 16
    bx = np.arange(w) // 8
    by = np.arange(h) // 8
    px = ((13 * bx[None, :] + 5 * by[:, None] + 3) % 256).astype(np.uint8)
    return encode_jpeg_progressive(px, quant=8)


def synth_jpeg_progressive_420_from_bytes(payload: bytes) -> bytes:
    """Synthesize a *real* PROGRESSIVE 4:2:0 color JPEG (the
    libjpeg-default real-world combination): dims from the shared
    byte-length rule, Y constant per 8×8 block
    (``(9·bx + 5·by + 1) mod 256``), Cb/Cr constant per 16×16
    macroblock (``(7·mx + 3·my + 32)`` / ``(5·mx + 7·my + 160) mod
    256``). The same two exactness arguments compose: block-constant
    planes keep every coefficient DC-only (the subsampled argument from
    synth_jpeg420_from_bytes) and the DC two-scan successive
    approximation reassembles each integer exactly (the progressive
    argument from synth_jpeg_progressive_from_bytes) — so the decoded
    planes equal the synthesized ones bit-for-bit and an oracle states
    all three plane sums in closed form."""
    n = len(payload)
    w = n % 64 + 16
    h = (n // 64) % 64 + 16
    bx = np.arange(w) // 8
    by = np.arange(h) // 8
    y = ((9 * bx[None, :] + 5 * by[:, None] + 1) % 256).astype(np.uint8)
    mx = np.arange(w) // 16
    my = np.arange(h) // 16
    cb = ((7 * mx[None, :] + 3 * my[:, None] + 32) % 256).astype(np.uint8)
    cr = ((5 * mx[None, :] + 7 * my[:, None] + 160) % 256).astype(np.uint8)
    return encode_jpeg_progressive_420(y, cb, cr, quant=8)


def synth_jpeg420_from_bytes(payload: bytes) -> bytes:
    """Synthesize a *real* 4:2:0 chroma-subsampled color JPEG: dims from
    the shared byte-length rule; the Y plane uses the same
    8×8-block-constant rule as the grayscale fixture, and the Cb/Cr
    planes are constant per 16×16 MACROBLOCK —
    ``cb = (5·mx + 3·my + 64) mod 256``, ``cr = (3·mx + 5·my + 192)
    mod 256`` with ``mx = x//16``.

    Macroblock-constant chroma makes the SUBSAMPLED pipeline exact end
    to end: the encoder's 2×2 mean over a constant region is that
    constant, each 8×8 chroma block maps to exactly one macroblock (so
    it is block-constant too — only the DC term survives, quantizing
    exactly under the flat step 8), and the decoder's replication
    upsample reproduces the original full-resolution plane bit-for-bit.
    An oracle can therefore state each plane's pixel sum in closed form
    over its block grid even though the real MCU-interleaved Huffman +
    IDCT + upsample machinery runs."""
    n = len(payload)
    w = n % 64 + 16
    h = (n // 64) % 64 + 16
    bx = np.arange(w) // 8
    by = np.arange(h) // 8
    y = ((11 * bx[None, :] + 7 * by[:, None]) % 256).astype(np.uint8)
    mx = np.arange(w) // 16
    my = np.arange(h) // 16
    cb = ((5 * mx[None, :] + 3 * my[:, None] + 64) % 256).astype(np.uint8)
    cr = ((3 * mx[None, :] + 5 * my[:, None] + 192) % 256).astype(np.uint8)
    return encode_jpeg_420(y, cb, cr, quant=8)


# Lossless JPEG (SOF3, T.81 Annex H): 17 difference categories (SSSS
# 0-16) need a custom canonical Huffman table — the Annex K DC table
# stops at 11. Lengths: two 2-bit codes, one code each of 3-15 bits,
# two 16-bit codes (Kraft sum 0.75).
_LL_BITS = [0, 2, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 2]
_LL_VALS = list(range(17))


def _pack_fields(values: np.ndarray, lengths: np.ndarray) -> bytes:
    """Pack MSB-first variable-length bit fields into a stuffed, 1-padded
    entropy segment in one vectorized pass (r14): field i contributes
    ``lengths[i]`` low bits of ``values[i]``. Equivalent to a _BitWriter
    write() per field + flush(): disjoint-bit byte contributions are
    ADDed (no carries possible), the final partial byte pads with 1s,
    and 0x00 is stuffed after every 0xFF byte. Fields must be ≤ 32 bits."""
    total = int(lengths.sum())
    if total == 0:
        return b""
    pad = (8 - (total & 7)) & 7
    if pad:
        values = np.append(values, (1 << pad) - 1)
        lengths = np.append(lengths, pad)
        total += pad
    ends = np.cumsum(lengths)
    starts = ends - lengths
    buf = np.zeros(total // 8 + 5, dtype=np.int64)
    b0 = starts >> 3
    # 40-bit window per field, MSB-aligned at its start byte
    win = (values & ((np.int64(1) << lengths) - 1)) << (
        40 - (starts & 7) - lengths
    )
    for j in range(5):
        np.add.at(buf, b0 + j, (win >> (8 * (4 - j))) & 0xFF)
    return bytes(
        buf[: total // 8].astype(np.uint8).tobytes().replace(
            b"\xff", b"\xff\x00"
        )
    )


def _lossless_predict(a: int, b: int, c: int, sel: int) -> int:
    """T.81 Table H.1 predictors (a = left, b = above, c = above-left)."""
    if sel == 1:
        return a
    if sel == 2:
        return b
    if sel == 3:
        return c
    if sel == 4:
        return a + b - c
    if sel == 5:
        return a + ((b - c) >> 1)
    if sel == 6:
        return b + ((a - c) >> 1)
    return (a + b) >> 1  # sel == 7


def encode_jpeg_lossless(px: np.ndarray, predictor: int = 4) -> bytes:
    """Encode an 8-bit grayscale image as LOSSLESS JPEG (SOF3, T.81
    Annex H — the DNG/DICOM process): no DCT, no quantization; each
    sample's prediction residual (Table H.1 predictors, modulo-2^16
    arithmetic, first sample seeded at 2^(P-1), first row/column
    falling back to left/above) is Huffman-coded as a magnitude
    category + appended bits. Decode reproduces the input EXACTLY."""
    if not 1 <= predictor <= 7:
        raise ValueError("lossless predictor must be 1..7")
    x = np.asarray(px, dtype=np.int64)
    h, w = x.shape
    # vectorized prediction from the original samples (decode is exact,
    # so decoded neighbors equal original neighbors)
    a = np.empty_like(x)
    b = np.empty_like(x)
    c = np.empty_like(x)
    a[:, 1:] = x[:, :-1]
    b[1:, :] = x[:-1, :]
    c[1:, 1:] = x[:-1, :-1]
    sel = predictor
    pred = {
        1: a, 2: b, 3: c, 4: a + b - c,
        5: a + ((b - c) >> 1), 6: b + ((a - c) >> 1), 7: (a + b) >> 1,
    }[sel]
    pred[0, 1:] = x[0, :-1]     # first row: left neighbor
    if h > 1:
        pred[1:, 0] = x[:-1, 0]  # first column: above neighbor
    pred[0, 0] = 128             # 2^(P-1)
    d16 = (x - pred) & 0xFFFF
    diffs = np.where(d16 >= 0x8000, d16 - 0x10000, d16)

    # Vectorized emission (r14): per residual the category, appended
    # bits and canonical code are all elementwise maps, so the whole
    # entropy segment packs in one `_pack_fields` pass. SSSS 16
    # (diff == -32768) has no appended bits per T.81 H.1.2.2.
    codes = _canonical_codes(_LL_BITS, _LL_VALS)
    code_t = np.array([codes[s][0] for s in range(17)], dtype=np.int64)
    len_t = np.array([codes[s][1] for s in range(17)], dtype=np.int64)
    d = diffs.reshape(-1)
    absd = np.abs(d)
    size = np.zeros(d.size, dtype=np.int64)
    nz = absd > 0
    _m, _e = np.frexp(absd[nz].astype(np.float64))
    size[nz] = _e.astype(np.int64)  # bit_length of |diff|
    size[d == -32768] = 16
    bits = np.where(d >= 0, d, d + (np.int64(1) << size) - 1)
    app = np.where(size == 16, 0, size)
    values = (code_t[size] << app) | np.where(size == 16, 0, bits)
    lengths = len_t[size] + app
    entropy = _pack_fields(values, lengths)

    out = bytearray()
    out += b"\xff\xd8"
    out += b"\xff\xc3" + struct.pack(">HBHHB", 11, 8, h, w, 1) + b"\x01\x11\x00"
    out += b"\xff\xc4" + struct.pack(">H", 2 + 1 + 16 + len(_LL_VALS)) + b"\x00"
    out += bytes(_LL_BITS) + bytes(_LL_VALS)
    # SOS: Ss = predictor selector, Se = 0, Ah/Al = 0 (no point transform)
    out += b"\xff\xda" + struct.pack(">H", 8) + b"\x01\x01\x00"
    out += bytes((predictor, 0, 0))
    out += entropy
    out += b"\xff\xd9"
    return bytes(out)


def decode_jpeg_lossless(payload: bytes) -> tuple[int, int, list[np.ndarray]]:
    """Decode a lossless (SOF3) grayscale JPEG → ``(width, height,
    [plane])``: Huffman category + appended-bit residuals, Table H.1
    prediction with modulo-2^16 reconstruction. Rejects multi-component
    scans, point transforms and out-of-range predictors loudly."""
    if payload[:2] != JPEG_SIG:
        raise ValueError("jpeg: missing SOI")
    pos = 2
    htab = None
    w = h = -1
    precision = 8
    sel = pt = None
    scan_start = -1
    while pos + 4 <= len(payload):
        if payload[pos] != 0xFF:
            raise ValueError("jpeg: expected marker")
        marker = payload[pos + 1]
        if marker == 0xD9:
            break
        seg_len = struct.unpack(">H", payload[pos + 2 : pos + 4])[0]
        body = payload[pos + 4 : pos + 2 + seg_len]
        if marker == 0xC3:
            precision = body[0]
            h = struct.unpack(">H", body[1:3])[0]
            w = struct.unpack(">H", body[3:5])[0]
            if body[5] != 1:
                raise NotImplementedError(
                    "jpeg lossless: only single-component scans supported"
                )
            if precision != 8:
                raise NotImplementedError(
                    "jpeg lossless: only 8-bit precision supported"
                )
        elif marker == 0xC4:
            i = 0
            while i < len(body):
                bits = list(body[i + 1 : i + 17])
                nv = sum(bits)
                vals = list(body[i + 17 : i + 17 + nv])
                htab = _decode_table(bits, vals)
                i += 17 + nv
        elif marker == 0xDA:
            sel, _se, ahal = body[1 + 2 * body[0]], body[2 + 2 * body[0]], body[3 + 2 * body[0]]
            pt = ahal & 0x0F
            scan_start = pos + 2 + seg_len
            break
        pos += 2 + seg_len
    if w < 0:
        raise ValueError("jpeg lossless: missing SOF3")
    if scan_start < 0 or htab is None:
        raise ValueError("jpeg lossless: missing SOS or DHT")
    if not 1 <= sel <= 7:
        raise ValueError("jpeg lossless: predictor selector out of range")
    if pt != 0:
        raise NotImplementedError("jpeg lossless: point transform unsupported")

    # Two-phase decode (r14 optimization): (1) the residual stream
    # decodes by CHAIN-FOLLOW (the scan uses one table and no state, so
    # symbol lengths + appended-bit counts define a data-independent
    # successor function over bit positions — precompute LUT entries at
    # every position vectorized, walk the chain with plain list
    # indexing, then gather all appended bits in one pass; the FLAC
    # Rice-decode discipline); (2) reconstruction runs ROW-VECTORIZED
    # for the predictors whose in-row recurrence is purely additive
    # (1/2/3/4/5), scalar per row for 6/7 (nonlinear in-row shift).
    rdr = _BitReader(payload[scan_start:])
    diffs = _lossless_residuals(rdr, htab, h * w)
    out = _lossless_reconstruct(diffs.reshape(h, w), sel, precision)
    if out.max() > 255:
        raise ValueError("jpeg lossless: sample out of 8-bit range")
    return w, h, [out.astype(np.uint8)]


# Bits of per-position decode tables materialized at a time inside the
# SOF3 chain walk (the whole-segment tables cost hundreds of
# bytes of transients per stream byte — a multi-megabyte scan blew
# hundreds of MB; 2^16 bits bounds the working set at a few MB while the
# chunk rebuild amortizes over ~thousands of samples).
_RESID_CHUNK_BITS = 1 << 16
# Per-bit shift pattern (8,7,…,1 per byte) and position offsets for one
# max-size chunk, precomputed once.
_RESID_SHIFTS = np.tile(
    np.arange(8, 0, -1, dtype=np.int64), _RESID_CHUNK_BITS >> 3
)
_RESID_ARANGE = np.arange(_RESID_CHUNK_BITS, dtype=np.int64)


def _lossless_residuals(rdr: _BitReader, htab: _HuffTable,
                        n: int) -> np.ndarray:
    """Decode ``n`` SOF3 residuals (category code + appended bits each)
    from the reader's unstuffed segment. The per-position symbol/length
    tables are vectorized in bounded chunks re-anchored at the walk's
    position (the walk is strictly forward), the chain walk itself stays
    4 list ops per sample, and the post-walk symbol/appended-bit gathers
    index the byte array at the n SAMPLE positions only — transient
    memory is O(chunk + n), not O(stream bits) (r15)."""
    ub = rdr.ub
    b = np.concatenate([
        np.frombuffer(ub, dtype=np.uint8).astype(np.int64),
        np.zeros(8, dtype=np.int64),
    ])
    nbits = len(ub) * 8 - 16  # leave window room at the tail
    lut = htab.lut_np
    positions = np.empty(n, dtype=np.int64)
    pos = 0
    nreal = rdr.nreal
    has_marker = rdr.has_marker
    nb_total = (nbits + 7) >> 3
    shifts = _RESID_SHIFTS
    base_idx = _RESID_ARANGE

    def build_chunk(b0: int, nbb: int) -> tuple[list[int], list[int]]:
        # byte-aligned chunk built from contiguous SLICES (fancy
        # gathers measured 1.5x slower on one-chunk small streams)
        bseg = b[b0 : b0 + nbb + 2]
        w24 = (bseg[:-2] << 16) | (bseg[1:-1] << 8) | bseg[2:]
        peek = (np.repeat(w24, 8) >> shifts[: nbb * 8]) & 0xFFFF
        ent = lut[peek]
        sym = ent & 0xFF
        app = np.where(sym == 16, 0, sym)  # SSSS 16: no appended bits
        nxt = (base_idx[: nbb * 8] + ((b0 << 3) + (ent >> 8) + app)).tolist()
        return ent.tolist(), nxt

    if nbits <= _RESID_CHUNK_BITS:
        # one chunk covers the stream: the walk body stays exactly the
        # pre-r15 4-ops-per-sample loop (no chunk-offset subtraction)
        ent_l, nxt_l = build_chunk(0, nb_total)
        for i in range(n):
            if pos >= nbits:
                raise ValueError("jpeg: truncated entropy stream")
            if ent_l[pos] == 0:
                # no code has this prefix — mirror the reader's error split
                if pos + 16 > nreal and not has_marker:
                    raise ValueError("jpeg: truncated entropy stream")
                raise ValueError("jpeg: invalid Huffman code")
            positions[i] = pos
            pos = nxt_l[pos]
    else:
        c0 = 0
        c1 = 0  # current chunk covers bit positions [c0, c1)
        ent_l = nxt_l = []
        for i in range(n):
            if pos >= nbits:
                raise ValueError("jpeg: truncated entropy stream")
            if pos >= c1:
                b0 = pos >> 3
                nbb = min(_RESID_CHUNK_BITS >> 3, nb_total - b0)
                c0 = b0 << 3
                c1 = min(c0 + nbb * 8, nbits)
                ent_l, nxt_l = build_chunk(b0, nbb)
            j = pos - c0
            if ent_l[j] == 0:
                if pos + 16 > nreal and not has_marker:
                    raise ValueError("jpeg: truncated entropy stream")
                raise ValueError("jpeg: invalid Huffman code")
            positions[i] = pos
            pos = nxt_l[j]
    if pos > nreal and not has_marker:
        raise ValueError("jpeg: truncated entropy stream")
    byte = positions >> 3
    w24p = (b[byte] << 16) | (b[byte + 1] << 8) | b[byte + 2]
    entp = lut[(w24p >> (8 - (positions & 7))) & 0xFFFF]
    s = entp & 0xFF
    a = np.where(s == 16, 0, s)
    q = positions + (entp >> 8)
    qb = q >> 3
    w32 = (b[qb] << 24) | (b[qb + 1] << 16) | (b[qb + 2] << 8) | b[qb + 3]
    raw = (w32 >> (32 - (q & 7) - a)) & ((np.int64(1) << a) - 1)
    diffs = np.where(
        (a == 0) | (raw >= (np.int64(1) << np.maximum(a - 1, 0))),
        raw,
        raw - (np.int64(1) << a) + 1,
    )
    diffs = np.where(s == 16, -32768, diffs)
    return diffs


def _lossless_reconstruct(d: np.ndarray, sel: int,
                          precision: int = 8) -> np.ndarray:
    """Residual grid → samples under Table H.1 prediction with
    modulo-2^16 reconstruction, ROW-VECTORIZED for predictors 1–5 (the
    in-row recurrence is purely additive there, so an int64 cumsum
    masked at row end is exact mod 2^16); predictors 6/7 shift the
    in-row neighbor itself (nonlinear), so they keep a scalar loop per
    row. Shared by the Huffman (SOF3) and arithmetic (SOF11) lossless
    decoders."""
    h, w = d.shape
    out = np.zeros((h, w), dtype=np.int64)
    out[0] = ((1 << (precision - 1)) + np.cumsum(d[0])) & 0xFFFF
    for r in range(1, h):
        above = out[r - 1]
        row = out[r]
        first = (int(above[0]) + int(d[r, 0])) & 0xFFFF
        if sel == 1:
            row[:] = (first + np.concatenate(
                ([0], np.cumsum(d[r, 1:]))
            )) & 0xFFFF
        elif sel == 2:
            row[0] = first
            row[1:] = (above[1:] + d[r, 1:]) & 0xFFFF
        elif sel == 3:
            row[0] = first
            row[1:] = (above[:-1] + d[r, 1:]) & 0xFFFF
        elif sel == 4:
            # p = a + b - c: telescopes to a cumsum of (b - c + diff)
            row[:] = (first + np.concatenate(
                ([0], np.cumsum(above[1:] - above[:-1] + d[r, 1:]))
            )) & 0xFFFF
        elif sel == 5:
            # p = a + ((b - c) >> 1): the shifted term reads only the
            # row above, so the in-row recurrence is still a cumsum
            row[:] = (first + np.concatenate(
                ([0], np.cumsum(((above[1:] - above[:-1]) >> 1) + d[r, 1:]))
            )) & 0xFFFF
        else:  # sel 6/7: prediction is nonlinear in the in-row neighbor
            ab = above.tolist()
            dr = d[r].tolist()
            vals = [first]
            p = first
            if sel == 6:
                for j in range(1, w):
                    p = (ab[j] + ((p - ab[j - 1]) >> 1) + dr[j]) & 0xFFFF
                    vals.append(p)
            else:  # sel == 7
                for j in range(1, w):
                    p = (((p + ab[j]) >> 1) + dr[j]) & 0xFFFF
                    vals.append(p)
            row[:] = vals
    return out


def synth_jpeg_lossless_from_bytes(payload: bytes) -> bytes:
    """Synthesize a *real* LOSSLESS (SOF3) JPEG: dims from the shared
    byte-length rule, pixels 8×8-block-constant at ``(5·bx + 13·by +
    n) mod 256``. Lossless decode equals the input EXACTLY by
    construction — no quantization argument needed — so the oracle
    states Σpx in closed form over the block grid while the real
    predictor + Huffman machinery runs."""
    n = len(payload)
    w = n % 64 + 16
    h = (n // 64) % 64 + 16
    bx = np.arange(w) // 8
    by = np.arange(h) // 8
    px = ((5 * bx[None, :] + 13 * by[:, None] + n) % 256).astype(np.uint8)
    return encode_jpeg_lossless(px, predictor=4)
