"""Hierarchical JPEG codec (T.81 Annex J) — the DHP/EXP multi-frame mode.

Closes the "differential/hierarchical JPEG" slot of the multimodal codec
gate (the last Huffman JPEG mode
after baseline, progressive, arithmetic and lossless landed in r12/r13).
Hierarchical mode (ITU-T T.81 / ISO 10918-1 Annex J) codes an image as a
PYRAMID: a non-differential first frame at reduced resolution, then one
or more DIFFERENTIAL frames that code the residual between the source
and the upsampled reconstruction of the previous stage — the ancestor of
every modern progressive-resolution scheme (JPEG 2000 tiers, AVIF layered
images).

Implemented honest subset, mirroring the other codec modules' posture:

* :func:`encode_jpeg_hier` — 8-bit grayscale, a two-stage pyramid:
  SOI → DQT → DHP (full dims) → SOF0 frame at ceil(w/2)×ceil(h/2) →
  EXP(1,1) → SOF5 differential frame at full resolution → EOI. The
  downsampling filter is the encoder's choice per T.81 (2×2 mean here);
  the UPSAMPLING filter is normative (J.1.1.2) and shared with the
  decoder.
* :func:`decode_jpeg_hier_planes` — walks the multi-frame marker stream
  (tables persist across frames per T.81 B.3), decodes each frame's
  sequential Huffman scan with the shared block machinery from
  jpeg_codec.py, applies the J.1.1.2 expansion on EXP, and reconstructs
  differential frames WITHOUT level shift by adding the decoded residual
  to the expanded reference (J.2: the level shift applies only to
  non-differential frames). Output is clamped to [0, 255] at the final
  stage only. Loud rejection for multi-component hierarchies,
  progressive/lossless/arithmetic frames inside the pyramid, EXP factors
  other than {0,1}, and truncated entropy streams (the pad-bit guard).
* :func:`synth_jpeg_hier_from_bytes` — the text-fixture bridge: the
  reduced frame is CONSTANT (so frame 1 and the normative upsample are
  both exact), and the full-resolution target is 8×8-block-constant —
  the residual is then block-constant too, its DCT is DC-only and
  quantizes exactly under the flat step 8, so the decoded pyramid equals
  the target bit-for-bit and an oracle states Σpx in closed form.

DC prediction in differential frames reuses the F.2 sequential
procedures unchanged (PRED chains across blocks within the scan; the
predicted quantity is the DC of the RESIDUAL block) — both sides of this
module share that convention and the round-trip tests pin it against the
replayed textbook DCT model.

Reference parity note: the reference lab stores PNG screenshots only
(images/*.png); hierarchical JPEG is north-star multimodal surface, not
a reference feature.
"""

from __future__ import annotations

import struct

import numpy as np

from pubsub2bq_spark.functions.jpeg_codec import (
    _pad_edge,
    _AC_BITS,
    _AC_VALS,
    _DC_BITS,
    _DC_VALS,
    _UNZIGZAG,
    _A,
    _BitReader,
    _BitWriter,
    _canonical_codes,
    _decode_table,
    _encode_block_fast,
    _entropy_end,
    _read_block_list,
    _zigzag_blocks,
)

_MARKER_DHP = 0xDE
_MARKER_EXP = 0xDF
_SOF_NONDIFF = 0xC0
_SOF_DIFF = 0xC5  # differential sequential DCT, Huffman


def expand_1d(line: np.ndarray, out_len: int) -> np.ndarray:
    """T.81 J.1.1.2 normative 1-D expansion by 2: even output samples
    copy the input, odd samples interpolate ``(a + b + 1) >> 1`` between
    neighbors (the final odd sample replicates the edge), cropped to
    ``out_len`` (2n or 2n−1 per the next frame's dims)."""
    n = line.shape[-1]
    out = np.empty(line.shape[:-1] + (2 * n,), dtype=np.int64)
    out[..., 0::2] = line
    out[..., 1:-1:2] = (line[..., :-1] + line[..., 1:] + 1) >> 1
    out[..., -1] = line[..., -1]
    return out[..., :out_len]


def expand_ref(ref: np.ndarray, out_w: int, out_h: int) -> np.ndarray:
    """Apply the J.1.1.2 expansion horizontally then vertically (T.81
    J.1.1.1 orders horizontal first when both are selected)."""
    out = expand_1d(ref.astype(np.int64), out_w)
    return expand_1d(out.T, out_h).T


def _frame_segment(marker: int, w: int, h: int) -> bytes:
    """One single-component frame header (SOFn / DHP share the syntax,
    T.81 B.2.2 / B.3.2): precision 8, 1 component, sampling 1×1, Tq 0."""
    return (
        bytes([0xFF, marker])
        + struct.pack(">HBHHB", 11, 8, h, w, 1)
        + b"\x01\x11\x00"
    )


def _encode_frame_blocks(vals: np.ndarray, quant: int) -> bytes:
    """DCT → flat-quantize → sequential Huffman entropy segment for one
    frame's sample array (already level-shifted or residual — the caller
    decides; T.81 J.2 keeps the shift out of differential frames)."""
    h, w = vals.shape
    bw, bh = (w + 7) // 8, (h + 7) // 8
    pad = _pad_edge(vals.astype(np.float64), bh * 8 - h, bw * 8 - w)
    blocks = pad.reshape(bh, 8, bw, 8).transpose(0, 2, 1, 3)
    coefs = ((_A @ blocks) @ _A.T)
    q = np.rint(coefs / float(quant)).astype(np.int64)
    dc_codes = _canonical_codes(_DC_BITS, _DC_VALS)
    ac_codes = _canonical_codes(_AC_BITS, _AC_VALS)
    bwr = _BitWriter()
    pred = 0
    zrows, lasts = _zigzag_blocks(q)
    for zz, last_nz in zip(zrows, lasts):
        pred = _encode_block_fast(bwr, zz, last_nz, pred, dc_codes, ac_codes)
    return bwr.flush()


_SOS_ONE = b"\xff\xda" + struct.pack(">H", 8) + b"\x01\x01\x00\x00\x3f\x00"


def encode_jpeg_hier(px: np.ndarray, quant: int = 8) -> bytes:
    """Encode an 8-bit grayscale image as a two-stage HIERARCHICAL JPEG
    (T.81 Annex J): a non-differential SOF0 frame at ceil(w/2)×ceil(h/2)
    (source downsampled by 2×2 mean — the decimation filter is the
    encoder's choice per J.1.1.1), an EXP(1,1) expansion, and an SOF5
    differential frame coding the residual against the NORMATIVELY
    upsampled reconstruction of stage 1. Flat quantization table
    ``quant``, Annex K luminance Huffman tables throughout."""
    px = np.asarray(px, dtype=np.uint8)
    h, w = px.shape
    w1, h1 = (w + 1) // 2, (h + 1) // 2

    # Stage 1: 2x2-mean downsample (edge-pad odd dims first).
    padded = _pad_edge(px.astype(np.float64), 2 * h1 - h, 2 * w1 - w)
    small = np.rint(
        padded.reshape(h1, 2, w1, 2).mean(axis=(1, 3))
    ).astype(np.int64)

    # Stage 1 reconstruction REPLAYS the lossy pipeline so the residual
    # is computed against what the decoder will actually see.
    ent1 = _encode_frame_blocks(small - 128, quant)
    recon_small = _decode_frame_samples(ent1, w1, h1, quant) + 128
    recon_small = np.clip(recon_small, 0, 255)

    ref = expand_ref(recon_small, w, h)
    residual = px.astype(np.int64) - ref
    ent2 = _encode_frame_blocks(residual, quant)

    qtab = np.full(64, quant, dtype=np.uint8)
    out = bytearray()
    out += b"\xff\xd8"
    out += (b"\xff\xe0" + struct.pack(">H", 16)
            + b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + bytes(qtab)
    out += _frame_segment(_MARKER_DHP, w, h)
    out += (b"\xff\xc4" + struct.pack(">H", 2 + 1 + 16 + len(_DC_VALS))
            + b"\x00" + bytes(_DC_BITS) + bytes(_DC_VALS))
    out += (b"\xff\xc4" + struct.pack(">H", 2 + 1 + 16 + len(_AC_VALS))
            + b"\x10" + bytes(_AC_BITS) + bytes(_AC_VALS))
    out += _frame_segment(_SOF_NONDIFF, w1, h1)
    out += _SOS_ONE + ent1
    out += bytes([0xFF, _MARKER_EXP]) + struct.pack(">H", 3) + b"\x11"
    out += _frame_segment(_SOF_DIFF, w, h)
    out += _SOS_ONE + ent2
    out += b"\xff\xd9"
    return bytes(out)


def _decode_frame_samples(entropy: bytes, w: int, h: int,
                          quant: int) -> np.ndarray:
    """Decode one frame's sequential Huffman entropy segment with the
    Annex K tables and a flat quant table → int64[h, w] spatial samples
    (rounded IDCT output, NO level shift — callers add 128 for
    non-differential frames per T.81 J.2). Shared by the encoder's
    stage-1 replay and kept free of container parsing."""
    dc_tab = _decode_table(_DC_BITS, _DC_VALS)
    ac_tab = _decode_table(_AC_BITS, _AC_VALS)
    qtab = np.full((8, 8), quant, dtype=np.float64)
    return _decode_scan_samples(
        entropy, w, h, dc_tab, ac_tab, qtab
    )


def _decode_scan_samples(entropy: bytes, w: int, h: int, dc_tab, ac_tab,
                         qtab: np.ndarray) -> np.ndarray:
    """One single-component sequential scan → int64[h, w] rounded IDCT
    samples (no level shift), with the truncation (pad-bit) guard from
    the baseline decoder."""
    bw, bh = (w + 7) // 8, (h + 7) // 8
    zstore = np.zeros((bh, bw, 64), dtype=np.int64)
    rdr = _BitReader(entropy)
    pred = 0
    first = True
    for by in range(bh):
        zrow = zstore[by]
        for bx in range(bw):
            if rdr.pad_consumed and not first:
                raise ValueError(
                    "jpeg-hier: entropy stream ended before the last "
                    "block (truncated or corrupt scan)"
                )
            first = False
            zz, pred = _read_block_list(rdr, dc_tab, ac_tab, pred)
            zrow[bx] = zz
    coefs = (
        zstore[:, :, _UNZIGZAG].reshape(bh, bw, 8, 8).astype(np.float64)
        * qtab[None, None]
    )
    spatial = ((_A.T @ coefs) @ _A)
    full = spatial.transpose(0, 2, 1, 3).reshape(bh * 8, bw * 8)
    return np.rint(full).astype(np.int64)[:h, :w]


def decode_jpeg_hier_planes(payload: bytes) -> tuple[int, int, list[np.ndarray]]:
    """Decode a HIERARCHICAL (DHP) JPEG → ``(width, height, [plane])``.

    Walks the multi-frame stream: DQT/DHT persist across frames (T.81
    B.3); each SOF0 frame reconstructs ``IDCT + 128`` clipped as the new
    reference; each EXP expands the reference per J.1.1.2 to the NEXT
    frame's dims; each SOF5 differential frame adds its un-level-shifted
    residual to the reference. The final reference, clamped to [0, 255],
    is the output plane — dimensions must match the DHP declaration.

    Honest-subset rejections are loud: multi-component pyramids,
    non-sequential frames inside the hierarchy (progressive SOF6 /
    lossless SOF7 differentials, arithmetic SOF13-15), EXP factors
    beyond {0, 1}, 16-bit quant tables, restart intervals, a
    differential frame before any reference, and truncated scans."""
    if payload[:2] != b"\xff\xd8":
        raise ValueError("jpeg-hier: missing SOI")
    pos = 2
    qtables: dict[int, np.ndarray] = {}
    htables: dict[tuple[int, int], dict] = {}
    full_w = full_h = -1
    frame: tuple[int, int, int, bool] | None = None  # (w, h, tq, diff)
    ref: np.ndarray | None = None
    pending_exp: tuple[int, int] | None = None
    while pos + 2 <= len(payload):
        if payload[pos] != 0xFF:
            raise ValueError("jpeg-hier: expected marker")
        marker = payload[pos + 1]
        if marker == 0xD9:
            break
        if pos + 4 > len(payload):
            raise ValueError("jpeg-hier: truncated marker segment")
        seg_len = struct.unpack(">H", payload[pos + 2 : pos + 4])[0]
        body = payload[pos + 4 : pos + 2 + seg_len]
        if len(body) != seg_len - 2:
            raise ValueError("jpeg-hier: truncated marker segment")
        if marker == 0xDB:
            i = 0
            while i < len(body):
                pq, tq = body[i] >> 4, body[i] & 0x0F
                if pq != 0:
                    raise NotImplementedError("jpeg-hier: 16-bit quant tables")
                tab = np.frombuffer(body[i + 1 : i + 65], dtype=np.uint8)
                qtables[tq] = (
                    tab.astype(np.float64)[_UNZIGZAG].reshape(8, 8)
                )
                i += 65
        elif marker == 0xC4:
            i = 0
            while i < len(body):
                tc, th = body[i] >> 4, body[i] & 0x0F
                bits = list(body[i + 1 : i + 17])
                nv = sum(bits)
                vals = list(body[i + 17 : i + 17 + nv])
                htables[(tc, th)] = _decode_table(bits, vals)
                i += 17 + nv
        elif marker == _MARKER_DHP:
            full_h = struct.unpack(">H", body[1:3])[0]
            full_w = struct.unpack(">H", body[3:5])[0]
            if body[0] != 8:
                raise NotImplementedError("jpeg-hier: non-8-bit precision")
            if body[5] != 1:
                raise NotImplementedError(
                    "jpeg-hier: multi-component hierarchies unsupported "
                    "(grayscale pyramid only)"
                )
        elif marker in (_SOF_NONDIFF, _SOF_DIFF):
            fh = struct.unpack(">H", body[1:3])[0]
            fw = struct.unpack(">H", body[3:5])[0]
            if body[0] != 8 or body[5] != 1 or body[7] != 0x11:
                raise NotImplementedError(
                    "jpeg-hier: frames must be single-component 8-bit 1x1"
                )
            frame = (fw, fh, body[8], marker == _SOF_DIFF)
        elif marker in (0xC1, 0xC2, 0xC3, 0xC6, 0xC7,
                        0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                "jpeg-hier: only sequential Huffman frames (SOF0 first, "
                "SOF5 differential) inside a DHP pyramid"
            )
        elif marker == _MARKER_EXP:
            eh, ev = body[0] >> 4, body[0] & 0x0F
            if eh > 1 or ev > 1:
                raise ValueError("jpeg-hier: EXP factors must be 0 or 1")
            pending_exp = (eh, ev)
        elif marker == 0xDD:
            raise NotImplementedError("jpeg-hier: restart intervals")
        elif marker == 0xDA:
            if frame is None:
                raise ValueError("jpeg-hier: SOS before any frame header")
            if body[0] != 1:
                raise NotImplementedError("jpeg-hier: multi-component scan")
            fw, fh, tq, diff = frame
            dc_tab = htables[(0, body[2] >> 4)]
            ac_tab = htables[(1, body[2] & 0x0F)]
            data_start = pos + 2 + seg_len
            data_end = _entropy_end(payload, data_start)
            samples = _decode_scan_samples(
                payload[data_start:data_end], fw, fh, dc_tab, ac_tab,
                qtables[tq],
            )
            if diff:
                if ref is None:
                    raise ValueError(
                        "jpeg-hier: differential frame with no reference"
                    )
                if pending_exp is not None:
                    eh, ev = pending_exp
                    tw = fw if eh else ref.shape[1]
                    th = fh if ev else ref.shape[0]
                    ref = expand_ref(ref, tw, th)
                    pending_exp = None
                if ref.shape != (fh, fw):
                    raise ValueError(
                        "jpeg-hier: reference/frame dimension mismatch "
                        "(missing EXP?)"
                    )
                ref = ref + samples
            else:
                ref = np.clip(samples + 128, 0, 255)
            frame = None
            pos = data_end
            continue
        pos += 2 + seg_len
    if ref is None or full_w < 0:
        raise ValueError("jpeg-hier: missing DHP or frames")
    if ref.shape != (full_h, full_w):
        raise ValueError("jpeg-hier: pyramid did not reach DHP dimensions")
    return full_w, full_h, [np.clip(ref, 0, 255).astype(np.uint8)]


def synth_jpeg_hier_from_bytes(payload: bytes) -> bytes:
    """Synthesize a *real* two-stage hierarchical JPEG: dims from the
    shared byte-length rule (w = n%64+16, h = (n//64)%64+16), target
    pixels 8×8-BLOCK-CONSTANT at ``(17·(x//8) + 3·(y//8) + 5) mod 256``,
    and a CONSTANT stage-1 image (value n%256).

    Exactness argument, composing the module's two lossy stages: the
    constant reduced frame is trivially block-constant (DC-only, exact
    under the flat step 8) and the NORMATIVE J.1.1.2 upsample of a
    constant is that constant — so the reference the differential frame
    sees is exactly c everywhere. The residual v−c is then constant per
    8×8 block, ITS DCT is DC-only (8·(v−c), quantizing exactly), and
    reconstruction adds it back losslessly: the decoded pyramid equals
    the target bit-for-bit and the oracle states Σpx in closed form over
    the block grid. The general (non-constant-reference) machinery is
    pinned separately by round-trip tests against the replayed textbook
    DCT model."""
    n = len(payload)
    w = n % 64 + 16
    h = (n // 64) % 64 + 16
    c = n % 256
    px = np.full((h, w), c, dtype=np.uint8)
    bx = np.arange(w) // 8
    by = np.arange(h) // 8
    target = ((17 * bx[None, :] + 3 * by[:, None] + 5) % 256).astype(np.uint8)
    # encode_jpeg_hier derives stage 1 from the target by 2x2 mean; for
    # the closed form we need stage 1 CONSTANT, so build the container
    # manually from the two exact pieces.
    del px
    w1, h1 = (w + 1) // 2, (h + 1) // 2
    ent1 = _encode_frame_blocks(np.full((h1, w1), c - 128, dtype=np.int64), 8)
    residual = target.astype(np.int64) - c
    ent2 = _encode_frame_blocks(residual, 8)
    qtab = np.full(64, 8, dtype=np.uint8)
    out = bytearray()
    out += b"\xff\xd8"
    out += (b"\xff\xe0" + struct.pack(">H", 16)
            + b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + bytes(qtab)
    out += _frame_segment(_MARKER_DHP, w, h)
    out += (b"\xff\xc4" + struct.pack(">H", 2 + 1 + 16 + len(_DC_VALS))
            + b"\x00" + bytes(_DC_BITS) + bytes(_DC_VALS))
    out += (b"\xff\xc4" + struct.pack(">H", 2 + 1 + 16 + len(_AC_VALS))
            + b"\x10" + bytes(_AC_BITS) + bytes(_AC_VALS))
    out += _frame_segment(_SOF_NONDIFF, w1, h1)
    out += _SOS_ONE + ent1
    out += bytes([0xFF, _MARKER_EXP]) + struct.pack(">H", 3) + b"\x11"
    out += _frame_segment(_SOF_DIFF, w, h)
    out += _SOS_ONE + ent2
    out += b"\xff\xd9"
    return bytes(out)
