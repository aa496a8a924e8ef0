"""Arithmetic-coded PROGRESSIVE JPEG (SOF10) — the last cell of the
T.81 process matrix, composed from two existing machinery halves.

Both halves already exist in this engine: the QM-coder with the Annex F
DC/AC statistical models (functions/jpeg_arith.py, SOF9) and the
successive-approximation progressive scan logic (functions/jpeg_codec.py,
SOF2 Huffman). This module composes them per T.81 Annex G.2:

* DC first scan (Ah=0): the sequential DC difference model over the
  point-transformed values DC >> Al (statistics reset per scan, as the
  spec requires);
* AC first scans (Ah=0): the sequential AC model band-limited to
  [Ss, Se] over the point-transformed coefficients;
* DC refinement (Ah>0): one QM decision per block with the FIXED
  near-0.5 estimate (state 113), appending the Al bit in
  two's-complement (G.2.2 / the jdarith convention);
* AC refinement (Ah>0): per coefficient index k the F.1.4.4.2 bin
  layout reinterpreted for refinement (G.2.4): an EOB decision at
  3(k-1) gated on the PREVIOUS scans' end-of-band index kex, a
  newly-significant decision at 3(k-1)+1 for zero-history
  coefficients with a fixed-estimate sign, and fixed-estimate
  correction bits for already-significant coefficients.

Each scan carries its own SOS header and its own QM bitstream
(conditioning statistics reset between scans); scan boundaries are
found by the arithmetic-stuffing invariant (a data 0xFF is always
followed by a stuffed-0 byte <= 0x7F, so 0xFF followed by >= 0x80 is a
marker). Grayscale; the same flat-quant block-constant fixture
discipline as the other JPEG keys keeps the lossy pipeline bit-exact
(DC-only; the Al=1 split reassembles v-128 exactly), and the general
AC machinery is pinned by round trips against the textbook DCT model.
"""

from __future__ import annotations

import struct

import numpy as np

from pubsub2bq_spark.functions.jpeg_arith import (
    _ACModel,
    _DCModel,
    _QMDecoder,
    _QMEncoder,
    _dac_segment,
    AC_KX_DEFAULT,
    DC_L_DEFAULT,
    DC_U_DEFAULT,
    FIXED_BIN,
)
from pubsub2bq_spark.functions.jpeg_codec import (
    _A,
    _UNZIGZAG,
    _ZIGZAG,
    _blocks_of,
    _planes_of,
)

# The four-scan grayscale script (the arithmetic twin of the
# jpeg_progressive gray script): (Ss, Se, Ah, Al).
PROG_SCANS = [
    (0, 0, 0, 1),   # DC first at Al=1
    (1, 63, 0, 1),  # AC first, whole band, Al=1
    (0, 0, 1, 0),   # DC refinement
    (1, 63, 1, 0),  # AC refinement
]


def _pt_ac(v: int, al: int) -> int:
    """T.81 AC point transform: integer division truncating toward
    zero (floor-shift would make a -1 coefficient unrepresentable by a
    later +p1/-p1 refinement step)."""
    return -((-v) >> al) if v < 0 else v >> al


class _ACRefine:
    """AC refinement model (G.2.4 over the F.1.4.4.2 bin layout)."""

    def __init__(self) -> None:
        from pubsub2bq_spark.functions.jpeg_arith import _AC_BINS, new_bins

        self.bins = new_bins(_AC_BINS)
        self.fixed = [[FIXED_BIN, 0]]

    @staticmethod
    def _kex(zz: np.ndarray, ss: int, se: int) -> int:
        """Last index in [ss, se] already significant from prior scans
        (0 when none) — the EOB-decision gate."""
        for k in range(se, ss - 1, -1):
            if zz[k]:
                return k
        return 0

    def decode_block(
        self, qm: _QMDecoder, zz: np.ndarray, ss: int, se: int, al: int
    ) -> None:
        p1 = 1 << al
        kex = self._kex(zz, ss, se)
        k = ss
        while k <= se:
            st = 3 * (k - 1)
            if k > kex and qm.decode(self.bins, st):
                return  # EOB: no new significance at or past k
            coef = int(zz[k])
            if coef:
                if qm.decode(self.fixed, 0):
                    zz[k] = coef + p1 if coef > 0 else coef - p1
            else:
                if qm.decode(self.bins, st + 1):
                    sign = qm.decode(self.fixed, 0)
                    zz[k] = -p1 if sign else p1
            k += 1

    def encode_block(
        self, qm: _QMEncoder, zz_new: np.ndarray, zz_old: np.ndarray,
        ss: int, se: int, al: int,
    ) -> None:
        p1 = 1 << al
        kex = self._kex(zz_old, ss, se)
        # Current end of new significance: last k whose refined value
        # differs from history or is newly nonzero.
        eob = ss - 1
        for k in range(ss, se + 1):
            if zz_new[k] != zz_old[k] or zz_old[k]:
                eob = k
        k = ss
        while k <= se:
            st = 3 * (k - 1)
            if k > kex:
                if k > eob:
                    qm.encode(self.bins, st, 1)
                    return
                qm.encode(self.bins, st, 0)
            coef = int(zz_old[k])
            if coef:
                grow = int(zz_new[k]) != coef
                qm.encode(self.fixed, 0, 1 if grow else 0)
                if grow and abs(int(zz_new[k]) - coef) != p1:
                    raise ValueError("jpeg arith prog: bad refinement step")
            else:
                newly = int(zz_new[k]) != 0
                qm.encode(self.bins, st + 1, 1 if newly else 0)
                if newly:
                    if abs(int(zz_new[k])) != p1:
                        raise ValueError(
                            "jpeg arith prog: refinement magnitude != p1"
                        )
                    qm.encode(self.fixed, 0, 1 if zz_new[k] < 0 else 0)
            k += 1


class _ACBand(_ACModel):
    """Band-limited first-pass AC model: the sequential Annex F model
    walking [ss, se] instead of [1, 63]."""

    def decode_band(
        self, qm: _QMDecoder, zz: np.ndarray, ss: int, se: int, al: int
    ) -> None:
        k = ss
        while k <= se:
            st = 3 * (k - 1)
            if qm.decode(self.bins, st):
                return
            while qm.decode(self.bins, st + 1) == 0:
                st += 3
                k += 1
                if k > se:
                    raise ValueError("jpeg arith prog: AC run past band")
            sign = qm.decode(self.fixed, 0)
            st += 2
            m = qm.decode(self.bins, st)
            if m:
                if qm.decode(self.bins, st):
                    m = 2
                    st = 189 if k <= self.kx else 217
                    while qm.decode(self.bins, st):
                        m <<= 1
                        if m == 0x8000:
                            raise ValueError(
                                "jpeg arith prog: AC magnitude overflow"
                            )
                        st += 1
            v = m
            st += 14
            while m > 1:
                m >>= 1
                if qm.decode(self.bins, st):
                    v |= m
            v += 1
            zz[k] = (-v if sign else v) << al
            k += 1

    def encode_band(
        self, qm: _QMEncoder, vals: list[int], ss: int, se: int, al: int
    ) -> None:
        """``vals`` is the POINT-TRANSFORMED band [ss, se] as a plain-int
        list (the caller computes all blocks' transforms in one
        vectorized pass — r14)."""
        nz = [i for i, v in enumerate(vals) if v]
        eob = (nz[-1] + ss + 1) if nz else ss
        k = ss
        while k < eob:
            st = 3 * (k - 1)
            qm.encode(self.bins, st, 0)
            while vals[k - ss] == 0:
                qm.encode(self.bins, st + 1, 0)
                st += 3
                k += 1
            qm.encode(self.bins, st + 1, 1)
            val = vals[k - ss]
            sign = 1 if val < 0 else 0
            qm.encode(self.fixed, 0, sign)
            v = abs(val) - 1
            st += 2
            if v == 0:
                qm.encode(self.bins, st, 0)
                m = 0
            else:
                qm.encode(self.bins, st, 1)
                if v == 1:
                    qm.encode(self.bins, st, 0)
                    m = 1
                else:
                    qm.encode(self.bins, st, 1)
                    m = 2
                    st = 189 if k <= self.kx else 217
                    while (m << 1) <= v:
                        qm.encode(self.bins, st, 1)
                        m <<= 1
                        if m == 0x8000:
                            raise ValueError(
                                "jpeg arith prog: AC coefficient too large"
                            )
                        st += 1
                    qm.encode(self.bins, st, 0)
            st += 14
            mm = m
            while mm > 1:
                mm >>= 1
                qm.encode(self.bins, st, 1 if v & mm else 0)
            k += 1
        if eob <= se:
            qm.encode(self.bins, 3 * (eob - 1), 1)


def encode_jpeg_arith_progressive_gray(px: np.ndarray, quant: int = 8) -> bytes:
    """Encode an 8-bit grayscale image as PROGRESSIVE arithmetic JPEG
    (SOF10) with the four-scan script in :data:`PROG_SCANS`."""
    px = np.asarray(px, dtype=np.uint8)
    h, w = px.shape
    blocks, bw, bh = _blocks_of(px)
    coefs = ((_A @ blocks) @ _A.T)
    q = np.rint(coefs / float(quant)).astype(np.int64)
    Z = q.reshape(bh * bw, 64)[:, _ZIGZAG]

    qtab = bytes(np.full(64, quant, dtype=np.uint8))
    out = bytearray()
    out += b"\xff\xd8"
    out += (b"\xff\xe0" + struct.pack(">H", 16)
            + b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + qtab
    out += b"\xff\xca" + struct.pack(">HBHHB", 11, 8, h, w, 1) + b"\x01\x11\x00"
    out += _dac_segment()

    # Reconstruction state visible to refinement scans (what the
    # decoder has after the preceding scans) — plain-int lists; the
    # point transforms are computed for every block in one vectorized
    # pass per scan (r14: the per-coefficient `_pt_ac(int(zz[k]))`
    # list comprehensions were most of the encoder's time).
    state = [[0] * 64 for _ in range(bh * bw)]
    for ss, se, ah, al in PROG_SCANS:
        out += (b"\xff\xda" + struct.pack(">H", 8)
                + bytes((1, 1, 0, ss, se, (ah << 4) | al)))
        enc = _QMEncoder()
        if ss == 0 and ah == 0:
            dcm = _DCModel()
            pred, ctx = 0, 0
            for bi, v in enumerate((Z[:, 0] >> al).tolist()):
                diff = v - pred
                dcm.encode(enc, ctx, diff)
                ctx = dcm.classify(diff)
                pred = v
                state[bi][0] = v << al
        elif ss == 0:
            fixed = [[FIXED_BIN, 0]]
            p1 = 1 << al
            for bi, bit in enumerate(((Z[:, 0] >> al) & 1).tolist()):
                enc.encode(fixed, 0, bit)
                if bit:
                    state[bi][0] |= p1
        else:
            # AC point transform of the whole band, every block at once
            # (truncation toward zero per _pt_ac), plus its shifted-back
            # reconstruction value
            PT = np.where(Z < 0, -((-Z) >> al), Z >> al)
            band_pt = PT[:, ss : se + 1].tolist()
            band_rec = (PT[:, ss : se + 1] << al).tolist()
            if ah == 0:
                acm = _ACBand()
                for bi, vals in enumerate(band_pt):
                    acm.encode_band(enc, vals, ss, se, al)
                    state[bi][ss : se + 1] = band_rec[bi]
            else:
                acr = _ACRefine()
                for bi, vals in enumerate(band_rec):
                    st_zz = state[bi]
                    target = st_zz[:ss] + vals + st_zz[se + 1 :]
                    acr.encode_block(enc, target, st_zz, ss, se, al)
                    st_zz[ss : se + 1] = vals
        out += enc.flush()
    out += b"\xff\xd9"
    return bytes(out)


def _next_marker(payload: bytes, pos: int) -> int:
    """Scan end of a QM entropy segment: first 0xFF followed by a byte
    >= 0x80 (arithmetic bit stuffing forces data bytes after 0xFF to
    have a 0 MSB)."""
    while True:
        nxt = payload.find(b"\xff", pos)
        if nxt < 0 or nxt + 1 >= len(payload):
            raise ValueError("jpeg arith prog: unterminated scan")
        if payload[nxt + 1] >= 0x80:
            return nxt
        pos = nxt + 2


def decode_jpeg_arith_progressive_planes(
    payload: bytes,
) -> tuple[int, int, list[np.ndarray]]:
    """Decode a grayscale progressive-arithmetic JPEG (SOF10) →
    ``(width, height, [plane])``, accumulating coefficients across all
    scans then dequantizing + IDCT once."""
    if payload[:2] != b"\xff\xd8":
        raise ValueError("jpeg: missing SOI")
    pos = 2
    qtables: dict[int, np.ndarray] = {}
    w = h = -1
    dc_cond = (DC_L_DEFAULT, DC_U_DEFAULT)
    ac_kx = AC_KX_DEFAULT
    scans: list[tuple[int, int, int, int, int]] = []  # (ss, se, ah, al, start)
    while pos + 2 <= len(payload):
        if payload[pos] != 0xFF:
            raise ValueError("jpeg: expected marker")
        marker = payload[pos + 1]
        if marker == 0xD9:
            break
        seg_len = struct.unpack(">H", payload[pos + 2 : pos + 4])[0]
        body = payload[pos + 4 : pos + 2 + seg_len]
        if marker == 0xDB:
            i = 0
            while i < len(body):
                tq = body[i] & 0x0F
                tab = np.frombuffer(body[i + 1 : i + 65], dtype=np.uint8)
                qtables[tq] = tab.astype(np.int64)[_UNZIGZAG].reshape(8, 8)
                i += 65
        elif marker == 0xCA:  # SOF10
            if body[0] != 8 or body[5] != 1:
                raise NotImplementedError(
                    "jpeg arith prog: only 8-bit grayscale"
                )
            h = struct.unpack(">H", body[1:3])[0]
            w = struct.unpack(">H", body[3:5])[0]
        elif marker == 0xCC:
            i = 0
            while i + 1 < len(body):
                tc = body[i] >> 4
                if tc == 0:
                    dc_cond = (body[i + 1] & 0x0F, body[i + 1] >> 4)
                else:
                    ac_kx = body[i + 1]
                i += 2
        elif marker == 0xDA:
            ss, se = body[-3], body[-2]
            ah, al = body[-1] >> 4, body[-1] & 0x0F
            if (ss == 0) != (se == 0):
                # T.81 G.1: progressive DC scans are exactly Ss=Se=0;
                # a sequential-style Ss=0/Se=63 scan inside a SOF10
                # frame is malformed (e.g. a relabeled SOF9 stream).
                raise ValueError(
                    "jpeg arith prog: invalid progressive band "
                    f"Ss={ss} Se={se}"
                )
            start = pos + 2 + seg_len
            scans.append((ss, se, ah, al, start))
            pos = _next_marker(payload, start)
            continue
        pos += 2 + seg_len
    if w < 0:
        raise ValueError("jpeg arith prog: missing SOF10")
    if not scans:
        raise ValueError("jpeg arith prog: missing SOS")
    bw, bh = (w + 7) // 8, (h + 7) // 8
    zz_all = [[0] * 64 for _ in range(bw * bh)]
    for ss, se, ah, al, start in scans:
        qm = _QMDecoder(payload[start:])
        if ss == 0 and ah == 0:
            dcm = _DCModel(*dc_cond)
            pred, ctx = 0, 0
            for zz in zz_all:
                diff = dcm.decode(qm, ctx)
                ctx = dcm.classify(diff)
                pred += diff
                zz[0] = pred << al
        elif ss == 0:
            fixed = [[FIXED_BIN, 0]]
            p1 = 1 << al
            for zz in zz_all:
                if qm.decode(fixed, 0):
                    zz[0] |= p1
        elif ah == 0:
            acm = _ACBand(ac_kx)
            for zz in zz_all:
                acm.decode_band(qm, zz, ss, se, al)
        else:
            acr = _ACRefine()
            for zz in zz_all:
                acr.decode_block(qm, zz, ss, se, al)
    q = qtables[0]
    zarr = np.array(zz_all, dtype=np.int64)
    coefs = [
        zarr[:, _UNZIGZAG].reshape(bh, bw, 8, 8).astype(np.float64)
        * q[None, None]
    ]
    return _planes_of(coefs, [(1, 1, 1, 0)], w, h, 1, 1)
