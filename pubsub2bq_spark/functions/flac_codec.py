"""Pure-stdlib FLAC codec for the multimodal audio verbs.

FLAC (RFC 9639 / the xiph.org format spec) is lossless and fully
algorithmic — fixed/LPC difference predictors, Rice-coded residuals,
CRC-8/CRC-16 framing, an MD5 of the raw samples in STREAMINFO — so an
exact stdlib implementation is possible and every claim is verifiable
by round trip:

* :func:`encode_flac` — mono 16-bit encoder: STREAMINFO (with the
  real MD5 of the raw little-endian samples), fixed-blocksize frames
  with UTF-8 frame numbers and CRC-8/CRC-16, per-block FIXED
  predictor (order chosen by residual-cost estimate, CONSTANT blocks
  detected) and single-partition Rice residuals with an estimated
  parameter.
* :func:`decode_flac` — general mono decoder: CONSTANT / VERBATIM /
  FIXED 0–4 / LPC subframes, partitioned Rice residuals of both
  coding methods including escape partitions, wasted-bits unpacking,
  and REAL integrity verification — frame CRC-8 + CRC-16 and the
  stream MD5 are all checked, loudly.

Perceptual codecs (mp3/opus) remain behind the NotImplementedError
gate; FLAC closes the COMPRESSED LOSSLESS audio family.
"""

from __future__ import annotations

import hashlib
import struct

import numpy as np

FLAC_SIG = b"fLaC"
_BLOCK = 4096

_FIXED_COEFS = {
    0: [],
    1: [1],
    2: [2, -1],
    3: [3, -3, 1],
    4: [4, -6, 4, -1],
}


def _crc8(data: bytes) -> int:
    """CRC-8, polynomial x^8 + x^2 + x + 1 (0x07), init 0."""
    crc = 0
    for b in data:
        crc ^= b
        for _ in range(8):
            crc = ((crc << 1) ^ 0x07) & 0xFF if crc & 0x80 else (crc << 1) & 0xFF
    return crc


def _crc16_bitwise(data: bytes) -> int:
    """CRC-16, polynomial x^16 + x^15 + x^2 + 1 (0x8005), init 0 —
    the reference bit-serial form (kept for short inputs and as the
    test oracle for the folded fast path)."""
    crc = 0
    for b in data:
        crc ^= b << 8
        for _ in range(8):
            crc = ((crc << 1) ^ 0x8005) & 0xFFFF if crc & 0x8000 else (crc << 1) & 0xFFFF
    return crc


def _gf2_mulmod_scalar(a: int, c: int) -> int:
    """(a(x)·c(x)) mod g(x) for g = x¹⁶+x¹⁵+x²+1, scalar ints."""
    acc = 0
    for j in range(16):
        if (c >> j) & 1:
            acc ^= a
        a = ((a << 1) & 0xFFFF) ^ (0x8005 if a & 0x8000 else 0)
    return acc


def _mul_table(c: int) -> np.ndarray:
    """256-entry table t[b] = (b(x)·c(x)) mod g, built incrementally."""
    t = np.zeros(256, dtype=np.uint32)
    for b in range(1, 256):
        half = int(t[b >> 1])
        dbl = ((half << 1) & 0xFFFF) ^ (0x8005 if half & 0x8000 else 0)
        t[b] = dbl ^ (c if b & 1 else 0)
    return t


# Per-fold-level (lo, hi) multiply tables for c_L = x^(8·2^L) mod g;
# lazily extended, shared process-wide (the constants depend only on the
# level, never on the data).
_CRC16_FOLD_TABLES: list[tuple[np.ndarray, np.ndarray]] = []


def _crc16_fold_tables(level: int) -> tuple[np.ndarray, np.ndarray]:
    while len(_CRC16_FOLD_TABLES) <= level:
        if not _CRC16_FOLD_TABLES:
            c = 0x0100  # x^8 mod g (degree < 16: no reduction)
        else:
            # c_{L} = c_{L-1}², recovered from the previous lo-table.
            c_prev = int(_CRC16_FOLD_TABLES[-1][0][1])
            c = _gf2_mulmod_scalar(c_prev, c_prev)
        lo = _mul_table(c)
        hi = _mul_table(_gf2_mulmod_scalar(0x0100, c))  # (x^8·c) mod g
        _CRC16_FOLD_TABLES.append((lo, hi))
    return _CRC16_FOLD_TABLES[level]


def _crc16(data: bytes) -> int:
    """CRC-16/0x8005, init 0 — numpy log-fold for long inputs.

    CRC is linear over GF(2): CRC(A‖B) = (r_A·x^{8m} + r_B) mod g for
    m-byte blocks, so per-byte remainders fold pairwise with ONE
    constant multiplier per level (x^{8m} mod g, squared between
    levels). Each level's multiply is two 256-entry table gathers
    (byte-decomposed), so a frame's CRC is ~log₂(n) numpy passes —
    replacing the per-byte×per-bit Python loop that dominated
    decode_flac's profile (0.49 s of a 0.78 s decode)."""
    n = len(data)
    if n < 256:
        return _crc16_bitwise(data)
    size = 1 << (n - 1).bit_length()
    r = np.zeros(size, dtype=np.uint32)
    r[size - n :] = np.frombuffer(data, dtype=np.uint8)  # front zero-pad
    level = 0
    while r.size > 1:
        lo, hi = _crc16_fold_tables(level)
        a = r[0::2]
        r = lo[a & 0xFF] ^ hi[a >> 8] ^ r[1::2]
        level += 1
    # The CRC register appends x^16: crc = remainder·x^16 mod g, and
    # x^16 ≡ x^15+x^2+1 = 0x8005 (mod g).
    return _gf2_mulmod_scalar(int(r[0]), 0x8005)


def _utf8_number(v: int) -> bytes:
    """FLAC's UTF-8-style coding of frame/sample numbers (≤ 36 bits)."""
    if v < 0x80:
        return bytes((v,))
    out = []
    nbytes = 2
    while v >= (1 << (nbytes * 5 + 1)) and nbytes < 7:
        nbytes += 1
    lead = (0xFF << (8 - nbytes)) & 0xFF
    shift = 6 * (nbytes - 1)
    out.append(lead | (v >> shift))
    for k in range(nbytes - 1):
        shift -= 6
        out.append(0x80 | ((v >> shift) & 0x3F))
    return bytes(out)


class _MSBWriter:
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
            self.buf.append((self.acc >> self.nbits) & 0xFF)
        self.acc &= (1 << self.nbits) - 1

    def write_unary(self, q: int) -> None:
        while q >= 32:
            self.write(0, 32)
            q -= 32
        self.write(1, q + 1)  # q zeros then a one

    def align(self) -> None:
        if self.nbits:
            self.write(0, 8 - self.nbits)

    def bytes(self) -> bytes:
        assert self.nbits == 0
        return bytes(self.buf)


class _MSBReader:
    def __init__(self, data: bytes, pos: int = 0) -> None:
        self.data = data
        self.pos = pos  # byte position
        self.acc = 0
        self.nbits = 0

    def read(self, n: int) -> int:
        while self.nbits < n:
            if self.pos >= len(self.data):
                raise ValueError("flac: truncated stream")
            self.acc = (self.acc << 8) | self.data[self.pos]
            self.pos += 1
            self.nbits += 8
        self.nbits -= n
        v = (self.acc >> self.nbits) & ((1 << n) - 1)
        self.acc &= (1 << self.nbits) - 1
        return v

    def read_signed(self, n: int) -> int:
        v = self.read(n)
        return v - (1 << n) if v & (1 << (n - 1)) else v

    def read_unary(self) -> int:
        q = 0
        while self.read(1) == 0:
            q += 1
        return q

    def align(self) -> None:
        self.nbits = 0
        self.acc = 0

    def byte_pos(self) -> int:
        assert self.nbits % 8 == 0
        return self.pos - self.nbits // 8

    def bit_pos(self) -> int:
        """Absolute bit offset from the start of the stream."""
        return self.pos * 8 - self.nbits

    def seek_bit(self, bitpos: int) -> None:
        """Position the reader at an absolute bit offset (used to rejoin
        the scalar reader after a vectorized block decode)."""
        byte, off = divmod(bitpos, 8)
        if off:
            if byte >= len(self.data):
                raise ValueError("flac: truncated stream")
            self.pos = byte + 1
            self.nbits = 8 - off
            self.acc = self.data[byte] & ((1 << self.nbits) - 1)
        else:
            self.pos = byte
            self.nbits = 0
            self.acc = 0


class _BitPlan:
    """Whole-payload bit view for vectorized block decodes (r14).

    ``bits`` is the MSB-first unpacked bit array of the payload;
    ``ones`` the sorted positions of its set bits. Built once per
    decode, shared by every Rice partition / fixed-width block — the
    per-sample Python loops they replace were the decode hot path
    (audio_flac took 21.7 s in the 32x scaling probe)."""

    def __init__(self, payload: bytes) -> None:
        self.bits = np.unpackbits(np.frombuffer(payload, dtype=np.uint8))
        self.ones = np.flatnonzero(self.bits)

    def read_fixed(self, start: int, width: int, cnt: int) -> tuple[np.ndarray, int]:
        """``cnt`` unsigned ``width``-bit MSB-first integers at absolute
        bit offset ``start`` → (int64 array, end bit offset)."""
        if width == 0 or cnt == 0:
            return np.zeros(cnt, dtype=np.int64), start
        end = start + width * cnt
        if end > self.bits.size:
            raise ValueError("flac: truncated stream")
        offs = start + np.arange(cnt, dtype=np.int64) * width
        v = np.zeros(cnt, dtype=np.int64)
        for b in range(width):
            v = (v << 1) | self.bits[offs + b]
        return v, end

    def read_fixed_signed(self, start: int, width: int, cnt: int) -> tuple[np.ndarray, int]:
        v, end = self.read_fixed(start, width, cnt)
        if width:
            v = np.where(v >= (1 << (width - 1)), v - (1 << width), v)
        return v, end

    def rice_block(self, start: int, p: int, cnt: int) -> tuple[np.ndarray, int]:
        """Decode ``cnt`` Rice(p) codes (unary quotient, MSB-first
        ``p``-bit remainder, zigzag-folded) at bit offset ``start``.

        Vectorized chain-follow: each code's unary terminator is the
        first set bit at or after the previous code's end, so with
        ``succ(j) = first one >= ones[j] + 1 + p`` the terminators are a
        path in a functional graph — enumerated in O(log cnt) numpy
        passes by prefix doubling instead of per-sample Python reads."""
        if cnt == 0:
            return np.zeros(0, dtype=np.int64), start
        ones, bits = self.ones, self.bits
        j0 = int(np.searchsorted(ones, start))
        # Each code consumes exactly one terminator bit and at most p
        # remainder set bits → the chain touches ≤ cnt*(p+1) ones.
        hi = min(j0 + cnt * (p + 1) + 1, ones.size)
        J = ones[j0:hi]
        if J.size == 0:
            raise ValueError("flac: truncated Rice partition")
        # succ with an absorbing sentinel at index J.size for overrun.
        succ = np.searchsorted(J, J + 1 + p).astype(np.int64)
        succ = np.append(succ, J.size)
        # Prefix doubling: P = first m chain nodes, jump = succ^m.
        P = np.zeros(1, dtype=np.int64)
        jump = succ
        while P.size < cnt:
            nxt = jump[P]
            P = np.concatenate([P, nxt])
            if P.size < cnt:
                jump = jump[np.minimum(jump, J.size)]
        P = P[:cnt]
        if int(P[-1]) >= J.size:
            raise ValueError("flac: truncated Rice partition")
        t = J[P]  # terminator bit positions, one per code
        s = np.empty(cnt, dtype=np.int64)
        s[0] = start
        s[1:] = t[:-1] + 1 + p
        q = t - s
        if np.any(q < 0):
            raise ValueError("flac: corrupt Rice partition")
        end = int(t[-1]) + 1 + p
        if end > bits.size:
            raise ValueError("flac: truncated Rice partition")
        rem = np.zeros(cnt, dtype=np.int64)
        for b in range(p):
            rem = (rem << 1) | bits[t + 1 + b]
        u = (q << p) | rem
        return (u >> 1) ^ -(u & 1), end


def _rice_fold(v: np.ndarray) -> np.ndarray:
    return np.where(v >= 0, v << 1, (-v << 1) - 1)


def _rice_param(res: np.ndarray) -> int:
    """Estimate the Rice parameter from the mean folded magnitude."""
    if res.size == 0:
        return 0
    mean = float(np.abs(res).mean())
    p = 0
    while (1 << p) < mean and p < 14:
        p += 1
    return p


def encode_flac(samples: np.ndarray, rate: int = 16_000) -> bytes:
    """Encode mono int16 samples as a real FLAC stream (fixed 4096
    blocks, FIXED predictors chosen per block, single-partition Rice
    residuals, true CRC-8/CRC-16 and STREAMINFO MD5)."""
    x = np.asarray(samples, dtype=np.int64)
    raw = x.astype("<i2").tobytes()
    total = x.size

    frames = bytearray()
    for fno, start in enumerate(range(0, total, _BLOCK)):
        block = x[start : start + _BLOCK]
        bs = block.size
        hdr = bytearray()
        hdr += b"\xff\xf8"  # sync 11111111 111110, reserved 0, fixed blocking
        if bs == _BLOCK:
            bs_code = 12  # 256 * 2^(12-8) = 4096
        else:
            bs_code = 7  # 16-bit block size follows (value - 1)
        hdr.append((bs_code << 4) | 0x00)  # sample rate from STREAMINFO
        hdr.append((0x0 << 4) | (0x4 << 1))  # mono, 16-bit, reserved 0
        hdr += _utf8_number(fno)
        if bs_code == 7:
            hdr += struct.pack(">H", bs - 1)
        hdr.append(_crc8(bytes(hdr)))

        wr = _MSBWriter()
        if bs and np.all(block == block[0]):
            wr.write(0b000000 << 1, 8)  # CONSTANT, no wasted bits
            wr.write(int(block[0]) & 0xFFFF, 16)
        else:
            # pick the FIXED order (0-2) minimizing the residual cost
            best_order, best_res, best_cost = 0, block, None
            for order in (0, 1, 2):
                if bs <= order:
                    continue
                res = block.copy()
                for _ in range(order):
                    res = np.diff(res)
                cost = float(np.abs(res).sum())
                if best_cost is None or cost < best_cost:
                    best_order, best_res, best_cost = order, res, cost
            order = best_order
            wr.write(0, 1)
            wr.write(0b001000 | order, 6)  # FIXED, order
            wr.write(0, 1)  # no wasted bits
            for k in range(order):
                wr.write(int(block[k]) & 0xFFFF, 16)  # warmup
            res = best_res
            p = _rice_param(res)
            wr.write(0b00, 2)  # 4-bit Rice parameters
            wr.write(0, 4)  # partition order 0
            wr.write(p, 4)
            for u in _rice_fold(res):
                u = int(u)
                wr.write_unary(u >> p)
                wr.write(u, p)
        wr.align()
        body = bytes(hdr) + wr.bytes()
        frames += body + struct.pack(">H", _crc16(body))

    streaminfo = bytearray()
    streaminfo += struct.pack(">HH", _BLOCK, _BLOCK)
    streaminfo += b"\x00\x00\x00" * 2  # min/max frame size unknown
    packed = (rate << 44) | (0 << 41) | (15 << 36) | total  # mono, 16-bit
    streaminfo += packed.to_bytes(8, "big")
    streaminfo += hashlib.md5(raw).digest()
    out = bytearray()
    out += FLAC_SIG
    out += bytes((0x80,)) + len(streaminfo).to_bytes(3, "big")  # last block
    out += streaminfo
    out += frames
    return bytes(out)


def decode_flac(payload: bytes) -> tuple[int, np.ndarray]:
    """Decode a mono FLAC stream → ``(sample_rate, int64 samples)``
    with full integrity verification: per-frame CRC-8 and CRC-16 and
    the STREAMINFO MD5 all checked. Supports CONSTANT / VERBATIM /
    FIXED 0-4 / LPC subframes, both Rice coding methods, escape
    partitions and wasted bits. Raises ``ValueError`` loudly on
    malformed or corrupt input."""
    if payload[:4] != FLAC_SIG:
        raise ValueError("flac: bad signature")
    pos = 4
    rate = None
    bps = None
    total = None
    md5_expect = None
    while True:
        if pos + 4 > len(payload):
            raise ValueError("flac: truncated metadata")
        head = payload[pos]
        length = int.from_bytes(payload[pos + 1 : pos + 4], "big")
        body = payload[pos + 4 : pos + 4 + length]
        if head & 0x7F == 0:  # STREAMINFO
            packed = int.from_bytes(body[10:18], "big")
            rate = packed >> 44
            nch = ((packed >> 41) & 0x7) + 1
            bps = ((packed >> 36) & 0x1F) + 1
            total = packed & ((1 << 36) - 1)
            md5_expect = body[18:34]
            if nch != 1:
                raise NotImplementedError("flac: only mono streams supported")
        pos += 4 + length
        if head & 0x80:
            break
    if rate is None:
        raise ValueError("flac: missing STREAMINFO")

    out: list[np.ndarray] = []
    got = 0
    plan = _BitPlan(payload)
    while got < (total or 0) and pos < len(payload):
        frame_start = pos
        rdr = _MSBReader(payload, pos)
        sync = rdr.read(14)
        if sync != 0x3FFE:
            raise ValueError("flac: lost frame sync")
        rdr.read(1)  # reserved
        rdr.read(1)  # blocking strategy
        bs_code = rdr.read(4)
        sr_code = rdr.read(4)
        ch_code = rdr.read(4)
        ss_code = rdr.read(3)
        rdr.read(1)  # reserved
        if ch_code != 0:
            raise NotImplementedError("flac: only mono frames supported")
        # UTF-8 frame number
        b0 = rdr.read(8)
        if b0 >= 0x80:
            nb = 0
            while b0 & (0x80 >> nb):
                nb += 1
            for _ in range(nb - 1):
                if rdr.read(8) & 0xC0 != 0x80:
                    raise ValueError("flac: bad UTF-8 frame number")
        if bs_code == 0:
            raise ValueError("flac: reserved block size code")
        if bs_code == 1:
            bs = 192
        elif 2 <= bs_code <= 5:
            bs = 576 << (bs_code - 2)
        elif bs_code == 6:
            bs = rdr.read(8) + 1
        elif bs_code == 7:
            bs = rdr.read(16) + 1
        else:
            bs = 256 << (bs_code - 8)
        if sr_code == 12:
            rdr.read(8)
        elif sr_code in (13, 14):
            rdr.read(16)
        sbps = {1: 8, 2: 12, 4: 16, 5: 20, 6: 24}.get(ss_code, bps)
        crc8_pos = rdr.byte_pos()
        if _crc8(payload[frame_start:crc8_pos]) != rdr.read(8):
            raise ValueError("flac: frame header CRC-8 mismatch")

        # subframe (mono)
        if rdr.read(1) != 0:
            raise ValueError("flac: bad subframe padding bit")
        sft = rdr.read(6)
        wasted = 0
        if rdr.read(1):
            wasted = 1 + rdr.read_unary()
        eff = sbps - wasted
        if sft == 0:
            block = np.full(bs, rdr.read_signed(eff), dtype=np.int64)
        elif sft == 1:
            block, vend = plan.read_fixed_signed(rdr.bit_pos(), eff, bs)
            rdr.seek_bit(vend)
        elif 8 <= sft <= 12 or sft >= 32:
            if sft >= 32:
                order = (sft & 0x1F) + 1
                warm = [rdr.read_signed(eff) for _ in range(order)]
                prec = rdr.read(4) + 1
                if prec == 16:
                    raise ValueError("flac: invalid LPC precision")
                shift = rdr.read_signed(5)
                coefs = [rdr.read_signed(prec) for _ in range(order)]
            else:
                order = sft - 8
                warm = [rdr.read_signed(eff) for _ in range(order)]
                coefs = _FIXED_COEFS[order]
                shift = 0
            res = _read_residual(rdr, bs, order, plan)
            block = np.empty(bs, dtype=np.int64)
            block[:order] = warm
            if sft < 32:
                # FIXED order-k predictor ⇒ the residual IS the k-th
                # finite difference of the signal; reconstruction is k
                # iterated cumulative sums seeded by the warmup's
                # difference pyramid — exact int64 numpy, replacing the
                # per-sample Python recurrence.
                cur = res
                for m in range(order - 1, -1, -1):
                    init = int(np.diff(np.asarray(warm, dtype=np.int64), m)[-1]) if warm else 0
                    cur = init + np.cumsum(cur)
                block[order:] = cur
            else:
                # General LPC taps: the (pred >> shift) quantization
                # inside a genuinely sequential recurrence — scalar.
                for i in range(order, bs):
                    pred = 0
                    for j, c in enumerate(coefs):
                        pred += c * int(block[i - 1 - j])
                    block[i] = (pred >> shift) + res[i - order]
        else:
            raise ValueError(f"flac: reserved subframe type {sft}")
        if wasted:
            block <<= wasted
        rdr.align()
        crc16_pos = rdr.byte_pos()
        expect = struct.unpack(
            ">H", payload[crc16_pos : crc16_pos + 2]
        )[0]
        if _crc16(payload[frame_start:crc16_pos]) != expect:
            raise ValueError("flac: frame CRC-16 mismatch")
        pos = crc16_pos + 2
        out.append(block)
        got += bs

    samples = (
        np.concatenate(out) if out else np.empty(0, dtype=np.int64)
    )
    if total:
        samples = samples[:total]
    if md5_expect and md5_expect != b"\x00" * 16:
        if hashlib.md5(samples.astype("<i2").tobytes()).digest() != md5_expect:
            raise ValueError("flac: stream MD5 mismatch")
    return rate, samples


def _read_residual(
    rdr: _MSBReader, bs: int, order: int, plan: _BitPlan
) -> np.ndarray:
    """Partitioned Rice residual (both coding methods, escape codes).

    Partition header fields go through the scalar reader; the per-sample
    payload of each partition decodes vectorized on the shared bit plan,
    after which the scalar reader reseeks to the partition end."""
    method = rdr.read(2)
    if method > 1:
        raise ValueError("flac: reserved residual coding method")
    pbits = 4 if method == 0 else 5
    escape = (1 << pbits) - 1
    po = rdr.read(4)
    nparts = 1 << po
    if bs % nparts or (bs >> po) <= order:
        raise ValueError("flac: invalid partition order")
    res = np.empty(bs - order, dtype=np.int64)
    n = 0
    for part in range(nparts):
        cnt = (bs >> po) - (order if part == 0 else 0)
        p = rdr.read(pbits)
        if p == escape:
            nb = rdr.read(5)
            vals, end = plan.read_fixed_signed(rdr.bit_pos(), nb, cnt)
            res[n : n + cnt] = vals
        else:
            vals, end = plan.rice_block(rdr.bit_pos(), p, cnt)
            res[n : n + cnt] = vals
        rdr.seek_bit(end)
        n += cnt
    return res
