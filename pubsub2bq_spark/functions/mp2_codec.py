"""MPEG-1 Audio Layer II codec (ISO/IEC 11172-3) for the multimodal
audio verbs — the perceptual-audio family member.

Layer II is the first PERCEPTUAL codec in the engine: unlike
FLAC/ADPCM/G.711 the stream does not carry samples but quantized
SUBBAND values — 32 equal-width frequency bands, 36 samples each per
1152-sample frame, with per-subband bit allocation, scale factors
shared across granule parts (scfsi), and grouped quantization for the
3/5/9-level classes. Everything bitstream-side is implemented exactly
from the public spec:

* frame header (syncword, bitrate/samplerate indexes, padding, mode),
* optional CRC-16 (poly 0x8005, init 0xFFFF over header bytes 2-3 +
  the allocation/scfsi bits — verified loudly when present),
* bit-allocation tables B.2a/B.2b (27/30 subbands, the high-rate
  tables) and the low-rate 8/12-subband tables, transcribed from
  ISO/IEC 11172-3 Annex B,
* scale factors (Table B.1: sf(i) = 2·2^(-i/3)) with all four scfsi
  sharing modes,
* sample decode for grouped (3/5/9 levels in one 5/7/10-bit code) and
  ungrouped classes, and the exact requantization
  s'' = (2c + 1 - L)/L for an L-level class (the Table B.4 C/D
  constants in closed form).

The synthesis filterbank implements the spec's exact flow (V-FIFO,
64x32 cosine matrix N[i][k] = cos((16+i)(2k+1)pi/64), U selection,
512-tap window, 16-tap accumulation). CAVEAT, stated loudly: the 512
window constants of Table B.3 are a numeric table with no closed form
and are NOT reproducible here, so this module uses a documented
textbook pseudo-QMF prototype (Hann-windowed sinc, cutoff pi/32)
instead. The subband layer is ISO-exact; PCM output differs from
reference decoders exactly by that window substitution. Oracles
therefore hash the bitstream-domain integers (allocation, scale
factors, the requantization numerators 2c+1-L), which ARE exact, and
take PCM length from the real synthesis run.

Layer III (mp3) and opus remain behind the NotImplementedError gate.
"""

from __future__ import annotations

import struct

import numpy as np

# ---------------------------------------------------------------------------
# Header tables (ISO/IEC 11172-3 §2.4.2.3)
# ---------------------------------------------------------------------------

SAMPLE_RATES = {0: 44100, 1: 48000, 2: 32000}
# Layer II bitrate index -> kbit/s (index 0 = free format: unsupported).
BITRATES_KBPS = [
    None, 32, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, 384,
]

# Quantization classes (Annex B Table B.4): levels -> (grouped, code bits).
# Grouping packs three consecutive samples of a 3/5/9-level subband into
# one 5/7/10-bit code word; ungrouped classes use ceil(log2(L+1)) bits
# per sample.
QUANT_CLASS: dict[int, tuple[bool, int]] = {
    3: (True, 5),
    5: (True, 7),
    7: (False, 3),
    9: (True, 10),
    15: (False, 4),
    31: (False, 5),
    63: (False, 6),
    127: (False, 7),
    255: (False, 8),
    511: (False, 9),
    1023: (False, 10),
    2047: (False, 11),
    4095: (False, 12),
    8191: (False, 13),
    16383: (False, 14),
    32767: (False, 15),
    65535: (False, 16),
}

# Allocation step lists (Annex B Table B.2a/b): alloc field value v > 0
# selects steps[v - 1]; v = 0 means "no allocation".
_STEPS_A = [3, 7, 15, 31, 63, 127, 255, 511, 1023, 2047, 4095, 8191,
            16383, 32767, 65535]
_STEPS_B = [3, 5, 7, 9, 15, 31, 63, 127, 255, 511, 1023, 2047, 4095,
            8191, 65535]
_STEPS_C = [3, 5, 7, 9, 15, 31, 65535]
_STEPS_D = [3, 5, 65535]
_STEPS_LOW = [3, 5, 9, 15, 31, 63, 127, 255, 511, 1023, 2047, 4095,
              8191, 16383, 32767]

# (nbal, steps) per subband.
TABLE_B2A = ([(4, _STEPS_A)] * 3 + [(4, _STEPS_B)] * 8
             + [(3, _STEPS_C)] * 12 + [(2, _STEPS_D)] * 4)       # sblimit 27
TABLE_B2B = TABLE_B2A + [(2, _STEPS_D)] * 3                      # sblimit 30
TABLE_LOW8 = [(4, _STEPS_LOW)] * 8                               # sblimit 8
TABLE_LOW12 = [(4, _STEPS_LOW)] * 12                             # sblimit 12


def alloc_table(sample_rate: int, bitrate_kbps: int) -> list[tuple[int, list[int]]]:
    """Bit-allocation table selection for MONO Layer II (the per-channel
    bitrate equals the stream bitrate)."""
    if bitrate_kbps <= 48:
        return TABLE_LOW12 if sample_rate == 32000 else TABLE_LOW8
    return TABLE_B2B if sample_rate == 32000 else TABLE_B2A


# Table B.1 scale factors: sf(i) = 2 * 2^(-i/3), i in 0..62.
SCALE_FACTORS = 2.0 * np.exp2(-np.arange(63) / 3.0)


# ---------------------------------------------------------------------------
# CRC-16 (poly 0x8005, init 0xFFFF — §2.4.3.1; covers header bytes 2-3
# plus the allocation + scfsi bits of the frame)
# ---------------------------------------------------------------------------


# Byte-at-a-time table for the MSB-first 0x8005 CRC (r14: the bit-serial
# loop ran twice per frame — encode stamp + decode verify — and was a top
# per-frame cost; the table form is the standard algebraic regrouping of
# the same polynomial division, 8 bits per step).
_CRC16_TABLE = []
for _b in range(256):
    _crc = _b << 8
    for _ in range(8):
        _crc = (
            ((_crc << 1) ^ 0x8005) & 0xFFFF
            if _crc & 0x8000
            else (_crc << 1) & 0xFFFF
        )
    _CRC16_TABLE.append(_crc)
del _b, _crc


def crc16_mpeg_bits(data: bytes, nbits: int) -> int:
    """CRC-16 over the first ``nbits`` bits (MSB-first) of ``data``,
    init 0xFFFF, polynomial 0x8005. Whole bytes go through the 256-entry
    table; the ragged tail (< 8 bits) stays bit-serial."""
    crc = 0xFFFF
    nb, rem = nbits >> 3, nbits & 7
    tab = _CRC16_TABLE
    for byte in data[:nb]:
        crc = ((crc << 8) & 0xFFFF) ^ tab[(crc >> 8) ^ byte]
    for i in range(rem):
        bit = (data[nb] >> (7 - i)) & 1
        hi = (crc >> 15) & 1
        crc = (crc << 1) & 0xFFFF
        if hi ^ bit:
            crc ^= 0x8005
    return crc


class _BitWriter:
    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, length: int) -> None:
        self.acc = (self.acc << length) | (value & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            self.nbits -= 8
            self.buf.append((self.acc >> self.nbits) & 0xFF)
        self.acc &= (1 << self.nbits) - 1

    def pad_to(self, n_bytes: int) -> None:
        if self.nbits:
            self.write(0, 8 - self.nbits)
        while len(self.buf) < n_bytes:
            self.buf.append(0)


class _BitReader:
    def __init__(self, data: bytes, pos: int = 0) -> None:
        self.data = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0

    def read(self, n: int) -> int:
        while self.nbits < n:
            if self.pos >= len(self.data):
                raise ValueError("mp2: truncated frame")
            self.acc = (self.acc << 8) | self.data[self.pos]
            self.pos += 1
            self.nbits += 8
        self.nbits -= n
        v = (self.acc >> self.nbits) & ((1 << n) - 1)
        self.acc &= (1 << self.nbits) - 1
        return v

    def bit_pos(self) -> int:
        """Absolute bit offset of the cursor into ``data``."""
        return self.pos * 8 - self.nbits


def _extract_fields(buf32: np.ndarray, nbits_total: int, start_bit: int,
                    widths: np.ndarray) -> np.ndarray:
    """Gather consecutive MSB-first bit fields in one vectorized pass.

    ``buf32`` is the payload as int64 bytes zero-padded by 4 (so every
    32-bit window read is in bounds); fields are ≤ 16 bits wide, so a
    window starting at the field's byte always covers it. Raises the
    same truncated-frame error the scalar reader raised when a field
    would run past the payload."""
    ends = start_bit + np.cumsum(widths)
    if ends.size and int(ends[-1]) > nbits_total:
        raise ValueError("mp2: truncated frame")
    offs = ends - widths
    i = offs >> 3
    w32 = (
        (buf32[i] << 24) | (buf32[i + 1] << 16)
        | (buf32[i + 2] << 8) | buf32[i + 3]
    )
    return (w32 >> (32 - (offs & 7) - widths)) & ((1 << widths) - 1)


# ---------------------------------------------------------------------------
# Synthesis filterbank (§2.4.3.2 flow; window caveat in module docstring)
# ---------------------------------------------------------------------------

_N_MATRIX: np.ndarray | None = None
_D_WINDOW: np.ndarray | None = None
_C_EVEN: np.ndarray | None = None
_C_ODD: np.ndarray | None = None


def _filterbank_tables() -> tuple[np.ndarray, np.ndarray]:
    global _N_MATRIX, _D_WINDOW, _C_EVEN, _C_ODD
    if _N_MATRIX is None:
        i = np.arange(64)[:, None]
        k = np.arange(32)[None, :]
        _N_MATRIX = np.cos((16 + i) * (2 * k + 1) * np.pi / 64)
        # Textbook pseudo-QMF prototype: Hann-windowed sinc, cutoff
        # pi/32, length 512 — NOT the ISO Table B.3 constants (see
        # module docstring). Deterministic closed form.
        n = np.arange(512)
        x = (n - 255.5) / 32.0
        h = np.hanning(512) * np.sinc(x) / 32.0
        _D_WINDOW = 32.0 * h
        # Window coefficients rearranged onto the 16-frame sliding
        # window (r14): window position s = 15-2j holds the EVEN tap
        # D[64j + k] and s = 14-2j the ODD tap D[64j + 32 + k], so the
        # whole synthesis is two einsum contractions over s.
        _C_EVEN = np.zeros((16, 32))
        _C_ODD = np.zeros((16, 32))
        for j in range(8):
            _C_EVEN[15 - 2 * j] = _D_WINDOW[64 * j : 64 * j + 32]
            _C_ODD[14 - 2 * j] = _D_WINDOW[64 * j + 32 : 64 * j + 64]
    return _N_MATRIX, _D_WINDOW


def synthesize(subband_samples: np.ndarray) -> np.ndarray:
    """Spec-flow polyphase synthesis: (n_t, 32) subband samples ->
    (n_t * 32,) PCM float64 in [-1, 1].

    Vectorized over time (r14): with M[t] = N @ S[t], the V-FIFO at
    time t is just the last 16 matrixed frames, and the spec's U
    selection / window / 16-tap accumulation reduces to the closed
    form  out[t] = sum_j ( M[t-2j][:32]*D[j*64:j*64+32]
                         + M[t-2j-1][32:]*D[j*64+32:j*64+64] ),
    j = 0..7 — sixteen shifted broadcast-multiplies over the whole
    stream instead of a per-granule Python loop (negative indexes are
    the zero-initialized FIFO, modeled by front padding)."""
    N, _D = _filterbank_tables()
    n_t = subband_samples.shape[0]
    if n_t == 0:
        return np.zeros(0)
    M = subband_samples @ N.T  # (n_t, 64)
    Mp = np.vstack([np.zeros((16, 64)), M])  # Mp[16 + t] = M[t]
    # V[t, c, s] = Mp[t + 1 + s, c]: the 16-frame FIFO window ending at
    # frame t, so out[t] = Σ_s V[t,:32,s]·C_EVEN[s] + V[t,32:,s]·C_ODD[s]
    # — two contractions instead of the 16 shifted multiplies (r14).
    V = np.lib.stride_tricks.sliding_window_view(Mp, 16, axis=0)[1:]
    out = np.einsum("tks,sk->tk", V[:, :32, :], _C_EVEN) + np.einsum(
        "tks,sk->tk", V[:, 32:, :], _C_ODD
    )
    return np.clip(out.reshape(-1), -1.0, 1.0)


# ---------------------------------------------------------------------------
# Encoder (bitstream composer: frames from explicit subband content —
# the analysis filterbank is not needed to produce conforming streams)
# ---------------------------------------------------------------------------


def encode_mp2_frames(
    frames: list[dict],
    sample_rate: int = 48000,
    bitrate_kbps: int = 64,
    with_crc: bool = True,
) -> bytes:
    """Compose a real mono MPEG-1 Layer II stream.

    Each frame dict maps subband -> (alloc_value, scfsi,
    [scf_part0, scf_part1, scf_part2], codes) where codes is a (12, 3)
    int array of quantization codes in [0, L). The scale-factor triple
    must honour the scfsi sharing mode (1: part0==part1; 2: all equal;
    3: part1==part2) — violations raise ValueError. Allocation values
    index the selected Annex B table; codes for 3/5/9-level classes are
    written GROUPED (one 5/7/10-bit word per granule)."""
    sr_idx = {v: k for k, v in SAMPLE_RATES.items()}[sample_rate]
    br_idx = BITRATES_KBPS.index(bitrate_kbps)
    table = alloc_table(sample_rate, bitrate_kbps)
    sblimit = len(table)
    frame_bytes = 144 * bitrate_kbps * 1000 // sample_rate
    out = bytearray()
    for frame in frames:
        body = _BitWriter()
        for sb in range(sblimit):
            nbal = table[sb][0]
            body.write(frame.get(sb, (0,))[0], nbal)
        for sb in range(sblimit):
            if frame.get(sb, (0,))[0]:
                body.write(frame[sb][1], 2)
        # CRC span ends here: header bytes 2-3 + allocation + scfsi bits.
        crc_bits = body.nbits + len(body.buf) * 8
        for sb in range(sblimit):
            spec = frame.get(sb)
            if not spec or not spec[0]:
                continue
            _v, scfsi, scfs, _codes = spec
            if scfsi == 0:
                tx = [scfs[0], scfs[1], scfs[2]]
            elif scfsi == 1:
                if scfs[0] != scfs[1]:
                    raise ValueError("mp2: scfsi 1 needs part0 == part1")
                tx = [scfs[0], scfs[2]]
            elif scfsi == 2:
                if not (scfs[0] == scfs[1] == scfs[2]):
                    raise ValueError("mp2: scfsi 2 needs equal parts")
                tx = [scfs[0]]
            else:
                if scfs[1] != scfs[2]:
                    raise ValueError("mp2: scfsi 3 needs part1 == part2")
                tx = [scfs[0], scfs[1]]
            for s in tx:
                body.write(s, 6)
        # per-frame slot list (r14: hoisted out of the granule loop —
        # the old form paid 12 x sblimit dict probes per frame)
        slots = []
        for sb in range(sblimit):
            spec = frame.get(sb)
            if not spec or not spec[0]:
                continue
            L = table[sb][1][spec[0] - 1]
            grouped, bits = QUANT_CLASS[L]
            codes = [[int(spec[3][g][j]) for j in range(3)] for g in range(12)]
            for row in codes:
                for c in row:
                    if not 0 <= c < L:
                        raise ValueError("mp2: code out of range")
            slots.append((L, grouped, bits, codes))
        write = body.write
        for g in range(12):
            for L, grouped, bits, codes in slots:
                c0, c1, c2 = codes[g]
                if grouped:
                    write(c0 + L * c1 + L * L * c2, bits)
                else:
                    write(c0, bits)
                    write(c1, bits)
                    write(c2, bits)
        body.pad_to(frame_bytes - 4 - (2 if with_crc else 0))
        hdr = bytes(
            (
                0xFF,
                0b11111100 | (0b10 << 1) | (0 if with_crc else 1),
                (br_idx << 4) | (sr_idx << 2),
                0b11 << 6,  # mode: single_channel
            )
        )
        frame_out = bytearray(hdr)
        if with_crc:
            crc = crc16_mpeg_bits(hdr[2:4] + bytes(body.buf), 16 + crc_bits)
            frame_out += struct.pack(">H", crc)
        frame_out += body.buf
        if len(frame_out) != frame_bytes:
            raise ValueError("mp2: frame payload exceeds frame size")
        out += frame_out
    return bytes(out)


# ---------------------------------------------------------------------------
# Decoder
# ---------------------------------------------------------------------------


def decode_mp2(payload: bytes) -> dict:
    """Decode a mono MPEG-1 Layer II stream.

    Returns a dict with ``sample_rate``, ``bitrate_kbps``, ``n_frames``,
    ``pcm`` (float64, 1152 samples/frame from the real synthesis run)
    and the exact bitstream-domain integers the oracles hash:
    ``alloc_sum`` (sum of allocation field values), ``scf_sum`` (sum of
    the EXPANDED per-part scale-factor indices, 3 per allocated
    subband) and ``qsum`` (sum of the requantization numerators
    2c + 1 - L over every decoded code). Raises ``ValueError`` on
    malformed streams / CRC mismatch, ``NotImplementedError`` for
    non-Layer-II layers and stereo modes."""
    if len(payload) < 4 or payload[0] != 0xFF or (payload[1] & 0xE0) != 0xE0:
        raise ValueError("mp2: bad sync")
    pos = 0
    n_frames = 0
    alloc_sum = 0
    scf_sum = 0
    qsum = 0
    sample_rate = None
    bitrate_kbps = None
    blocks: list[np.ndarray] = []
    # zero-padded int64 byte view for the vectorized field gather
    buf32 = np.concatenate([
        np.frombuffer(payload, dtype=np.uint8).astype(np.int64),
        np.zeros(4, dtype=np.int64),
    ])
    nbits_total = len(payload) * 8
    while pos + 4 <= len(payload):
        if payload[pos] != 0xFF or (payload[pos + 1] & 0xE0) != 0xE0:
            raise ValueError("mp2: lost frame sync")
        b1, b2, b3 = payload[pos + 1], payload[pos + 2], payload[pos + 3]
        if not (b1 & 0x08):
            raise NotImplementedError("mp2: MPEG-2 LSF streams unsupported")
        layer = (b1 >> 1) & 0x3
        if layer != 0b10:
            raise NotImplementedError(
                "mp2: only Layer II decodes; Layer III (mp3) stays gated"
            )
        protection = b1 & 1  # 0 = CRC present
        br_idx = (b2 >> 4) & 0xF
        sr_idx = (b2 >> 2) & 0x3
        padding = (b2 >> 1) & 1
        mode = (b3 >> 6) & 0x3
        if mode != 0b11:
            raise NotImplementedError("mp2: only single_channel streams")
        if br_idx in (0, 15) or sr_idx == 3:
            raise ValueError("mp2: reserved bitrate/samplerate index")
        sample_rate = SAMPLE_RATES[sr_idx]
        bitrate_kbps = BITRATES_KBPS[br_idx]
        frame_bytes = 144 * bitrate_kbps * 1000 // sample_rate + padding
        if pos + frame_bytes > len(payload):
            raise ValueError("mp2: truncated frame")
        body_start = pos + 4 + (2 if protection == 0 else 0)
        rdr = _BitReader(payload, body_start)
        table = alloc_table(sample_rate, bitrate_kbps)
        sblimit = len(table)

        alloc = [rdr.read(table[sb][0]) for sb in range(sblimit)]
        scfsi = [rdr.read(2) if alloc[sb] else 0 for sb in range(sblimit)]
        if protection == 0:
            # CRC covers header bytes 2-3 + the alloc/scfsi bits.
            crc_bits = sum(table[sb][0] for sb in range(sblimit))
            crc_bits += 2 * sum(1 for sb in range(sblimit) if alloc[sb])
            expect = struct.unpack(">H", payload[pos + 4 : pos + 6])[0]
            got = crc16_mpeg_bits(
                payload[pos + 2 : pos + 4] + payload[body_start:],
                16 + crc_bits,
            )
            if got != expect:
                raise ValueError("mp2: frame CRC-16 mismatch")
        scf = [[0, 0, 0] for _ in range(sblimit)]
        for sb in range(sblimit):
            if not alloc[sb]:
                continue
            if scfsi[sb] == 0:
                scf[sb] = [rdr.read(6), rdr.read(6), rdr.read(6)]
            elif scfsi[sb] == 1:
                a, b = rdr.read(6), rdr.read(6)
                scf[sb] = [a, a, b]
            elif scfsi[sb] == 2:
                a = rdr.read(6)
                scf[sb] = [a, a, a]
            else:
                a, b = rdr.read(6), rdr.read(6)
                scf[sb] = [a, b, b]
            if any(s > 62 for s in scf[sb]):
                raise ValueError("mp2: scale factor index out of range")

        # Vectorized sample section (r14): after alloc/scfsi/scf the
        # field layout of all 12 granules is fixed, so every code is
        # gathered in one numpy pass and requantized per subband slot —
        # the old triple loop paid ~1000 scalar bit-reads per frame.
        slots = [
            (sb, table[sb][1][alloc[sb] - 1]) for sb in range(sblimit)
            if alloc[sb]
        ]
        S = np.zeros((36, 32))
        if slots:
            gw: list[int] = []      # field widths of ONE granule
            spans: list[tuple[int, int, bool, int]] = []  # sb, L, grouped, pos
            for sb, L in slots:
                grouped, bits = QUANT_CLASS[L]
                spans.append((sb, L, grouped, len(gw)))
                gw += [bits] if grouped else [bits] * 3
            widths = np.tile(np.array(gw, dtype=np.int64), 12)
            fields = _extract_fields(
                buf32, nbits_total, rdr.bit_pos(), widths
            ).reshape(12, len(gw))
            part = np.repeat(np.arange(3), 4)  # granule -> scf part
            for sb, L, grouped, p0 in spans:
                if grouped:
                    v = fields[:, p0]
                    if int(v.max()) >= L * L * L:
                        raise ValueError("mp2: grouped code out of range")
                    C = np.stack([v % L, (v // L) % L, (v // (L * L)) % L],
                                 axis=1)
                else:
                    C = fields[:, p0 : p0 + 3]
                num = 2 * C + 1 - L
                qsum += int(num.sum())
                sf = SCALE_FACTORS[np.asarray(scf[sb])][part]
                S[:, sb] = (sf[:, None] * num / L).reshape(36)

        alloc_sum += sum(alloc)
        scf_sum += sum(sum(scf[sb]) for sb in range(sblimit) if alloc[sb])
        blocks.append(S)
        n_frames += 1
        pos += frame_bytes
    if pos != len(payload):
        raise ValueError("mp2: trailing bytes after last frame")
    if not n_frames:
        raise ValueError("mp2: no frames")
    pcm = synthesize(np.concatenate(blocks, axis=0))
    return {
        "sample_rate": sample_rate,
        "bitrate_kbps": bitrate_kbps,
        "n_frames": n_frames,
        "alloc_sum": alloc_sum,
        "scf_sum": scf_sum,
        "qsum": qsum,
        "pcm": pcm,
    }
