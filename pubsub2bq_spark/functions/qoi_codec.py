"""Pure-stdlib QOI codec (the "Quite OK Image" format, qoiformat.org).

QOI is a modern lossless image format with a one-page public spec and
no tables at all — eight byte-aligned ops over a running 64-entry
color hash array:

* ``QOI_OP_RGB`` (0xFE) / ``QOI_OP_RGBA`` (0xFF) — literal pixels;
* ``QOI_OP_INDEX`` (0b00xxxxxx) — replay hash slot x;
* ``QOI_OP_DIFF``  (0b01drdgdb) — per-channel −2..1 deltas;
* ``QOI_OP_LUMA``  (0b10dddddd + byte) — green-anchored deltas;
* ``QOI_OP_RUN``   (0b11xxxxxx) — repeat previous pixel 1..62 times;

hash = (3r + 5g + 7b + 11a) mod 64; stream ends with 7×0x00 + 0x01.
Lossless and fully algorithmic, so round trips are exact by
construction."""

from __future__ import annotations

import struct

import numpy as np

QOI_MAGIC = b"qoif"
_END = b"\x00" * 7 + b"\x01"


def encode_qoi(px: np.ndarray) -> bytes:
    """Encode (h, w, 3) RGB or (h, w, 4) RGBA uint8 pixels as QOI."""
    px = np.asarray(px, dtype=np.uint8)
    if px.ndim != 3 or px.shape[2] not in (3, 4):
        raise ValueError("qoi: expected (h, w, 3|4) pixels")
    h, w, ch = px.shape
    out = bytearray()
    out += QOI_MAGIC + struct.pack(">IIBB", w, h, ch, 0)  # sRGB colorspace 0
    index = [(0, 0, 0, 0)] * 64
    prev = (0, 0, 0, 255)
    flat = px.reshape(-1, ch)
    n = flat.shape[0]
    if ch == 3:
        flat4 = np.concatenate(
            [flat, np.full((n, 1), 255, dtype=np.uint8)], axis=1
        )
    else:
        flat4 = flat
    # Run detection vectorized (r14): only the LEADER of each run of
    # equal pixels needs the per-pixel opcode logic and the hash-table
    # update (the RUN branch never touches the table); the repeats
    # compress to ⌊(c-1)/62⌋ full runs + a remainder, the exact opcode
    # sequence the scalar loop emitted.
    if n:
        same = (flat4[1:] == flat4[:-1]).all(axis=1)
        leads = np.concatenate(
            [[0], np.flatnonzero(~same) + 1]
        )
        counts = np.diff(np.append(leads, n)).tolist()
        leaders = [tuple(p) for p in flat4[leads].tolist()]
    else:
        counts, leaders = [], []
    for cur, c in zip(leaders, counts):
        if cur == prev:
            # a leader can equal prev only at image start (prev is the
            # spec's initial pixel, never a run member here)
            run = c
        else:
            k = (cur[0] * 3 + cur[1] * 5 + cur[2] * 7 + cur[3] * 11) % 64
            if index[k] == cur:
                out.append(k)
            elif cur[3] == prev[3]:
                dr = (cur[0] - prev[0] + 256) % 256
                dg = (cur[1] - prev[1] + 256) % 256
                db = (cur[2] - prev[2] + 256) % 256
                # wrap to signed
                dr = dr - 256 if dr > 127 else dr
                dg = dg - 256 if dg > 127 else dg
                db = db - 256 if db > 127 else db
                if -2 <= dr <= 1 and -2 <= dg <= 1 and -2 <= db <= 1:
                    out.append(
                        0x40 | ((dr + 2) << 4) | ((dg + 2) << 2) | (db + 2)
                    )
                elif (-32 <= dg <= 31 and -8 <= dr - dg <= 7
                      and -8 <= db - dg <= 7):
                    out.append(0x80 | (dg + 32))
                    out.append(((dr - dg + 8) << 4) | (db - dg + 8))
                else:
                    out.append(0xFE)
                    out += bytes(cur[:3])
            else:
                out.append(0xFF)
                out += bytes(cur)
            index[k] = cur
            prev = cur
            run = c - 1
        while run >= 62:
            out.append(0xC0 | 61)
            run -= 62
        if run:
            out.append(0xC0 | (run - 1))
    out += _END
    return bytes(out)


def decode_qoi(payload: bytes) -> tuple[int, int, int, np.ndarray]:
    """Decode QOI bytes → ``(width, height, channels, px[h, w, ch])``.
    Raises ``ValueError`` on bad magic, truncation, or a missing/
    misplaced end marker (pixels must account exactly for w×h)."""
    if payload[:4] != QOI_MAGIC:
        raise ValueError("qoi: bad magic")
    w, h, ch, _cs = struct.unpack(">IIBB", payload[4:14])
    if ch not in (3, 4):
        raise ValueError("qoi: bad channel count")
    n = w * h
    index = [(0, 0, 0, 0)] * 64
    r, g, b, a = 0, 0, 0, 255
    pos = 14
    i = 0
    data = payload
    end = len(data) - 8
    # One flat int list of RGBA per emitted op (runs collapsed to their
    # length) materialized in a single pass at the end — the per-op
    # numpy scalar/broadcast writes were the decoder's dominant cost
    # (r15).
    flat: list[int] = []
    reps: list[int] = []
    while i < n:
        if pos >= end:
            raise ValueError("qoi: truncated stream")
        op = data[pos]
        pos += 1
        if op == 0xFE:
            r, g, b = data[pos], data[pos + 1], data[pos + 2]
            pos += 3
        elif op == 0xFF:
            r, g, b, a = data[pos], data[pos + 1], data[pos + 2], data[pos + 3]
            pos += 4
        elif op >> 6 == 0b00:
            r, g, b, a = index[op]
        elif op >> 6 == 0b01:
            r = (r + ((op >> 4) & 3) - 2) % 256
            g = (g + ((op >> 2) & 3) - 2) % 256
            b = (b + (op & 3) - 2) % 256
        elif op >> 6 == 0b10:
            dg = (op & 0x3F) - 32
            nxt = data[pos]
            pos += 1
            r = (r + dg + ((nxt >> 4) & 0xF) - 8) % 256
            g = (g + dg) % 256
            b = (b + dg + (nxt & 0xF) - 8) % 256
        else:  # RUN
            run = (op & 0x3F) + 1
            if i + run > n:
                raise ValueError("qoi: run past image end")
            flat += (r, g, b, a)
            reps.append(run)
            i += run
            continue
        index[(r * 3 + g * 5 + b * 7 + a * 11) % 64] = (r, g, b, a)
        flat += (r, g, b, a)
        reps.append(1)
        i += 1
    if data[pos : pos + 8] != _END:
        raise ValueError("qoi: missing end marker")
    arr = np.frombuffer(bytes(flat), dtype=np.uint8).reshape(-1, 4)
    out = np.repeat(arr, reps, axis=0)
    return w, h, ch, out[:, :ch].reshape(h, w, ch).copy()
