"""Pure-stdlib GIF (87a/89a) codec for the multimodal image/video verbs.

GIF is fully algorithmic — variable-width LZW over palette indices,
no empirical tables — so an exact stdlib implementation is possible
and every claim is verifiable by round trip (the format is lossless):

* :func:`encode_gif` — GIF89a writer: logical screen descriptor with a
  global color table, per-frame Graphic Control Extensions, and each
  frame's indices LZW-compressed into an Image Descriptor. Animated
  streams use disposal method 1 (do not dispose) and encode only the
  DIRTY RECTANGLE that changed against the previous canvas — the
  standard GIF optimization, and genuine inter-frame coding: the
  decoder composites each sub-rectangle over its persistent canvas.
* :func:`decode_gif` — block-structured parser (header, LSD, GCE,
  image descriptors, trailer), LZW decompression with variable code
  width, CLEAR/EOI handling and 12-bit table growth, optional
  interlace reordering, and canvas compositing per frame.

The reference pipeline ships PNG screenshots only
(j-f-oleary-bigdata/pubsub2bq images/*.png); GIF belongs to the
engine's north-star multimodal surface.
"""

from __future__ import annotations

import struct

import numpy as np

GIF_SIG = b"GIF89a"


def _lzw_encode(indices: np.ndarray, min_code_size: int) -> bytes:
    """GIF variable-width LZW: code width starts at min_code_size+1,
    grows after the table fills a width, CLEAR resets at 4096.

    The string table is keyed ``(prefix_code << 8) | next_byte`` (r14).
    r15: run-heavy inputs (the synth frames are constant rects) take a
    RUN-CHAIN fast path — a run of byte v parses greedily as phrases
    v^1, v^2, …, so with the pure chain [code(v²), code(v³), …] cached
    per byte the parse of an m-byte run costs O(#phrases) ≈ O(√m) dict
    ops instead of m probes. Chains mirror the table exactly (a generic
    miss that extends a pure chain appends to it; CLEAR drops both), so
    the guaranteed-miss jump is sound and the emitted codes are
    byte-identical to the plain per-pixel walk — which inputs with
    short runs (< 4 bytes average) still use."""
    clear = 1 << min_code_size
    eoi = clear + 1
    table: dict[int, int] = {}
    next_code = eoi + 1
    width = min_code_size + 1

    out = bytearray()
    acc = 0
    nbits = 0

    def emit(code: int, w: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits  # GIF packs LSB-first
        nbits += w
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    emit(clear, width)
    flat = np.ascontiguousarray(indices.reshape(-1))
    npx = flat.size
    ne = flat[1:] != flat[:-1] if npx else None
    nruns = 1 + int(np.count_nonzero(ne)) if npx else 0
    get = table.get
    prefix = -1  # -1 = empty prefix
    if npx and npx >= 4 * nruns:
        chains: dict[int, list[int]] = {}
        if nruns == 1:
            run_vals = [int(flat[0])]
            run_lens = [npx]
        else:
            starts = np.flatnonzero(ne) + 1
            run_vals = [int(flat[0])] + flat[starts].tolist()
            run_lens = np.diff(starts, prepend=0, append=npx).tolist()
        for v, cnt in zip(run_vals, run_lens):
            if prefix < 0:
                prefix = v
                cnt -= 1
                j = 1
            else:
                # mixed-prefix walk: probe until a miss or the run ends
                j = 0
                while cnt:
                    key = (prefix << 8) | v
                    nxt = get(key)
                    if nxt is not None:
                        prefix = nxt
                        cnt -= 1
                        continue
                    emit(prefix, width)
                    table[key] = next_code
                    ch = chains.get(v)
                    if prefix == v:
                        chains[v] = [next_code]
                    elif ch and prefix == ch[-1]:
                        ch.append(next_code)
                    next_code += 1
                    if next_code == (1 << width) + 1:
                        if width < 12:
                            width += 1
                        else:
                            emit(clear, width)
                            table = {}
                            get = table.get
                            chains = {}
                            next_code = eoi + 1
                            width = min_code_size + 1
                    prefix = v
                    cnt -= 1
                    j = 1
                    break
            if not cnt or not j:
                continue
            # pure phrase: prefix is the code of v^j — jump the chain
            ch = chains.get(v)
            if ch is None:
                ch = chains[v] = []
            while cnt:
                known = 1 + len(ch)  # longest v^k in the table
                if j < known:
                    take = known - j
                    if take > cnt:
                        take = cnt
                    j += take
                    cnt -= take
                    continue
                code_vj = v if j == 1 else ch[j - 2]
                emit(code_vj, width)
                table[(code_vj << 8) | v] = next_code
                ch.append(next_code)
                next_code += 1
                if next_code == (1 << width) + 1:
                    if width < 12:
                        width += 1
                    else:
                        emit(clear, width)
                        table = {}
                        get = table.get
                        chains = {}
                        next_code = eoi + 1
                        width = min_code_size + 1
                        ch = chains.setdefault(v, [])
                j = 1
                cnt -= 1
            prefix = v if j == 1 else ch[j - 2]
    else:
        for v in flat.tolist():
            if prefix < 0:
                prefix = v
                continue
            key = (prefix << 8) | v
            nxt = get(key)
            if nxt is not None:
                prefix = nxt
                continue
            emit(prefix, width)
            table[key] = next_code
            next_code += 1
            if next_code == (1 << width) + 1:
                if width < 12:
                    width += 1
                else:
                    emit(clear, width)
                    table = {}
                    get = table.get
                    next_code = eoi + 1
                    width = min_code_size + 1
            prefix = v
    if prefix >= 0:
        emit(prefix, width)
    emit(eoi, width)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


# Below this many stream bytes the scalar parse wins: the numpy chunked
# extraction pays ~10 array dispatches per width batch, which dwarfs a
# tight shift-accumulator loop on the few-hundred-byte streams the synth
# frames produce (r15 measurement: crossover ≈ 1 KiB).
_PARSE_SCALAR_MAX = 1024


def _lzw_parse_codes(data: bytes, min_code_size: int):
    """Code segments of the packed bitstream — scalar for small streams,
    numpy-chunked above _PARSE_SCALAR_MAX. Segments are plain int lists
    (scalar) or int64 ndarrays (numpy); the replay accepts both."""
    if len(data) < _PARSE_SCALAR_MAX:
        return _lzw_parse_codes_scalar(data, min_code_size)
    return _lzw_parse_codes_np(data, min_code_size)


def _lzw_parse_codes_scalar(data: bytes, min_code_size: int) -> list[list[int]]:
    """Scalar twin of :func:`_lzw_parse_codes_np`: same width schedule,
    same clear/EOI segmentation, same truncation error."""
    clear = 1 << min_code_size
    eoi = clear + 1
    segments: list[list[int]] = []
    cur: list[int] = []
    width = min_code_size + 1
    tsize = clear + 2
    grown = False
    acc = 0
    nbits = 0
    pos = 0
    n = len(data)
    while True:
        if width < 12:
            room = (1 << width) - tsize
            c_max = room if grown else room + 1
            if c_max == 0:
                width += 1  # scalar semantics: bump after table hits 2^w
                continue
        while nbits < width:
            if pos >= n:
                raise ValueError("gif: truncated LZW stream")
            acc |= data[pos] << nbits  # LSB-first packing
            nbits += 8
            pos += 1
        code = acc & ((1 << width) - 1)
        acc >>= width
        nbits -= width
        if code == eoi:
            break
        if code == clear:
            if cur:
                segments.append(cur)
                cur = []
            width = min_code_size + 1
            tsize = clear + 2
            grown = False
            continue
        cur.append(code)
        if grown:
            tsize += 1
        grown = True
    if cur:
        segments.append(cur)
    return segments


def _lzw_parse_codes_np(data: bytes, min_code_size: int) -> list[np.ndarray]:
    """Extract the LZW code sequence from the packed bitstream,
    vectorized in chunks (r14).

    Between clear codes the width schedule is deterministic — the table
    grows by one per code after the first, bumping the width at each
    power of two — so codes are gathered in numpy batches sized to the
    next width bump, with clear/EOI found by vectorized compare. Returns
    one code array per clear-delimited segment (each replayed against a
    fresh table by :func:`_lzw_decode`). Raises ``ValueError`` if the
    stream ends before EOI."""
    clear = 1 << min_code_size
    eoi = clear + 1
    bits = np.unpackbits(np.frombuffer(data, dtype=np.uint8), bitorder="little")
    nbits = bits.size

    segments: list[np.ndarray] = []
    cur: list[np.ndarray] = []
    width = min_code_size + 1
    tsize = clear + 2
    grown = False  # True once the NEXT code read will append an entry
    pos = 0
    while True:
        if width < 12:
            room = (1 << width) - tsize
            c_max = room if grown else room + 1
            if c_max == 0:
                width += 1  # scalar semantics: bump after table hits 2^w
                continue
        else:
            c_max = 1 << 30
        # Cap each batch: a clear code cuts the batch at k and the rest
        # is re-extracted, so an unbounded width-12 batch over the whole
        # remaining stream would go quadratic on clear-heavy streams.
        c = min(c_max, 4096, (nbits - pos) // width)
        if c <= 0:
            raise ValueError("gif: truncated LZW stream")
        offs = pos + np.arange(c, dtype=np.int64) * width
        vals = np.zeros(c, dtype=np.int64)
        for j in range(width):
            vals |= bits[offs + j].astype(np.int64) << j
        special = (vals == clear) | (vals == eoi)
        k = int(np.argmax(special)) if special.any() else c
        if k:
            cur.append(vals[:k])
            tsize += k if grown else k - 1
            grown = True
            pos += width * k
            continue
        code = int(vals[0])
        pos += width
        if code == eoi:
            break
        # clear: flush the segment, reset table state
        if cur:
            segments.append(np.concatenate(cur))
            cur = []
        width = min_code_size + 1
        tsize = clear + 2
        grown = False
    if cur:
        segments.append(np.concatenate(cur))
    return segments


def _lzw_decode(data: bytes, min_code_size: int, n_expected: int) -> np.ndarray:
    """Inverse of :func:`_lzw_encode` (also accepts streams from other
    conforming encoders: deferred clears, early EOI).

    r14 rewrite: code extraction is vectorized in
    :func:`_lzw_parse_codes`; the table replay exploits that every LZW
    table entry (prev + first char of current) is a CONTIGUOUS span of
    the already-decoded output — prev's emission is immediately followed
    by the current emission's first byte — so the table is two int
    lists of (start, len) and each code's emission is one numpy span
    copy, with no per-code bytes allocation. The KwKwK self-reference
    copies prev then its first byte explicitly, keeping exactness."""
    clear = 1 << min_code_size
    # bytearray, not ndarray: the replay loop's span copies are mostly a
    # few bytes, where bytearray slice assignment (plain memcpy) is ~10x
    # cheaper than numpy fancy slicing.
    out = bytearray(n_expected)
    n = 0
    for seg in _lzw_parse_codes(data, min_code_size):
        # table entry i (i >= clear+2): output span [tb_start[i], +tb_len[i])
        tb_start = [0] * (clear + 2)
        tb_len = [0] * (clear + 2)
        tsize = clear + 2
        prev_start = -1
        prev_len = 0
        for code in (seg if type(seg) is list else seg.tolist()):
            if code < clear:  # root: one literal byte
                if n >= n_expected:
                    raise ValueError("gif: LZW output exceeds frame size")
                out[n] = code
                cur_start, cur_len = n, 1
                n += 1
            elif code < tsize:
                if code < clear + 2:  # the clear/EOI placeholder slots
                    raise ValueError("gif: LZW code out of range")
                s = tb_start[code]
                ln = tb_len[code]
                if n + ln > n_expected:
                    raise ValueError("gif: LZW output exceeds frame size")
                out[n : n + ln] = out[s : s + ln]
                cur_start, cur_len = n, ln
                n += ln
            elif code == tsize and prev_start >= 0:  # KwKwK
                ln = prev_len + 1
                if n + ln > n_expected:
                    raise ValueError("gif: LZW output exceeds frame size")
                out[n : n + prev_len] = out[prev_start : prev_start + prev_len]
                out[n + prev_len] = out[prev_start]
                cur_start, cur_len = n, ln
                n += ln
            else:
                raise ValueError(
                    "gif: first LZW code out of range"
                    if prev_start < 0
                    else "gif: LZW code out of range"
                )
            if prev_start >= 0 and tsize < 4096:
                # New entry = prev + cur[0] = the contiguous output span
                # starting at prev's emission, one byte longer. (Entries
                # past 4095 can never be referenced at width 12 — the
                # scalar decoder kept appending them unreachably.)
                tb_start.append(prev_start)
                tb_len.append(prev_len + 1)
                tsize += 1
            prev_start, prev_len = cur_start, cur_len
    if n != n_expected:
        raise ValueError("gif: LZW output short of frame size")
    return np.frombuffer(bytes(out), dtype=np.uint8)


def _sub_blocks(data: bytes) -> bytes:
    """Wrap raw bytes in GIF's 255-byte sub-block framing."""
    out = bytearray()
    for i in range(0, len(data), 255):
        chunk = data[i : i + 255]
        out.append(len(chunk))
        out += chunk
    out.append(0)
    return bytes(out)


_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


def _interlace_order(h: int) -> np.ndarray:
    """Row output order of the GIF 4-pass interlace."""
    return np.concatenate(
        [np.arange(start, h, step) for start, step in _INTERLACE_PASSES]
    ).astype(np.int64)


def encode_gif(frames: list[np.ndarray], interlace: bool = False) -> bytes:
    """Encode 8-bit grayscale frames as GIF89a with a 256-entry
    grayscale global color table (palette index == gray value, so
    oracles can sum indices). Frame 0 covers the full screen; each
    later frame encodes only the DIRTY RECTANGLE that changed against
    the previous canvas under disposal method 1 (do not dispose) —
    unchanged pixels are never re-coded, the decoder keeps them on its
    canvas."""
    if not frames:
        raise ValueError("encode_gif needs at least one frame")
    h, w = frames[0].shape
    if any(f.shape != (h, w) for f in frames):
        raise ValueError("all frames must share one (h, w)")
    out = bytearray()
    out += GIF_SIG
    out += struct.pack("<HHBBB", w, h, 0xF7, 0, 0)  # GCT: 256 entries
    for i in range(256):
        out += bytes((i, i, i))
    prev: np.ndarray | None = None
    for f in frames:
        f = np.ascontiguousarray(f, dtype=np.uint8)
        if prev is None:
            x0 = y0 = 0
            rect = f
        else:
            diff = f != prev
            if not diff.any():
                x0 = y0 = 0
                rect = f[:1, :1]  # 1×1 no-op rect (frame must exist)
            else:
                rs = np.flatnonzero(diff.any(axis=1))
                cs = np.flatnonzero(diff.any(axis=0))
                y0, y1 = int(rs[0]), int(rs[-1]) + 1
                x0, x1 = int(cs[0]), int(cs[-1]) + 1
                rect = f[y0:y1, x0:x1]
        # Graphic Control Extension: disposal 1 (do not dispose)
        out += b"\x21\xf9\x04" + bytes((1 << 2,)) + struct.pack("<H", 4) + b"\x00\x00"
        rh, rw = rect.shape
        flags = 0x40 if interlace else 0
        out += b"\x2c" + struct.pack("<HHHHB", x0, y0, rw, rh, flags)
        body = rect[_interlace_order(rh)] if interlace else rect
        out += bytes((8,))  # LZW minimum code size
        out += _sub_blocks(_lzw_encode(body, 8))
        prev = f
    out += b"\x3b"  # trailer
    return bytes(out)


def decode_gif(data: bytes) -> tuple[int, int, list[np.ndarray]]:
    """Decode GIF bytes → ``(width, height, frames)``, each frame the
    full (h, w) canvas of palette indices after compositing that
    image's (possibly sub-rectangle, possibly interlaced) data per its
    disposal method. Supports disposal 0/1 (keep) and 2 (restore to
    background). Raises ``ValueError`` on malformed streams — including
    truncated payloads, whose bare index/struct reads inside the block
    walk are normalized here."""
    try:
        return _decode_gif(data)
    except (IndexError, struct.error) as ex:
        raise ValueError(f"gif: truncated or malformed stream ({ex!r})") from ex


def _decode_gif(data: bytes) -> tuple[int, int, list[np.ndarray]]:
    if data[:4] != b"GIF8" or data[4:6] not in (b"7a", b"9a"):
        raise ValueError("gif: bad signature")
    w, h, flags, bg, _ar = struct.unpack("<HHBBB", data[6:13])
    pos = 13
    if flags & 0x80:  # global color table
        pos += 3 * (2 << (flags & 0x07))
    canvas = np.zeros((h, w), dtype=np.uint8)
    frames: list[np.ndarray] = []
    disposal = 0
    while pos < len(data):
        block = data[pos]
        pos += 1
        if block == 0x3B:  # trailer
            break
        if block == 0x21:  # extension
            label = data[pos]
            pos += 1
            if label == 0xF9 and data[pos] >= 4:  # GCE
                disposal = (data[pos + 1] >> 2) & 0x07
            while data[pos]:  # skip sub-blocks
                pos += 1 + data[pos]
            pos += 1
        elif block == 0x2C:  # image descriptor
            x0, y0, rw, rh, iflags = struct.unpack("<HHHHB", data[pos : pos + 9])
            pos += 9
            if x0 + rw > w or y0 + rh > h:
                raise ValueError("gif: image rect outside logical screen")
            if iflags & 0x80:  # local color table
                pos += 3 * (2 << (iflags & 0x07))
            mcs = data[pos]
            pos += 1
            lzw = bytearray()
            while data[pos]:
                n = data[pos]
                lzw += data[pos + 1 : pos + 1 + n]
                pos += 1 + n
            pos += 1
            rect = _lzw_decode(bytes(lzw), mcs, rw * rh).reshape(rh, rw)
            if iflags & 0x40:  # interlaced: undo the 4-pass order
                de = np.empty_like(rect)
                de[_interlace_order(rh)] = rect
                rect = de
            canvas[y0 : y0 + rh, x0 : x0 + rw] = rect
            frames.append(canvas.copy())
            if disposal == 2:  # restore rect to background color
                canvas[y0 : y0 + rh, x0 : x0 + rw] = bg
            disposal = 0
        else:
            raise ValueError(f"gif: unknown block 0x{block:02x}")
    if not frames:
        raise ValueError("gif: no image data")
    return w, h, frames
