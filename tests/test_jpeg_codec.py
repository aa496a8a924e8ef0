"""Unit tests for the stdlib baseline-JPEG codec (VERDICT r11 #7).

No Spark needed: the codec is plain numpy/struct. The exactness claims
the jpeg_decode oracle relies on are pinned here:
  * block-constant fixtures survive the lossy pipeline bit-for-bit;
  * the general encode→decode round trip equals the textbook
    DCT→quantize→dequantize→IDCT model exactly (this checks the
    Huffman/bitstream layers carry every coefficient faithfully);
  * unsupported subsets reject loudly instead of mis-decoding.
"""

from __future__ import annotations

import numpy as np
import pytest

from pubsub2bq_spark.functions.jpeg_codec import (
    _A,
    _BitReader,
    decode_jpeg,
    decode_jpeg_planes,
    encode_jpeg_420,
    encode_jpeg_gray,
    synth_jpeg420_from_bytes,
    synth_jpeg_from_bytes,
)


def _textbook(img: np.ndarray, quant: int) -> np.ndarray:
    """Reference model: pad → orthonormal DCT → round-to-quant →
    dequant → IDCT → shift → clip → crop, all in float64."""
    h, w = img.shape
    bw, bh = (w + 7) // 8, (h + 7) // 8
    pad = np.pad(
        img.astype(np.float64) - 128.0,
        ((0, bh * 8 - h), (0, bw * 8 - w)),
        mode="edge",
    )
    blocks = pad.reshape(bh, 8, bw, 8).transpose(0, 2, 1, 3)
    coef = ((_A @ blocks) @ _A.T)
    qc = np.rint(coef / quant) * quant
    spat = ((_A.T @ qc) @ _A)
    full = spat.transpose(0, 2, 1, 3).reshape(bh * 8, bw * 8) + 128.0
    return np.clip(np.rint(full), 0, 255).astype(np.uint8)[:h, :w]


class TestJpegCodec:
    def test_block_constant_fixture_is_exact(self):
        for payload_len in (0, 1, 63, 64, 1000, 4097):
            payload = b"x" * payload_len
            w = payload_len % 64 + 16
            h = (payload_len // 64) % 64 + 16
            gw, gh, ch, px = decode_jpeg(synth_jpeg_from_bytes(payload))
            assert (gw, gh, ch) == (w, h, 1)
            bx = np.arange(w) // 8
            by = np.arange(h) // 8
            want = ((11 * bx[None, :] + 7 * by[:, None]) % 256).astype(
                np.uint8
            )
            assert np.array_equal(px[:, :, 0], want)

    @pytest.mark.parametrize("seed,shape,quant", [
        (1, (8, 8), 8),
        (2, (16, 24), 16),
        (3, (37, 53), 16),   # non-multiple-of-8 dims (edge padding)
        (4, (100, 17), 32),  # tall/narrow, coarse quant
        (5, (9, 200), 4),    # fine quant → long AC runs + ZRL paths
    ])
    def test_roundtrip_equals_textbook_model(self, seed, shape, quant):
        rng = np.random.default_rng(seed)
        img = rng.integers(0, 256, size=shape, dtype=np.uint8)
        w, h, ch, dec = decode_jpeg(encode_jpeg_gray(img, quant=quant))
        assert (w, h, ch) == (shape[1], shape[0], 1)
        assert np.array_equal(dec[:, :, 0], _textbook(img, quant))

    def test_flat_image_compresses_and_decodes(self):
        img = np.full((64, 64), 200, dtype=np.uint8)
        data = encode_jpeg_gray(img, quant=8)
        _, _, _, dec = decode_jpeg(data)
        assert np.array_equal(dec[:, :, 0], img)
        assert len(data) < 1000  # EOB-only blocks stay tiny

    def test_rejects_gated_frames_and_truncated(self):
        # (every T.81 process decodes for real since r14 — only a
        # DIFFERENTIAL frame outside a DHP pyramid remains rejected)
        img = np.zeros((8, 8), dtype=np.uint8)
        data = bytearray(encode_jpeg_gray(img))
        sof = data.find(b"\xff\xc0")
        data[sof + 1] = 0xC5  # SOF0 → SOF5 (differential, no pyramid)
        with pytest.raises(NotImplementedError):
            decode_jpeg(bytes(data))
        with pytest.raises(ValueError):
            decode_jpeg(b"\x00\x01not a jpeg")

    def test_bitreader_pad_guard(self):
        # Bits served after a marker are pad 1s; pad_consumed must flip
        # exactly when a read dips into them (ADVICE r12: a truncated
        # scan whose remaining blocks decode from pad bits must error,
        # not emit garbage pixels).
        rdr = _BitReader(b"\xab\xff\xd9")
        assert rdr.read(8) == 0xAB and not rdr.pad_consumed
        assert rdr.read(4) == 0xF and rdr.pad_consumed

    def test_truncated_scan_rejects(self):
        # Early EOI mid-scan: the remaining MCUs must not silently
        # decode from pad bits.
        img = np.arange(48 * 48, dtype=np.uint8).reshape(48, 48)
        data = encode_jpeg_gray(img, quant=8)
        sos = data.find(b"\xff\xda")
        cut = sos + 10 + (len(data) - sos) // 3
        with pytest.raises(ValueError):
            decode_jpeg(data[:cut] + b"\xff\xd9")

    def test_mag_fields_oversize_dc_diff_raises_keyerror(self):
        # A DC diff of magnitude >= 2^16 has size >= 17, which no Huffman
        # table can hold: the vectorized path must raise the same KeyError
        # as the scalar `codes[size]` lookup, never an IndexError.
        from pubsub2bq_spark.functions.jpeg_codec import (
            _DC_BITS,
            _DC_VALS,
            _canonical_codes,
            _mag_fields,
        )

        codes = _canonical_codes(_DC_BITS, _DC_VALS)
        full = {s: (0, s + 1) for s in range(17)}  # every legal size
        for diff, table, size in (
            (1 << 16, codes, 17),
            (-(1 << 20), full, 21),
            (2048, codes, 12),  # legal size, absent from the baseline table
        ):
            with pytest.raises(KeyError) as ei:
                _mag_fields(np.array([0, 5, diff], dtype=np.int64), table)
            assert ei.value.args == (size,)

    def test_decode_image_dispatches_jpeg(self):
        from pubsub2bq_spark.functions.multimodal import (
            decode_image,
            resize_image,
        )

        jp = synth_jpeg_from_bytes(b"q" * 500)
        w, h, ch, px = decode_image(jp)
        assert (w, h, ch) == (500 % 64 + 16, (500 // 64) % 64 + 16, 1)
        out = resize_image(jp)
        ow, oh, _, _ = decode_image(out)
        long_side = max(w, h)
        assert (ow, oh) == (
            max(1, w * 224 // long_side),
            max(1, h * 224 // long_side),
        )


def _textbook_420(y: np.ndarray, cb: np.ndarray, cr: np.ndarray,
                  quant: int) -> list[np.ndarray]:
    """Reference model of the full 4:2:0 pipeline: MCU-pad → (chroma:
    even-pad + 2×2 mean) → DCT → round-to-quant → dequant → IDCT →
    shift/clip → crop → replication upsample."""
    h, w = y.shape
    mcux, mcuy = (w + 15) // 16, (h + 15) // 16

    def _cycle(plane, ph, pw):
        pad = np.pad(plane - 128.0,
                     ((0, ph - plane.shape[0]), (0, pw - plane.shape[1])),
                     mode="edge")
        bh, bw = ph // 8, pw // 8
        blocks = pad.reshape(bh, 8, bw, 8).transpose(0, 2, 1, 3)
        coef = ((_A @ blocks) @ _A.T)
        qc = np.rint(coef / quant) * quant
        spat = ((_A.T @ qc) @ _A)
        full = spat.transpose(0, 2, 1, 3).reshape(ph, pw) + 128.0
        return np.clip(np.rint(full), 0, 255).astype(np.uint8)

    out = [_cycle(y.astype(np.float64), mcuy * 16, mcux * 16)[:h, :w]]
    for plane in (cb, cr):
        pe = np.pad(plane.astype(np.float64),
                    ((0, h % 2), (0, w % 2)), mode="edge")
        sub = pe.reshape(pe.shape[0] // 2, 2, pe.shape[1] // 2, 2).mean(axis=(1, 3))
        dec = _cycle(sub, mcuy * 8, mcux * 8)[: -(-h // 2), : -(-w // 2)]
        out.append(dec[np.arange(h) // 2][:, np.arange(w) // 2])
    return out


class TestJpeg420:
    def test_macroblock_constant_fixture_is_exact(self):
        for n in (0, 1, 17, 63, 64, 1000, 4095, 4097):
            w, h = n % 64 + 16, (n // 64) % 64 + 16
            gw, gh, planes = decode_jpeg_planes(
                synth_jpeg420_from_bytes(b"q" * n)
            )
            assert (gw, gh) == (w, h) and len(planes) == 3
            bx, by = np.arange(w) // 8, np.arange(h) // 8
            mx, my = np.arange(w) // 16, np.arange(h) // 16
            want = [
                (11 * bx[None, :] + 7 * by[:, None]) % 256,
                (5 * mx[None, :] + 3 * my[:, None] + 64) % 256,
                (3 * mx[None, :] + 5 * my[:, None] + 192) % 256,
            ]
            for got, exp in zip(planes, want):
                assert np.array_equal(got, exp.astype(np.uint8))

    @pytest.mark.parametrize("seed,shape,quant", [
        (1, (16, 16), 8),
        (2, (32, 48), 16),
        (3, (37, 53), 16),   # odd dims: chroma even-pad + MCU edge pad
        (4, (100, 17), 32),
        (5, (9, 200), 4),
    ])
    def test_roundtrip_equals_textbook_model(self, seed, shape, quant):
        rng = np.random.default_rng(seed)
        y, cb, cr = (
            rng.integers(0, 256, size=shape, dtype=np.uint8)
            for _ in range(3)
        )
        w, h, planes = decode_jpeg_planes(encode_jpeg_420(y, cb, cr, quant=quant))
        assert (w, h) == (shape[1], shape[0])
        for got, exp in zip(planes, _textbook_420(y, cb, cr, quant)):
            assert np.array_equal(got, exp)

    def test_rgb_conversion_shape(self):
        jp = synth_jpeg420_from_bytes(b"z" * 777)
        w, h, ch, px = decode_jpeg(jp)
        assert ch == 3 and px.shape == (h, w, 3) and px.dtype == np.uint8
        # grayscale path unchanged
        _, _, gch, gpx = decode_jpeg(synth_jpeg_from_bytes(b"z" * 777))
        assert gch == 1 and gpx.shape[2] == 1

    def test_resize_transcodes_color_jpeg(self):
        from pubsub2bq_spark.functions.multimodal import (
            decode_image,
            resize_image,
        )

        jp = synth_jpeg420_from_bytes(b"r" * 500)
        w, h, ch, _ = decode_image(jp)
        assert ch == 3
        ow, oh, och, _ = decode_image(resize_image(jp))
        long_side = max(w, h)
        assert (ow, oh) == (
            max(1, w * 224 // long_side),
            max(1, h * 224 // long_side),
        )
        assert och == 3


class TestJpegProgressive:
    """Progressive (SOF2) decode: the four-scan successive-approximation
    pipeline must reconstruct EXACTLY the same coefficients as baseline
    (the textbook DCT model) — this pins the DC arithmetic point
    transform, AC magnitude point transform, EOB runs, ZRL-in-refinement
    and the correction-bit interleaving order all at once."""

    @pytest.mark.parametrize("seed,shape,quant", [
        (1, (8, 8), 8),
        (2, (16, 24), 16),
        (3, (37, 53), 16),
        (4, (100, 17), 32),
        (5, (9, 200), 4),    # fine quant → dense AC refinement traffic
        (6, (64, 64), 8),
    ])
    def test_roundtrip_equals_textbook_model(self, seed, shape, quant):
        from pubsub2bq_spark.functions.jpeg_codec import (
            encode_jpeg_progressive,
        )

        rng = np.random.default_rng(seed)
        img = rng.integers(0, 256, size=shape, dtype=np.uint8)
        w, h, ch, dec = decode_jpeg(encode_jpeg_progressive(img, quant=quant))
        assert (w, h, ch) == (shape[1], shape[0], 1)
        assert np.array_equal(dec[:, :, 0], _textbook(img, quant))

    def test_block_constant_fixture_is_exact(self):
        from pubsub2bq_spark.functions.jpeg_codec import (
            synth_jpeg_progressive_from_bytes,
        )

        for n in (0, 1, 63, 64, 1000, 4097):
            w, h = n % 64 + 16, (n // 64) % 64 + 16
            gw, gh, ch, px = decode_jpeg(
                synth_jpeg_progressive_from_bytes(b"p" * n)
            )
            assert (gw, gh, ch) == (w, h, 1)
            bx, by = np.arange(w) // 8, np.arange(h) // 8
            want = ((13 * bx[None, :] + 5 * by[:, None] + 3) % 256).astype(
                np.uint8
            )
            assert np.array_equal(px[:, :, 0], want)

    @pytest.mark.parametrize("seed,shape,quant", [
        (1, (16, 16), 8),
        (2, (32, 48), 16),
        (3, (37, 53), 16),   # odd dims: chroma pads + MCU padding blocks
        (4, (100, 17), 32),
        (5, (9, 200), 4),
    ])
    def test_color_420_roundtrip_equals_textbook_model(self, seed, shape, quant):
        """The libjpeg-default combination — 4:2:0 progressive with an
        INTERLEAVED DC scan and per-component AC scans — must
        reconstruct exactly the baseline 4:2:0 pipeline's pixels."""
        from pubsub2bq_spark.functions.jpeg_codec import (
            decode_jpeg_planes,
            encode_jpeg_progressive_420,
        )

        rng = np.random.default_rng(seed)
        y, cb, cr = (
            rng.integers(0, 256, size=shape, dtype=np.uint8)
            for _ in range(3)
        )
        w, h, planes = decode_jpeg_planes(
            encode_jpeg_progressive_420(y, cb, cr, quant=quant)
        )
        assert (w, h) == (shape[1], shape[0])
        for got, exp in zip(planes, _textbook_420(y, cb, cr, quant)):
            assert np.array_equal(got, exp)

    def test_differential_sof_still_rejects(self):
        # (SOF10 decodes for real since r14; the differential
        # arithmetic types outside a DHP pyramid remain rejected)
        from pubsub2bq_spark.functions.jpeg_codec import encode_jpeg_420

        y = np.zeros((16, 16), dtype=np.uint8)
        data = bytearray(encode_jpeg_420(y, y, y))
        sof = data.find(b"\xff\xc0")
        data[sof + 1] = 0xCE  # SOF14: differential arith sequential
        with pytest.raises(NotImplementedError):
            decode_jpeg(bytes(data))

    def test_color_fixture_is_exact(self):
        from pubsub2bq_spark.functions.jpeg_codec import (
            synth_jpeg_progressive_420_from_bytes,
        )

        for n in (0, 17, 64, 1000, 4095):
            w, h = n % 64 + 16, (n // 64) % 64 + 16
            gw, gh, planes = decode_jpeg_planes(
                synth_jpeg_progressive_420_from_bytes(b"c" * n)
            )
            assert (gw, gh) == (w, h) and len(planes) == 3
            bx, by = np.arange(w) // 8, np.arange(h) // 8
            mx, my = np.arange(w) // 16, np.arange(h) // 16
            want = [
                (9 * bx[None, :] + 5 * by[:, None] + 1) % 256,
                (7 * mx[None, :] + 3 * my[:, None] + 32) % 256,
                (5 * mx[None, :] + 7 * my[:, None] + 160) % 256,
            ]
            for got, exp in zip(planes, want):
                assert np.array_equal(got, exp.astype(np.uint8))

    @pytest.mark.parametrize("seed,shape,quant", [
        (11, (37, 53), 8),
        (12, (64, 64), 4),   # fine quant: coefficients span 3+ bit levels
        (13, (9, 200), 16),
    ])
    def test_libjpeg_style_band_split_script(self, seed, shape, quant):
        """A libjpeg-style progression — spectral band SPLITS plus
        TWO successive-approximation levels — must reconstruct exactly:
        pins multi-level AC refinement (Ah=2→1→0) and cross-band
        EOB-run state isolation, the paths real progressive files
        exercise that the default 4-scan script does not."""
        from pubsub2bq_spark.functions.jpeg_codec import (
            encode_jpeg_progressive,
        )

        script = [
            (0, 0, 0, 1),    # DC first, Al=1
            (1, 5, 0, 2),    # AC band 1-5 first, Al=2
            (6, 63, 0, 2),   # AC band 6-63 first, Al=2
            (0, 0, 1, 0),    # DC refine
            (1, 5, 2, 1),    # AC 1-5 refine to Al=1
            (6, 63, 2, 1),   # AC 6-63 refine to Al=1
            (1, 5, 1, 0),    # AC 1-5 refine to Al=0
            (6, 63, 1, 0),   # AC 6-63 refine to Al=0
        ]
        rng = np.random.default_rng(seed)
        img = rng.integers(0, 256, size=shape, dtype=np.uint8)
        w, h, ch, dec = decode_jpeg(
            encode_jpeg_progressive(img, quant=quant, script=script)
        )
        assert (w, h, ch) == (shape[1], shape[0], 1)
        assert np.array_equal(dec[:, :, 0], _textbook(img, quant))


from hypothesis import given, settings
from hypothesis import strategies as st


class TestJpegFuzz:
    """Property fuzz over dimensions and quant steps: EVERY
    encode→decode round trip must equal the textbook model exactly —
    including sub-block dims (w or h < 8/16, which the fixture rules
    never reach), odd dims, and exact block-multiple edges."""

    @settings(max_examples=40, deadline=None)
    @given(
        h=st.integers(1, 40), w=st.integers(1, 40),
        quant=st.sampled_from([4, 8, 16, 64]),
        seed=st.integers(0, 2**31),
        progressive=st.booleans(),
    )
    def test_gray_roundtrip(self, h, w, quant, seed, progressive):
        from pubsub2bq_spark.functions.jpeg_codec import (
            encode_jpeg_progressive,
        )

        rng = np.random.default_rng(seed)
        img = rng.integers(0, 256, size=(h, w), dtype=np.uint8)
        enc = encode_jpeg_progressive if progressive else encode_jpeg_gray
        gw, gh, ch, dec = decode_jpeg(enc(img, quant=quant))
        assert (gw, gh, ch) == (w, h, 1)
        assert np.array_equal(dec[:, :, 0], _textbook(img, quant))

    @settings(max_examples=25, deadline=None)
    @given(
        h=st.integers(1, 40), w=st.integers(1, 40),
        quant=st.sampled_from([4, 8, 16]),
        seed=st.integers(0, 2**31),
        progressive=st.booleans(),
    )
    def test_color_420_roundtrip(self, h, w, quant, seed, progressive):
        from pubsub2bq_spark.functions.jpeg_codec import (
            encode_jpeg_progressive_420,
        )

        rng = np.random.default_rng(seed)
        y, cb, cr = (
            rng.integers(0, 256, size=(h, w), dtype=np.uint8)
            for _ in range(3)
        )
        enc = encode_jpeg_progressive_420 if progressive else encode_jpeg_420
        gw, gh, planes = decode_jpeg_planes(enc(y, cb, cr, quant=quant))
        assert (gw, gh) == (w, h)
        for got, exp in zip(planes, _textbook_420(y, cb, cr, quant)):
            assert np.array_equal(got, exp)


class TestArithmeticJpeg:
    """SOF9 arithmetic entropy coding (r13, functions/jpeg_arith.py):
    the QM-coder core must round-trip arbitrary decision streams
    exactly and compress near entropy, and the full image paths must
    equal the SAME pinned textbook models as the Huffman twins — the
    entropy coder is lossless, so any divergence is a coder bug."""

    def test_qm_core_roundtrip_and_entropy(self):
        import math

        from pubsub2bq_spark.functions.jpeg_arith import (
            _QMDecoder,
            _QMEncoder,
            new_bins,
        )

        rng = np.random.default_rng(0)
        for _ in range(15):
            n = int(rng.integers(1, 5000))
            nctx = int(rng.integers(1, 8))
            p = rng.uniform(0.01, 0.99, size=nctx)
            ctxs = rng.integers(0, nctx, size=n)
            bits = (rng.random(n) < p[ctxs]).astype(int)
            enc = _QMEncoder()
            eb = new_bins(nctx)
            for c_, b_ in zip(ctxs, bits):
                enc.encode(eb, int(c_), int(b_))
            dec = _QMDecoder(enc.flush() + b"\xff\xd9")
            db = new_bins(nctx)
            assert [dec.decode(db, int(c_)) for c_ in ctxs] == list(bits)
            assert eb == db  # statistics adapt identically on both sides

        # adaptive estimation approaches the source entropy (a wrong
        # Qe/NMPS/NLPS table row would blow this bound immediately)
        bits = (rng.random(50_000) < 0.02).astype(int)
        enc = _QMEncoder()
        eb = new_bins(1)
        for b_ in bits:
            enc.encode(eb, 0, int(b_))
        coded = len(enc.flush()) * 8
        entropy = 50_000 * -(
            0.02 * math.log2(0.02) + 0.98 * math.log2(0.98)
        )
        assert coded < entropy * 1.08

    @pytest.mark.parametrize("seed,shape,quant", [
        (0, (16, 16), 8), (1, (24, 40), 8), (2, (17, 33), 8),
        (3, (8, 8), 16), (4, (50, 50), 8),
    ])
    def test_gray_roundtrip_equals_textbook_model(self, seed, shape, quant):
        from pubsub2bq_spark.functions.jpeg_arith import (
            decode_jpeg_arith_planes,
            encode_jpeg_arith_gray,
        )

        rng = np.random.default_rng(seed)
        img = rng.integers(0, 256, size=shape, dtype=np.uint8)
        w, h, planes = decode_jpeg_arith_planes(
            encode_jpeg_arith_gray(img, quant=quant)
        )
        assert (w, h) == (shape[1], shape[0])
        assert np.array_equal(planes[0], _textbook(img, quant))

    @pytest.mark.parametrize("seed,shape", [
        (5, (16, 16)), (6, (32, 48)), (7, (17, 33)), (8, (30, 18)),
    ])
    def test_color_420_roundtrip_equals_textbook_model(self, seed, shape):
        from pubsub2bq_spark.functions.jpeg_arith import (
            encode_jpeg_arith_420,
        )
        from pubsub2bq_spark.functions.jpeg_codec import decode_jpeg_planes

        rng = np.random.default_rng(seed)
        y = rng.integers(0, 256, size=shape, dtype=np.uint8)
        cb = rng.integers(0, 256, size=shape, dtype=np.uint8)
        cr = rng.integers(0, 256, size=shape, dtype=np.uint8)
        # decode through the general dispatch (SOF9 routing)
        w, h, planes = decode_jpeg_planes(encode_jpeg_arith_420(y, cb, cr))
        assert (w, h) == (shape[1], shape[0])
        for got, exp in zip(planes, _textbook_420(y, cb, cr, 8)):
            assert np.array_equal(got, exp)

    def test_fixture_is_exact_and_gate_narrowed(self):
        from pubsub2bq_spark.functions.jpeg_arith import (
            synth_jpeg_arith_from_bytes,
        )
        from pubsub2bq_spark.functions.jpeg_codec import decode_jpeg_planes

        for n in (0, 17, 321, 4095):
            w, h, planes = decode_jpeg_planes(
                synth_jpeg_arith_from_bytes(b"q" * n)
            )
            assert (w, h) == (n % 64 + 16, (n // 64) % 64 + 16)
            bx, by = np.arange(w) // 8, np.arange(h) // 8
            mx, my = np.arange(w) // 16, np.arange(h) // 16
            assert np.array_equal(
                planes[0], (7 * bx[None, :] + 11 * by[:, None] + 5) % 256
            )
            assert np.array_equal(
                planes[1], (3 * mx[None, :] + 7 * my[:, None] + 96) % 256
            )
            assert np.array_equal(
                planes[2], (7 * mx[None, :] + 5 * my[:, None] + 48) % 256
            )

        # SOF10 decodes for real since r14 — but a SOF9 stream merely
        # RELABELED as progressive is malformed (its sequential
        # Ss=0/Se=63 scan is not a valid progressive band) and must
        # fail loudly, never decode to garbage
        from pubsub2bq_spark.functions.jpeg_arith import (
            encode_jpeg_arith_gray,
        )

        data = bytearray(encode_jpeg_arith_gray(np.zeros((8, 8), np.uint8)))
        sof = data.find(b"\xff\xc9")
        data[sof + 1] = 0xCA
        with pytest.raises(ValueError):
            decode_jpeg(bytes(data))


class TestLosslessJpeg:
    """SOF3 lossless predictive JPEG (r13, T.81 Annex H): no DCT and
    no quantization, so every round trip must be EXACTLY the input —
    the strongest possible self-check for the predictor + Huffman
    machinery."""

    @pytest.mark.parametrize("sel", list(range(1, 8)))
    def test_exact_roundtrip_all_predictors(self, sel):
        from pubsub2bq_spark.functions.jpeg_codec import (
            decode_jpeg_lossless,
            encode_jpeg_lossless,
        )

        rng = np.random.default_rng(sel)
        for shape in ((8, 8), (17, 33), (1, 40), (40, 1), (64, 64)):
            px = rng.integers(0, 256, size=shape).astype(np.uint8)
            w, h, planes = decode_jpeg_lossless(
                encode_jpeg_lossless(px, predictor=sel)
            )
            assert (w, h) == (shape[1], shape[0])
            assert np.array_equal(planes[0], px)

    def test_dispatch_fixture_and_rejection(self):
        from pubsub2bq_spark.functions.jpeg_codec import (
            encode_jpeg_lossless,
            synth_jpeg_lossless_from_bytes,
        )

        # the general parser routes SOF3 to the lossless decoder
        for n in (0, 17, 321, 4095):
            w, h, planes = decode_jpeg_planes(
                synth_jpeg_lossless_from_bytes(b"q" * n)
            )
            assert (w, h) == (n % 64 + 16, (n // 64) % 64 + 16)
            bx, by = np.arange(w) // 8, np.arange(h) // 8
            assert np.array_equal(
                planes[0], (5 * bx[None, :] + 13 * by[:, None] + n) % 256
            )

        # out-of-range predictor selectors reject loudly
        data = bytearray(
            encode_jpeg_lossless(np.zeros((8, 8), np.uint8), predictor=4)
        )
        sos = data.find(b"\xff\xda")
        data[sos + 7] = 0  # Ss = 0: invalid for a lossless scan
        with pytest.raises(ValueError):
            decode_jpeg_planes(bytes(data))


def test_sof1_extended_sequential_decodes():
    """SOF1 (extended sequential Huffman) has the identical frame
    structure at 8-bit precision — it must decode exactly like SOF0."""
    rng = np.random.default_rng(5)
    img = rng.integers(0, 256, size=(24, 40), dtype=np.uint8)
    data = bytearray(encode_jpeg_gray(img))
    sof = data.find(b"\xff\xc0")
    data[sof + 1] = 0xC1
    _, _, _, dec0 = decode_jpeg(encode_jpeg_gray(img))
    _, _, _, dec1 = decode_jpeg(bytes(data))
    assert np.array_equal(dec0, dec1)


class TestHierarchicalJpeg:
    """T.81 Annex J hierarchical mode (r13): DHP/EXP multi-frame pyramid
    with an SOF0 reduced frame and an SOF5 differential frame."""

    def test_expand_1d_normative(self):
        """J.1.1.2: even outputs copy, odd outputs are (a+b+1)>>1, the
        final odd sample replicates the edge; odd target dims crop."""
        from pubsub2bq_spark.functions.jpeg_hier import expand_1d

        line = np.array([10, 20, 31], dtype=np.int64)
        assert expand_1d(line, 6).tolist() == [10, 15, 20, 26, 31, 31]
        assert expand_1d(line, 5).tolist() == [10, 15, 20, 26, 31]

    def test_fixture_exact_and_dispatch(self):
        """The synth fixture decodes bit-for-bit to the block-constant
        target THROUGH decode_jpeg_planes' DHP dispatch, for several
        payload lengths (odd and even dims)."""
        from pubsub2bq_spark.functions.jpeg_hier import (
            synth_jpeg_hier_from_bytes,
        )

        for n in (0, 7, 64, 555, 4096):
            w, h, planes = decode_jpeg_planes(
                synth_jpeg_hier_from_bytes(b"h" * n)
            )
            assert (w, h) == (n % 64 + 16, (n // 64) % 64 + 16)
            bx, by = np.arange(w) // 8, np.arange(h) // 8
            assert np.array_equal(
                planes[0], (17 * bx[None, :] + 3 * by[:, None] + 5) % 256
            )

    def test_roundtrip_matches_replayed_model(self):
        """encode_jpeg_hier → decode on random images equals the replayed
        textbook model (stage-1 quantize/IDCT, normative expansion,
        residual quantize/IDCT, clamped sum) exactly — pinning both the
        differential no-level-shift convention and the DC-prediction
        convention across the two sides."""
        from pubsub2bq_spark.functions.jpeg_hier import (
            _decode_frame_samples,
            _encode_frame_blocks,
            decode_jpeg_hier_planes,
            encode_jpeg_hier,
            expand_ref,
        )

        rng = np.random.default_rng(17)
        for _ in range(4):
            w, h = int(rng.integers(9, 70)), int(rng.integers(9, 70))
            px = rng.integers(0, 256, size=(h, w)).astype(np.uint8)
            _, _, planes = decode_jpeg_hier_planes(encode_jpeg_hier(px))
            w1, h1 = (w + 1) // 2, (h + 1) // 2
            padded = np.pad(
                px.astype(np.float64),
                ((0, 2 * h1 - h), (0, 2 * w1 - w)), mode="edge",
            )
            small = np.rint(
                padded.reshape(h1, 2, w1, 2).mean(axis=(1, 3))
            ).astype(np.int64)
            recon = np.clip(
                _decode_frame_samples(
                    _encode_frame_blocks(small - 128, 8), w1, h1, 8
                ) + 128, 0, 255,
            )
            ref = expand_ref(recon, w, h)
            resid = _decode_frame_samples(
                _encode_frame_blocks(px.astype(np.int64) - ref, 8), w, h, 8
            )
            assert np.array_equal(
                planes[0], np.clip(ref + resid, 0, 255).astype(np.uint8)
            )
            # the pyramid is a real approximation of the source
            assert np.abs(
                planes[0].astype(int) - px.astype(int)
            ).max() <= 16

    def test_loud_rejection(self):
        from pubsub2bq_spark.functions.jpeg_hier import (
            decode_jpeg_hier_planes,
            synth_jpeg_hier_from_bytes,
        )

        jp = synth_jpeg_hier_from_bytes(b"y" * 300)
        # container truncation mid-stream
        with pytest.raises(ValueError):
            decode_jpeg_hier_planes(jp[: len(jp) // 2] + b"\xff\xd9")
        # entropy truncation in the differential scan
        with pytest.raises(ValueError):
            decode_jpeg_hier_planes(jp[:-40] + b"\xff\xd9")
        # EXP factors beyond {0, 1}
        bad = bytearray(jp)
        bad[bad.find(b"\xff\xdf") + 4] = 0x22
        with pytest.raises(ValueError):
            decode_jpeg_hier_planes(bytes(bad))
        # a differential frame whose reference was never expanded
        bad = bytearray(jp)
        i = bad.find(b"\xff\xdf")
        del bad[i : i + 5]
        with pytest.raises(ValueError):
            decode_jpeg_hier_planes(bytes(bad))
        # stray SOF5 with no DHP stays rejected in the baseline walker
        raw = bytearray(encode_jpeg_gray(np.zeros((8, 8), np.uint8)))
        raw[raw.find(b"\xff\xc0") + 1] = 0xC5
        with pytest.raises(NotImplementedError):
            decode_jpeg_planes(bytes(raw))
