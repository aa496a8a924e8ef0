"""Focused tests for the r14 optimization-round internals.

Each optimization that changed an operator's internals gets a pinned
equivalence or regression test here: the LUT Huffman reader, the shared
lossless reconstruction, the QM trailing-FF flush stuffing, the
clipped-add parallel scan, the TIFF LZW vectorized parse, the LZW
int-key encoders, the QOI run-leader encoder, and the MP2 table CRC +
vectorized sample gather.
"""

from __future__ import annotations

import numpy as np
import pytest


class TestHuffLut:
    def test_lut_agrees_with_canonical_dict(self):
        from pubsub2bq_spark.functions.jpeg_codec import (
            _AC_BITS, _AC_VALS, _DC_BITS, _DC_VALS, _decode_table,
        )

        for bits, vals in ((_DC_BITS, _DC_VALS), (_AC_BITS, _AC_VALS)):
            tab = _decode_table(bits, vals)
            # every dict code maps every 16-bit extension to itself
            for (length, code), sym in tab.items():
                lo = code << (16 - length)
                for probe in (lo, lo + (1 << (16 - length)) - 1):
                    ent = tab.lut[probe]
                    assert ent == (length << 8) | sym
            # LUT zero entries are exactly the non-prefixes
            n_covered = sum(
                1 << (16 - length) for (length, _code) in tab
            )
            assert sum(1 for e in tab.lut if e) == n_covered

    def test_bitreader_reads_match_bit_semantics(self):
        from pubsub2bq_spark.functions.jpeg_codec import _BitReader

        # stuffed 0xFF00 is one data byte; marker starts 1-pad
        r = _BitReader(b"\xff\x00\xa5\xff\xd9")
        assert r.read(8) == 0xFF
        assert r.read(8) == 0xA5 and not r.pad_consumed
        assert r.read(3) == 0b111 and r.pad_consumed
        # no marker: overrun raises
        r2 = _BitReader(b"\x12")
        assert r2.read(4) == 1
        with pytest.raises(ValueError, match="truncated"):
            r2.read(8)


class TestLosslessReconstruct:
    def test_matches_scalar_recurrence_all_predictors(self):
        from pubsub2bq_spark.functions.jpeg_codec import (
            _lossless_predict, _lossless_reconstruct,
        )

        rng = np.random.default_rng(3)
        for sel in range(1, 8):
            h, w = int(rng.integers(1, 12)), int(rng.integers(1, 12))
            d = rng.integers(-300, 300, (h, w)).astype(np.int64)
            out = np.zeros((h, w), dtype=np.int64)
            for r in range(h):
                for j in range(w):
                    if r == 0 and j == 0:
                        p = 128
                    elif r == 0:
                        p = int(out[0, j - 1])
                    elif j == 0:
                        p = int(out[r - 1, 0])
                    else:
                        p = _lossless_predict(
                            int(out[r, j - 1]), int(out[r - 1, j]),
                            int(out[r - 1, j - 1]), sel,
                        )
                    out[r, j] = (p + int(d[r, j])) & 0xFFFF
            got = _lossless_reconstruct(d, sel)
            assert np.array_equal(got, out), sel


def _flush_of(seed: int, n: int) -> bytes:
    from pubsub2bq_spark.functions.jpeg_arith import _QMEncoder, new_bins

    rng = np.random.default_rng(seed)
    enc = _QMEncoder()
    bins = new_bins(1)
    for bit in rng.integers(0, 2, n).tolist():
        enc.encode(bins, 0, bit)
    return enc.flush()


class TestQmFlushStuffing:
    def test_trailing_ff_gets_stuffed_zero_byte(self):
        # Regression for the r14 latent bug: a QM segment whose final
        # flushed byte is 0xFF fused with the following marker's 0xFF
        # and multi-scan streams misparsed (found by the codec-fuzz
        # suite the moment the DCT refactor moved one rint boundary).
        from pubsub2bq_spark.functions.jpeg_arith import (
            _QMDecoder, _QMEncoder, new_bins,
        )

        # seeds found by sweep whose flushed stream ends in the stuffed
        # 0xFF 0x00 pair — i.e. exactly the case the old flush emitted
        # as a bare trailing 0xFF
        trailing_ff_cases = [(1077, 107), (9756, 56), (10814, 34),
                             (10836, 56), (11742, 62)]
        for seed, n in trailing_ff_cases + [(s, 300) for s in range(50)]:
            rng = np.random.default_rng(seed)
            seq = rng.integers(0, 2, n).tolist()
            enc = _QMEncoder()
            bins = new_bins(1)
            for bit in seq:
                enc.encode(bins, 0, bit)
            stream = enc.flush()
            assert not stream.endswith(b"\xff"), seed
            qm = _QMDecoder(stream + b"\xff\xd9")
            bins_d = new_bins(1)
            assert [qm.decode(bins_d, 0) for _ in seq] == seq, seed
        assert all(
            _flush_of(seed, n).endswith(b"\xff\x00")
            for seed, n in trailing_ff_cases
        )

    def test_arith_prog_roundtrip_seed168(self):
        # the exact falsifying example the fuzz suite produced
        from pubsub2bq_spark.functions.jpeg_arith_prog import (
            decode_jpeg_arith_progressive_planes,
            encode_jpeg_arith_progressive_gray,
        )
        from tests.test_jpeg_codec import _textbook

        rng = np.random.default_rng(168)
        px = rng.integers(0, 256, (25, 25), dtype=np.uint8)
        payload = encode_jpeg_arith_progressive_gray(px, 4)
        _w, _h, planes = decode_jpeg_arith_progressive_planes(payload)
        assert np.array_equal(planes[0], _textbook(px, 4))


class TestClippedAddScan:
    def test_matches_scalar_clip_chain(self):
        from pubsub2bq_spark.functions.wav_codec import _clipped_add_scan

        rng = np.random.default_rng(5)
        for _ in range(50):
            rows, n = int(rng.integers(1, 4)), int(rng.integers(1, 90))
            lo, hi = -40, 77
            d = rng.integers(-60, 60, (rows, n)).astype(np.int64)
            x0 = rng.integers(lo, hi + 1, rows).astype(np.int64)
            exp = np.empty((rows, n), dtype=np.int64)
            for r in range(rows):
                x = int(x0[r])
                for k in range(n):
                    x = min(hi, max(lo, x + int(d[r, k])))
                    exp[r, k] = x
            got = _clipped_add_scan(d, x0, lo, hi)
            assert np.array_equal(got, exp)

    def test_ima_decode_matches_textbook_recurrence(self):
        from pubsub2bq_spark.functions.wav_codec import (
            IMA_INDEX_TABLE, IMA_STEP_TABLE, _ima_decode_nibbles,
        )

        rng = np.random.default_rng(6)
        nib = rng.integers(0, 16, 504).astype(np.uint8)
        pred, index = -1200, 30
        exp = []
        p, idx = pred, index
        for v in nib.tolist():
            step = int(IMA_STEP_TABLE[idx])
            diff = step >> 3
            if v & 1:
                diff += step >> 2
            if v & 2:
                diff += step >> 1
            if v & 4:
                diff += step
            p = p - diff if v & 8 else p + diff
            p = max(-32768, min(32767, p))
            idx = max(0, min(88, idx + int(IMA_INDEX_TABLE[v & 7])))
            exp.append(p)
        assert np.array_equal(
            _ima_decode_nibbles(nib, pred, index),
            np.array(exp, dtype=np.int64),
        )


class TestTiffLzw:
    def test_error_split_matches_scalar_semantics(self):
        from pubsub2bq_spark.functions.tiff_codec import (
            _tiff_lzw_decode, _tiff_lzw_encode,
        )

        data = bytes(range(256)) * 3
        enc = _tiff_lzw_encode(data)
        assert _tiff_lzw_decode(enc, len(data)) == data
        # early EOI (complete stream, expecting MORE) → size mismatch
        with pytest.raises(ValueError, match="size mismatch"):
            _tiff_lzw_decode(enc, len(data) + 1)
        # bits exhausted before output complete → truncated
        with pytest.raises(ValueError, match="truncated"):
            _tiff_lzw_decode(enc[: len(enc) // 2], len(data))
        # missing EOI after full output is tolerated (scalar behavior)
        cut = _tiff_lzw_encode(b"ab")  # tiny: find a prefix that decodes
        assert _tiff_lzw_decode(cut, 2) == b"ab"

    def test_width_growth_and_clear_reset(self):
        from pubsub2bq_spark.functions.tiff_codec import (
            _tiff_lzw_decode, _tiff_lzw_encode,
        )

        # enough entropy to push the table through every width up to 12
        # bits and force a clear-reset mid-stream
        rng = np.random.default_rng(9)
        data = bytes(rng.integers(0, 256, 30000, dtype=np.uint8))
        assert _tiff_lzw_decode(_tiff_lzw_encode(data), len(data)) == data


class TestQoiRunLeaders:
    def test_long_runs_chunk_exactly(self):
        from pubsub2bq_spark.functions.qoi_codec import decode_qoi, encode_qoi

        # image starting EQUAL to the spec's initial pixel, then a
        # 200-pixel run (crosses the 62 cap three times)
        px = np.zeros((1, 300, 4), dtype=np.uint8)
        px[0, :, 3] = 255
        px[0, 250:, :3] = 9
        enc = encode_qoi(px)
        _w, _h, _c, out = decode_qoi(enc)
        assert np.array_equal(out, px)
        # 250 initial-prev pixels = 4×62 + 2 → four 62-runs + one 2-run
        assert enc.count(bytes([0xC0 | 61])) >= 4


class TestMp2Vectorized:
    def test_crc16_table_matches_bit_serial(self):
        from pubsub2bq_spark.functions.mp2_codec import crc16_mpeg_bits

        rng = np.random.default_rng(7)
        for _ in range(50):
            data = bytes(rng.integers(0, 256, int(rng.integers(1, 30)),
                                      dtype=np.uint8))
            nbits = int(rng.integers(0, len(data) * 8 + 1))
            crc = 0xFFFF
            for i in range(nbits):
                bit = (data[i >> 3] >> (7 - (i & 7))) & 1
                hi = (crc >> 15) & 1
                crc = (crc << 1) & 0xFFFF
                if hi ^ bit:
                    crc ^= 0x8005
            assert crc16_mpeg_bits(data, nbits) == crc

    def test_extract_fields_matches_bit_reader(self):
        from pubsub2bq_spark.functions.mp2_codec import (
            _BitReader, _extract_fields,
        )

        rng = np.random.default_rng(8)
        payload = bytes(rng.integers(0, 256, 64, dtype=np.uint8))
        widths = rng.integers(1, 17, 40).astype(np.int64)
        start = 13
        rdr = _BitReader(payload)
        rdr.read(start)
        exp = [rdr.read(int(w)) for w in widths]
        buf32 = np.concatenate([
            np.frombuffer(payload, dtype=np.uint8).astype(np.int64),
            np.zeros(4, dtype=np.int64),
        ])
        got = _extract_fields(buf32, len(payload) * 8, start, widths)
        assert got.tolist() == exp
