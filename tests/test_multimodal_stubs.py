"""Multimodal codec contracts.

PNG and WAV/PCM16 now decode for real with stdlib-only codecs
(functions/png_codec.py, functions/wav_codec.py); the
NotImplementedError gate remains only for formats with no in-container
library (JPEG, mp3, …). These tests pin both halves: the real paths
decode end-to-end (including foreign-filtered PNGs the engine's own
encoder never emits), and the gate still fires loudly for the rest.
"""

from __future__ import annotations

import ast
import inspect
import struct
import zlib

import numpy as np
import pandas as pd
import pytest

from pubsub2bq_spark.functions import multimodal as mm
from pubsub2bq_spark.functions.png_codec import (
    PNG_SIG,
    _chunk,
    decode_png,
    encode_png,
    resize_nearest,
)
from pubsub2bq_spark.functions.wav_codec import decode_wav_s16, encode_wav_s16


def test_unsupported_codecs_still_raise():
    # Every JPEG entropy mode decodes for real since r13 (baseline,
    # progressive AND arithmetic — functions/jpeg_codec.py +
    # jpeg_arith.py); the gate now covers lossless/differential JPEG,
    # mp3 and other codecs the container genuinely cannot decode. A
    # malformed JFIF payload fails LOUDLY in the parser (ValueError),
    # never silently.
    if mm._HAS_PIL:  # pragma: no cover - container has no PIL
        pytest.skip("PIL present; gate not applicable to images")
    with pytest.raises(ValueError):
        mm.decode_image(b"\xff\xd8\xff\xe0JFIF....")  # truncated JPEG
    from pubsub2bq_spark.functions.jpeg_codec import encode_jpeg_gray

    gated = bytearray(encode_jpeg_gray(np.zeros((8, 8), np.uint8)))
    sof = gated.find(b"\xff\xc0")
    gated[sof + 1] = 0xCE  # SOF0 → SOF14 (differential arithmetic)
    with pytest.raises(NotImplementedError):
        mm.decode_image(bytes(gated))
    with pytest.raises(NotImplementedError):
        mm.extract_audio_features(b"ID3\x04....")  # mp3 tag magic


def test_png_roundtrip_all_color_types():
    rng = np.random.default_rng(7)
    for shape in [(25, 79), (33, 17, 3), (9, 9, 4)]:
        px = rng.integers(0, 256, size=shape, dtype=np.uint8)
        w, h, ch, out = decode_png(encode_png(px))
        assert (h, w) == shape[:2]
        assert ch == (1 if len(shape) == 2 else shape[2])
        assert np.array_equal(out if len(shape) == 3 else out[:, :, 0], px)


def _forward_filter(arr: np.ndarray, ftype: int, ch: int) -> bytes:
    """Spec-forward scanline filtering (the encoder side the engine's own
    encode_png never uses beyond type 0) — ground truth for the decoder."""
    h, stride = arr.shape
    out = bytearray()
    prev = np.zeros(stride, dtype=np.int32)
    for y in range(h):
        cur = arr[y].astype(np.int32)
        line = np.zeros(stride, dtype=np.int32)
        for x in range(stride):
            a = cur[x - ch] if x >= ch else 0
            b = prev[x]
            c = prev[x - ch] if x >= ch else 0
            if ftype == 0:
                pred = 0
            elif ftype == 1:
                pred = a
            elif ftype == 2:
                pred = b
            elif ftype == 3:
                pred = (a + b) >> 1
            else:  # Paeth
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
            line[x] = (cur[x] - pred) & 0xFF
        out.append(ftype)
        out.extend(line.astype(np.uint8).tobytes())
        prev = cur
    return bytes(out)


@pytest.mark.parametrize("ftype", [1, 2, 3, 4])
@pytest.mark.parametrize("ch", [1, 3])
def test_decode_reverses_foreign_filters(ftype, ch):
    rng = np.random.default_rng(ftype * 10 + ch)
    h, w = 11, 13
    px = rng.integers(0, 256, size=(h, w * ch), dtype=np.uint8)
    raw = _forward_filter(px, ftype, ch)
    color_type = 0 if ch == 1 else 2
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    png = (
        PNG_SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(raw))
        + _chunk(b"IEND", b"")
    )
    dw, dh, dch, out = decode_png(png)
    assert (dw, dh, dch) == (w, h, ch)
    assert np.array_equal(out.reshape(h, w * ch), px)


def test_decode_rejects_unsupported_variants():
    with pytest.raises(ValueError):
        decode_png(b"not a png at all")
    # 16-bit depth
    ihdr = struct.pack(">IIBBBBB", 4, 4, 16, 0, 0, 0, 0)
    bad = PNG_SIG + _chunk(b"IHDR", ihdr) + _chunk(b"IDAT", zlib.compress(b"\0" * 36))
    with pytest.raises(ValueError):
        decode_png(bad)


def test_resize_nearest_floor_mapping():
    px = np.arange(12, dtype=np.uint8).reshape(3, 4)
    out = resize_nearest(px, 8, 6)
    assert out.shape == (6, 8)
    # output (x=5, y=4) must read source (5*4//8, 4*3//6) = (2, 2)
    assert out[4, 5] == px[2, 2]


def test_synth_png_decodes_to_rule_dims_and_pixel_sum():
    for payload in [b"abc", b"x" * 300, b"q" * 553]:
        n = len(payload)
        png = mm.synth_png_from_bytes(payload)
        w, h, ch, px = decode_png(png)
        assert (w, h, ch) == (n % 64 + 16, (n // 64) % 64 + 16, 1)
        assert int(px.sum(dtype=np.int64)) == w * h * (w + h - 2) // 2


def test_resize_image_real_png_end_to_end():
    png = mm.synth_png_from_bytes(b"y" * 400)
    w, h, _ch, _px = decode_png(png)
    out = mm.resize_image(png)
    ow, oh, _oc, opx = decode_png(out)
    assert max(ow, oh) == mm.RESIZE_TARGET
    assert ow == max(1, (w * mm.RESIZE_TARGET) // max(w, h))
    assert oh == max(1, (h * mm.RESIZE_TARGET) // max(w, h))
    # nearest-neighbor of gray (x+y): corner pixels map to source corners
    assert opx[0, 0, 0] == 0
    assert opx[-1, -1, 0] == (w - 1) + (h - 1)


def test_wav_roundtrip_and_real_rms():
    samples = np.array([0, 1000, -32768, 32767, 5], dtype=np.int16)
    rate, back = decode_wav_s16(encode_wav_s16(samples, rate=8000))
    assert rate == 8000
    assert np.array_equal(back, samples)
    wav = mm.synth_wav_from_bytes(b"z" * 300)
    feats = mm.extract_audio_features(wav)
    n = 300
    ns = n // 4 + 8
    sq = sum((((i * 2654435761 + n) % 65536) - 32768) ** 2 for i in range(ns))
    assert feats["n_samples"] == ns
    assert feats["sum_sq"] == sq
    import math

    assert feats["rms"] == math.sqrt(sq / ns) / 32768.0


def test_kernels_consume_and_emit_arrow_batch_shapes():
    pdf = pd.DataFrame(
        {"doc_id": [1, 2], "payload": [b"abc", b"x" * 300]}
    )
    (resized,) = list(mm.png_resize_batches(iter([pdf])))
    assert list(resized.columns) == [
        "doc_id", "n_bytes", "width", "height", "px_sum", "out_w", "out_h"
    ]
    assert resized["n_bytes"].tolist() == [3, 300]
    (audio,) = list(mm.wav_feature_batches(iter([pdf])))
    assert list(audio.columns) == ["doc_id", "n_bytes", "n_windows", "rms"]
    assert audio["n_windows"].tolist() == [1, 2]


def _mapped_kernels() -> list[tuple[str, str]]:
    """Every (kernel, schema) name pair that operators/multimodal.py
    passes to ``mapInPandas``."""
    from pubsub2bq_spark.operators import multimodal as ops

    calls = [
        c for c in ast.walk(ast.parse(inspect.getsource(ops)))
        if isinstance(c, ast.Call)
        and isinstance(c.func, ast.Attribute)
        and c.func.attr == "mapInPandas"
    ]
    return sorted({(c.args[0].id, c.args[1].id) for c in calls})


# The Spark DDL -> pandas dtype mapping the kernels' output frames must follow.
_DDL_DTYPES = {"bigint": "int64", "int": "int32", "double": "float64", "string": "object"}


@pytest.mark.parametrize("kernel_name,schema_name", _mapped_kernels())
def test_payload_kernels_match_schema(kernel_name, schema_name):
    """Each kernel's output frame has exactly its DDL schema's columns and
    dtypes, on a full batch and on an empty one, and the kernel carries
    its public name (the name Spark prints in plans)."""
    kernel = getattr(mm, kernel_name)
    want = [
        (name, _DDL_DTYPES[ddl])
        for name, ddl in (f.split() for f in getattr(mm, schema_name).split(","))
    ]
    pdf = pd.DataFrame(
        {
            "doc_id": np.arange(5, dtype=np.int64),
            "payload": [b"", b"a", b"x" * 70, b"y" * 300, b"z" * 999],
        }
    )
    for batch in (pdf, pdf.iloc[:0]):
        (out,) = list(kernel(iter([batch])))
        assert [(c, str(t)) for c, t in out.dtypes.items()] == want
        assert len(out) >= len(batch)
    assert kernel.__name__ == kernel_name


def test_payload_kernel_rejects_unmapped_ddl_type():
    with pytest.raises(ValueError, match="float"):
        mm.payload_kernel("doc_id bigint, x float", lambda doc_id, payload: [])


def test_wav_resample_kernel_real_roundtrip():
    """audio_resample's kernel must report features measured from the
    RE-DECODED 8 kHz file: half the frames (ceil), halved rate, RMS of
    the even-index samples."""
    import math

    pdf = pd.DataFrame({"doc_id": [1, 2], "payload": [b"abc", b"x" * 301]})
    (out,) = list(mm.wav_resample_batches(iter([pdf])))
    assert list(out.columns) == [
        "doc_id", "n_bytes", "sr_in", "sr_out", "n_in", "n_out", "rms_out"
    ]
    for _, r in out.iterrows():
        n = int(r["n_bytes"])
        ns = n // 4 + 8
        assert r["sr_in"] == 16000 and r["sr_out"] == 8000
        assert r["n_in"] == ns
        assert r["n_out"] == (ns + 1) // 2
        sq = sum(
            (((i * 2654435761 + n) % 65536) - 32768) ** 2
            for i in range(0, ns, 2)
        )
        assert r["rms_out"] == math.sqrt(sq / ((ns + 1) // 2)) / 32768.0


def test_phash_brightness_invariance_and_scene_separation():
    """The perceptual contract: a brightness shift (same scene) moves the
    aHash at most a few bits; a different scene (different dims) lands
    far away."""

    def ahash(payload: bytes, seed: int) -> int:
        png = mm.synth_png_textured(payload, seed)
        _w, _h, _ch, px = decode_png(png)
        small = resize_nearest(px[:, :, 0], mm.PHASH_GRID, mm.PHASH_GRID).astype(
            np.int64
        )
        flat = (small * (mm.PHASH_GRID**2) > int(small.sum())).reshape(-1)
        return int(sum(1 << k for k in range(64) if flat[k]))

    base = b"x" * 200
    h0 = ahash(base, 10)
    h_bright = ahash(base, 14)  # same scene, shifted exposure
    h_other = ahash(b"y" * 1333, 10)  # different dims => different scene
    near = bin(h0 ^ h_bright).count("1")
    far = bin(h0 ^ h_other).count("1")
    assert near <= 7, near
    assert far > 15, far


def test_phash_kernel_matches_integer_restatement():
    """The kernel's decode→downsample→threshold pipeline must reproduce
    the pure-integer arithmetic the oracle states."""
    pdf = pd.DataFrame(
        {"doc_id": [3, 41], "payload": [b"q" * 157, b"z" * 999]}
    )
    (out,) = list(mm.phash_batches(iter([pdf])))
    for _, row in out.iterrows():
        n = 157 if row["doc_id"] == 3 else 999
        w, h = n % 64 + 16, (n // 64) % 64 + 16
        seed = int(row["doc_id"]) % mm.PHASH_SEED_MOD
        v = np.array(
            [
                [
                    ((173 * ((i * w) // 8) + 199 * ((j * h) // 8)
                      + ((i * w) // 8) * ((j * h) // 8)) % 256 + seed) % 256
                    for i in range(8)
                ]
                for j in range(8)
            ],
            dtype=np.int64,
        )
        flat = (v * 64 > int(v.sum())).reshape(-1)
        lo = int(sum(1 << k for k in range(32) if flat[k]))
        hi = int(sum(1 << (k - 32) for k in range(32, 64) if flat[k]))
        assert (row["width"], row["height"]) == (w, h)
        assert (row["lo"], row["hi"]) == (lo, hi)


def test_wav_frame_kernel_covers_all_samples_once():
    """Frame rows must partition the decoded sample array: counts sum to
    n_samples, the tail frame is short, and each RMS comes from the
    decoded samples of that window."""
    import math

    payload = b"a" * 100  # n_samples = 100//4 + 8 = 33 => frames 16,16,1
    pdf = pd.DataFrame({"doc_id": [7], "payload": [payload]})
    (out,) = list(mm.wav_frame_batches(iter([pdf])))
    assert list(out["n_in_frame"]) == [16, 16, 1]
    assert list(out["frame_idx"]) == [0, 1, 2]
    _rate, s = decode_wav_s16(mm.synth_wav_from_bytes(payload))
    s64 = s.astype(np.int64)
    for _, row in out.iterrows():
        f0 = int(row["frame_idx"]) * mm.AUDIO_FRAME_LEN
        frame = s64[f0 : f0 + mm.AUDIO_FRAME_LEN]
        want = math.sqrt(int(np.sum(frame * frame)) / frame.size) / 32768.0
        assert row["rms"] == want


def test_image_phash_pairs_equals_bruteforce(spark):
    """Pigeonhole completeness on real data: the banded pair join must
    emit EXACTLY the Hamming<=radius pairs a brute-force all-pairs scan
    of the hash table finds — no duplicates, no misses."""
    import itertools

    from pubsub2bq_spark.operators.multimodal import (
        _PHASH_RADIUS,
        image_phash,
        image_phash_pairs,
    )

    sf = "/root/testdata/sf0.001"
    hashes = {
        r["doc_id"]: (int(r["phash_lo"]) | (int(r["phash_hi"]) << 32))
        for r in image_phash(spark, sf).collect()
    }
    want = {
        (a, b, bin(hashes[a] ^ hashes[b]).count("1"))
        for a, b in itertools.combinations(sorted(hashes), 2)
        if bin(hashes[a] ^ hashes[b]).count("1") <= _PHASH_RADIUS
    }
    got_rows = image_phash_pairs(spark, sf).collect()
    got = {(r["doc_a"], r["doc_b"], r["hamming"]) for r in got_rows}
    assert len(got_rows) == len(got)  # emit-on-first-band => no dup rows
    assert got == want
    assert want  # the fixture actually contains near-dup pairs


def test_image_dedup_clusters_equals_union_find(spark):
    """Component labels must equal a brute-force union-find over the
    pair graph, with min-doc_id as the canonical representative."""
    from pubsub2bq_spark.operators.multimodal import (
        image_dedup_clusters,
        image_phash_pairs,
    )

    sf = "/root/testdata/sf0.001"
    pairs = [(r["doc_a"], r["doc_b"]) for r in image_phash_pairs(spark, sf).collect()]
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {d: find(d) for d in parent}
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in image_dedup_clusters(spark, sf).collect()
    }
    assert got == want
    assert want  # fixture produces at least one component


def test_avi_roundtrip_and_rejections():
    """The AVI codec must round-trip frames exactly through the real
    RIFF container layout and reject unsupported variants loudly."""
    from pubsub2bq_spark.functions.avi_codec import decode_avi, encode_avi

    rng = np.random.default_rng(11)
    frames = [rng.integers(0, 256, size=(13, 22), dtype=np.uint8) for _ in range(4)]
    w, h, out = decode_avi(encode_avi(frames))
    assert (w, h) == (22, 13) and len(out) == 4
    for a, b in zip(frames, out):
        assert np.array_equal(a, b)
    with pytest.raises(ValueError):
        decode_avi(b"RIFF\x04\x00\x00\x00WAVE")  # RIFF but not AVI
    with pytest.raises(ValueError):
        decode_avi(b"\x00" * 32)


def test_video_frame_kernel_decodes_real_container():
    """Kernel rows must come from the DECODED frames: count follows the
    byte rule, and each px_sum equals the closed form of the decoded
    x+y+f texture."""
    payload = b"m" * 321  # n_frames = 321%5+1 = 2, w = 321%64+16 = 17, h = 5+16 = 21
    pdf = pd.DataFrame({"doc_id": [9], "payload": [payload]})
    (out,) = list(mm.video_frame_batches(iter([pdf])))
    w, h = 321 % 64 + 16, (321 // 64) % 64 + 16
    assert list(out["frame_idx"]) == [0, 1]
    assert set(zip(out["width"], out["height"])) == {(w, h)}
    for f, px in zip(out["frame_idx"], out["px_sum"]):
        assert px == w * h * (w + h - 2) // 2 + w * h * int(f)


def test_mjpeg_avi_roundtrip_and_exact_fixture():
    """Motion-JPEG AVI: block-constant frames survive the per-frame
    baseline-JPEG pipeline bit-for-bit; arbitrary frames decode with
    header-pinned dimensions; frame/header dim disagreement rejects."""
    from pubsub2bq_spark.functions.avi_codec import decode_avi, encode_avi

    bx, by = np.arange(30) // 8, np.arange(20) // 8
    frames = [
        ((11 * bx[None, :] + 7 * by[:, None] + 13 * f) % 256).astype(np.uint8)
        for f in range(4)
    ]
    w, h, out = decode_avi(encode_avi(frames, mjpeg=True))
    assert (w, h) == (30, 20) and len(out) == 4
    for a, b in zip(frames, out):
        assert np.array_equal(a, b)
    # lossy path still decodes, dims pinned to strf
    rng = np.random.default_rng(5)
    fr2 = [rng.integers(0, 256, size=(17, 33), dtype=np.uint8)]
    w2, h2, out2 = decode_avi(encode_avi(fr2, mjpeg=True))
    assert (w2, h2) == (33, 17) and out2[0].shape == (17, 33)


def test_mjpeg_frame_kernel_decodes_real_stream():
    """Kernel rows must come from DECODED MJPEG frames: count follows
    the byte rule, px_sum equals the closed form over the block grid."""
    payload = b"m" * 321  # nf=2, w=17, h=21
    pdf = pd.DataFrame({"doc_id": [9], "payload": [payload]})
    (out,) = list(mm.mjpeg_frame_batches(iter([pdf])))
    w, h = 321 % 64 + 16, (321 // 64) % 64 + 16
    assert list(out["frame_idx"]) == [0, 1]
    assert set(zip(out["width"], out["height"])) == {(w, h)}
    bxs, bys = np.arange(w) // 8, np.arange(h) // 8
    for f, px in zip(out["frame_idx"], out["px_sum"]):
        want = int(
            ((11 * bxs[None, :] + 7 * bys[:, None] + 13 * int(f)) % 256).sum()
        )
        assert px == want


def test_mulaw_codec_and_kernel():
    """G.711 expansion must match the public table properties (0xFF→0,
    range ±32124, sign symmetry) through a REAL format-7 RIFF
    round-trip, and the kernel's sums must come from decoded samples."""
    from pubsub2bq_spark.functions.wav_codec import (
        decode_wav_mulaw,
        encode_wav_mulaw,
    )

    codes = np.arange(256, dtype=np.uint8)
    rate, lin = decode_wav_mulaw(encode_wav_mulaw(codes))
    assert rate == 8000 and len(lin) == 256
    assert lin[0xFF] == 0 and lin.min() == -32124 and lin.max() == 32124
    assert all(int(lin[c]) == -int(lin[c ^ 0x80]) for c in range(256))
    with pytest.raises(ValueError):
        decode_wav_mulaw(mm.synth_wav_from_bytes(b"x" * 50))  # PCM, not µ-law

    payload = b"a" * 100  # n_samples = 33
    pdf = pd.DataFrame({"doc_id": [3], "payload": [payload]})
    (out,) = list(mm.mulaw_feature_batches(iter([pdf])))
    n = 100
    i = np.arange(n // 4 + 8, dtype=np.int64)
    u = 255 - ((i * 2654435761 + n) % 256)
    t = (((u & 15) << 3) + 132) << ((u & 112) >> 4)
    want = np.where(u & 128, 132 - t, t - 132)
    assert int(out["sum_sq"][0]) == int((want * want).sum())
    assert int(out["n_samples"][0]) == n // 4 + 8


def test_alaw_codec_and_kernel():
    """G.711 A-law expansion must match the public table properties
    (minimum magnitude 8 — A-law has no zero level; range ±32256; sign
    symmetry under flipping bit 7; SET sign bit = positive) through a
    REAL format-6 RIFF round-trip, the dispatch chain must pick it up,
    and the kernel's sums must come from decoded samples."""
    from pubsub2bq_spark.functions.wav_codec import (
        decode_wav_alaw,
        decode_wav_mulaw,
        encode_wav_alaw,
    )

    codes = np.arange(256, dtype=np.uint8)
    rate, lin = decode_wav_alaw(encode_wav_alaw(codes))
    assert rate == 8000 and len(lin) == 256
    assert lin[0x55] == -8 and lin[0xD5] == 8  # smallest levels
    assert lin.min() == -32256 and lin.max() == 32256
    assert np.abs(lin).min() == 8  # no zero code in A-law
    assert all(int(lin[c]) == -int(lin[c ^ 0x80]) for c in range(256))
    # the two companding laws must reject each other's containers
    with pytest.raises(ValueError):
        decode_wav_alaw(mm.synth_mulaw_wav_from_bytes(b"x" * 50))
    with pytest.raises(ValueError):
        decode_wav_mulaw(mm.synth_alaw_wav_from_bytes(b"x" * 50))
    # extract_audio_features dispatches wFormatTag 6
    feats = mm.extract_audio_features(mm.synth_alaw_wav_from_bytes(b"q" * 80))
    assert feats["n_samples"] == 80 // 4 + 8

    payload = b"a" * 100  # n_samples = 33
    pdf = pd.DataFrame({"doc_id": [3], "payload": [payload]})
    (out,) = list(mm.alaw_feature_batches(iter([pdf])))
    n = 100
    i = np.arange(n // 4 + 8, dtype=np.int64)
    a = ((i * 2654435761 + n) % 256) ^ 0x55
    t = (a & 15) << 4
    seg = (a & 112) >> 4
    mag = np.where(seg == 0, t + 8,
                   (t + 0x108) << np.maximum(seg - 1, 0))
    want = np.where(a & 0x80, mag, -mag)
    assert int(out["sum_sq"][0]) == int((want * want).sum())
    assert int(out["n_samples"][0]) == n // 4 + 8


def test_adpcm_codec_and_kernel():
    """IMA ADPCM: the full step-adaptive encoder/decoder must round-trip
    a smooth signal within quantizer error, honor block boundaries and
    the fact-chunk trim, and the kernel's closed-form fixture must
    decode to the analytic running sum the oracle states."""
    from pubsub2bq_spark.functions.wav_codec import (
        IMA_STEP_TABLE,
        decode_wav_adpcm,
        decode_wav_mulaw,
        encode_wav_adpcm,
    )

    # Smooth signal: a differential codec tracks it closely — error is
    # bounded by the step the quantizer had available at each sample.
    t = np.arange(2000)
    x = (8000 * np.sin(t / 40.0)).astype(np.int64)
    wav = encode_wav_adpcm(x, block_samples=505)
    rate, y = decode_wav_adpcm(wav)
    assert rate == 8000 and y.size == x.size
    # block headers restart from the exact sample → sample 0 of every
    # block is lossless
    assert all(int(y[k]) == int(x[k]) for k in range(0, 2000, 505))
    assert np.abs(y - x).max() < int(IMA_STEP_TABLE[88])
    snr = float(np.sum(x * x)) / max(float(np.sum((y - x) ** 2)), 1.0)
    assert snr > 100.0  # > 20 dB on a smooth signal

    # fact-chunk trim: odd nibble counts pad the last byte; the decoder
    # must drop the pad sample
    x_odd = x[:506]  # 2 blocks, second has 1 real nibble + pad
    rate, y_odd = decode_wav_adpcm(encode_wav_adpcm(x_odd, block_samples=505))
    assert y_odd.size == 506

    # format dispatch is mutually exclusive
    with pytest.raises(ValueError):
        decode_wav_adpcm(mm.synth_wav_from_bytes(b"x" * 50))  # PCM
    with pytest.raises(ValueError):
        decode_wav_mulaw(mm.synth_adpcm_wav_from_bytes(b"x" * 50))

    # kernel fixture decodes to the analytic closed form (what the
    # oracle restates with a window cumsum)
    payload = b"a" * 999
    pdf = pd.DataFrame({"doc_id": [5], "payload": [payload]})
    (out,) = list(mm.adpcm_feature_batches(iter([pdf])))
    n = 999
    ns = 2 * min(n // 8 + 4, 2048)
    i = np.arange(ns, dtype=np.int64)
    u = (i * 2654435761 + n) % 16
    delta = np.array([0, 1, 3, 4])[u & 3] * np.where(u & 8, -1, 1)
    cum = np.cumsum(delta)
    assert int(out["n_samples"][0]) == ns + 1
    assert int(out["sum_samples"][0]) == int(cum.sum())
    assert int(out["sum_sq"][0]) == int((cum * cum).sum())

    # extract_audio_features dispatches ADPCM after PCM16 and µ-law
    feats = mm.extract_audio_features(mm.synth_adpcm_wav_from_bytes(b"q" * 80))
    assert feats["n_samples"] == 2 * (80 // 8 + 4) + 1


def test_rle8_codec_and_kernel():
    """MS-RLE8: random and patch-edited sequences must round-trip
    exactly, delta frames must be opcode-skip small (the inter-frame
    evidence), and truncated/out-of-bounds streams must fail loudly."""
    from pubsub2bq_spark.functions.avi_codec import (
        _rle_decode_frame,
        _rle_encode_frame,
        decode_avi,
        encode_avi_rle,
    )

    rng = np.random.default_rng(11)
    h, w = 37, 61
    frames = [rng.integers(0, 256, size=(h, w)).astype(np.uint8)]
    for _ in range(4):
        f = frames[-1].copy()
        for _ in range(3):
            r0, c0 = int(rng.integers(0, h - 5)), int(rng.integers(0, w - 6))
            f[r0 : r0 + 4, c0 : c0 + 5] = rng.integers(0, 256, size=(4, 5))
        frames.append(f)
    avi = encode_avi_rle(frames)
    W, H, out = decode_avi(avi)
    assert (W, H) == (w, h) and len(out) == len(frames)
    assert all(np.array_equal(a, b) for a, b in zip(frames, out))

    # pure-random frames exercise absolute mode + runs
    frames2 = [rng.integers(0, 256, size=(16, 17)).astype(np.uint8)
               for _ in range(3)]
    _, _, out2 = decode_avi(encode_avi_rle(frames2))
    assert all(np.array_equal(a, b) for a, b in zip(frames2, out2))

    # inter-frame coding: a patch-edit delta frame is far smaller than
    # its keyframe, and replaying it against a WRONG canvas yields a
    # different frame — the decode genuinely depends on temporal state
    key = _rle_encode_frame(None, frames[0])
    delta = _rle_encode_frame(frames[0], frames[1])
    assert len(delta) < len(key) // 4
    good = frames[0].copy()
    _rle_decode_frame(delta, good)
    assert np.array_equal(good, frames[1])
    bad = np.zeros((h, w), dtype=np.uint8)
    _rle_decode_frame(delta, bad)
    assert not np.array_equal(bad, frames[1])

    # loud rejection: truncated stream / missing EOS / run overflow
    with pytest.raises(ValueError):
        _rle_decode_frame(key[:-2], np.zeros((h, w), dtype=np.uint8))
    with pytest.raises(ValueError):
        _rle_decode_frame(bytes((255, 1)), np.zeros((2, 4), dtype=np.uint8))

    # kernel: decoded band evolution matches the closed-form band rule
    payload = b"z" * 321  # w=37, h=21, nf=2
    pdf = pd.DataFrame({"doc_id": [9], "payload": [payload]})
    (out3,) = list(mm.rle_frame_batches(iter([pdf])))
    n = 321
    w3, h3 = n % 64 + 16, (n // 64) % 64 + 16
    assert list(out3["frame_idx"]) == [0, 1]
    v0 = n % 251
    assert int(out3["px_sum"][0]) == w3 * h3 * v0
    rows_b0 = h3 // 4
    v1 = (n + 37) % 251
    assert int(out3["px_sum"][1]) == w3 * (
        rows_b0 * v1 + (h3 - rows_b0) * v0
    )


def test_gif_codec_and_kernel():
    """GIF89a: LZW must round-trip exactly (incl. 12-bit growth, CLEAR
    regrow, the KwKwK case), animated sub-rect updates must composite
    over the persistent canvas, interlace must invert, and the kernel
    must match the closed-form band rule."""
    from pubsub2bq_spark.functions.gif_codec import (
        _lzw_decode,
        _lzw_encode,
        decode_gif,
        encode_gif,
    )

    rng = np.random.default_rng(21)
    for n in (1, 100, 60000):
        idx = rng.integers(0, 256, size=n).astype(np.uint8)
        assert np.array_equal(_lzw_decode(_lzw_encode(idx, 8), 8, n), idx)
    # low-entropy megastream fills the 12-bit table and forces CLEAR
    idx = (np.arange(200_000) % 7).astype(np.uint8)
    assert np.array_equal(_lzw_decode(_lzw_encode(idx, 8), 8, idx.size), idx)
    # KwKwK: aaa... produces code == len(table) immediately
    idx = np.zeros(50, dtype=np.uint8)
    assert np.array_equal(_lzw_decode(_lzw_encode(idx, 8), 8, 50), idx)

    h, w = 37, 61
    frames = [rng.integers(0, 256, size=(h, w)).astype(np.uint8)]
    for _ in range(4):
        f = frames[-1].copy()
        r0, c0 = int(rng.integers(0, h - 6)), int(rng.integers(0, w - 7))
        f[r0 : r0 + 5, c0 : c0 + 6] = rng.integers(0, 256, size=(5, 6))
        frames.append(f)
    gif = encode_gif(frames)
    W, H, out = decode_gif(gif)
    assert (W, H) == (w, h)
    assert all(np.array_equal(a, b) for a, b in zip(frames, out))
    # inter-frame evidence: 4 dirty-rect frames cost a fraction of one
    # full frame
    assert len(gif) - len(encode_gif(frames[:1])) < len(gif) // 4

    _, _, oi = decode_gif(encode_gif([frames[0]], interlace=True))
    assert np.array_equal(oi[0], frames[0])

    with pytest.raises(ValueError):
        decode_gif(b"GIF89a" + b"\x00" * 10)
    with pytest.raises(ValueError):
        decode_gif(b"notagif")

    # decode_image dispatches still GIFs
    w2, h2, ch, px = mm.decode_image(encode_gif([frames[0]]))
    assert (w2, h2, ch) == (w, h, 1)
    assert np.array_equal(px[:, :, 0], frames[0])

    # kernel matches the closed-form band rule
    payload = b"g" * 321  # nf = 2
    pdf = pd.DataFrame({"doc_id": [4], "payload": [payload]})
    (out3,) = list(mm.gif_frame_batches(iter([pdf])))
    n = 321
    w3, h3 = n % 64 + 16, (n // 64) % 64 + 16
    v0, v1 = (n + 3) % 256, (n + 41) % 256
    rows_b0 = h3 // 4
    assert int(out3["px_sum"][0]) == w3 * h3 * v0
    assert int(out3["px_sum"][1]) == w3 * (rows_b0 * v1 + (h3 - rows_b0) * v0)


def test_flac_codec_and_kernel():
    """FLAC: lossless round trips must be EXACT (noise, smooth,
    constant, multi-block), corruption must fail the CRC loudly, the
    LPC subframe path must reconstruct a hand-built frame, and the
    kernel must match the generation rule."""
    import struct as _struct

    from pubsub2bq_spark.functions.flac_codec import (
        _MSBWriter,
        _crc8,
        _crc16,
        _utf8_number,
        decode_flac,
        encode_flac,
    )

    rng = np.random.default_rng(31)
    cases = [
        rng.integers(-32768, 32768, size=777).astype(np.int16),
        (8000 * np.sin(np.arange(10000) / 50.0)).astype(np.int16),
        np.full(5000, 123, np.int16),
        rng.integers(-100, 100, size=4096 * 3 + 5).astype(np.int16),
    ]
    for x in cases:
        rate, y = decode_flac(encode_flac(x))
        assert rate == 16000 and np.array_equal(y, x.astype(np.int64))
    # smooth audio genuinely compresses
    assert len(encode_flac(cases[1])) < cases[1].size  # < 0.5 byte/sample

    # a flipped bit in frame data fails the CRC, never mis-decodes
    data = bytearray(encode_flac(cases[1]))
    data[100] ^= 0x40
    with pytest.raises(ValueError):
        decode_flac(bytes(data))

    # hand-built LPC-order-2 frame: x[i] = (2*x[i-1] - 1*x[i-2] >> 0) + r[i]
    bs, warm, res = 16, [100, 110], [3, -2, 1, 0, -1, 2, 0, 1, -3, 2, 0, -1, 1, 0]
    hdr = bytearray(b"\xff\xf8")
    hdr.append((0x6 << 4) | 0x00)  # 8-bit blocksize follows
    hdr.append(0x4 << 1)  # mono, 16-bit
    hdr += _utf8_number(0)
    hdr.append(bs - 1)
    hdr.append(_crc8(bytes(hdr)))
    wr = _MSBWriter()
    wr.write(0, 1)
    wr.write(0x20 | (2 - 1), 6)  # LPC, order 2
    wr.write(0, 1)
    for wv in warm:
        wr.write(wv & 0xFFFF, 16)
    wr.write(14, 4)       # precision 15
    wr.write(0, 5)        # shift 0
    wr.write(2 & 0x7FFF, 15)   # coef a1 = 2
    wr.write(-1 & 0x7FFF, 15)  # coef a2 = -1
    wr.write(0b00, 2)
    wr.write(0, 4)  # partition order 0
    wr.write(2, 4)  # rice param 2
    for v in res:
        u = (v << 1) ^ (v >> 31) if v >= 0 else ((-v) << 1) - 1
        wr.write(1, (u >> 2) + 1)
        wr.write(u, 2)
    wr.align()
    body = bytes(hdr) + wr.bytes()
    frame = body + _struct.pack(">H", _crc16(body))
    total = bs
    si = _struct.pack(">HH", 4096, 4096) + b"\x00" * 6
    si += (((16000 << 44) | (15 << 36) | total)).to_bytes(8, "big")
    want = np.empty(bs, dtype=np.int64)
    want[:2] = warm
    for i in range(2, bs):
        want[i] = 2 * want[i - 1] - want[i - 2] + res[i - 2]
    import hashlib as _hashlib

    si += _hashlib.md5(want.astype("<i2").tobytes()).digest()
    stream = b"fLaC" + bytes((0x80,)) + len(si).to_bytes(3, "big") + si + frame
    rate, y = decode_flac(stream)
    assert np.array_equal(y, want)

    # kernel matches the generation rule (lossless)
    payload = b"f" * 200
    pdf = pd.DataFrame({"doc_id": [7], "payload": [payload]})
    (out,) = list(mm.flac_feature_batches(iter([pdf])))
    n = 200
    i = np.arange(n // 4 + 12, dtype=np.int64)
    s = ((i * 2654435761 + 3 * n) % 65536) - 32768
    assert int(out["n_samples"][0]) == s.size
    assert int(out["sum_sq"][0]) == int((s * s).sum())

    # extract_audio_features dispatches FLAC
    feats = mm.extract_audio_features(mm.synth_flac_from_bytes(b"q" * 80))
    assert feats["n_samples"] == 80 // 4 + 12


def test_tiff_codec_and_kernel():
    """TIFF: PackBits and early-change LZW must round-trip exactly,
    multi-strip assembly must cover every row, both byte orders must
    parse, and unsupported variants must reject loudly."""
    import struct as _struct

    from pubsub2bq_spark.functions.tiff_codec import (
        COMP_LZW,
        COMP_NONE,
        COMP_PACKBITS,
        _packbits_decode,
        _packbits_encode,
        _tiff_lzw_decode,
        _tiff_lzw_encode,
        decode_tiff,
        encode_tiff,
    )

    rng = np.random.default_rng(17)
    for n in (1, 300, 30000):
        data = rng.integers(0, 256, size=n).astype(np.uint8).tobytes()
        assert _packbits_decode(_packbits_encode(data), n) == data
        assert _tiff_lzw_decode(_tiff_lzw_encode(data), n) == data
    # low-entropy megastream: 12-bit table regrow via CLEAR
    data = bytes((np.arange(150_000) % 5).astype(np.uint8))
    assert _tiff_lzw_decode(_tiff_lzw_encode(data), len(data)) == data

    for comp in (COMP_NONE, COMP_PACKBITS, COMP_LZW):
        for shape in ((16, 16), (37, 61), (79, 17), (100, 100)):
            px = rng.integers(0, 256, size=shape).astype(np.uint8)
            w, h, out = decode_tiff(encode_tiff(px, compression=comp))
            assert (w, h) == (shape[1], shape[0])
            assert np.array_equal(out, px)

    # big-endian (MM) single-strip fixture parses too
    px = rng.integers(0, 256, size=(20, 30)).astype(np.uint8)
    strips = px.tobytes()
    ifd_pos = 8 + len(strips)

    def be_entry(tag, typ, count, value, short=False):
        if short:
            return _struct.pack(">HHIHH", tag, typ, count, value, 0)
        return _struct.pack(">HHII", tag, typ, count, value)

    entries = [
        be_entry(256, 3, 1, 30, True), be_entry(257, 3, 1, 20, True),
        be_entry(258, 3, 1, 8, True), be_entry(259, 3, 1, 1, True),
        be_entry(262, 3, 1, 1, True), be_entry(273, 4, 1, 8),
        be_entry(277, 3, 1, 1, True), be_entry(278, 3, 1, 20, True),
        be_entry(279, 4, 1, len(strips)),
    ]
    mm_file = (b"MM\x00*" + _struct.pack(">I", ifd_pos) + strips
               + _struct.pack(">H", len(entries)) + b"".join(entries)
               + _struct.pack(">I", 0))
    w, h, out = decode_tiff(mm_file)
    assert (w, h) == (30, 20) and np.array_equal(out, px)

    with pytest.raises(ValueError):
        decode_tiff(b"notatiff")

    # decode_image dispatches TIFF
    w2, h2, ch, arr = mm.decode_image(encode_tiff(px))
    assert (w2, h2, ch) == (30, 20, 1) and np.array_equal(arr[:, :, 0], px)

    # kernel matches the closed-form block rule
    payload = b"t" * 321
    pdf = pd.DataFrame({"doc_id": [8], "payload": [payload]})
    (out3,) = list(mm.tiff_decode_batches(iter([pdf])))
    n = 321
    w3, h3 = n % 64 + 16, (n // 64) % 64 + 16
    bx, by = np.arange(w3) // 8, np.arange(h3) // 8
    want = ((9 * bx[None, :] + 7 * by[:, None] + n) % 256).sum()
    assert int(out3["px_sum"][0]) == int(want)


def test_bmp_and_aiff_dispatch():
    """BMP and AIFF: exact roundtrips (8-bit palette + 24-bit BGR BMP;
    AIFF's big-endian 80-bit-extended sample rate) and dispatch
    through decode_image / extract_audio_features."""
    from pubsub2bq_spark.functions.bmp_codec import decode_bmp, encode_bmp
    from pubsub2bq_spark.functions.wav_codec import decode_aiff, encode_aiff

    rng = np.random.default_rng(41)
    g = rng.integers(0, 256, size=(21, 37)).astype(np.uint8)
    w, h, ch, out = decode_bmp(encode_bmp(g))
    assert (w, h, ch) == (37, 21, 1) and np.array_equal(out[:, :, 0], g)
    c = rng.integers(0, 256, size=(13, 17, 3)).astype(np.uint8)
    w, h, ch, out = decode_bmp(encode_bmp(c))
    assert (w, h, ch) == (17, 13, 3) and np.array_equal(out, c)
    with pytest.raises(ValueError):
        decode_bmp(b"notabmp")

    x = rng.integers(-32768, 32768, size=999).astype(np.int16)
    for rate in (8000, 44100, 48000):
        r, y = decode_aiff(encode_aiff(x, rate=rate))
        assert r == rate and np.array_equal(y, x.astype(np.int64))
    with pytest.raises(ValueError):
        decode_aiff(b"FORMxxxxWAVE")

    # dispatch surfaces
    w2, h2, ch2, px2 = mm.decode_image(encode_bmp(g))
    assert (w2, h2, ch2) == (37, 21, 1) and np.array_equal(px2[:, :, 0], g)
    feats = mm.extract_audio_features(encode_aiff(x, rate=16000))
    assert feats["n_samples"] == 999
    assert feats["sum_sq"] == int((x.astype(np.int64) ** 2).sum())


def test_tiff_short_typed_arrays_and_flac_empty():
    """Foreign-writer shapes: TIFF strip-count arrays may be SHORT
    (type 3, 2-byte entries); FLAC streams may carry zero samples."""
    import struct as _struct

    from pubsub2bq_spark.functions.flac_codec import decode_flac, encode_flac
    from pubsub2bq_spark.functions.tiff_codec import decode_tiff

    _, y = decode_flac(encode_flac(np.array([], np.int16)))
    assert y.size == 0

    px = (np.arange(32 * 20, dtype=np.int64).reshape(32, 20) % 256).astype(np.uint8)
    strips = [px[0:16].tobytes(), px[16:32].tobytes()]
    pos = 8
    offs = []
    for s in strips:
        offs.append(pos)
        pos += len(s)
    off_arr = pos
    pos += 8
    cnt_arr = pos
    pos += 4
    ifd = pos

    def e(tag, typ, count, value, short=False):
        if short:
            return _struct.pack("<HHIHH", tag, typ, count, value, 0)
        return _struct.pack("<HHII", tag, typ, count, value)

    entries = [
        e(256, 3, 1, 20, True), e(257, 3, 1, 32, True),
        e(258, 3, 1, 8, True), e(259, 3, 1, 1, True),
        e(262, 3, 1, 1, True), e(273, 4, 2, off_arr),
        e(277, 3, 1, 1, True), e(278, 3, 1, 16, True),
        e(279, 3, 2, cnt_arr),
    ]
    buf = b"II*\x00" + _struct.pack("<I", ifd) + b"".join(strips)
    buf += _struct.pack("<II", *offs)
    buf += _struct.pack("<HH", len(strips[0]), len(strips[1]))
    buf += _struct.pack("<H", len(entries)) + b"".join(entries)
    buf += _struct.pack("<I", 0)
    w, h, out = decode_tiff(buf)
    assert (w, h) == (20, 32) and np.array_equal(out, px)


def test_qoi_codec_and_kernel():
    """QOI: random and structured images must round-trip exactly (runs,
    DIFF/LUMA deltas, index replays, literals all exercised), malformed
    streams must reject loudly, and the kernel must match the
    closed-form block rule."""
    from pubsub2bq_spark.functions.qoi_codec import decode_qoi, encode_qoi

    rng = np.random.default_rng(51)
    for shape in ((1, 1, 3), (7, 9, 3), (33, 17, 4), (64, 64, 3)):
        px = rng.integers(0, 256, size=shape).astype(np.uint8)
        w, h, ch, out = decode_qoi(encode_qoi(px))
        assert (w, h, ch) == (shape[1], shape[0], shape[2])
        assert np.array_equal(out, px)
    # smooth gradient: DIFF/LUMA ops dominate and compress
    base = np.arange(64)[:, None] + np.arange(64)[None, :]
    px = np.stack(
        [base % 256, (base + 3) % 256, (base // 2) % 256], axis=2
    ).astype(np.uint8)
    data = encode_qoi(px)
    assert len(data) < 64 * 64 * 3 // 2
    _, _, _, out = decode_qoi(data)
    assert np.array_equal(out, px)
    # constant: pure runs
    assert len(encode_qoi(np.full((50, 50, 3), 77, np.uint8))) < 100

    with pytest.raises(ValueError):
        decode_qoi(b"notqoi")
    with pytest.raises(ValueError):
        decode_qoi(data[:-9])  # truncated: end marker gone

    # decode_image dispatch + kernel closed form
    w2, h2, ch2, arr = mm.decode_image(encode_qoi(px))
    assert (w2, h2, ch2) == (64, 64, 3) and np.array_equal(arr, px)

    payload = b"q" * 321
    pdf = pd.DataFrame({"doc_id": [2], "payload": [payload]})
    (out3,) = list(mm.qoi_decode_batches(iter([pdf])))
    n = 321
    w3, h3 = n % 64 + 16, (n // 64) % 64 + 16
    bx, by = np.arange(w3) // 8, np.arange(h3) // 8
    assert int(out3["r_sum"][0]) == int(((11*bx[None,:] + 3*by[:,None] + n) % 256).sum())
    assert int(out3["g_sum"][0]) == int(((5*bx[None,:] + 7*by[:,None] + 2*n) % 256).sum())
    assert int(out3["b_sum"][0]) == int(((3*bx[None,:] + 13*by[:,None] + 5) % 256).sum())
