"""Baseline JPEG codec (kernel/jpegcodec.py) — the last image format whose
decode leg previously existed only behind the PIL import (never runnable in
this container). Everything here runs unconditionally: encode real
entropy-coded baseline JPEGs, decode them back, and pin the corrupt-input
contract (ValueError, never a hang or a wrong answer).

Reference analog: /root/reference/src/openllm_ocr_annotator/annotators/
base.py:77-163 (the annotators re-encode real PNG/JPEG payloads).
"""

import numpy as np
import pytest

from openllm_ocr_annotator_spark.kernel import jpegcodec as J
from openllm_ocr_annotator_spark.kernel.imagecodec import (
    _luma,
    decode_geometry,
    decode_gray,
    pattern_rgb,
)


@pytest.mark.parametrize(
    "w,h", [(8, 8), (16, 8), (12, 7), (33, 19), (4, 3), (1, 1), (31, 17)]
)
def test_roundtrip_geometry(w, h):
    payload = J.encode_jpeg(w, h)
    assert J.decode_jpeg(payload) == (w, h, 1)
    w2, h2, gray = J.decode_jpeg_gray(payload)
    assert (w2, h2) == (w, h)
    assert len(gray) == w * h


def test_dispatch_from_imagecodec():
    payload = J.encode_jpeg(20, 12)
    assert decode_geometry(payload) == (20, 12, 1)
    w, h, gray = decode_gray(payload)
    assert (w, h) == (20, 12) and len(gray) == 240


def test_smooth_image_near_lossless():
    # q50 quantization error on smooth content stays tiny — a decoder bug
    # (wrong zigzag, wrong dequantize, wrong IDCT basis) blows way past 3
    w, h = 32, 24
    px = lambda x, y: (min(255, 100 + 2 * x), min(255, 100 + 3 * y), 120)
    _, _, gray = J.decode_jpeg_gray(J.encode_jpeg(w, h, pixel=px))
    ref = np.array([[_luma(*px(x, y)) for x in range(w)] for y in range(h)], float)
    got = np.frombuffer(gray, np.uint8).reshape(h, w).astype(float)
    assert np.abs(ref - got).max() <= 3.0


def test_textured_image_bounded_loss():
    # the shared deterministic texture is deliberately high-frequency;
    # q50 loses detail but the decoded luma must stay correlated with the
    # source (mean abs error well under the 128 a garbage decode gives)
    w, h = 33, 19
    _, _, gray = J.decode_jpeg_gray(J.encode_jpeg(w, h))
    ref = np.array(
        [[_luma(*pattern_rgb(x, y)) for x in range(w)] for y in range(h)], float
    )
    got = np.frombuffer(gray, np.uint8).reshape(h, w).astype(float)
    mae = np.abs(ref - got).mean()
    assert mae < 25.0, mae


def test_deterministic():
    assert J.encode_jpeg(20, 10) == J.encode_jpeg(20, 10)
    p = J.encode_jpeg(20, 10)
    assert J.decode_jpeg_gray(p) == J.decode_jpeg_gray(p)


def test_restart_interval_roundtrip():
    # restart markers exercise the byte-align + RSTn + DC-predictor-reset
    # path; decoded pixels must be IDENTICAL to the no-restart encode
    w, h = 33, 19
    plain = J.decode_jpeg_gray(J.encode_jpeg(w, h))
    for ri in (1, 2, 5):
        with_rst = J.encode_jpeg(w, h, restart_interval=ri)
        assert b"\xff\xd0" in with_rst or b"\xff\xd1" in with_rst
        assert J.decode_jpeg(with_rst) == (w, h, 1)
        assert J.decode_jpeg_gray(with_rst) == plain


@pytest.mark.parametrize(
    "mutate,msg_frag",
    [
        (lambda p: p[:40], "truncated"),
        (lambda p: p[:-2], "missing EOI"),
        (lambda p: b"\xff\xd8\xff\xe0\x00\x02" + b"\xff\xd9", "EOI before SOS"),
        (lambda p: p.replace(b"\xff\xc0", b"\xff\xc2", 1), "unsupported"),
        (lambda p: b"\xff\xd8\xff", "marker"),
        (lambda p: p[: len(p) // 2] + b"\xff\xc8" + p[len(p) // 2 :], "corrupt"),
    ],
)
def test_corrupt_inputs_raise_valueerror(mutate, msg_frag):
    payload = mutate(J.encode_jpeg(16, 16))
    with pytest.raises(ValueError, match=msg_frag):
        J.decode_jpeg(payload)


def test_corrupt_entropy_data_raises_not_garbage():
    # flip bytes inside the scan: the Huffman stream either still decodes
    # (valid prefix codes) or raises ValueError — it must never hang
    payload = bytearray(J.encode_jpeg(24, 16))
    sos = bytes(payload).index(b"\xff\xda")
    for off in (20, 40, 60):
        mutated = bytearray(payload)
        pos = sos + 14 + off
        mutated[pos] = 0x00 if mutated[pos] == 0xFF else 0xFF
        try:
            w, h, gray = J.decode_jpeg_gray(bytes(mutated))
            assert (w, h) == (24, 16) and len(gray) == 24 * 16
        except ValueError:
            pass


def test_truncated_entropy_raises():
    payload = J.encode_jpeg(24, 16)
    sos = payload.index(b"\xff\xda")
    with pytest.raises(ValueError):
        J.decode_jpeg_gray(payload[: sos + 30])


def test_unrecognized_and_grayscale_contract():
    with pytest.raises(ValueError):
        J.decode_jpeg(b"\x00\x01\x02\x03")
    # 12-bit precision is refused explicitly, not mis-decoded
    p = bytearray(J.encode_jpeg(8, 8))
    sof = bytes(p).index(b"\xff\xc0")
    p[sof + 4] = 12  # precision byte
    with pytest.raises(ValueError, match="precision"):
        J.decode_jpeg(bytes(p))


def test_quality_knob():
    # IJG scaling: 50 = Annex K tables as published; higher quality →
    # finer quantization → decoded luma closer to the source
    w, h = 24, 16
    ref = np.array(
        [[_luma(*pattern_rgb(x, y)) for x in range(w)] for y in range(h)], float
    )

    def mae(q):
        _, _, gray = J.decode_jpeg_gray(J.encode_jpeg(w, h, quality=q))
        got = np.frombuffer(gray, np.uint8).reshape(h, w).astype(float)
        return np.abs(ref - got).mean()

    m25, m50, m90 = mae(25), mae(50), mae(90)
    assert m90 < m50 < m25
    assert m90 < 5.0
    for bad in (0, 101, -5):
        with pytest.raises(ValueError, match="quality"):
            J.encode_jpeg(8, 8, quality=bad)


def test_jpeg_recompress_variant_is_perceptual_dup():
    # the planted quality-90 recompression leg must stay within the
    # phash_dedup near threshold (Hamming <= 3) for every geometry in
    # the rotation — the property the variant corpus relies on
    from openllm_ocr_annotator_spark.kernel.dedup import hamming64
    from openllm_ocr_annotator_spark.kernel.phash import dhash64
    from openllm_ocr_annotator_spark.synth import media_variant_rows

    checked = 0
    for d in range(1, 140):
        if d % 3 == 0 or d % 13 >= 2:
            continue
        rows = media_variant_rows(d, "src0")
        jpgs = [r for r in rows if r[1].endswith("j.jpg")]
        assert len(jpgs) == 1
        base_hash = dhash64(*decode_gray(rows[0][3]))
        jpg_hash = dhash64(*decode_gray(jpgs[0][3]))
        assert hamming64(base_hash, jpg_hash) <= 3
        checked += 1
    assert checked > 10


def test_synth_rotation_includes_jpeg():
    from openllm_ocr_annotator_spark.synth import media_payload_row

    # image ids with doc_id % 5 == 4 now carry real JPEG bytes
    seen_jpg = 0
    for d in range(1, 120):
        if d % 3 == 0:
            continue
        _id, ref, kind, payload = media_payload_row(d, "src0")
        if d % 5 == 4:
            assert ref.endswith(".jpg") and payload[:3] == b"\xff\xd8\xff"
            assert decode_geometry(payload) == (4 + d % 29, 3 + d % 17, 1)
            seen_jpg += 1
        # the perceptual-dedup corpus stays lossless-only (exact-dup
        # planting needs bit-exact pixels)
        _id2, ref2, _k2, p2 = media_payload_row(d, "src0", lossless_only=True)
        assert not ref2.endswith(".jpg")
    assert seen_jpg > 10


def test_decode_fuzz_random_tails_never_crash():
    # contract: any byte garbage after a JPEG SOI either parses or raises
    # ValueError — never IndexError/struct.error/infinite loop (hypothesis
    # is used elsewhere in the suite; here a seeded LCG keeps this
    # deterministic and fast)
    seed = 0x2545F4914F6CDD1D
    for trial in range(300):
        n = 1 + (seed >> 8) % 200
        buf = bytearray()
        for _ in range(n):
            seed = (seed * 6364136223846793005 + 1442695040888963407) % (1 << 64)
            buf.append((seed >> 33) & 0xFF)
        try:
            J.decode_jpeg(b"\xff\xd8\xff" + bytes(buf))
        except ValueError:
            pass


def test_decode_fuzz_mutated_real_payloads():
    base = J.encode_jpeg(16, 12)
    seed = 99
    for trial in range(200):
        seed = (seed * 1103515245 + 12345) % (1 << 31)
        pos = seed % len(base)
        seed = (seed * 1103515245 + 12345) % (1 << 31)
        byte = seed % 256
        mutated = base[:pos] + bytes((byte,)) + base[pos + 1 :]
        for fn in (J.decode_jpeg, J.decode_jpeg_gray):
            try:
                fn(mutated)
            except ValueError:
                pass


def test_non_dividing_sampling_factors_raise_not_short_buffer():
    """A legal-per-T.81 frame whose luma factors do not divide the max
    factors (e.g. Y=3x3 with C=4x4) must raise ValueError — pre-fix the
    pixel-replication upsample floor-divided (4//3 == 1) and silently
    returned a luma buffer SHORTER than w*h, violating decode_jpeg_gray's
    documented contract."""
    base = bytearray(J.encode_jpeg(16, 16))
    sof = bytes(base).index(b"\xff\xc0")
    # SOF0: marker(2) len(2) precision(1) h(2) w(2) ncomp(1), then
    # [cid, HV, tq] per component — HV byte of component c is sof+11+3c
    assert base[sof + 9] == 3  # 3 components, 4:4:4 as encoded
    mutated = bytearray(base)
    mutated[sof + 11] = 0x33        # Y: 3x3
    mutated[sof + 14] = 0x44        # Cb: 4x4  -> hmax=vmax=4, 4 % 3 != 0
    mutated[sof + 17] = 0x44        # Cr: 4x4
    for fn in (J.decode_jpeg_gray, J.decode_jpeg):
        try:
            got = fn(bytes(mutated))
        except ValueError:
            continue
        # if the entropy stream happens to decode, the geometry contract
        # must still hold — decode_jpeg_gray returns exactly w*h bytes
        if fn is J.decode_jpeg_gray:
            w, h, gray = got
            assert len(gray) == w * h
