"""Perceptual (dHash) media dedup: kernel properties + operator vs an
exhaustive pure-Python replay (same check scripts/make_goldens.py bakes
into the driver golden, run here on the pytest fixture corpus)."""

from __future__ import annotations

import itertools

import pytest
from pyspark.sql import functions as F

from openllm_ocr_annotator_spark.kernel import dedup as K
from openllm_ocr_annotator_spark.kernel import imagecodec as C
from openllm_ocr_annotator_spark.kernel import phash as PH
from openllm_ocr_annotator_spark.operators.media import (
    perceptual_hash,
    phash_dedup,
)
from openllm_ocr_annotator_spark.synth import (
    media_variant_rows,
    synthesize_media_variants,
)

from .conftest import SF_DIR


# --------------------------------------------------------------------------
# kernel
# --------------------------------------------------------------------------

def _gray(w, h, pixel=C.pattern_rgb):
    return bytes(
        (299 * pixel(x, y)[0] + 587 * pixel(x, y)[1] + 114 * pixel(x, y)[2])
        // 1000
        for y in range(h)
        for x in range(w)
    )


def test_dhash_deterministic_and_64bit():
    h1 = PH.dhash64(20, 15, _gray(20, 15))
    h2 = PH.dhash64(20, 15, _gray(20, 15))
    assert h1 == h2
    assert 0 <= h1 < (1 << 64)


def test_dhash_container_invariance():
    # identical pixels through BMP, PPM and PNG decode to the same hash
    w, h = 17, 11
    hashes = set()
    for enc in (C.encode_bmp, C.encode_ppm, C.encode_png):
        gw, gh, gray = C.decode_gray(enc(w, h))
        assert (gw, gh) == (w, h)
        hashes.add(PH.dhash64(gw, gh, gray))
    assert len(hashes) == 1


def test_dhash_distinguishes_textures():
    w, h = 16, 12
    a = PH.dhash64(w, h, _gray(w, h))
    b = PH.dhash64(w, h, _gray(w, h, lambda x, y: ((x * 7) % 251, 0, 255)))
    assert a != b


def test_dhash_tiny_image_ok():
    # w < GRID_COLS: column indices repeat, still well-defined
    h = PH.dhash64(4, 3, _gray(4, 3))
    assert 0 <= h < (1 << 64)


def test_dhash_rejects_bad_geometry():
    with pytest.raises(ValueError):
        PH.dhash64(0, 8, b"")
    with pytest.raises(ValueError):
        PH.dhash64(9, 8, b"\x00" * 10)  # buffer shorter than w*h


def test_signed_roundtrip_and_hamming():
    for h in (0, 1, (1 << 63), (1 << 64) - 1, 0xDEADBEEFCAFEBABE):
        s = PH.to_signed64(h)
        assert -(1 << 63) <= s < (1 << 63)
        assert PH.to_unsigned64(s) == h
    assert K.hamming64(0b1010, 0b0110) == 2
    assert K.hamming64((1 << 64) - 1, 0) == 64


def test_bands16_pigeonhole_exhaustive_for_d_le_3():
    # flip any ≤3 of 64 bits: at least one 16-bit band must stay intact
    base = 0x0123456789ABCDEF
    bands = PH.bands16(base)
    for flips in itertools.combinations((0, 15, 16, 31, 32, 47, 48, 63), 3):
        other = base
        for b in flips:
            other ^= 1 << b
        assert any(x == y for x, y in zip(bands, PH.bands16(other)))


# --------------------------------------------------------------------------
# operator vs exhaustive replay
# --------------------------------------------------------------------------

def test_variant_rows_plant_cross_container_dups():
    rows = media_variant_rows(35, "web")  # 35 % 7 == 0 < 3 → re-encode leg
    assert len(rows) >= 2
    grays = {C.decode_gray(bytes(p))[2] for *_m, p in rows[:2]}
    payloads = {bytes(r[3]) for r in rows[:2]}
    assert len(grays) == 1 and len(payloads) == 2  # same pixels, new bytes


def test_phash_dedup_matches_exhaustive_replay(spark):
    payloads = synthesize_media_variants(spark, SF_DIR)
    caches = []
    try:
        got = {
            r.media_ref: r
            for r in phash_dedup(perceptual_hash(payloads), caches=caches).collect()
        }
    finally:
        for c in caches:
            c.unpersist()

    # pure-Python replay, all-pairs (no banding, no caps)
    hashes = {}
    for r in payloads.collect():
        w, h, gray = C.decode_gray(bytes(r.payload))
        hashes[r.media_ref] = PH.dhash64(w, h, gray)
    assert set(got) == set(hashes)

    refs = sorted(hashes)
    n_exact = {m: 0 for m in refs}
    n_near = {m: 0 for m in refs}
    for a, b in itertools.combinations(refs, 2):
        d = K.hamming64(hashes[a], hashes[b])
        if d == 0:
            n_exact[a] += 1
            n_exact[b] += 1
        elif d <= 3:
            n_near[a] += 1
            n_near[b] += 1
    keepers = {}
    for m in refs:
        k = hashes[m]
        keepers[k] = min(keepers.get(k, m), m)

    assert sum(v > 0 for v in n_exact.values()) > 0, "fixture plants dups"
    assert sum(v > 0 for v in n_near.values()) > 0, "fixture plants near dups"
    for m in refs:
        r = got[m]
        assert PH.to_unsigned64(r.phash) == hashes[m], m
        assert r.n_exact == n_exact[m], m
        assert r.n_near == n_near[m], m
        assert r.keep == (keepers[hashes[m]] == m), m


def test_phash_bucket_cap_drops_viral_buckets(spark):
    # 50 identical images + 1 distinct: cap of 10 suppresses near pairs
    # (documented drop) but exact counts — a plain groupBy — survive
    payload = C.encode_png(12, 9)
    rows = [(str(i), f"media://cap/{i}.png", bytearray(payload)) for i in range(50)]
    other = C.encode_png(12, 9, lambda x, y: (x * 5 % 256, y * 9 % 256, 7))
    rows.append(("50", "media://cap/solo.png", bytearray(other)))
    df = spark.createDataFrame(rows, "doc_id string, media_ref string, payload binary")
    caches = []
    try:
        out = phash_dedup(perceptual_hash(df), max_bucket_size=10, caches=caches).collect()
    finally:
        for c in caches:
            c.unpersist()
    assert all(r.n_near == 0 for r in out)
    exact = {r.media_ref: r.n_exact for r in out}
    assert exact["media://cap/solo.png"] == 0
    assert exact["media://cap/0.png"] == 49
    assert sum(r.keep for r in out) == 2  # one keeper per exact bucket


def test_phash_strict_on_null_payload(spark):
    df = spark.createDataFrame(
        [("1", "media://x/a.png", None)],
        "doc_id string, media_ref string, payload binary",
    )
    with pytest.raises(Exception, match="NULL payload"):
        perceptual_hash(df).collect()
