"""Baseline JPEG codec (operators/jpeg.py): lossy roundtrips with
bounded error across 4:4:4 / 4:2:0 / grayscale / restart markers,
quality monotonicity, marker-structure checks, explicit boundaries,
and the multimodal integration (decode_media / pHash / resize)."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from nfl_data_pipeline_spark.operators.jpeg import (
    _C,
    _canonical_codes,
    _extend,
    _magnitude,
    _zigzag_order,
    decode_jpeg_raster,
    encode_jpeg,
)
from tests.mediasynth import (
    ppm_bytes,
    rich_image,
    smooth_image,
)
from nfl_data_pipeline_spark.operators.multimodal import (
    decode_media,
    image_rgb,
    phash_image,
    resize_jpeg,
)


def _roundtrip(img, **kw):
    h, w, ch = img.shape
    payload = encode_jpeg(img.tobytes(), w, h, ch, **kw)
    raster, w2, h2, c2 = decode_jpeg_raster(payload)
    assert (w2, h2, c2) == (w, h, ch)
    out = np.frombuffer(raster, np.uint8).reshape(h, w, ch)
    return np.abs(out.astype(float) - img.astype(float)), payload


def _gradient(w=40, h=24):
    x = np.linspace(0, 255, w)
    return np.stack(
        [np.tile(x, (h, 1)), np.tile(x[::-1], (h, 1)),
         np.full((h, w), 128.0)],
        axis=2,
    ).astype(np.uint8)


def test_dct_basis_is_orthonormal():
    assert np.allclose(_C @ _C.T, np.eye(8), atol=1e-12)


def test_canonical_huffman_matches_annex_c_by_hand():
    # T.81 Annex C on the standard DC-luminance BITS list: lengths
    # (2,3,3,3,3,3,4,5,6,7,8,9) and codes counting up with a left
    # shift at each length step — 00, 010..110, 1110, 11110, ...
    bits = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
    table = _canonical_codes(bits, list(range(12)))
    inv = {v: (ln, code) for (ln, code), v in table.items()}
    assert inv[0] == (2, 0b00)
    assert inv[1] == (3, 0b010)
    assert inv[5] == (3, 0b110)
    assert inv[6] == (4, 0b1110)
    assert inv[7] == (5, 0b11110)
    assert inv[11] == (9, 0b111111110)


def test_magnitude_coding_matches_spec_table():
    # T.81 Table F.1: category s holds ±[2^(s-1), 2^s-1]; negatives
    # append v + 2^s - 1 (one's-complement-style). Hand values:
    assert _magnitude(0) == (0, 0)
    assert _magnitude(1) == (1, 1)
    assert _magnitude(-1) == (1, 0)
    assert _magnitude(5) == (3, 5)
    assert _magnitude(-5) == (3, 2)
    assert _magnitude(-255) == (8, 0)
    # EXTEND is the exact inverse over every category
    for v in list(range(-300, 301)):
        s, b = _magnitude(v)
        assert _extend(b, s) == v


def test_zigzag_is_the_standard_scan():
    zz = _zigzag_order()
    assert len(zz) == 64 and len(set(zz)) == 64
    assert zz[:10] == [
        (0, 0), (0, 1), (1, 0), (2, 0), (1, 1),
        (0, 2), (0, 3), (1, 2), (2, 1), (3, 0),
    ]
    assert zz[-3:] == [(6, 7), (7, 6), (7, 7)]


@pytest.mark.parametrize(
    "kw,tol",
    [
        ({}, 4),
        ({"subsample": True}, 10),
        ({"restart_interval": 2}, 4),
        ({"subsample": True, "restart_interval": 1}, 10),
    ],
)
def test_roundtrip_bounded_error(kw, tol):
    err, _ = _roundtrip(_gradient(), quality=90, **kw)
    assert err.max() <= tol


def test_roundtrip_grayscale_and_odd_dims():
    rng = np.random.default_rng(2)
    g = rng.integers(0, 256, size=(15, 21, 1), dtype=np.uint8)
    err, _ = _roundtrip(g, quality=95)
    assert err.max() <= 16
    smooth = (g.astype(float) * 0.25 + 96).astype(np.uint8)
    err, _ = _roundtrip(smooth, quality=95, subsample=False)
    assert err.max() <= 6


def test_quality_dial_is_monotone():
    img = rich_image(5, 32, 24).astype(np.uint8)
    errs, sizes = [], []
    for q in (20, 60, 95):
        err, payload = _roundtrip(img, quality=q)
        errs.append(err.mean())
        sizes.append(len(payload))
    assert errs[0] > errs[1] > errs[2]
    assert sizes[0] < sizes[2]


def test_marker_structure():
    _, payload = _roundtrip(_gradient(), quality=85, restart_interval=2)
    assert payload[:2] == b"\xff\xd8" and payload[-2:] == b"\xff\xd9"
    for marker in (0xDB, 0xC0, 0xC4, 0xDA, 0xDD):
        assert bytes([0xFF, marker]) in payload
    assert b"\xff\xd0" in payload  # first restart marker fired


def test_boundaries_are_explicit():
    _, payload = _roundtrip(_gradient(), quality=85)
    with pytest.raises(ValueError, match="SOI"):
        decode_jpeg_raster(b"PNG!" + payload)
    # a baseline stream relabeled SOF2 is structurally invalid as
    # progressive (its single scan spans Ss=0..Se=63): rejected, not
    # mis-decoded (real progressive decode: test_jpeg_progressive.py)
    prog = payload.replace(b"\xff\xc0", b"\xff\xc2", 1)
    with pytest.raises(ValueError, match="DC scan"):
        decode_jpeg_raster(prog)
    # arithmetic coding (SOF9) stays behind the explicit boundary
    arith = payload.replace(b"\xff\xc0", b"\xff\xc9", 1)
    with pytest.raises(NotImplementedError):
        decode_jpeg_raster(arith)
    with pytest.raises(ValueError):
        decode_jpeg_raster(payload[:40])  # truncated before SOS


def test_multimodal_integration():
    img = smooth_image(7, 24, 16).astype(np.uint8)
    payload = encode_jpeg(img.tobytes(), 24, 16, 3, quality=95)
    sig = decode_media(payload, "image/jpeg")
    assert len(sig) == 24 * 16 * 3
    ref = decode_media(ppm_bytes(img), "image/ppm")
    assert np.abs(np.array(sig) - np.array(ref)).max() <= 16 / 255
    # pHash survives the lossy roundtrip within the dedup gate's
    # hamming threshold (a textured image: near-median low-frequency
    # DCT signs are stable; a tiny flat one can flip ~10 bits)
    tex = rich_image(7, 24, 16).astype(np.uint8)
    h_jpeg = phash_image(
        encode_jpeg(tex.tobytes(), 24, 16, 3, quality=95), "image/jpeg"
    )
    h_ppm = phash_image(ppm_bytes(tex), "image/ppm")
    assert bin(h_jpeg ^ h_ppm).count("1") <= 10
    arr = image_rgb(payload, "image/jpeg")
    assert arr.shape == (16, 24, 3)
    out = resize_jpeg(payload, 12, 8)
    _, w, h, ch = decode_jpeg_raster(out)
    assert (w, h, ch) == (12, 8, 3)
