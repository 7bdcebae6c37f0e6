"""Pure-stdlib PNG codec (operators/png.py): encode/decode
roundtrips over every scanline filter and color profile, handcrafted
palette images, the explicit NotImplementedError boundary, and the
Spark-side integration (decode_media / pHash / resize / frame_sample
now treat PNG as a native format)."""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pytest

from tests.mediasynth import (
    png_bytes,
    ppm_bytes,
    rich_image,
    smooth_image,
)
from nfl_data_pipeline_spark.operators.multimodal import (
    decode_media,
    image_rgb,
    phash_image,
    phash_ppm,
    resize_png,
    resize_ppm,
)
from nfl_data_pipeline_spark.operators.png import (
    _chunk,
    _SIG,
    decode_png,
    decode_png_raster,
    encode_png,
)


def _img(seed=3, w=24, h=16):
    return rich_image(seed, w, h).astype(np.uint8)


@pytest.mark.parametrize("ftype", [0, 1, 2, 3, 4])
def test_roundtrip_every_filter(ftype):
    img = _img()
    payload = encode_png(img.tobytes(), 24, 16, channels=3,
                         filter_type=ftype)
    raster, w, h, ch = decode_png_raster(payload)
    assert (w, h, ch) == (24, 16, 3)
    assert raster == img.tobytes()


@pytest.mark.parametrize("channels", [1, 2, 3, 4])
def test_roundtrip_color_types(channels):
    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, size=(9, 13, channels), dtype=np.uint8)
    payload = encode_png(img.tobytes(), 13, 9, channels=channels,
                         filter_type=4)
    raster, w, h, ch = decode_png_raster(payload)
    assert (w, h, ch) == (13, 9, channels)
    assert raster == img.tobytes()


def test_palette_png_expands_to_rgb():
    # handcrafted color-type-3 PNG: 2x2 indices over a 3-entry palette
    plte = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255])
    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 3, 0, 0, 0)
    scanlines = bytes([0, 0, 1, 0, 2, 0])  # filter0 + indices per row
    payload = (
        _SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"PLTE", plte)
        + _chunk(b"IDAT", zlib.compress(scanlines))
        + _chunk(b"IEND", b"")
    )
    raster, w, h, ch = decode_png_raster(payload)
    assert (w, h, ch) == (2, 2, 3)
    assert raster == bytes(
        [255, 0, 0, 0, 255, 0, 0, 0, 255, 255, 0, 0]
    )


def test_boundaries_are_explicit():
    img = _img()
    good = encode_png(img.tobytes(), 24, 16)
    # every legal (depth, color, interlace) combination decodes since
    # r11 (tests/test_png_profiles.py); what remains explicit:
    # an unknown color type is NotImplementedError, and spec-invalid
    # combinations (sub-byte truecolor) are ValueError
    bad = bytearray(good)
    ihdr_off = len(_SIG) + 8
    badc = (
        _SIG
        + _chunk(
            b"IHDR", struct.pack(">IIBBBBB", 24, 16, 8, 7, 0, 0, 0)
        )
        + good[ihdr_off + 13 + 4 :]
    )
    with pytest.raises(NotImplementedError, match="color type"):
        decode_png(bytes(badc))
    bad4rgb = (
        _SIG
        + _chunk(
            b"IHDR", struct.pack(">IIBBBBB", 24, 16, 4, 2, 0, 0, 0)
        )
        + good[ihdr_off + 13 + 4 :]
    )
    with pytest.raises(ValueError, match="sub-byte"):
        decode_png(bytes(bad4rgb))
    # a 16-bit relabel of an 8-bit stream is now TRUNCATED data, not
    # an unimplemented profile
    bad16 = (
        _SIG
        + _chunk(
            b"IHDR", struct.pack(">IIBBBBB", 24, 16, 16, 2, 0, 0, 0)
        )
        + good[ihdr_off + 13 + 4 :]
    )
    with pytest.raises(ValueError, match="truncated"):
        decode_png(bytes(bad16))
    # corrupt CRC is detected
    bad[ihdr_off + 2] ^= 0xFF
    with pytest.raises(ValueError, match="CRC"):
        decode_png(bytes(bad))
    with pytest.raises(ValueError, match="signature"):
        decode_png(b"JFIF" + good)


def test_png_matches_ppm_signal():
    # same pixels through both codecs → identical decoded signal
    img = _img(seed=11)
    png_sig = decode_media(png_bytes(img), "image/png")
    ppm_sig = decode_media(ppm_bytes(img), "image/ppm")
    assert png_sig == pytest.approx(ppm_sig)
    # and identical pHash — the dedup fingerprint is codec-invariant
    assert phash_image(png_bytes(img), "image/png") == phash_ppm(
        ppm_bytes(img)
    )


def test_image_rgb_gray_and_alpha_normalize():
    rng = np.random.default_rng(5)
    gray = rng.integers(0, 256, size=(6, 7, 1), dtype=np.uint8)
    g = encode_png(gray.tobytes(), 7, 6, channels=1)
    arr = image_rgb(g, "image/png")
    assert arr.shape == (6, 7, 3)
    assert np.allclose(arr[:, :, 0], arr[:, :, 1])
    rgba = rng.integers(0, 256, size=(6, 7, 4), dtype=np.uint8)
    a = encode_png(rgba.tobytes(), 7, 6, channels=4)
    arr = image_rgb(a, "image/png")
    assert arr.shape == (6, 7, 3)
    assert np.allclose(arr, rgba[:, :, :3] / 255.0)


def test_resize_png_matches_resize_ppm():
    img = smooth_image(2, 24, 16).astype(np.uint8)
    out = resize_png(png_bytes(img), 6, 4)
    raster, w, h, ch = decode_png_raster(out)
    assert (w, h, ch) == (6, 4, 3)
    ppm_out = resize_ppm(ppm_bytes(img), 6, 4)
    # strip the P6 header: identical nearest-neighbor raster
    assert raster == ppm_out.split(b"\n", 3)[3]


def test_spark_media_paths_handle_png(spark):
    from nfl_data_pipeline_spark.operators.multimodal import (
        attach_media,
        frame_sample,
        image_phash,
        resize_media,
    )

    rows = [
        (1, png_bytes(_img(1)), "image/png"),
        (2, ppm_bytes(_img(1)), "image/ppm"),
        (3, png_bytes(_img(9)), "image/png"),
    ]
    df = attach_media(
        spark.createDataFrame(
            rows, "doc_id long, payload binary, mime string"
        ),
        "payload",
        mime_col="mime",
    )
    ph = {r["doc_id"]: r["phash"] for r in image_phash(df).collect()}
    assert len(ph) == 3
    assert ph[1] == ph[2]  # same pixels, different codec
    assert ph[1] != ph[3]
    rs = resize_media(df, 6, 4, use_real_codec=True).collect()
    for r in rs:
        if r["media_meta"]["mime"] == "image/png":
            _, w, h, _ = decode_png_raster(bytes(r["content"]))
            assert (w, h) == (6, 4)
    fr = frame_sample(
        df.filter("doc_id = 1"), use_real_codec=True
    ).collect()
    assert len(fr) == 1
    assert bytes(fr[0]["frame_bytes"]) == _img(1).tobytes()


# ---------------------------------------------------------- properties

from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=40, deadline=None)
@given(
    w=st.integers(1, 12),
    h=st.integers(1, 12),
    ch=st.integers(1, 4),
    ftype=st.integers(0, 4),
    seed=st.integers(0, 2**31),
)
def test_png_roundtrip_property(w, h, ch, ftype, seed):
    rng = np.random.default_rng(seed)
    img = rng.integers(0, 256, size=(h, w, ch), dtype=np.uint8)
    payload = encode_png(img.tobytes(), w, h, channels=ch,
                         filter_type=ftype)
    raster, w2, h2, c2 = decode_png_raster(payload)
    assert (w2, h2, c2) == (w, h, ch)
    assert raster == img.tobytes()
