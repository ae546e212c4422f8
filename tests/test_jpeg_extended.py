"""12-bit extended-sequential (SOF1) and Adobe APP14 (CMYK / YCCK /
transform-0 RGB) JPEG decode, validated against the independent
encoder in jpeg_ref.py (encode_jpeg12 / encode_jpeg_adobe): the same
strategy as the baseline and progressive work — the decoder is checked
against bytes produced by code that shares none of its tables or
transforms beyond the public T.81 / Adobe tech-note specs."""

from __future__ import annotations

import numpy as np
import pytest

from jpeg_ref import encode_jpeg12, encode_jpeg_adobe, rgb_to_cmyk_inv
from osmexpress_spark.operators.multimodal import _decode_jpeg


def _means12(img):
    return [img[..., i].mean() / 4095.0 for i in range(3)]


def test_12bit_gray_constant():
    g = np.full((8, 8), 1234.0)
    w, h, r, gg, b = _decode_jpeg(encode_jpeg12(g))
    assert (w, h) == (8.0, 8.0)
    assert abs(r - 1234 / 4095) < 1e-6 and r == gg == b


def test_12bit_rgb_444_and_420_roundtrip_means():
    rng = np.random.default_rng(5)
    img = rng.integers(0, 4096, (17, 23, 3))
    for sub in ("444", "420"):
        f = _decode_jpeg(encode_jpeg12(img, 1, sub))
        assert f[:2] == [23.0, 17.0]
        for got, want in zip(f[2:], _means12(img)):
            # 420 averages chroma; same tolerance scale as the 8-bit
            # suite relative to full scale
            assert abs(got - want) < (2e-4 if sub == "444" else 3e-3)


def test_12bit_full_scale_uses_4095_normalization():
    img = np.full((8, 8, 3), 4095.0)
    f = _decode_jpeg(encode_jpeg12(img))
    for m in f[2:]:
        assert abs(m - 1.0) < 1e-6


def test_12bit_golden_pin():
    rng = np.random.default_rng(77)
    img = rng.integers(0, 4096, (19, 13, 3))
    f = _decode_jpeg(encode_jpeg12(img, 3, "444"))
    want = _means12(img)
    assert f[:2] == [13.0, 19.0]
    for got, exp in zip(f[2:], want):
        assert abs(got - exp) < 2e-3
    # bit-level regression pin (quant step 3 output is deterministic)
    assert f[2:] == [
        0.4859502247678827,
        0.5066185682727627,
        0.49538111186289374,
    ]


@pytest.mark.parametrize("transform", [2, 0])
def test_adobe_cmyk_and_ycck_roundtrip(transform):
    rng = np.random.default_rng(11)
    rgb = rng.integers(0, 256, (16, 24, 3)).astype(np.uint8)
    rgb[..., 2] = 255  # s_k == 255 everywhere -> inversion exact
    inv = rgb_to_cmyk_inv(rgb)
    f = _decode_jpeg(encode_jpeg_adobe(inv, 1, transform=transform))
    assert f[:2] == [24.0, 16.0]
    for got, want in zip(f[2:], [rgb[..., i].mean() / 255 for i in range(3)]):
        assert abs(got - want) < 3e-3, (transform, got, want)


def test_adobe_cmyk_black_via_k_plane():
    # pure black: k' = 0 regardless of the other planes
    inv = np.zeros((8, 8, 4))
    inv[..., :3] = 255.0
    f = _decode_jpeg(encode_jpeg_adobe(inv, 1, transform=0))
    assert all(abs(m) < 1e-3 for m in f[2:])


def test_adobe_transform0_rgb_three_component():
    rng = np.random.default_rng(13)
    rgb = rng.integers(0, 256, (9, 11, 3)).astype(np.uint8)
    f = _decode_jpeg(encode_jpeg_adobe(rgb, 1, transform=0))
    for got, want in zip(f[2:], [rgb[..., i].mean() / 255 for i in range(3)]):
        assert abs(got - want) < 2e-3


def test_failure_and_stub_shapes():
    rng = np.random.default_rng(3)
    rgb = rng.integers(0, 256, (8, 8, 3)).astype(np.uint8)
    inv = rgb_to_cmyk_inv(rgb)

    # 4-component stream with the APP14 marker stripped: convention
    # unknowable -> honest stub (NotImplementedError), not damage
    stream = bytearray(encode_jpeg_adobe(inv, 1, transform=0))
    app = stream.find(b"\xff\xee")
    del stream[app : app + 16]
    with pytest.raises(NotImplementedError, match="Adobe"):
        _decode_jpeg(bytes(stream))

    # SOF0 claiming 12-bit is structurally invalid per T.81
    stream = bytearray(encode_jpeg12(np.full((8, 8), 9.0)))
    sof = stream.find(b"\xff\xc1")
    stream[sof + 1] = 0xC0
    with pytest.raises(ValueError, match="12-bit"):
        _decode_jpeg(bytes(stream))

    # unsupported precision stays the honest stub
    stream = bytearray(encode_jpeg12(np.full((8, 8), 9.0)))
    stream[sof + 4] = 10
    with pytest.raises(NotImplementedError, match="10-bit"):
        _decode_jpeg(bytes(stream))


def test_oversubscribed_huffman_table_is_damage():
    # three 1-bit codes cannot exist; like libjpeg, the table is
    # refused as damage (ValueError), not an IndexError mid-parse
    stream = bytearray(encode_jpeg12(np.full((8, 8), 9.0)))
    dht = stream.find(b"\xff\xc4")
    counts = stream[dht + 5 : dht + 21]
    last = max(i for i, c in enumerate(counts) if c)
    assert counts[last] >= 2 and last > 0
    stream[dht + 5] += 2
    stream[dht + 5 + last] -= 2
    with pytest.raises(ValueError, match="does not fit"):
        _decode_jpeg(bytes(stream))


# --- lossless sequential (SOF3, T.81 Annex H) --------------------------------
from jpeg_ref import encode_jpeg_lossless


@pytest.mark.parametrize("pred", list(range(1, 8)))
def test_lossless_all_predictors_bit_exact(pred):
    rng = np.random.default_rng(9 + pred)
    img = rng.integers(0, 256, (13, 19, 3))
    f = _decode_jpeg(encode_jpeg_lossless(img, predictor=pred))
    assert f[:2] == [19.0, 13.0]
    for got, want in zip(f[2:], [img[..., i].mean() / 255 for i in range(3)]):
        assert abs(got - want) < 1e-12  # lossless: EXACT, no tolerance


def test_lossless_16bit_gray_and_point_transform():
    rng = np.random.default_rng(21)
    g = rng.integers(0, 65536, (9, 7))
    f = _decode_jpeg(encode_jpeg_lossless(g, predictor=4, prec=16))
    assert abs(f[2] - g.mean() / 65535) < 1e-12 and f[2] == f[3] == f[4]
    img = rng.integers(0, 256, (8, 8))
    f = _decode_jpeg(encode_jpeg_lossless(img, predictor=2, pt=2))
    assert abs(f[2] - ((img >> 2) << 2).mean() / 255) < 1e-12


@pytest.mark.parametrize("interval", [12, 7])  # row-aligned and mid-row
def test_lossless_restart_intervals(interval):
    rng = np.random.default_rng(31)
    img = rng.integers(0, 256, (10, 12, 3))
    f = _decode_jpeg(
        encode_jpeg_lossless(img, predictor=5, restart_interval=interval)
    )
    for got, want in zip(f[2:], [img[..., i].mean() / 255 for i in range(3)]):
        assert abs(got - want) < 1e-12


def test_lossless_failure_and_stub_shapes():
    img = np.full((8, 8), 7)
    good = bytearray(encode_jpeg_lossless(img, predictor=1))
    sos = good.index(b"\xff\xda")
    # predictor 0 in the scan header is invalid
    bad = bytearray(good)
    bad[sos + 7] = 0
    with pytest.raises(ValueError, match="predictor"):
        _decode_jpeg(bytes(bad))
    # subsampled lossless stays the honest stub
    sof = good.index(b"\xff\xc3")
    sub = bytearray(good)
    sub[sof + 11] = 0x22  # h=v=2 on component 1
    with pytest.raises(NotImplementedError, match="subsampled"):
        _decode_jpeg(bytes(sub))
    # truncated entropy data is corruption
    with pytest.raises(ValueError):
        _decode_jpeg(bytes(good[: len(good) - 12]))
