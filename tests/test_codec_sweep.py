"""Damage sweep over every bit-level codec: each fixture payload the
codec tests build is decoded truncated at every byte and with every
single-bit flip of its first 256 bytes.  The digest of the outcomes
(the decoder's output, or the exception type it raised) is pinned, so a
change to the shared bit reader or prefix-code layer that alters any
success, any failure, or the kind of failure shows up here."""

from __future__ import annotations

import hashlib
import random
import struct

import numpy as np
import pytest

from flac_ref import encode_flac
from jpeg_ref import encode_jpeg, encode_jpeg_lossless, encode_jpeg_progressive
from osmexpress_spark.operators import mp3l3
from osmexpress_spark.operators import multimodal as M
from osmexpress_spark.operators import vorbis as V
from test_flac import _rand_channels
from test_mp3l3 import _spec
from test_multimodal import _gif_lzw_encode, _tiff_lzw_encode
from test_round11_ops import _pcm_payload
from test_vorbis import _build_stream, _mono_packet
from test_webp import _LW, _gen, _lw_encode

FLIP_BYTES = 256


def _img(shape, seed):
    return np.random.default_rng(seed).integers(0, 256, shape)


def _mp3_tables() -> bytes:
    rng = random.Random(7)
    specs = []
    for table in (7, 12):
        dim = mp3l3.BIG_VALUE_TABLES[table].dim
        pairs = [(rng.choice([-1, 1]) * rng.randint(0, dim - 1),
                  rng.choice([-1, 1]) * rng.randint(0, dim - 1))
                 for _ in range(10)]
        quads = [tuple(rng.choice([-1, 0, 1]) for _ in range(4))
                 for _ in range(4)]
        specs.append(_spec(pairs=pairs, quads=quads, table=table,
                           c1b=table == 12, sfc=8,
                           sf=[rng.randint(0, 1) for _ in range(21)]))
    return mp3l3.write_frames(specs)


def _mp3_lines(payload: bytes):
    """parse_frames without its GranuleInfo objects, whose repr is not
    stable between processes."""
    return [[[(d["sf_long"], d["sf_short"], d["lines"], d["n_lines"],
               d["n_count1"]) for d in chans] for chans in f["granules"]]
            for f in mp3l3.parse_frames(payload)]


def _webp_gray() -> bytes:
    px = b"".join(hashlib.md5(f"5_w_{y}".encode()).digest()
                  for y in range(16))
    return M._encode_webp_gray(px, 16, 16)


def _webp_libwebp(kind: str, w: int, h: int) -> bytes:
    if _LW is None:
        pytest.skip("libwebp not present")
    return _lw_encode(_gen(kind, w, h, random.Random(3)), w, h)


def _vorbis_stream() -> bytes:
    return _build_stream(1, [
        _mono_packet(100, 40, [1, 0, 1, 0], [0, 2, 3, 1]),
        _mono_packet(30, 200, [0, 1, 0, 1], [2, 2, 1, 0])])


def _vorbis_packets() -> list[bytes]:
    return V._ogg_packets(_vorbis_stream())


def _ogg_census_stream() -> bytes:
    """A synth_ogg-shaped stream: a BOS page with the Vorbis
    identification header, then three audio pages of two packets each,
    the second of which spans a 255 lacing value."""
    ident = (
        b"\x01vorbis" + struct.pack("<I", 0) + bytes([2])
        + struct.pack("<I", 44100) + struct.pack("<iii", 0, 128000, 0)
        + b"\xb8\x01"
    )
    out = V.ogg_page(ident, V.ogg_lacing(ident), 0x02, 0, 77, 0)
    granule = 0
    for p in range(3):
        la, lb = 1 + 37 * p, 255 + 23 * p
        body = (hashlib.md5(f"ogg_{p}".encode()).digest() * 40)[:la + lb]
        granule += 256 + 100 * p
        out += V.ogg_page(body, V.ogg_lacing(body[:la], body[la:]),
                          0x04 if p == 2 else 0x00, granule, 77, p + 1)
    return out


def _gif_lzw_payload() -> bytes:
    rng = random.Random(11)
    return _gif_lzw_encode(2, [rng.choice((0, 0, 1, 2, 3))
                               for _ in range(900)])


def _tiff_lzw_payload() -> bytes:
    rng = random.Random(12)
    return _tiff_lzw_encode(bytes(rng.choice(b"aaabbcd\x00\xff")
                                  for _ in range(1200)))


def _vorbis_decode_with(index: int):
    """decode_audio over the Ogg stream whose packet `index` is the
    payload.  Damage is applied to the packet, not the page, because
    the page CRC would reject every flipped page before any bit of the
    Vorbis stream is read."""
    def decode(packet: bytes):
        ident, comment, setup, *audio = _vorbis_packets()
        pkts = [ident, comment, setup, *audio]
        pkts[index] = packet
        ident, comment, setup, *audio = pkts
        out = V.ogg_page(ident, V.ogg_lacing(ident), 0x02, 0, 9, 0)
        out += V.ogg_page(comment + setup, V.ogg_lacing(comment, setup),
                          0x00, 0, 9, 1)
        out += V.ogg_page(b"".join(audio), V.ogg_lacing(*audio),
                          0x04, 0, 9, 2)
        return V.decode_audio(out)
    return decode


# name -> (payload factory, decoder, whether the payload bytes come
# from outside the package and may differ between hosts)
FIXTURES = {
    "jpeg_baseline_420": (
        lambda: encode_jpeg(_img((16, 16, 3), 1), quality_q=4,
                            subsample="420"),
        M._decode_jpeg, False),
    "jpeg_progressive_restart": (
        lambda: encode_jpeg_progressive(_img((16, 8, 3), 2), quality_q=4,
                                        restart_interval=1),
        M._decode_jpeg, False),
    "jpeg_lossless_restart": (
        lambda: encode_jpeg_lossless(_img((6, 8, 3), 3), predictor=5,
                                     restart_interval=7),
        M._decode_jpeg, False),
    "webp_gray": (_webp_gray, M._decode_webp, False),
    "webp_libwebp_pal16": (
        lambda: _webp_libwebp("pal16", 16, 8), M._decode_webp, True),
    "webp_libwebp_noise": (
        lambda: _webp_libwebp("noise", 6, 5), M._decode_webp, True),
    "flac_mid_side": (
        lambda: encode_flac(_rand_channels(2, 16, 64, 5), bps=16,
                            blocksize=32, stereo="mid-side",
                            kinds=("fixed2", "lpc2"), po=1),
        M.flac_decoder, False),
    "mp3_tables": (_mp3_tables, _mp3_lines, False),
    "mp3_pcm": (lambda: _pcm_payload(5), _mp3_lines, False),
    "vorbis_setup_packet": (
        lambda: _vorbis_packets()[2], _vorbis_decode_with(2), False),
    "vorbis_audio_packet": (
        lambda: _vorbis_packets()[3], _vorbis_decode_with(3), False),
    "ogg_census_pages": (_ogg_census_stream, M.ogg_census, False),
    "vorbis_ogg_pages": (_vorbis_stream, V._ogg_packets, False),
    "gif_lzw": (_gif_lzw_payload, lambda p: M._gif_lzw(2, p), False),
    "tiff_lzw": (_tiff_lzw_payload, M._tiff_lzw, False),
}


def _outcome(decode, payload: bytes) -> bytes:
    try:
        return repr(decode(payload)).encode()
    except Exception as e:  # noqa: BLE001 - the exception type is the outcome
        return type(e).__name__.encode()


def sweep_digest(payload: bytes, decode) -> str:
    h = hashlib.sha256()
    for cut in range(len(payload) + 1):
        h.update(_outcome(decode, payload[:cut]))
    for bit in range(8 * min(FLIP_BYTES, len(payload))):
        flipped = bytearray(payload)
        flipped[bit >> 3] ^= 0x80 >> (bit & 7)
        h.update(_outcome(decode, bytes(flipped)))
    return h.hexdigest()[:16]


# name -> (sha256 of the payload, sweep digest), recorded on the
# per-codec readers and decode loops that bitio.py replaced, and the
# Ogg, GIF LZW and TIFF LZW ones on the per-module page walkers and
# readers.  The three JPEG digests differ from those only where a
# flipped DHT count makes a table over-subscribed (a code no longer
# fits its length): such a table now raises ValueError when it is
# parsed, as libjpeg rejects it, where it used to raise IndexError or
# decode with the broken table.  The FLAC digest differs (was
# 71e0da539fd5aca1) only where the stream ends inside or right after
# STREAMINFO (cuts at 26..42 bytes) or a flipped last-block flag runs
# the metadata walk past the end: those 18 of 2423 variants raise
# ValueError where they used to decode as zero frames.
EXPECTED: dict[str, tuple[str, str]] = {
    "flac_mid_side": ("81faca7adb89e07a", "16a62e9ea58de26e"),
    "gif_lzw": ("397d22be6b0f11d5", "8a91db6427e1fa10"),
    "jpeg_baseline_420": ("e138fd523c05c527", "f425560611b3782e"),
    "jpeg_lossless_restart": ("0dfb88dd4e110d15", "d1950cf2ceddb370"),
    "jpeg_progressive_restart": ("fec02a61f613317e", "509697ff39d40b55"),
    "mp3_pcm": ("2882a8b2aa337cbe", "ca606ddbb202c0b2"),
    "mp3_tables": ("079a4c5ad70b7946", "18d2b6bdfd50fc9d"),
    "ogg_census_pages": ("c94848944e399d8c", "48348a137fb5c449"),
    "tiff_lzw": ("166bc97f43db1b49", "aa1226846aa282c7"),
    "vorbis_audio_packet": ("b68320feee9a4bea", "0869ce50ec812f3e"),
    "vorbis_ogg_pages": ("58758abcd3864cf3", "74b3a8684c092928"),
    "vorbis_setup_packet": ("36b96a932007d1d5", "820c9ef70a619b9e"),
    "webp_gray": ("f1dfc59be8c1e888", "3857ef7c44057f6e"),
    "webp_libwebp_noise": ("dad3ffae76cfb2e4", "a0bb8e8066fb8445"),
    "webp_libwebp_pal16": ("030cde613ba5da81", "5d8d256402e9cff9"),
}


@pytest.mark.parametrize("name", sorted(FIXTURES))
def test_damage_sweep_matches_recorded(name):
    build, decode, external = FIXTURES[name]
    payload = build()
    want_sha, want_digest = EXPECTED[name]
    sha = hashlib.sha256(payload).hexdigest()[:16]
    if external and sha != want_sha:
        pytest.skip("host libwebp encodes a different payload")
    assert sha == want_sha
    assert sweep_digest(payload, decode) == want_digest
