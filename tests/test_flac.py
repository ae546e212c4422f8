"""FLAC decode vs the independent encoder (flac_ref): FLAC is
lossless, so the decoder must reproduce the source samples' statistics
exactly — every subframe type, both rice partition orders, the escape
code, wasted bits, and all four stereo modes."""

from __future__ import annotations

import random

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from flac_ref import encode_flac
from osmexpress_spark.operators import multimodal as M


def _stats(channels, bps):
    flat = [v for ch in channels for v in ch]
    full = float(1 << (bps - 1))
    return (
        sum(abs(v) for v in flat) / (len(flat) * full),
        max((abs(v) for v in flat), default=0) / full,
    )


def _rand_channels(nch, bps, total, seed):
    rng = random.Random(seed)
    lim = 1 << (bps - 1)
    return [
        [rng.randrange(-lim, lim) for _ in range(total)]
        for _ in range(nch)
    ]


@pytest.mark.parametrize(
    "nch,bps,bsz,stereo,kinds,po,esc,total",
    [
        (1, 16, 64, "independent",
         ("verbatim", "fixed1", "fixed2", "lpc2"), 0, None, 200),
        (2, 16, 32, "independent", ("fixed2", "lpc2"), 1, None, 100),
        (2, 16, 32, "left-side", ("verbatim", "fixed1"), 0, None, 96),
        (2, 16, 32, "right-side", ("lpc2",), 1, None, 64),
        (2, 16, 32, "mid-side", ("fixed2",), 0, None, 64),
        (1, 8, 16, "independent", ("fixed1",), 1, 1, 48),
        (1, 24, 32, "independent", ("lpc2",), 0, None, 64),
    ],
)
def test_flac_roundtrip_modes(nch, bps, bsz, stereo, kinds, po, esc, total):
    channels = _rand_channels(nch, bps, total, nch * bps + total)
    stream = encode_flac(
        channels, bps=bps, blocksize=bsz, stereo=stereo,
        kinds=kinds, po=po, escape_part=esc,
    )
    got = M.flac_decoder(stream)
    ema, epk = _stats(channels, bps)
    assert got[:3] == [float(nch), 8000.0, float(total)]
    assert got[3] == pytest.approx(ema, abs=1e-15)
    assert got[4] == pytest.approx(epk, abs=1e-15)


def test_flac_constant_and_wasted_bits():
    const = [[42] * 48]
    got = M.flac_decoder(
        encode_flac(const, blocksize=16, kinds=("constant",))
    )
    assert got[2] == 48.0 and got[3] == pytest.approx(42 / 32768.0)
    even = [[v * 2 for v in _rand_channels(1, 15, 64, 5)[0]]]
    got = M.flac_decoder(
        encode_flac(even, blocksize=32, kinds=("wasted",))
    )
    ema, epk = _stats(even, 16)
    assert got[3] == pytest.approx(ema, abs=1e-15)
    assert got[4] == pytest.approx(epk, abs=1e-15)


SET = settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@SET
@given(
    st.integers(1, 3),                      # channels
    st.sampled_from([8, 12, 16, 20]),       # bps
    st.integers(1, 90),                     # total samples
    st.sampled_from([8, 16, 32]),           # block size
    st.integers(0, 1),                      # partition order
    st.randoms(use_true_random=False),
)
def test_flac_roundtrip_property(nch, bps, total, bsz, po, rnd):
    lim = 1 << (bps - 1)
    channels = [
        [rnd.randrange(-lim, lim) for _ in range(total)]
        for _ in range(nch)
    ]
    kinds = ("verbatim", "fixed1", "fixed2", "lpc2")
    stereo = "independent"
    if nch == 2 and total % 2 == 0:
        stereo = rnd.choice(
            ["independent", "left-side", "right-side", "mid-side"]
        )
    stream = encode_flac(
        channels, bps=bps, blocksize=bsz, stereo=stereo,
        kinds=kinds, po=po,
    )
    got = M.flac_decoder(stream)
    ema, epk = _stats(channels, bps)
    assert got[:3] == [float(nch), 8000.0, float(total)]
    assert got[3] == pytest.approx(ema, abs=1e-15)
    assert got[4] == pytest.approx(epk, abs=1e-15)


def test_flac_error_and_stub_shapes():
    with pytest.raises(NotImplementedError, match="mp3/ogg/aac"):
        M.flac_decoder(b"ID3\x03 an mp3")
    stream = encode_flac([[1, 2, 3, 4]], blocksize=4)
    with pytest.raises(ValueError):
        M.flac_decoder(stream[:-3])  # truncated inside the last frame
    broken = bytearray(stream)
    broken[4 + 4 + 34] ^= 0xFF  # corrupt the first frame's sync byte
    with pytest.raises(ValueError, match="frame sync"):
        M.flac_decoder(bytes(broken))


@pytest.mark.parametrize("cut", [30, 41, 42])
def test_flac_cut_in_or_after_streaminfo_is_damage(cut):
    """A stream cut inside STREAMINFO's MD5 (30, 41 bytes) or right
    after it (42, no frame) used to decode as zero frames."""
    stream = encode_flac(_rand_channels(2, 16, 64, 5), bps=16,
                         blocksize=32, stereo="mid-side",
                         kinds=("fixed2", "lpc2"), po=1)
    with pytest.raises(ValueError):
        M.flac_decoder(stream[:cut])


def test_flac_truncated_metadata_block_is_damage():
    stream = bytearray(encode_flac([[1, 2, 3, 4]], blocksize=4))
    stream[4] &= 0x7F  # STREAMINFO no longer last: a PADDING block follows
    padding = bytes([0x81, 0, 1, 0]) + bytes(16)  # declares 256 bytes
    with pytest.raises(ValueError, match="truncated"):
        M.flac_decoder(bytes(stream[:42]) + padding)


def test_audio_decoder_dispatch():
    import io
    import wave

    stream = encode_flac([[100, -100, 50, -50]], blocksize=4)
    assert M.audio_decoder(stream)[0] == 1.0
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(1)
        w.setframerate(8000)
        w.writeframes(bytes([128, 200, 60, 128]))
    assert M.audio_decoder(buf.getvalue())[0] == 1.0
    with pytest.raises(NotImplementedError):
        M.audio_decoder(b"OggS vorbis")


def test_flac_through_extract_features(spark):
    channels = _rand_channels(2, 16, 64, 9)
    stream = encode_flac(channels, blocksize=32, stereo="mid-side",
                         kinds=("fixed2", "lpc2"))
    df = spark.createDataFrame(
        [(1, bytearray(stream)), (2, bytearray(b"ID3 mp3"))],
        "item_id long, payload binary",
    )
    rows = {
        r["item_id"]: r
        for r in M.extract_features(
            df, decoder=M.audio_decoder, modality="audio"
        ).collect()
    }
    ema, epk = _stats(channels, 16)
    assert rows[1]["decode_ok"]
    assert rows[1]["feat"][3] == pytest.approx(ema, abs=1e-15)
    assert rows[1]["feat"][4] == pytest.approx(epk, abs=1e-15)
    assert not rows[2]["decode_ok"]
