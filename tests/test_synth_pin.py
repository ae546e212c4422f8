"""Byte pin for every synthetic-payload encoder: each `synth_*` runs
with its default parameters over doc ids 0..499 (every stub_mod,
corrupt_mod, plain_mod and skip_mod branch fires in that range), and
the sha256 of its (item_id, payload) rows is pinned.  A refactor of an
encoder or of the batch seam it runs in must leave every payload byte
unchanged."""

from __future__ import annotations

import ctypes
import hashlib

import pytest

from osmexpress_spark.operators import compress
from osmexpress_spark.operators import multimodal as M
from osmexpress_spark.sources import warc

N_IDS = 500

# name -> (encoder, whether it reads the text column)
ENCODERS = {
    "synth_adts": (M.synth_adts, True),
    "synth_au_ulaw": (M.synth_au_ulaw, False),
    "synth_bmp24": (M.synth_bmp24, False),
    "synth_encoded": (M.synth_encoded, True),
    "synth_flac8": (M.synth_flac8, False),
    "synth_jpeg_lossless": (M.synth_jpeg_lossless, False),
    "synth_mp3_frames": (M.synth_mp3_frames, False),
    "synth_mp3_l3": (M.synth_mp3_l3, False),
    "synth_mp3_pcm": (M.synth_mp3_pcm, False),
    "synth_ogg": (M.synth_ogg, False),
    "synth_vorbis": (M.synth_vorbis, False),
    "synth_vorbis_pcm": (M.synth_vorbis_pcm, False),
    "synth_warc": (warc.synth_warc, True),
    "synth_wav8": (M.synth_wav8, False),
    "synth_wav_g711": (M.synth_wav_g711, False),
    "synth_wav_ima": (M.synth_wav_ima, False),
    "synth_webp_lossless": (M.synth_webp_lossless, False),
    "synth_zstd": (compress.synth_zstd, True),
}

# sha256 of the rows, recorded on the per-encoder batch loops that the
# shared seam replaced
EXPECTED = {
    "synth_adts": "f1678c16ade2d2935c44088f52598c3f280188a637535c0dee9c280510bfb16c",
    "synth_au_ulaw": "03d09374720052842e841f07d49c417326fcbb221c7986c6cb26e9c2133ea7a3",
    "synth_bmp24": "2abc2f089ea778ebb355623ca35eb4417861a986382c10553468abf6cde1a049",
    "synth_encoded": "798bd871f39a8e47fd8f135d7e8679d309e1b2dfbbe2b2b08b504a816c6e80a0",
    "synth_flac8": "a96bee270b9c3c5892907a19816737bd5cb8b32cba1cd9cf7c2ee853fb44391e",
    "synth_jpeg_lossless": "28424222e2fc4cee7301e00679afde9d86361b0e33ef4ec33e6a613943846140",
    "synth_mp3_frames": "fe5d9062ea5ce71301c44993c7b6eb07a3e4d38b8f348a0a1867324cc16dfb8f",
    "synth_mp3_l3": "16954e5af30e691eb4b4e989279afd127eb0c306931f08f8b4d3cbcce353ec08",
    "synth_mp3_pcm": "c301310ac174f1119d7b5d24d9a4de13904d2768dc08a200970d8a024210f782",
    "synth_ogg": "f7d04df10a6adffd41ee110a21f01d6fd7229f938f523d1386311c947b08e649",
    "synth_vorbis": "98ceebf0841c6890dcc89e3de6f52fe7b04743e7412f3afcdeb26e655a61c03f",
    "synth_vorbis_pcm": "f99f18029fe48ae2d87e49b2812af50b1c9ad3f5d8b1550fcea7b3749cfde32f",
    "synth_warc": "2b423d762af6735dc7094db394996122056c3265a7c9a51c5be275e06edc0c03",
    "synth_wav8": "c9c2e4d842f379f26e29f0568ca186feb7c52d180bcc05bcd200c12fc59fa75f",
    "synth_wav_g711": "d83cdc0137a985120738ba6ffd7af0249486b1aedfc47361596b5cb9ff797e69",
    "synth_wav_ima": "983b461ce02a026639142a40309e4e88f11b1d94cc58103b5da1cb060c66179a",
    "synth_webp_lossless": "581efa9d3c780628d73c20e693a3815aa047b51ea48de234c19d7d70ed483123",
    "synth_zstd": "7807586f17715a5776382e33a29ee7b5df2ce9a45613c7b9f3d64d01d94f443b",
}

# synth_zstd compresses through the system libzstd, whose output may
# change between library versions; its pin holds for this version only
ZSTD_VERSION = 10504


def _zstd_version() -> int | None:
    z = compress._libzstd_handle()
    if z is None:
        return None
    z.ZSTD_versionNumber.restype = ctypes.c_uint
    z.ZSTD_versionNumber.argtypes = []
    return z.ZSTD_versionNumber()


def _text(i: int) -> str:
    """Deterministic document text: empty every 50th id, a latin-1
    accent on every third, otherwise 1..23 short words."""
    if i % 50 == 0:
        return ""
    words = " ".join(f"w{(i * 7 + k) % 113}" for k in range(i % 23 + 1))
    return words + (" café" if i % 3 == 0 else "")


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [(i, _text(i)) for i in range(N_IDS)], "doc_id long, text string"
    )


def rows_digest(rows) -> str:
    h = hashlib.sha256()
    for item_id, payload in sorted(rows):
        payload = bytes(payload)
        h.update(item_id.to_bytes(8, "little", signed=True))
        h.update(len(payload).to_bytes(8, "little"))
        h.update(payload)
    return h.hexdigest()


@pytest.mark.parametrize("name", sorted(ENCODERS))
def test_synth_payload_bytes_pinned(docs, name):
    encoder, takes_text = ENCODERS[name]
    if name == "synth_zstd" and _zstd_version() != ZSTD_VERSION:
        pytest.skip("host libzstd differs from the recorded version")
    frame = docs if takes_text else docs.select("doc_id")
    rows = [(r["item_id"], r["payload"]) for r in encoder(frame).collect()]
    assert sorted(i for i, _ in rows) == list(range(N_IDS))
    assert rows_digest(rows) == EXPECTED[name]
