"""Compression-container operators for crawl-scale blob columns.

Modern training-data pipelines move compressed bytes end to end —
zstd-framed jsonl shards, gzip WARC members, parquet page codecs — and
the first operation an archive needs is the same one mp3/Ogg archives
need: a structural walk that inventories frames, verifies integrity,
and routes corrupt members OUT of the pipeline instead of killing the
stage.  This module gives zstd (RFC 8878) that treatment:

- `zstd_frame_census` — a pure-stdlib frame/block walk (magic,
  frame-header descriptor, window descriptor, dictionary id, frame
  content size, the 3-byte block headers, checksum trailer).  No
  library needed; the walk itself is the integrity check (a truncated
  or bit-flipped stream desyncs the block chain and raises ValueError).
- `zstd_decoder` — the census PLUS a full decompress through the
  system libzstd via ctypes (the libwebp pattern,
  multimodal.image_decoder_ctypes): content bytes come back out and
  are hashed, and the frame header's declared content size is checked
  against the actual decoded length.  Honest NotImplementedError when
  the library is absent.
- `synth_zstd` — deterministic per-row synthesis (compress the
  document text through the same ctypes binding) for the driver gate:
  the oracle recomputes every census column from the ORIGINAL text, so
  agreement proves the compress -> frame-walk -> decompress -> hash
  pipeline is lossless end to end.

All ops run in the zero-shuffle Arrow seam (mapInPandas via
multimodal.extract_features); nothing here collects or joins.  At
100 TB the unit of work is one blob, the batch is one Arrow page, and
the only cost constant is the (C-speed) libzstd call.
"""

from __future__ import annotations

import hashlib
import struct

from pyspark.sql import DataFrame


ZSTD_MAGIC = 0xFD2FB528
SKIPPABLE_LO = 0x184D2A50
SKIPPABLE_HI = 0x184D2A5F

_LIBZSTD_CACHE: list = []  # [handle_or_None] once probed


def _libzstd_handle():
    """The system libzstd via ctypes, probed once per process (each
    Arrow worker loads it exactly once), or None when absent."""
    if _LIBZSTD_CACHE:
        return _LIBZSTD_CACHE[0]
    import ctypes
    import ctypes.util

    handle = None
    for name in (
        "libzstd.so.1", "libzstd.so", ctypes.util.find_library("zstd")
    ):
        if not name:
            continue
        try:
            z = ctypes.CDLL(name)
        except OSError:
            continue
        z.ZSTD_compressBound.restype = ctypes.c_size_t
        z.ZSTD_compressBound.argtypes = [ctypes.c_size_t]
        z.ZSTD_compress.restype = ctypes.c_size_t
        z.ZSTD_compress.argtypes = [
            ctypes.c_char_p, ctypes.c_size_t,
            ctypes.c_char_p, ctypes.c_size_t, ctypes.c_int,
        ]
        z.ZSTD_decompress.restype = ctypes.c_size_t
        z.ZSTD_decompress.argtypes = [
            ctypes.c_char_p, ctypes.c_size_t,
            ctypes.c_char_p, ctypes.c_size_t,
        ]
        z.ZSTD_isError.restype = ctypes.c_uint
        z.ZSTD_isError.argtypes = [ctypes.c_size_t]
        handle = z
        break
    _LIBZSTD_CACHE.append(handle)
    return handle


def zstd_compress(data: bytes, level: int = 3) -> bytes:
    """One-shot zstd compression through the system library (ctypes).
    Raises NotImplementedError when libzstd is absent — callers that
    synthesize fixtures or write shards need the real codec or
    nothing."""
    import ctypes

    z = _libzstd_handle()
    if z is None:
        raise NotImplementedError("libzstd not available")
    bound = z.ZSTD_compressBound(len(data))
    dst = ctypes.create_string_buffer(bound)
    n = z.ZSTD_compress(dst, bound, data, len(data), level)
    if z.ZSTD_isError(n):
        raise ValueError("zstd compression failed")
    return dst.raw[:n]


def zstd_decompress(data: bytes, content_size: int) -> bytes:
    """One-shot zstd decompression through the system library; the
    caller supplies the expected content size (from the frame header
    census — streams without a declared size are routed to the
    streaming API a consumer would bring)."""
    import ctypes

    z = _libzstd_handle()
    if z is None:
        raise NotImplementedError("libzstd not available")
    dst = ctypes.create_string_buffer(max(1, content_size))
    n = z.ZSTD_decompress(dst, content_size, data, len(data))
    if z.ZSTD_isError(n):
        raise ValueError("zstd stream does not decompress")
    return dst.raw[:n]


def _walk_frames(payload: bytes) -> tuple[int, int, int, int, int]:
    """Structural walk of a concatenation of zstd frames.  Returns
    (n_data_frames, n_skippable, content_size_total, n_blocks,
    n_checksummed); content_size_total is -1 if any data frame omits
    the Frame_Content_Size field.  ValueError on any structural
    violation: the walk must consume the payload exactly."""
    pos, n = 0, len(payload)
    n_data = n_skip = n_blocks = n_ck = 0
    content_total: int | None = 0
    while pos < n:
        if pos + 4 > n:
            raise ValueError("truncated frame magic")
        magic = struct.unpack_from("<I", payload, pos)[0]
        pos += 4
        if SKIPPABLE_LO <= magic <= SKIPPABLE_HI:
            if pos + 4 > n:
                raise ValueError("truncated skippable size")
            size = struct.unpack_from("<I", payload, pos)[0]
            pos += 4
            if pos + size > n:
                raise ValueError("truncated skippable frame")
            pos += size
            n_skip += 1
            continue
        if magic != ZSTD_MAGIC:
            raise ValueError("not a zstd frame")
        if pos >= n:
            raise ValueError("truncated frame header")
        fhd = payload[pos]
        pos += 1
        if fhd & 0x08:
            raise ValueError("reserved FHD bit set")
        fcs_flag = fhd >> 6
        single_segment = bool(fhd & 0x20)
        checksum = bool(fhd & 0x04)
        did_flag = fhd & 0x03
        if not single_segment:
            pos += 1  # window descriptor
        pos += (0, 1, 2, 4)[did_flag]
        fcs_size = (1 if single_segment else 0, 2, 4, 8)[fcs_flag]
        if pos + fcs_size > n:
            raise ValueError("truncated frame header fields")
        if fcs_size == 0:
            content_total = None  # size not declared
        else:
            raw = int.from_bytes(
                payload[pos:pos + fcs_size], "little"
            )
            fcs = raw + 256 if fcs_size == 2 else raw
            if content_total is not None:
                content_total += fcs
        pos += fcs_size
        # block chain: 3-byte LE header, bit0 last, bits1-2 type,
        # bits3-23 size; RLE blocks store exactly one byte
        while True:
            if pos + 3 > n:
                raise ValueError("truncated block header")
            bh = int.from_bytes(payload[pos:pos + 3], "little")
            pos += 3
            last, btype, bsize = bh & 1, (bh >> 1) & 3, bh >> 3
            if btype == 3:
                raise ValueError("reserved block type")
            stored = 1 if btype == 1 else bsize
            if pos + stored > n:
                raise ValueError("truncated block body")
            pos += stored
            n_blocks += 1
            if last:
                break
        if checksum:
            if pos + 4 > n:
                raise ValueError("truncated content checksum")
            pos += 4
            n_ck += 1
        n_data += 1
    if n_data == 0:
        raise ValueError("no zstd data frame")
    return (
        n_data, n_skip,
        -1 if content_total is None else content_total,
        n_blocks, n_ck,
    )


def zstd_frame_census(payload: bytes) -> list[float]:
    """Pure-stdlib zstd inventory census (no library needed):
    [n_data_frames, n_skippable, content_size(-1 if undeclared),
    n_blocks, n_checksummed].  extract_features decoder contract:
    ValueError on structural damage (per-row decode_ok=False)."""
    n_data, n_skip, total, n_blocks, n_ck = _walk_frames(bytes(payload))
    return [
        float(n_data), float(n_skip), float(total),
        float(n_blocks), float(n_ck),
    ]


def zstd_decoder(payload: bytes) -> list[float]:
    """Full zstd decode census: the structural walk PLUS a real
    decompress through the system libzstd, cross-checking the declared
    frame content size against the actual decoded length:
    [n_data_frames, n_skippable, content_size, n_blocks, decoded_len,
    hash48(decoded)].  Multi-data-frame payloads and undeclared-size
    frames are routed to the streaming API a consumer would bring
    (NotImplementedError — same honesty contract as the mp3 PCM
    stub)."""
    b = bytes(payload)
    n_data, n_skip, total, n_blocks, _n_ck = _walk_frames(b)
    if n_data != 1 or total < 0:
        raise NotImplementedError(
            "multi-frame / undeclared-size payloads need streaming decode"
        )
    # strip any leading skippable frames so the one-shot simple API
    # sees the data frame first (libzstd's simple decompress rejects
    # leading skippable content in some versions)
    pos = 0
    while True:
        magic = struct.unpack_from("<I", b, pos)[0]
        if not (SKIPPABLE_LO <= magic <= SKIPPABLE_HI):
            break
        size = struct.unpack_from("<I", b, pos + 4)[0]
        pos += 8 + size
    decoded = zstd_decompress(b[pos:], total)
    if len(decoded) != total:
        raise ValueError("decoded length contradicts frame header")
    h48 = int(hashlib.md5(decoded).hexdigest()[:12], 16)
    return [
        float(n_data), float(n_skip), float(total),
        float(n_blocks), float(len(decoded)), float(h48),
    ]


def synth_zstd(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    skip_mod: int = 9,
    corrupt_mod: int = 13,
) -> DataFrame:
    """Per-row deterministic zstd payloads for the driver gate: the
    document's utf-8 text compressed through the system libzstd at
    level 1 + (byte 0 of md5(f"{id}_z_l") % 19); every `skip_mod`-th
    doc carries a LEADING skippable frame (magic low nibble id%16,
    size byte 1 of the same md5, body md5-derived) the walk must hop;
    every `corrupt_mod`-th doc is truncated by its last 4 bytes — the
    structural-damage branch (decode_ok=False).  The oracle recomputes
    every census column from the ORIGINAL text, so the gate proves the
    compress -> walk -> decompress -> hash pipeline end to end."""
    from .multimodal import synth_payloads

    def make(i: int, text) -> bytes:
        hb = hashlib.md5(f"{i}_z_l".encode()).digest()
        level = 1 + (hb[0] % 19)
        out = b""
        if skip_mod and i % skip_mod == 0:
            body = hashlib.md5(f"{i}_z_s".encode()).digest()[
                : hb[1] % 16 + 1
            ]
            out += struct.pack(
                "<II", SKIPPABLE_LO + i % 16, len(body)
            ) + body
        out += zstd_compress(str(text).encode("utf-8"), level)
        if corrupt_mod and i % corrupt_mod == 0:
            out = out[:-4]
        return out

    return synth_payloads(df.select(id_col, text_col), make)


# ------------------------------------------------------------- brotli
# The third content coding real crawls carry (RFC 7932; 'br' on the
# wire).  Unlike zstd there is no frame census to write — brotli's
# stream layout is bit-packed with no byte-aligned structure worth
# walking — so the operator surface is just the codec pair through the
# system libraries, probed like libzstd/libwebp.

_LIBBROTLI_CACHE: list = []  # [(dec_or_None, enc_or_None)] once probed


def _libbrotli_handles():
    """(libbrotlidec, libbrotlienc) via ctypes, each None when absent;
    probed once per process."""
    if _LIBBROTLI_CACHE:
        return _LIBBROTLI_CACHE[0]
    import ctypes
    import ctypes.util

    def load(stem, names):
        for name in names + (ctypes.util.find_library(stem),):
            if not name:
                continue
            try:
                return ctypes.CDLL(name)
            except OSError:
                continue
        return None

    dec = load("brotlidec", ("libbrotlidec.so.1", "libbrotlidec.so"))
    enc = load("brotlienc", ("libbrotlienc.so.1", "libbrotlienc.so"))
    if dec is not None:
        dec.BrotliDecoderDecompress.restype = ctypes.c_int
        dec.BrotliDecoderDecompress.argtypes = [
            ctypes.c_size_t, ctypes.c_char_p,
            ctypes.POINTER(ctypes.c_size_t), ctypes.c_char_p,
        ]
    if enc is not None:
        enc.BrotliEncoderCompress.restype = ctypes.c_int
        enc.BrotliEncoderCompress.argtypes = [
            ctypes.c_int, ctypes.c_int, ctypes.c_int,
            ctypes.c_size_t, ctypes.c_char_p,
            ctypes.POINTER(ctypes.c_size_t), ctypes.c_char_p,
        ]
    _LIBBROTLI_CACHE.append((dec, enc))
    return _LIBBROTLI_CACHE[0]


def brotli_compress(data: bytes, quality: int = 5) -> bytes:
    """One-shot brotli compression through the system libbrotlienc
    (fixture/writer side).  NotImplementedError when absent."""
    import ctypes

    _, enc = _libbrotli_handles()
    if enc is None:
        raise NotImplementedError("libbrotlienc not available")
    bound = len(data) + (len(data) >> 1) + 1024
    dst = ctypes.create_string_buffer(bound)
    out_len = ctypes.c_size_t(bound)
    ok = enc.BrotliEncoderCompress(
        quality, 22, 0, len(data), data, ctypes.byref(out_len), dst
    )
    if not ok:
        raise ValueError("brotli compression failed")
    return dst.raw[: out_len.value]


def brotli_decompress(data: bytes, max_output: int = 1 << 28) -> bytes:
    """One-shot brotli decompression through the system libbrotlidec.
    HTTP 'br' content declares no decompressed size, so the output
    buffer grows geometrically up to `max_output` (the zip-bomb guard
    a crawl pipeline needs anyway).  ValueError on a stream that does
    not decode; NotImplementedError when the library is absent."""
    import ctypes

    dec, _ = _libbrotli_handles()
    if dec is None:
        raise NotImplementedError("libbrotlidec not available")
    size = max(4 * len(data) + 1024, 1 << 14)
    while True:
        size = min(size, max_output)
        dst = ctypes.create_string_buffer(size)
        out_len = ctypes.c_size_t(size)
        rc = dec.BrotliDecoderDecompress(
            len(data), data, ctypes.byref(out_len), dst
        )
        if rc == 1:  # BROTLI_DECODER_RESULT_SUCCESS
            return dst.raw[: out_len.value]
        if size >= max_output:
            raise ValueError(
                "brotli stream does not decode (or exceeds the "
                "output guard)"
            )
        size *= 4
