"""Round-10 crawl-ingestion operators: zstd frame walk + ctypes
decode, WARC member split/record parse, URL grammar, charset sniff
ladder, Ogg page walk.

Cross-validation strategy per operator:
- zstd: HANDCRAFTED frames (raw + RLE blocks, built byte-by-byte from
  RFC 8878) must decompress through the SYSTEM libzstd to the expected
  bytes — the reference implementation adjudicates our reading of the
  spec, not our own code; the pure walk is additionally pinned against
  libzstd-compressed output at several levels.
- WARC: record grammar pinned against hand-written archives and the
  synth round trip; every damage branch raises ValueError.
- Ogg: the table-driven CRC is cross-checked against an INDEPENDENT
  bit-by-bit MSB-first implementation on multiple inputs; page walk
  pinned on a handcrafted page.
- charset: the sniff ladder's five branches and the cross-encoding
  hash-equality property (same text, five charsets, one hash).
- URL: RFC 3986 normalization cases Spark-side.
"""

from __future__ import annotations

import hashlib
import struct
import zlib

import pytest

from osmexpress_spark.operators import compress as C
from osmexpress_spark.operators import multimodal as M
from osmexpress_spark.operators import text as X
from osmexpress_spark.sources import warc as W

# ---------------------------------------------------------------- zstd


from conftest import assert_no_key_exchange  # noqa: E402

def test_zstd_handcrafted_raw_block_decodes_via_libzstd():
    # magic + FHD(single-segment, fcs_flag=0 -> 1-byte FCS) + fcs=5
    # + block header (last=1, type=raw, size=5) + "hello"
    frame = (
        struct.pack("<I", C.ZSTD_MAGIC)
        + bytes([0x20, 5])
        + (5 << 3 | 0 << 1 | 1).to_bytes(3, "little")
        + b"hello"
    )
    assert C.zstd_decompress(frame, 5) == b"hello"
    assert C.zstd_frame_census(frame) == [1.0, 0.0, 5.0, 1.0, 0.0]
    assert C.zstd_decoder(frame)[4:] == [
        5.0, float(int(hashlib.md5(b"hello").hexdigest()[:12], 16))
    ]


def test_zstd_handcrafted_rle_block_decodes_via_libzstd():
    frame = (
        struct.pack("<I", C.ZSTD_MAGIC)
        + bytes([0x20, 4])
        + (4 << 3 | 1 << 1 | 1).to_bytes(3, "little")
        + b"a"
    )
    assert C.zstd_decompress(frame, 4) == b"aaaa"
    assert C.zstd_frame_census(frame) == [1.0, 0.0, 4.0, 1.0, 0.0]


@pytest.mark.parametrize("level", [1, 3, 9, 19])
def test_zstd_walk_agrees_with_libzstd_output(level):
    src = (b"the quick brown fox " * 37)[:600]
    blob = C.zstd_compress(src, level)
    n_data, n_skip, total, n_blocks, _ = C._walk_frames(blob)
    assert (n_data, n_skip, total) == (1, 0, len(src))
    assert n_blocks >= 1
    feat = C.zstd_decoder(blob)
    assert feat[2] == feat[4] == float(len(src))


def test_zstd_walk_failure_branches():
    good = C.zstd_compress(b"abc" * 50, 3)
    with pytest.raises(ValueError):
        C.zstd_frame_census(good[:-3])  # truncated
    with pytest.raises(ValueError):
        C.zstd_frame_census(b"\x00" * 16)  # wrong magic
    # reserved block type 3 in a handcrafted frame
    bad = (
        struct.pack("<I", C.ZSTD_MAGIC)
        + bytes([0x20, 1])
        + (1 << 3 | 3 << 1 | 1).to_bytes(3, "little")
        + b"x"
    )
    with pytest.raises(ValueError):
        C.zstd_frame_census(bad)
    # reserved FHD bit
    with pytest.raises(ValueError):
        C.zstd_frame_census(struct.pack("<I", C.ZSTD_MAGIC) + bytes([0x28]))


def test_zstd_skippable_frames_hop_and_count():
    data = C.zstd_compress(b"payload bytes", 3)
    skip = struct.pack("<II", C.SKIPPABLE_LO + 7, 5) + b"JUNK!"
    feat = C.zstd_decoder(skip + data)
    assert feat[1] == 1.0 and feat[4] == 13.0
    # multi-data-frame payloads route to streaming (honest stub)
    with pytest.raises(NotImplementedError):
        C.zstd_decoder(data + data)
    # but the pure census still walks them
    assert C.zstd_frame_census(data + data)[0] == 2.0


# ---------------------------------------------------------------- WARC


def _gz(b: bytes) -> bytes:
    return zlib.compress(b, 6, wbits=31)


def test_warc_member_split_and_record_parse():
    r1 = W._record("request", "https://x.org/1", b"GET / HTTP/1.1\r\n\r\n")
    body = b"<html>hi</html>"
    http = b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" + body
    r2 = W._record("response", "https://x.org/1", http)
    recs = W.parse_warc(_gz(r1) + _gz(r2))
    assert [r["warc_type"] for r in recs] == ["request", "response"]
    assert recs[1]["http_status"] == 200
    assert recs[1]["body"] == body
    assert recs[1]["content_length"] == len(http)
    # the raw (uncompressed) branch parses identically
    assert W.parse_warc(r1 + r2)[1]["body"] == body


def test_warc_damage_branches():
    r = W._record("response", "https://x.org/2",
                  b"HTTP/1.1 200 OK\r\n\r\nbody")
    with pytest.raises(ValueError):
        W.parse_warc(_gz(r)[:-4])  # truncated member
    with pytest.raises(ValueError):
        W.parse_warc(b"NOT-WARC/1.0\r\n\r\n")  # bad version line
    with pytest.raises(ValueError):
        # Content-Length overruns the buffer
        W.parse_warc(
            b"WARC/1.0\r\nWARC-Type: metadata\r\n"
            b"Content-Length: 999\r\n\r\nshort"
        )
    with pytest.raises(ValueError):
        # missing the two-CRLF record separator
        W.parse_warc(
            b"WARC/1.0\r\nWARC-Type: metadata\r\n"
            b"Content-Length: 2\r\n\r\nabXX"
        )
    with pytest.raises(ValueError):
        W.parse_warc(b"")


def test_warc_synth_round_trip_statuses():
    for i in (1, 4, 20, 33):
        text = f"body {i} " * 7
        recs = W.parse_warc(
            b"".join(_gz(r) for r in W._synth_records(i, text))
        )
        resp = [r for r in recs if r["warc_type"] == "response"][0]
        hb = hashlib.md5(f"{i}_w_s".encode()).digest()
        status = W._HTTP_STATUSES[hb[0] % 6]
        assert resp["http_status"] == status
        assert resp["body"] == text.encode()
        assert resp["content_length"] == (
            43 + len(W._HTTP_REASONS[status]) + len(text.encode())
        )
        assert len(recs) == (2 if i % 4 == 0 else 1)


# ----------------------------------------------------------------- Ogg


def _crc_bitwise(data: bytes) -> int:
    """Independent Ogg CRC: bit-by-bit MSB-first, poly 0x04C11DB7,
    zero init, no reflection, no xorout — written without the table
    so a table-generation bug cannot hide."""
    crc = 0
    for byte in data:
        crc ^= byte << 24
        for _ in range(8):
            crc = ((crc << 1) ^ 0x04C11DB7 if crc & 0x80000000
                   else crc << 1) & 0xFFFFFFFF
    return crc


@pytest.mark.parametrize(
    "data", [b"", b"vorbis", b"OggS" + bytes(range(200)), b"\xff" * 64]
)
def test_ogg_crc_table_matches_independent_bitwise(data):
    assert M._ogg_crc(data) == _crc_bitwise(data)


def _ogg_page(body: bytes, lacing: list[int], flags: int,
              granule: int, serial: int, seq: int) -> bytes:
    head = (
        b"OggS\x00" + bytes([flags])
        + struct.pack("<qIII", granule, serial, seq, 0)
        + bytes([len(lacing)]) + bytes(lacing)
    )
    crc = M._ogg_crc(head + body)
    return head[:22] + struct.pack("<I", crc) + head[26:] + body


def test_ogg_handcrafted_stream_census():
    ident = (
        b"\x01vorbis" + struct.pack("<I", 0) + bytes([2])
        + struct.pack("<I", 44100) + struct.pack("<iii", 0, 128000, 0)
        + b"\xb8\x01"
    )
    p0 = _ogg_page(ident, [len(ident)], 0x02, 0, 77, 0)
    # one page, two packets: a 10-byte one and a 300-byte continued one
    body = bytes(310)
    p1 = _ogg_page(body, [10, 255, 45], 0x04, 1024, 77, 1)
    feat = M.ogg_census(p0 + p1)
    assert feat == [2.0, 3.0, float(len(ident) + 310), 2.0, 44100.0, 1024.0]


def test_ogg_failure_branches():
    ident = (
        b"\x01vorbis" + struct.pack("<I", 0) + bytes([1])
        + struct.pack("<I", 8000) + struct.pack("<iii", 0, 0, 0)
        + b"\xb8\x01"
    )
    page = _ogg_page(ident, [len(ident)], 0x02, 0, 5, 0)
    bad = bytearray(page)
    bad[-1] ^= 1
    with pytest.raises(ValueError):
        M.ogg_census(bytes(bad))  # CRC mismatch
    with pytest.raises(ValueError):
        M.ogg_census(b"NotO" + page[4:])  # capture pattern
    with pytest.raises(ValueError):
        M.ogg_census(page[:-5])  # truncated body
    with pytest.raises(ValueError):
        M.ogg_census(b"")  # empty
    # BOS page must carry the Vorbis identification header
    nonv = _ogg_page(b"\x02junkpacketbodyofenoughlengthxx",
                     [31], 0x02, 0, 5, 0)
    with pytest.raises(ValueError):
        M.ogg_census(nonv)


# -------------------------------------------------------------- charset


def test_charset_branches_and_cross_encoding_hash_equality():
    text = "shared corpus text 42"
    payloads = {
        "utf-8": text.encode(),
        "utf-8-bom": b"\xef\xbb\xbf" + text.encode(),
        "utf-16le": b"\xff\xfe" + text.encode("utf-16-le"),
        "utf-16be": b"\xfe\xff" + text.encode("utf-16-be"),
    }
    hashes = set()
    for enc, payload in payloads.items():
        code, n_chars, h = M.charset_decoder(payload)
        assert code == float(M.CHARSET_CODES[enc]), enc
        assert n_chars == float(len(text))
        hashes.add(h)
    assert len(hashes) == 1  # same text, one hash, any charset
    # latin-1 fallback on bytes invalid as utf-8
    code, n_chars, _ = M.charset_decoder(
        (text + M._LATIN1_SUFFIX).encode("latin-1")
    )
    assert code == float(M.CHARSET_CODES["latin-1"])
    assert n_chars == float(len(text) + len(M._LATIN1_SUFFIX))
    # torn utf-16 under its BOM raises; bare high bytes fall back total
    with pytest.raises(ValueError):
        M.charset_decoder(b"\xff\xfe" + text.encode("utf-16-le")[:-1])
    assert M.charset_decoder(b"\x80\xfd")[0] == float(
        M.CHARSET_CODES["latin-1"]
    )


# ------------------------------------------------------------------ URL


def test_url_normalize_cases(spark):
    from pyspark.sql import functions as F

    cases = [
        ("HTTPS://WWW.Ex.ORG:443/a/b?z=1&a=2#f",
         "https://www.ex.org/a/b?a=2&z=1"),
        ("http://Host.NET:8080/x//y?b=2", "http://host.net:8080/x//y?b=2"),
        ("https://single.io", "https://single.io/"),
        ("http://h.io:80/p", "http://h.io/p"),
        ("ftp://f.example.com:21/d", "ftp://f.example.com/d"),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "url string")
    got = [
        r[0]
        for r in df.select(X.url_normalize(F.col("url"))).collect()
    ]
    assert got == [want for _, want in cases]


def test_url_parts_and_depth(spark):
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [("https://a.b.c.example.co:9000/x/y/z?p=1&q=2&r=3",)],
        "url string",
    )
    row = df.select(
        X.url_scheme(F.col("url")).alias("s"),
        X.url_host(F.col("url")).alias("h"),
        X.registrable_domain(F.col("url")).alias("d"),
        X.url_port(F.col("url")).alias("p"),
        X.url_path_depth(F.col("url")).alias("n"),
        X.url_param_count(F.col("url")).alias("k"),
    ).collect()[0]
    assert (row.s, row.h, row.d, row.p, row.n, row.k) == (
        "https", "a.b.c.example.co", "example.co", 9000, 3, 3
    )


# ---------------------------------------------------------------- plans


@pytest.mark.slow
def test_round10_staged_plans_stay_jvm_side(spark):
    """The four blob gates are single zero-shuffle Arrow seams up to
    their (bounded-output) aggregates; q_url_parse is pure whole-stage
    codegen — NO Python evaluation anywhere in its plan."""
    from osmexpress_spark import registry

    SF_DIR = "/root/testdata/sf0.001"

    def final_plan(df):
        df.write.format("noop").mode("overwrite").save()
        return df._jdf.queryExecution().executedPlan().toString()

    for name in ("q_zstd_census", "q_warc_census", "q_charset_decode",
                 "q_ogg_census", "q_url_parse"):
        plan = final_plan(registry.queries()[name](spark, SF_DIR))
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
        if name == "q_url_parse":
            # all-JVM scan-side expressions (the higher-order
            # array filter keeps the Project out of whole-stage
            # codegen, but nothing leaves the JVM) and the scan
            # prunes to the one column the fixture derives from
            assert "MapInPandas" not in plan
            assert "ReadSchema: struct<doc_id:bigint>" in plan
        elif name != "q_warc_census":
            # blob census gates: one Arrow seam; no payload or
            # key shuffle (the r11 scale-adaptive seam fan-out may
            # round-robin the tiny id column before the seam)
            assert "MapInPandas" in plan
            assert_no_key_exchange(plan, name)
        else:
            # the WARC rollup aggregates record rows: exactly one
            # shuffle (map-side combined), after the Arrow seam
            assert "MapInPandas" in plan
            assert plan.count("Exchange hashpartitioning") <= 1


def test_mp3_decode_gate_plan(spark):
    """q_audio_mp3_decode: one zero-shuffle Arrow seam (synth +
    decode chained mapInPandas), no joins, no Exchange."""
    from osmexpress_spark import registry

    df = registry.queries()["q_audio_mp3_decode"](
        spark, "/root/testdata/sf0.001"
    )
    df.write.format("noop").mode("overwrite").save()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan
    # no key/payload shuffle; the r11 scale-adaptive seam fan-out
    # may round-robin the tiny id column before the Arrow seam
    assert_no_key_exchange(plan)
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_record_linkage_gate_plan(spark):
    """q_record_linkage: the whole linkage pipeline (soundex blocks,
    hot-block cap, bounded levenshtein) is one JVM equi-join tree —
    no Python stages, no cartesian, and the hot-block drop is the
    BROADCAST left-anti join the operator promises."""
    from osmexpress_spark import registry

    df = registry.queries()["q_record_linkage"](
        spark, "/root/testdata/sf0.001"
    )
    df.write.format("noop").mode("overwrite").save()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "MapInPandas" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    # Catalyst constant-folds the literal flood name's soundex to
    # 'X631', so THAT branch's hot-block anti-join becomes a 1-row
    # (LocalLimit 1) LeftAnti BNLJ — the only nested-loop shape
    # allowed; an Inner BNLJ would mean the pair join degenerated.
    assert plan.count("BroadcastNestedLoopJoin") == plan.count(
        "BroadcastNestedLoopJoin BuildRight, LeftAnti"
    )


# ------------------------------------------------------ file-based WARC


def test_read_warc_files_end_to_end(spark, tmp_path):
    for f in range(3):
        blob = b"".join(
            _gz(r)
            for i in range(f * 5, f * 5 + 5)
            for r in W._synth_records(i, f"file {f} doc {i} body")
        )
        (tmp_path / f"part-{f}.warc.gz").write_bytes(blob)
    # a non-warc file the glob must skip
    (tmp_path / "manifest.json").write_bytes(b"{}")
    df = W.read_warc(spark, str(tmp_path))
    rows = df.collect()
    resp = [r for r in rows if r.warc_type == "response"]
    assert len(resp) == 15
    assert all(r.path and r.path.endswith(".warc.gz") for r in rows)
    assert len({r.item_id for r in rows}) == 3
    # raw frame for bring-your-own-parser callers
    raw = W.read_warc(spark, str(tmp_path), records=False)
    assert raw.count() == 3 and set(raw.columns) == {
        "path", "item_id", "payload"
    }


@pytest.mark.slow
def test_warc_census_stream_two_epochs(spark, tmp_path):
    """The crawl-drop monitor: two epochs land as separate idempotent
    parquet censuses keyed by the data's epoch label."""
    from osmexpress_spark.streaming import watermark_ops as WO

    src = tmp_path / "drop"
    src.mkdir()
    out = str(tmp_path / "census")
    ckpt = str(tmp_path / "ckpt")

    def drop(day: str, ids):
        import json

        rows = []
        for i in ids:
            blob = b"".join(
                _gz(r) for r in W._synth_records(i, f"epoch {day} doc {i}")
            )
            rows.append({
                "item_id": i, "epoch": day,
                "payload_b64": __import__("base64").b64encode(blob).decode(),
            })
        (src / f"{day}.json").write_text(
            "\n".join(json.dumps(r) for r in rows)
        )

    drop("d1", [1, 2, 4])
    drop("d2", [3, 8])
    from pyspark.sql import functions as F

    stream = (
        spark.readStream.schema(
            "item_id long, epoch string, payload_b64 string"
        )
        .json(str(src))
        .select(
            "item_id", "epoch",
            F.unbase64(F.col("payload_b64")).alias("payload"),
        )
    )
    q = WO.warc_census_stream(stream, out, ckpt)
    q.awaitTermination(120)
    d1 = spark.read.parquet(out + "/epoch=d1")
    d2 = spark.read.parquet(out + "/epoch=d2")
    assert (
        d1.agg(F.sum("n_records")).collect()[0][0] == 4  # 3 resp + 1 req
    )
    assert d2.agg(F.sum("n_records")).collect()[0][0] == 3  # 2 resp + 1 req
    assert d1.where(F.col("warc_type") == "damaged").count() == 0


# --------------------------------------------------------- mp3 metadata


def _syncsafe(n: int) -> bytes:
    return bytes(
        [(n >> 21) & 0x7F, (n >> 14) & 0x7F, (n >> 7) & 0x7F, n & 0x7F]
    )


def _id3_frame_v4(fid: str, text: str, enc: int = 3) -> bytes:
    codec = ("latin-1", "utf-16", "utf-16-be", "utf-8")[enc]
    body = bytes([enc]) + text.encode(codec)
    return fid.encode() + _syncsafe(len(body)) + b"\x00\x00" + body


def _mp3_first_frame(mode: int, xing: bytes | None) -> bytes:
    hdr = (
        (0x7FF << 21) | (3 << 19) | (1 << 17) | (1 << 16)
        | (9 << 12) | (mode << 6)
    )
    flen = 144000 * 128 // 44100
    side = b"\x00" * (17 if mode == 3 else 32)
    body = (side + (xing or b"")).ljust(flen - 4, b"\x00")
    return struct.pack(">I", hdr) + body


def test_id3v2_text_frames_and_xing():
    frames = (
        _id3_frame_v4("TIT2", "My Title")
        + _id3_frame_v4("TPE1", "An Artist", enc=1)
        + _id3_frame_v4("TALB", "Album", enc=0)
    )
    tag = b"ID3\x04\x00\x00" + _syncsafe(len(frames)) + frames
    xing = (
        b"Xing" + struct.pack(">I", 0x7)
        + struct.pack(">II", 5000, 1234567) + b"\x00" * 100
    )
    payload = tag + _mp3_first_frame(1, xing)
    assert M.id3v2_text_frames(payload) == {
        "TIT2": "My Title", "TPE1": "An Artist", "TALB": "Album"
    }
    assert M.mp3_xing_parse(payload) == (5000, 1234567, -1)
    exp = float(int(hashlib.md5(b"My Title").hexdigest()[:12], 16))
    assert M.mp3_stream_info(payload) == [
        3.0, exp, 5000.0, 1234567.0, -1.0
    ]


def test_mp3_metadata_fallbacks_and_damage():
    # CBR mono stream: no tag, no Xing — the O(1) path reports absence
    cbr = _mp3_first_frame(3, None)
    assert M.id3v2_text_frames(cbr) == {}
    assert M.mp3_xing_parse(cbr) == (-1, -1, -1)
    assert M.mp3_stream_info(cbr)[:3] == [0.0, -1.0, -1.0]
    # Info tag (CBR files written by lame) parses like Xing
    info = b"Info" + struct.pack(">I", 0x1) + struct.pack(">I", 42)
    assert M.mp3_xing_parse(_mp3_first_frame(3, info))[0] == 42
    # damage branches
    with pytest.raises(ValueError):
        M.id3v2_text_frames(b"ID3\x04\x00\x00\xff\xff\xff\xff")
    frames = _id3_frame_v4("TIT2", "x")
    bad = b"ID3\x04\x00\x00" + _syncsafe(len(frames) + 50) + frames
    with pytest.raises(ValueError):
        M.id3v2_text_frames(bad)  # tag size past payload
    with pytest.raises(ValueError):
        M.mp3_xing_parse(b"\x00" * 16)  # not a frame header


# -------------------------------------------------------------- robots


def test_parse_robots_groups_and_precedence():
    from osmexpress_spark.operators import crawl as CR

    txt = (
        "# global\nUser-agent: *\nDisallow: /private/\n"
        "Allow: /private/pub/\nDisallow: /tmp\n\n"
        "User-agent: gptbot\nDisallow: /\n\n"
        "User-agent: archiver\nUser-agent: indexer\n"
        "Disallow: /search\nCrawl-delay: 5\n"
    )
    assert CR.parse_robots(txt) == [
        (False, "/private/"), (True, "/private/pub/"), (False, "/tmp")
    ]
    # exact agent group beats '*'; grouped user-agent lines share rules
    assert CR.parse_robots(txt, "GPTBot") == [(False, "/")]
    assert CR.parse_robots(txt, "indexer") == [(False, "/search")]
    # empty Disallow = allow-all, contributes nothing
    assert CR.parse_robots("User-agent: *\nDisallow:") == []


@pytest.mark.slow
def test_robots_admit_longest_match_allow_ties(spark):
    from pyspark.sql import functions as F

    from osmexpress_spark.operators import crawl as CR

    robots = spark.createDataFrame(
        [
            ("a.org",
             "User-agent: *\nDisallow: /private/\nAllow: /private/pub/"),
            ("b.org", "User-agent: *\nAllow: /ok\nDisallow: /"),
        ],
        "domain string, robots_txt string",
    )
    rules = CR.robots_rules(robots)
    urls = spark.createDataFrame(
        [
            (1, "a.org", "/private/pub/x"),   # longest match: allow
            (2, "a.org", "/private/secret"),  # disallow
            (3, "a.org", "/open"),            # no rule -> admit
            (4, "b.org", "/ok/page"),         # /ok beats /
            (5, "b.org", "/nope"),            # disallow /
            (6, "c.org", "/x"),               # no robots -> admit
        ],
        "url_id long, domain string, path string",
    )
    out = CR.robots_admit(urls, rules)
    got = {r.url_id: (r.admitted, r.n_rules_matched) for r in out.collect()}
    assert got == {
        1: (True, 2), 2: (False, 1), 3: (True, 0),
        4: (True, 2), 5: (False, 1), 6: (True, 0),
    }
    # the rules side broadcasts; the URL table never pre-shuffles
    out.write.format("noop").mode("overwrite").save()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan


# ----------------------------------------- bodies / decode_text / e2e


def test_warc_bodies_and_decode_text(spark):
    from pyspark.sql import functions as F

    from osmexpress_spark.operators import multimodal as MM

    blobs = []
    for i, (text_s, enc) in enumerate(
        [("plain ascii", "utf-8"), ("caf\xe9 latin", "latin-1")]
    ):
        http = (
            b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"
            + text_s.encode(enc)
        )
        blobs.append(
            (i, bytearray(_gz(W._record(
                "response", f"https://x.org/{i}", http
            ))))
        )
    df = spark.createDataFrame(blobs, "item_id long, payload binary")
    bodies = W.warc_bodies(df)
    decoded = MM.decode_text(
        bodies.select("item_id", "target_uri", "body"),
        payload_col="body", out_col="text",
    )
    got = {r.item_id: r.text for r in decoded.collect()}
    assert got == {0: "plain ascii", 1: "caf\xe9 latin"}
    # damaged payloads: one rec_idx=-1 row, NULL body -> NULL text
    dmg = spark.createDataFrame(
        [(9, bytearray(b"\x1f\x8b garbage"))], "item_id long, payload binary"
    )
    row = MM.decode_text(
        W.warc_bodies(dmg), payload_col="body", out_col="text"
    ).collect()[0]
    assert row.rec_idx == -1 and row.text is None


@pytest.mark.slow
def test_crawl_ingest_example_end_to_end(spark, tmp_path):
    """The composed pipeline (examples/crawl_ingest.py): WARC files ->
    charset -> html_strip -> URL canonicalize -> robots -> URL dedup
    -> documents schema."""
    import sys as _sys

    _sys.path.insert(0, "/root/repo/examples")
    import crawl_ingest

    d = tmp_path / "warc"
    d.mkdir()

    def resp(uri, status, body):
        http = (
            f"HTTP/1.1 {status} X\r\nContent-Type: text/html\r\n\r\n"
        ).encode() + body
        return W._record("response", uri, http)

    recs = [
        resp("https://A.org/page?b=2&a=1", 200,
             b"<html><body>Hello <b>world</b></body></html>"),
        resp("https://a.org/page?a=1&b=2", 200, b"<p>same url dup</p>"),
        resp("https://a.org/private/x", 200, b"<p>blocked</p>"),
        resp("https://b.net/gone", 404, b"not found"),
        resp("https://b.net/fine", 200,
             "<p>caf\xe9 latin</p>".encode("latin-1")),
    ]
    (d / "x.warc.gz").write_bytes(b"".join(_gz(r) for r in recs))
    robots = str(tmp_path / "robots.parquet")
    spark.createDataFrame(
        [("a.org", "User-agent: *\nDisallow: /private/")],
        "domain string, robots_txt string",
    ).write.parquet(robots)
    rows = sorted(
        crawl_ingest.ingest(spark, str(d), robots).collect(),
        key=lambda r: r.source,
    )
    # dedup'd a.org page + b.net/fine; /private blocked; 404 dropped
    assert [r.source for r in rows] == [
        "https://a.org/page?a=1&b=2", "https://b.net/fine"
    ]
    assert rows[1].text == "caf\xe9 latin"
    assert rows[0].domain == "a.org" and rows[0].n_chars > 0


# ---------------------------------------- HTTP wire-form body decoding


def _http_rec(headers: bytes, body: bytes) -> bytes:
    http = b"HTTP/1.1 200 OK\r\n" + headers + b"\r\n" + body
    return W._record("response", "https://x.org/e", http)


def test_http_content_encodings_decode():
    text = b"the actual page body text " * 4
    # gzip / deflate (zlib-wrapped AND the bare form some servers send)
    gz = zlib.compress(text, 6, wbits=31)
    assert W.parse_warc(
        _http_rec(b"Content-Encoding: gzip\r\n", gz)
    )[0]["body"] == text
    assert W.parse_warc(
        _http_rec(b"Content-Encoding: deflate\r\n", zlib.compress(text))
    )[0]["body"] == text
    c = zlib.compressobj(6, zlib.DEFLATED, -15)
    bare = c.compress(text) + c.flush()
    assert W.parse_warc(
        _http_rec(b"Content-Encoding: deflate\r\n", bare)
    )[0]["body"] == text
    # zstd through the compress module's ctypes binding
    assert W.parse_warc(
        _http_rec(b"Content-Encoding: zstd\r\n", C.zstd_compress(text, 3))
    )[0]["body"] == text
    # brotli through the system libbrotlienc/dec pair: the encode side
    # is the INDEPENDENT reference (we never wrote these bytes)
    assert W.parse_warc(
        _http_rec(b"Content-Encoding: br\r\n", C.brotli_compress(text))
    )[0]["body"] == text


def test_brotli_codec_pair():
    blob = bytes(range(256)) * 64 + b"tail"
    enc = C.brotli_compress(blob, quality=9)
    assert C.brotli_decompress(enc) == blob
    assert C.brotli_decompress(C.brotli_compress(b"")) == b""
    # growing-buffer path: output >> the initial 4x guess
    big = b"a" * 500_000
    enc2 = C.brotli_compress(big)
    assert len(enc2) < 2_000  # so 4*len(enc)+1024 < 500k forces growth
    assert C.brotli_decompress(enc2) == big
    with pytest.raises(ValueError):
        C.brotli_decompress(b"\x00\xffnot brotli\x17" * 5)
    # the zip-bomb guard caps the geometric growth
    with pytest.raises(ValueError):
        C.brotli_decompress(enc2, max_output=1024)


def test_http_chunked_transfer_decoding():
    text = b"the actual page body text " * 4
    chunked = (
        b"1a;ext=1\r\n" + text[:26] + b"\r\n"
        + format(len(text) - 26, "x").encode() + b"\r\n" + text[26:]
        + b"\r\n0\r\nX-Trailer: v\r\n\r\n"
    )
    assert W.parse_warc(
        _http_rec(b"Transfer-Encoding: chunked\r\n", chunked)
    )[0]["body"] == text
    # chunked THEN content coding (RFC 9112 ordering)
    gz = zlib.compress(text, 6, wbits=31)
    ch = format(len(gz), "x").encode() + b"\r\n" + gz + b"\r\n0\r\n\r\n"
    assert W.parse_warc(_http_rec(
        b"Transfer-Encoding: chunked\r\nContent-Encoding: gzip\r\n", ch
    ))[0]["body"] == text


def test_http_decoding_damage_branches():
    for hdrs, body in [
        (b"Content-Encoding: gzip\r\n", b"not gzip"),
        (b"Content-Encoding: br\r\n", b"x"),       # corrupt br stream
        (b"Transfer-Encoding: chunked\r\n", b"zz\r\nnothex"),
        (b"Transfer-Encoding: chunked\r\n", b"5\r\nab"),  # truncated
    ]:
        with pytest.raises(ValueError):
            W.parse_warc(_http_rec(hdrs, body))
