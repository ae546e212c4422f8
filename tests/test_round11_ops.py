"""Round-11 operator tests: Public Suffix List registrable domains
(both execution paths), the zlib-backed Ogg CRC, and the
single-Exchange robots_admit fold.

The PSL algorithm reference is the published one at
publicsuffix.org/list/ (normal / wildcard / exception rules, longest
match, implicit '*' default); an independent pure-Python model below
re-derives it from the spec so the Spark expression tree and the
broadcast-join operator are both checked against a third
implementation.
"""

from __future__ import annotations

import struct
import zlib

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from osmexpress_spark.operators import multimodal as M
from osmexpress_spark.operators import text as T
from osmexpress_spark.operators import vorbis as V


# ------------------------------------------------------------------ PSL


from conftest import assert_no_key_exchange  # noqa: E402

def _psl_model(host: str, rules) -> tuple[str, str | None]:
    """Independent PSL model, straight from the published algorithm:
    collect ALL matching rules by explicit label-by-label comparison
    (no shared parse with the operator), prefer exceptions, else most
    labels, else the implicit '*' rule."""
    labels = host.lower().split(".")
    parsed = []
    for raw in rules:
        r = raw.strip().lower()
        if not r or r.startswith("//"):
            continue
        exc = r.startswith("!")
        parsed.append((exc, (r[1:] if exc else r).split(".")))
    matches = []
    for exc, rl in parsed:
        if len(rl) > len(labels):
            continue
        tail = labels[-len(rl):]
        if all(a == "*" or a == b for a, b in zip(rl, tail)):
            matches.append((exc, rl))
    exc_matches = [rl for exc, rl in matches if exc]
    if exc_matches:
        ps_len = len(exc_matches[0]) - 1
    elif matches:
        ps_len = max(len(rl) for exc, rl in matches)
    else:
        ps_len = 1
    ps = ".".join(labels[-ps_len:])
    if len(labels) > ps_len:
        return ps, ".".join(labels[-(ps_len + 1):])
    return ps, None


_HOST_LABEL = st.text(
    alphabet="abcxyz0", min_size=1, max_size=4
).filter(lambda s: s != "*")


@settings(max_examples=20, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(st.lists(
    st.lists(_HOST_LABEL, min_size=1, max_size=5).map(".".join),
    min_size=1, max_size=12, unique=True,
))
@pytest.mark.slow
def test_psl_expression_path_matches_independent_model(spark, hosts):
    df = spark.createDataFrame(
        [(i, f"http://{h}/") for i, h in enumerate(hosts)],
        "url_id long, url string",
    )
    got = {
        r.url_id: (r.ps, r.rd)
        for r in df.select(
            "url_id",
            T.public_suffix(F.col("url")).alias("ps"),
            T.registrable_domain_psl(F.col("url")).alias("rd"),
        ).collect()
    }
    for i, h in enumerate(hosts):
        assert got[i] == _psl_model(h, T.PSL_SUBSET), h


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(st.lists(
    st.lists(_HOST_LABEL, min_size=1, max_size=6).map(".".join),
    min_size=1, max_size=10, unique=True,
))
@pytest.mark.slow
def test_psl_join_path_matches_expression_path(spark, hosts):
    """The broadcast-join scale path and the literal-map expression
    path are independent implementations of the same algorithm; they
    must agree on arbitrary hosts (wildcard/exception labels included
    via kawasaki.jp / ck shaped hosts in the strategy alphabet)."""
    df = spark.createDataFrame(
        [(i, f"http://{h}/") for i, h in enumerate(hosts)],
        "url_id long, url string",
    )
    rules = T.psl_rules_df(spark)
    join_out = {
        r.url_id: (r.public_suffix, r.reg_domain)
        for r in T.psl_registrable_domains(df, rules).collect()
    }
    expr_out = {
        r.url_id: (r.ps, r.rd)
        for r in df.select(
            "url_id",
            T.public_suffix(F.col("url")).alias("ps"),
            T.registrable_domain_psl(F.col("url")).alias("rd"),
        ).collect()
    }
    assert join_out == expr_out


@pytest.mark.slow
def test_psl_canonical_cases(spark):
    cases = [
        ("www.example.com", "com", "example.com"),
        ("a.b.site.co.uk", "co.uk", "site.co.uk"),
        ("www.foo.ck", "foo.ck", "www.foo.ck"),   # *.ck wildcard
        ("www.ck", "ck", "www.ck"),               # !www.ck exception
        ("com", "com", None),                     # bare suffix
        ("city.kawasaki.jp", "kawasaki.jp", "city.kawasaki.jp"),
        ("blog.kawasaki.jp", "blog.kawasaki.jp", None),
        ("x.blog.kawasaki.jp", "blog.kawasaki.jp",
         "x.blog.kawasaki.jp"),
        ("host.internal", "internal", "host.internal"),  # no rule
    ]
    df = spark.createDataFrame(
        [(i, f"https://{h}/x") for i, (h, _, _) in enumerate(cases)],
        "url_id long, url string",
    )
    got = {
        r.url_id: (r.ps, r.rd)
        for r in df.select(
            "url_id",
            T.public_suffix(F.col("url")).alias("ps"),
            T.registrable_domain_psl(F.col("url")).alias("rd"),
        ).collect()
    }
    for i, (h, eps, erd) in enumerate(cases):
        assert got[i] == (eps, erd), h


def test_psl_table_parse_and_injection():
    table, maxk = T._psl_table(
        ["com", "*.ck", "!www.ck", "// comment", "", "  Co.UK  "]
    )
    assert table == {"com": 1, "ck": 2, "www.ck": 4, "co.uk": 1}
    assert maxk == 2
    # the same key may carry several rule types
    table2, _ = T._psl_table(["foo.jp", "*.foo.jp"])
    assert table2 == {"foo.jp": 3}


def test_psl_injected_custom_table(spark):
    """The suffix table is a data parameter: a custom list changes
    grouping without touching the operator."""
    df = spark.createDataFrame(
        [(0, "http://a.b.mycorp/")], "url_id long, url string"
    )
    row = df.select(
        T.registrable_domain_psl(F.col("url"), ["b.mycorp"]).alias("rd"),
        T.registrable_domain_psl(F.col("url")).alias("rd_default"),
    ).collect()[0]
    assert row.rd == "a.b.mycorp"
    assert row.rd_default == "b.mycorp"


def test_psl_join_path_single_exchange_plan(spark):
    df = spark.range(100).select(
        F.col("id").alias("url_id"),
        F.concat(F.lit("http://h"), (F.col("id") % 9).cast("string"),
                 F.lit(".co.uk/")).alias("url"),
    )
    out = T.psl_registrable_domains(df, T.psl_rules_df(spark))
    out.write.format("noop").mode("overwrite").save()
    plan = out._jdf.queryExecution().executedPlan().toString()
    # over a range source Catalyst even elides the Exchange (range's
    # id partitioning already clusters url_id); parquet sources pay
    # exactly one (test_psl_gate_plan pins that) — never more
    assert plan.count("Exchange hashpartitioning") <= 1
    assert "BroadcastHashJoin" in plan
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan


@pytest.mark.slow
def test_psl_gate_plan(spark):
    from osmexpress_spark import registry

    df = registry.queries(include_staged=True)["q_psl_domain"](
        spark, "/root/testdata/sf0.001"
    )
    df.write.format("noop").mode("overwrite").save()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1
    assert "BroadcastHashJoin" in plan
    assert "EvalPython" not in plan
    assert "MapInPandas" not in plan
    assert "CartesianProduct" not in plan


# ------------------------------------------------------- Ogg CRC (zlib)


def _crc_bitwise(data: bytes) -> int:
    crc = 0
    for byte in data:
        crc ^= byte << 24
        for _ in range(8):
            crc = ((crc << 1) ^ 0x04C11DB7 if crc & 0x80000000
                   else crc << 1) & 0xFFFFFFFF
    return crc


@settings(max_examples=50, deadline=None)
@given(st.binary(max_size=600))
def test_zlib_ogg_crc_matches_bitwise_definition(data):
    """The reflection-identity zlib implementation vs the bit-by-bit
    MSB-first definition, on arbitrary bytes."""
    assert V._ogg_crc(data) == _crc_bitwise(data)


def test_zlib_ogg_crc_known_vector():
    # independent pin: CRC of 'OggS' header bytes computed once with
    # the bitwise definition above
    assert V._ogg_crc(b"") == 0
    assert V._ogg_crc(b"\x00") == 0
    assert V._ogg_crc(b"OggS") == _crc_bitwise(b"OggS")
    # a flipped bit changes the CRC (the census damage contract)
    a = V._ogg_crc(b"OggS\x00payload")
    b = V._ogg_crc(b"OggS\x01payload")
    assert a != b


# --------------------------------------------- robots_admit single pass


def test_robots_admit_null_rank_fold(spark):
    """URLs whose domain has rules but no matching path must admit by
    default and survive the fold (the row the old join-back shape
    restored via a second shuffle)."""
    from osmexpress_spark.operators import crawl as CR

    robots = spark.createDataFrame(
        [("a.com", "User-agent: *\nDisallow: /private")],
        "domain string, robots_txt string",
    )
    urls = spark.createDataFrame(
        [
            (1, "a.com", "/public/x"),    # rules exist, none match
            (2, "a.com", "/private/x"),   # disallowed
            (3, "b.org", "/anything"),    # no rules at all
        ],
        "url_id long, domain string, path string",
    )
    out = {
        r.url_id: (r.admitted, r.n_rules_matched)
        for r in CR.robots_admit(
            urls, CR.robots_rules(robots)
        ).collect()
    }
    assert out == {1: (True, 0), 2: (False, 1), 3: (True, 0)}
    assert len(out) == 3  # every URL survives exactly once


# ------------------------------------------------- mp3 full-PCM gate


def _pcm_params(i: int):
    import hashlib

    h = hashlib.md5(f"{i}_pcm".encode()).digest()
    sb = h[0] % 32
    gs = []
    for g in range(4):
        hg = hashlib.md5(f"{i}_pcmg_{g}".encode()).digest()
        gs.append((8 + hg[0] % 2, 1 + hg[1] % 5,
                   -1 if hg[2] % 2 == 1 else 1, hg[3] % 3 - 1))
    return sb, gs


def _pcm_model(i: int) -> list[float]:
    """Independent closed-form model of the gate stream's PCM: the
    same derivation the DuckDB oracle writes in SQL, reimplemented
    here so the full decode chain is pinned in-process too."""
    import math

    sb, gs = _pcm_params(i)
    ys = []
    for (k, qa, sgn, e) in gs:
        mag = abs(qa) ** (4.0 / 3.0) * 2.0 ** float(e)
        s = -mag if sgn < 0 else mag
        ys.append([
            s * math.cos(math.pi / 72 * (2 * ii + 19) * (2 * k + 1))
            * math.sin(math.pi / 36 * (ii + 0.5))
            for ii in range(36)
        ])
    G = []
    for g in range(4):
        for ii in range(18):
            v = ys[g][ii] + (ys[g - 1][ii + 18] if g > 0 else 0.0)
            if sb % 2 and ii % 2:
                v = -v
            G.append(v)
    pcm = []
    for T in range(72):
        for j in range(32):
            c = math.cos((16 + j) * (2 * sb + 1) * math.pi / 64.0)
            cur = c * G[T]
            prev = (c * G[T - 2]) * 0.5 if T >= 2 else 0.0
            pcm.append(cur + prev)
    return pcm


def _pcm_payload(i: int) -> bytes:
    from osmexpress_spark.operators import mp3l3

    sb, gs = _pcm_params(i)
    specs = []
    for f in range(2):
        grans = []
        for gr in range(2):
            k, qa, sgn, e = gs[f * 2 + gr]
            m = 18 * sb + k
            pairs = [(0, 0)] * (m // 2 + 1)
            q = sgn * qa
            pairs[m // 2] = (q, 0) if m % 2 == 0 else (0, q)
            grans.append([{
                "big_values_pairs": pairs,
                "count1_quads": [],
                "global_gain": 210 + 4 * e,
                "scalefac_compress": 11,
                "sf_long": [0] * 21,
                "table_select": [7, 7, 7],
                "count1table_select": 0,
            }])
        specs.append({"bitrate_kbps": 128, "sample_rate": 44100,
                      "padding": 0, "granules": grans})
    return mp3l3.write_frames(specs)


@pytest.mark.parametrize("i", [1, 2, 3, 5, 47, 1234, 99999])
def test_decode_pcm_bit_identical_to_closed_form(i):
    """decode_pcm through the ENTIRE chain (parse -> requantize ->
    IMDCT -> overlap-add -> inversion -> polyphase with the analytic
    gate window) is BIT-identical to the closed-form model — the
    property the driver gate's exact integer hash rests on."""
    from osmexpress_spark.operators import mp3l3

    sr, chans = mp3l3.decode_pcm(
        _pcm_payload(i), mp3l3.gate_synthesis_window()
    )
    assert sr == 44100 and len(chans) == 1
    got, exp = chans[0], _pcm_model(i)
    assert len(got) == len(exp) == 2304
    assert all(a == b for a, b in zip(got, exp))


def test_gate_synthesis_window_shape():
    from osmexpress_spark.operators import mp3l3

    w = mp3l3.gate_synthesis_window()
    assert len(w) == 512
    assert w[:32] == [1.0] * 32
    assert w[64:96] == [0.5] * 32
    assert all(v == 0.0 for i, v in enumerate(w)
               if not (i < 32 or 64 <= i < 96))


def test_decode_pcm_census_stats_and_refusal():
    import math

    from osmexpress_spark.operators import mp3l3

    feat = mp3l3.decode_pcm_census(_pcm_payload(3))
    assert feat[0] == 44100.0 and feat[1] == 2304.0
    fq = [math.floor(x * 4096 + 0.5) for x in _pcm_model(3)]
    assert feat[2] == float(sum(fq))
    assert feat[3] == float(sum(abs(v) for v in fq))
    assert feat[4] == float(max(fq)) and feat[5] == float(min(fq))
    assert feat[6] == float(
        sum(v * ((i % 97) + 1) for i, v in enumerate(fq))
    )
    # free-format header: the honest refusal branch
    with pytest.raises((NotImplementedError, ValueError)):
        mp3l3.decode_pcm_census(b"\xff\xfb\x00\xc0" + b"\x00" * 100)


def test_mp3_pcm_gate_plan(spark):
    """q_audio_mp3_pcm: one zero-shuffle Arrow seam (synth + decode
    chained mapInPandas), no joins, no Exchange."""
    from osmexpress_spark import registry

    df = registry.queries(include_staged=True)["q_audio_mp3_pcm"](
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


# ------------------------------------------- Vorbis setup codebook census


def test_vorbis_ilog_and_lookup1_match_spec():
    from osmexpress_spark.operators.vorbis import _lookup1_values, _vorbis_ilog

    # the spec's own ilog examples (Vorbis I §9.2.1)
    assert [_vorbis_ilog(x) for x in (0, 1, 2, 3, 4, 7)] == \
        [0, 1, 2, 2, 3, 3]
    assert _vorbis_ilog(-1) == 0
    # lookup1_values: largest r with r^dim <= entries
    assert _lookup1_values(16, 1) == 16
    assert _lookup1_values(16, 2) == 4
    assert _lookup1_values(17, 2) == 4
    assert _lookup1_values(27, 3) == 3
    assert _lookup1_values(26, 3) == 2


def test_vorbis_census_refusals():
    with pytest.raises(ValueError):
        V.vorbis_setup_census(b"")            # no pages
    with pytest.raises(ValueError):
        V.vorbis_setup_census(b"NotOggData")  # bad capture


def test_ogg_packets_cross_page_continuation():
    """A packet whose lacing ends exactly at 255 continues on the
    next page — the assembly must stitch it back together."""
    pkt = bytes(range(256)) * 2  # 512 bytes
    p1 = V.ogg_page(pkt[:510], [255, 255], 0x02, 0, 7, 0)
    p2 = V.ogg_page(pkt[510:] + b"xyz", [2, 3], 0x01, 0, 7, 1)
    got = V._ogg_packets(p1 + p2)
    assert got == [pkt, b"xyz"]
    # an unterminated trailing packet is structural damage
    with pytest.raises(ValueError):
        V._ogg_packets(p1)


def test_vorbis_gate_plan(spark):
    from osmexpress_spark import registry

    df = registry.queries(include_staged=True)["q_vorbis_setup"](
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


def test_vorbis_full_setup_section_errors():
    """Structural validation of the post-codebook sections: reserved
    floor/residue types, out-of-range book references, bad coupling
    pairs, missing framing bit — each its own ValueError."""
    from osmexpress_spark.operators.bitio import LsbReader, LsbWriter
    from osmexpress_spark.operators.vorbis import (
        _parse_floor, _parse_mapping, _parse_residue,
    )

    # reserved floor type
    bw = LsbWriter(); bw.write(2, 16)
    with pytest.raises(ValueError):
        _parse_floor(LsbReader(bw.getvalue()), 4)
    # floor0 book out of range
    bw = LsbWriter()
    bw.write(0, 16); bw.write(1, 8); bw.write(8000, 16)
    bw.write(64, 16); bw.write(6, 6); bw.write(0, 8)
    bw.write(0, 4); bw.write(9, 8)
    with pytest.raises(ValueError):
        _parse_floor(LsbReader(bw.getvalue()), 4)
    # reserved residue type
    bw = LsbWriter(); bw.write(3, 16)
    with pytest.raises(ValueError):
        _parse_residue(LsbReader(bw.getvalue()), 4)
    # coupling magnitude == angle is invalid
    bw = LsbWriter()
    bw.write(0, 16); bw.write(0, 1); bw.write(1, 1)
    bw.write(0, 8); bw.write(1, 1); bw.write(1, 1)
    with pytest.raises(ValueError):
        _parse_mapping(LsbReader(bw.getvalue()), 2, 1, 1)


def test_vorbis_floor1_x_sum_parse():
    """A hand-built floor1 config parses to the expected X-list sum
    (partitions x class dims values of rangebits each)."""
    from osmexpress_spark.operators.bitio import LsbReader, LsbWriter
    from osmexpress_spark.operators.vorbis import _parse_floor

    bw = LsbWriter()
    bw.write(1, 16)      # floor type 1
    bw.write(2, 5)       # 2 partitions
    bw.write(0, 4); bw.write(0, 4)   # both class 0
    bw.write(3 - 1, 3)   # class 0: 3 dims
    bw.write(0, 2)       # no subclasses
    bw.write(2, 8)       # the single subclass book (2-1 = book 1)
    bw.write(1, 2)       # multiplier
    bw.write(4, 4)       # rangebits
    for x in (3, 7, 1, 15, 0, 9):    # 2 partitions x 3 dims
        bw.write(x, 4)
    got = _parse_floor(LsbReader(bw.getvalue()), 4)
    assert (got["type"], got["partitions"], got["x_sum"]) == (1, 2, 35)
    # the decode-ready fields round 11's synthesis machinery reads
    assert got["multiplier"] == 2 and got["rangebits"] == 4
    assert got["x_list"] == [0, 16, 3, 7, 1, 15, 0, 9]
    assert got["class_cfg"][0]["dims"] == 3


# --------------------------------------------------- AAC/ADTS census


def _adts_frame(prof, sfi, chan, payload, with_crc, flen=None):
    flen = (7 + (2 if with_crc else 0) + len(payload)
            if flen is None else flen)
    b1 = 0xF0 | (1 << 3) | (0 if with_crc else 1)
    b2 = (prof << 6) | (sfi << 2) | ((chan >> 2) & 1)
    b3 = ((chan & 0x3) << 6) | ((flen >> 11) & 0x3)
    out = bytes([0xFF, b1, b2, b3, (flen >> 3) & 0xFF,
                 ((flen & 0x7) << 5) | 0x1F, 0xFC])
    if with_crc:
        out += b"\xab\xcd"
    return out + payload


def test_adts_census_hand_built():
    import hashlib

    from osmexpress_spark.operators import multimodal as M

    stream = (_adts_frame(1, 4, 2, b"hello", True)
              + _adts_frame(1, 4, 2, b" world", False))
    got = M.adts_census(stream)
    assert got == [2.0, 44100.0, 2.0, 1.0, 1.0, 11.0,
                   float(int(hashlib.md5(b"hello world")
                             .hexdigest()[:12], 16))]


def test_adts_census_damage_branches():
    from osmexpress_spark.operators import multimodal as M

    good = _adts_frame(0, 0, 1, b"x" * 5, False)
    with pytest.raises(ValueError):
        M.adts_census(b"")                          # empty
    with pytest.raises(ValueError):
        M.adts_census(b"\xfe" + good[1:])           # bad sync
    with pytest.raises(ValueError):
        M.adts_census(good[:-1])                    # truncated frame
    with pytest.raises(ValueError):
        M.adts_census(_adts_frame(0, 13, 1, b"x", False))  # sfi 13
    with pytest.raises(ValueError):                 # flen < header
        M.adts_census(_adts_frame(0, 0, 1, b"", False, flen=3))
    with pytest.raises(ValueError):                 # fields change
        M.adts_census(good + _adts_frame(1, 0, 1, b"y" * 5, False))


def test_adts_gate_plan(spark):
    from osmexpress_spark import registry

    df = registry.queries(include_staged=True)["q_audio_aac_census"](
        spark, "/root/testdata/sf0.001"
    )
    df.write.format("noop").mode("overwrite").save()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan
    # no key/payload shuffle; the r11 scale-adaptive seam fan-out
    # may round-robin the tiny id column before the Arrow seam
    assert_no_key_exchange(plan)
    assert "BatchEvalPython" not in plan
