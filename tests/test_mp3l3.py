"""MPEG-1 Layer III bitstream decode (operators/mp3l3.py).

Validation model (no mp3 codec exists in the container — see the
module docstring): every shipped Huffman table must be a COMPLETE
prefix code (Kraft sum exactly 1, all codewords mutually prefix-free),
which detects any single-entry transcription error; the independent
bitstream writer round-trips chosen integer spectra through the full
decode path; the linbits ESCAPE machinery is pinned through an
injectable synthetic ESC table; scfsi and the bit reservoir are pinned
on hand-built streams; requantization against exact integer cases and
a direct independent reimplementation."""

from __future__ import annotations

import random
import struct
from fractions import Fraction

import pytest

from osmexpress_spark.operators import mp3l3 as M
from osmexpress_spark.operators.bitio import MsbWriter


# ------------------------------------------------------------- tables
def _entries(table):
    for x in range(table.dim):
        for y in range(table.dim):
            yield table.hlen[x][y], table.hcod[x][y], (x, y)


def test_tables_complete_prefix_codes():
    checked = 0
    for n, t in sorted(M.BIG_VALUE_TABLES.items()):
        if t is None or t.dim == 1:
            continue
        kraft = Fraction(0)
        used = []
        for l, c, xy in sorted(_entries(t)):
            assert 1 <= l <= 19 and 0 <= c < (1 << l), (n, xy)
            b = format(c, f"0{l}b")
            for u in used:
                assert not (b == u or b.startswith(u)
                            or u.startswith(b)), (n, xy, b, u)
            used.append(b)
            kraft += Fraction(1, 1 << l)
        assert kraft == 1, (n, kraft)
        checked += 1
    assert checked == 10  # 1,2,3,5,6,7,8,9,10,12
    # count1 table A is complete too
    kraft = sum(Fraction(1, 1 << l) for l in M._HLEN_C1A)
    assert kraft == 1
    assert len(set(zip(M._HLEN_C1A, M._HCOD_C1A))) == 16


def test_unverified_tables_refuse_per_row():
    spec = _spec(pairs=[(1, 1)], table=16)
    with pytest.raises(NotImplementedError, match="not verifiable"):
        M.write_frames([spec])
    # decoder side: patch a valid stream's table_select to 13
    payload = bytearray(M.write_frames([_spec(pairs=[(1, 1)], table=1)]))
    # side info: table_select region0 is bits 30..34 of the first
    # granule block (9+5+4 scfsi + 12+9+8+4+1 = 52 bits in); easier to
    # rebuild the spec through the writer with a reserved table id
    with pytest.raises(ValueError, match="reserved"):
        M.parse_frames(_patch_table_select(payload, 4))
    with pytest.raises(NotImplementedError, match="not verifiable"):
        M.parse_frames(_patch_table_select(payload, 13))


def _patch_table_select(payload: bytearray, tsel: int) -> bytes:
    """Rewrite granule 0's region-0 table_select inside the side info
    (bit offset: 9 mdb + 5 priv + 4 scfsi + 12 + 9 + 8 + 4 + 1 = 52)."""
    side = bytearray(payload[4:21])
    bitpos = 52
    for k in range(5):
        bit = (tsel >> (4 - k)) & 1
        byte, off = divmod(bitpos + k, 8)
        side[byte] = (side[byte] & ~(0x80 >> off)) | (bit << (7 - off))
    return bytes(payload[:4]) + bytes(side) + bytes(payload[21:])


# ---------------------------------------------------------- round trip
def _spec(pairs=(), quads=(), table=7, gg=210, sfc=11, sf=None,
          r0=0, r1=0, c1b=0, padding=0, sr=44100):
    g = {
        "big_values_pairs": list(pairs), "count1_quads": list(quads),
        "global_gain": gg, "scalefac_compress": sfc,
        "sf_long": sf or [0] * 21, "table_select": [table, table, table],
        "region0_count": r0, "region1_count": r1,
        "count1table_select": c1b,
    }
    return {"bitrate_kbps": 128, "sample_rate": sr, "padding": padding,
            "granules": [[dict(g)], [dict(g)]]}


def _lines_of(spec_g):
    out = []
    for (x, y) in spec_g["big_values_pairs"]:
        out += [x, y]
    for q in spec_g["count1_quads"]:
        out += list(q)
    return out


@pytest.mark.parametrize("table", [1, 2, 3, 5, 6, 7, 8, 9, 10, 12])
def test_round_trip_every_verified_table(table):
    dim = M.BIG_VALUE_TABLES[table].dim
    rng = random.Random(table)
    pairs = [
        (rng.choice([-1, 1]) * rng.randint(0, dim - 1),
         rng.choice([-1, 1]) * rng.randint(0, dim - 1))
        for _ in range(12)
    ]
    quads = [tuple(rng.choice([-1, 0, 1]) for _ in range(4))
             for _ in range(6)]
    for c1b in (0, 1):
        spec = _spec(pairs=pairs, quads=quads, table=table, c1b=c1b,
                     sf=[rng.randint(0, 1) for _ in range(21)],
                     sfc=8)  # slen1=2,slen2=2 -> sf 0..1 fits
        payload = M.write_frames([spec])
        frames = M.parse_frames(payload)
        assert len(frames) == 1
        for gr in range(2):
            d = frames[0]["granules"][gr][0]
            exp = _lines_of(spec["granules"][gr][0])
            assert d["lines"][:len(exp)] == exp
            assert all(v == 0 for v in d["lines"][len(exp):])
            assert d["sf_long"] == spec["granules"][gr][0]["sf_long"]


def test_table0_region_encodes_zero_runs():
    # region 0 (lines < 4 at 44.1k with region0_count=0) on table 0:
    # zero pairs cost zero bits on the wire
    spec = _spec(pairs=[(0, 0), (0, 0), (2, -1)], table=7)
    spec["granules"][0][0]["table_select"] = [0, 7, 7]
    payload = M.write_frames([spec])
    d = M.parse_frames(payload)[0]["granules"][0][0]
    assert d["lines"][:6] == [0, 0, 0, 0, 2, -1]


def test_region_boundaries_route_tables():
    # region0_count=0 -> region 0 = lines [0,4); region1_count=0 ->
    # region 1 = [4,8); different tables per region must round-trip,
    # which fails unless writer and decoder agree on the split
    spec = _spec(pairs=[(1, -1), (0, 1), (-2, 2), (1, 0), (5, -5)])
    spec["granules"][0][0]["table_select"] = [1, 3, 7]
    spec["granules"][1][0]["table_select"] = [2, 5, 9]
    payload = M.write_frames([spec])
    for gr in range(2):
        d = M.parse_frames(payload)[0]["granules"][gr][0]
        assert d["lines"][:10] == [1, -1, 0, 1, -2, 2, 1, 0, 5, -5]


def test_linbits_escape_machinery_with_synthetic_table():
    # A complete synthetic ESC table: all 256 (x,y) at 8 bits, code =
    # row-major index, linbits = 3.  Pins the escape read/write path
    # (15 + linbits extension + sign) that real tables 16..31 will use
    # once verified data is available.
    hlen = [[8] * 16 for _ in range(16)]
    hcod = [[x * 16 + y for y in range(16)] for x in range(16)]
    esc = M.HuffTable(16, hlen, hcod, linbits=3)
    tables = dict(M.BIG_VALUE_TABLES)
    tables[30] = esc
    pairs = [(15, -15), (22, 0), (-18, 22), (14, -14), (0, 15)]
    spec = _spec(pairs=pairs, table=30)
    payload = M.write_frames([spec], tables=tables)
    d = M.parse_frames(payload, tables=tables)[0]["granules"][0][0]
    assert d["lines"][:10] == [v for p in pairs for v in p]
    # value beyond 15 + 2^linbits - 1 must refuse at write time
    bad = _spec(pairs=[(23, 0)], table=30)
    with pytest.raises(ValueError, match="linbits"):
        M.write_frames([bad], tables=tables)


def test_scfsi_reuses_granule0_scalefactors():
    # Hand-build one mono frame where scfsi group 0 (bands 0-5) is set:
    # granule 1 omits those scalefactor bits and must COPY granule 0's.
    sf0 = [3, 1, 2, 0, 3, 1, 2, 2, 1, 0, 3, 1, 0, 1, 1, 0, 1, 1, 0, 0, 1]
    main = MsbWriter()
    p23 = []
    for gr in range(2):
        start = main.bit_length()
        for band in range(21):
            if gr == 1 and band < 6:
                continue  # reused via scfsi
            main.write(sf0[band], 3 if band < 11 else 1)
        p23.append(main.bit_length() - start)
    main_bytes = main.getvalue()
    side = MsbWriter()
    side.write(0, 9)
    side.write(0, 5)
    side.write(1, 1)  # scfsi group 0 set
    for _ in range(3):
        side.write(0, 1)
    for gr in range(2):
        side.write(p23[gr], 12)
        side.write(0, 9)    # big_values
        side.write(100, 8)  # global_gain
        side.write(11, 4)   # scalefac_compress -> slen 3/1
        side.write(0, 1)    # window_switching
        for _ in range(3):
            side.write(7, 5)
        side.write(0, 4)
        side.write(0, 3)
        side.write(0, 1)
        side.write(0, 1)
        side.write(0, 1)
    side_bytes = side.getvalue()
    flen = (144000 * 128) // 44100
    hdr = struct.pack(
        ">I",
        (0x7FF << 21) | (3 << 19) | (1 << 17) | (1 << 16)
        | (M._BITRATE_KBPS.index(128) << 12) | (0 << 10) | (3 << 6),
    )
    body = side_bytes + main_bytes
    payload = hdr + body + b"\x00" * (flen - 4 - len(body))
    frames = M.parse_frames(payload)
    g0 = frames[0]["granules"][0][0]
    g1 = frames[0]["granules"][1][0]
    assert g0["sf_long"] == sf0
    assert g1["sf_long"] == sf0  # bands 0-5 copied, rest re-read equal


def test_bit_reservoir_crosses_frame_boundary():
    # Frame 2's main data starts main_data_begin bytes BEFORE its own
    # slot, inside frame 1's unused bytes.
    spec1 = _spec(pairs=[(1, 1)], table=1)
    f2_spec_g = {
        "big_values_pairs": [(2, -2), (-1, 3)], "count1_quads": [],
        "global_gain": 33, "scalefac_compress": 0,
        "sf_long": [0] * 21, "table_select": [5, 5, 5],
        "region0_count": 0, "region1_count": 0, "count1table_select": 0,
    }
    # granule main bits for frame 2 (both granules identical)
    main = MsbWriter()
    p23 = []
    for gr in range(2):
        start = main.bit_length()
        for (x, y) in f2_spec_g["big_values_pairs"]:
            M._encode_value(main, M.BIG_VALUE_TABLES[5], x, y)
        p23.append(main.bit_length() - start)
    b = main.getvalue()
    k = min(len(b), 3)  # bytes to park in frame 1's slack
    f1 = bytearray(M.write_frames([spec1]))
    f1[-k:] = b[:k]
    side = MsbWriter()
    side.write(k, 9)  # main_data_begin
    side.write(0, 5)
    for _ in range(4):
        side.write(0, 1)
    for gr in range(2):
        side.write(p23[gr], 12)
        side.write(len(f2_spec_g["big_values_pairs"]), 9)
        side.write(f2_spec_g["global_gain"], 8)
        side.write(0, 4)
        side.write(0, 1)
        for _ in range(3):
            side.write(5, 5)
        side.write(0, 4)
        side.write(0, 3)
        side.write(0, 1)
        side.write(0, 1)
        side.write(0, 1)
    side_bytes = side.getvalue()
    flen = (144000 * 128) // 44100
    hdr = struct.pack(
        ">I",
        (0x7FF << 21) | (3 << 19) | (1 << 17) | (1 << 16)
        | (M._BITRATE_KBPS.index(128) << 12) | (3 << 6),
    )
    body = side_bytes + b[k:]
    f2 = hdr + body + b"\x00" * (flen - 4 - len(body))
    frames = M.parse_frames(bytes(f1) + f2)
    assert len(frames) == 2
    for gr in range(2):
        d = frames[1]["granules"][gr][0]
        assert d["lines"][:4] == [2, -2, -1, 3]
        assert d["info"].global_gain == 33
    # underflow: main_data_begin pointing before the stream start
    with pytest.raises(ValueError, match="reservoir"):
        M.parse_frames(f2)


def test_short_block_scalefactors_hand_built():
    # window_switching=1, block_type=2, non-mixed: 6 bands at slen1
    # and 6 at slen2, three windows each; huffman region split is
    # implicit (36/576).
    sfc = 11  # slen1=3, slen2=1
    sf_short = [[(b + w) % (8 if b < 6 else 2) for w in range(3)]
                for b in range(12)]
    main = MsbWriter()
    p23 = []
    for gr in range(2):
        start = main.bit_length()
        for b in range(6):
            for w in range(3):
                main.write(sf_short[b][w], 3)
        for b in range(6, 12):
            for w in range(3):
                main.write(sf_short[b][w], 1)
        M._encode_value(main, M.BIG_VALUE_TABLES[7], 4, -3)
        p23.append(main.bit_length() - start)
    main_bytes = main.getvalue()
    side = MsbWriter()
    side.write(0, 9)
    side.write(0, 5)
    for _ in range(4):
        side.write(0, 1)
    for gr in range(2):
        side.write(p23[gr], 12)
        side.write(1, 9)   # one big_values pair
        side.write(210, 8)
        side.write(sfc, 4)
        side.write(1, 1)   # window_switching
        side.write(2, 2)   # block_type: short
        side.write(0, 1)   # not mixed
        side.write(7, 5)
        side.write(7, 5)
        for _ in range(3):
            side.write(2, 3)  # subblock_gain
        side.write(0, 1)
        side.write(1, 1)   # scalefac_scale
        side.write(0, 1)
    side_bytes = side.getvalue()
    flen = (144000 * 128) // 44100
    hdr = struct.pack(
        ">I",
        (0x7FF << 21) | (3 << 19) | (1 << 17) | (1 << 16)
        | (M._BITRATE_KBPS.index(128) << 12) | (3 << 6),
    )
    body = side_bytes + main_bytes
    payload = hdr + body + b"\x00" * (flen - 4 - len(body))
    frames = M.parse_frames(payload)
    d = frames[0]["granules"][0][0]
    assert d["sf_short"] == sf_short
    assert d["lines"][:2] == [4, -3]
    g = d["info"]
    assert g.block_type == 2 and g.subblock_gain == [2, 2, 2]
    # requantize short path: line 0 sits in band 0 window 0
    out = M.requantize(d["lines"], g, d["sf_long"], d["sf_short"], 44100)
    exp = 4 ** (4 / 3) * 2 ** (
        (210 - 210) / 4 - 2 * 2 - 1.0 * sf_short[0][0]
    )
    assert out[0] == pytest.approx(exp, rel=1e-12)


# -------------------------------------------------------- requantize
def test_requantize_exact_integer_cases():
    gi = M.GranuleInfo()
    gi.window_switching = 0
    gi.block_type = 0
    gi.preflag = 0
    gi.scalefac_scale = 0
    gi.global_gain = 210
    gi.subblock_gain = [0, 0, 0]
    xs = [0] * 576
    xs[0], xs[1], xs[2] = 8, -64, 1
    out = M.requantize(xs, gi, [0] * 21, [[0] * 3] * 12, 44100)
    assert out[0] == pytest.approx(16.0)     # 8^(4/3)
    assert out[1] == pytest.approx(-256.0)   # -(64^(4/3))
    assert out[2] == pytest.approx(1.0)
    gi.global_gain = 214  # +4 -> x2
    out = M.requantize(xs, gi, [0] * 21, [[0] * 3] * 12, 44100)
    assert out[0] == pytest.approx(32.0)
    # scalefac_scale doubles the scalefactor exponent step
    gi.global_gain = 210
    sf = [0] * 21
    sf[0] = 1
    out05 = M.requantize(xs, gi, sf, [[0] * 3] * 12, 44100)
    gi.scalefac_scale = 1
    out10 = M.requantize(xs, gi, sf, [[0] * 3] * 12, 44100)
    assert out05[0] == pytest.approx(16.0 * 2 ** -0.5)
    assert out10[0] == pytest.approx(8.0)
    # preflag adds pretab to the scalefactor in the high bands
    gi.scalefac_scale = 0
    gi.preflag = 1
    band17_start = M.SFB_LONG[44100][17]
    xs2 = [0] * 576
    xs2[band17_start] = 1
    out = M.requantize(xs2, gi, [0] * 21, [[0] * 3] * 12, 44100)
    assert out[band17_start] == pytest.approx(2 ** (-0.5 * M._PRETAB[17]))


def test_requantize_matches_independent_reimplementation():
    rng = random.Random(99)
    gi = M.GranuleInfo()
    gi.window_switching = 0
    gi.block_type = 0
    gi.subblock_gain = [0, 0, 0]
    for _ in range(20):
        gi.preflag = rng.randint(0, 1)
        gi.scalefac_scale = rng.randint(0, 1)
        gi.global_gain = rng.randint(0, 255)
        sf = [rng.randint(0, 15) for _ in range(21)]
        xs = [0] * 576
        for _k in range(40):
            xs[rng.randrange(576)] = rng.randint(-30, 30)
        got = M.requantize(xs, gi, sf, [[0] * 3] * 12, 44100)
        bands = M.SFB_LONG[44100]
        for i in range(576):
            b = next(j for j in range(len(bands) - 1)
                     if bands[j] <= i < bands[j + 1])
            sfv = (sf[b] if b < 21 else 0) + (
                M._PRETAB[b] if gi.preflag else 0
            )
            mult = 1.0 if gi.scalefac_scale else 0.5
            expect = (
                (abs(xs[i]) ** (4.0 / 3.0))
                * 2.0 ** ((gi.global_gain - 210) / 4.0 - mult * sfv)
            )
            if xs[i] < 0:
                expect = -expect
            assert got[i] == pytest.approx(expect, rel=1e-12, abs=1e-300)


# ------------------------------------------------------------- damage
def test_damage_branches():
    good = M.write_frames([_spec(pairs=[(1, 1)], table=1)])
    with pytest.raises(ValueError, match="sync"):
        M.parse_frames(b"\x00" + good)
    with pytest.raises(ValueError, match="truncated"):
        M.parse_frames(good[:10])
    with pytest.raises(NotImplementedError, match="free-format"):
        M.parse_frames(b"\xff\xfb\x00\xc0" + b"\x00" * 100)
    # part2_3_length smaller than the scalefactor bits
    bad = bytearray(good)
    side = bytearray(bad[4:21])
    # zero granule 0's part2_3_length (bits 20..31)
    for bit in range(20, 32):
        byte, off = divmod(bit, 8)
        side[byte] &= ~(0x80 >> off)
    bad[4:21] = side
    with pytest.raises(ValueError, match="part2_3_length"):
        M.parse_frames(bytes(bad))


def test_decode_stats_census_shape():
    payload = M.write_frames([
        _spec(pairs=[(2, -2)], quads=[(1, 0, -1, 0)], table=7, gg=100),
    ])
    stats = M.decode_stats(payload)
    # 1 frame, 2 granule-channels, |2|+|−2| +2 ones per granule
    assert stats == [1.0, 2.0, 12.0, 8.0, 2.0, 0.0, 200.0]


def test_stereo_side_info_hand_built():
    # 32-byte stereo side info (3 private bits, scfsi per channel,
    # 2 granules x 2 channels); channels decode in ch-major order
    # inside each granule with independent spectra.
    ch_pairs = [[(1, -1)], [(-2, 2)]]  # ch0, ch1
    main = MsbWriter()
    p23 = [[0, 0], [0, 0]]
    for gr in range(2):
        for ch in range(2):
            start = main.bit_length()
            for band in range(21):
                main.write(0, 0)  # scalefac_compress 0 -> slen 0/0
            for (x, y) in ch_pairs[ch]:
                M._encode_value(main, M.BIG_VALUE_TABLES[5], x, y)
            p23[gr][ch] = main.bit_length() - start
    main_bytes = main.getvalue()
    side = MsbWriter()
    side.write(0, 9)
    side.write(0, 3)  # private: 3 bits in stereo
    for _ch in range(2):
        for _ in range(4):
            side.write(0, 1)
    for gr in range(2):
        for ch in range(2):
            side.write(p23[gr][ch], 12)
            side.write(1, 9)
            side.write(50 + ch, 8)  # distinct global_gain per channel
            side.write(0, 4)
            side.write(0, 1)
            for _ in range(3):
                side.write(5, 5)
            side.write(0, 4)
            side.write(0, 3)
            side.write(0, 1)
            side.write(0, 1)
            side.write(0, 1)
    side_bytes = side.getvalue()
    assert len(side_bytes) == 32
    flen = (144000 * 128) // 44100
    hdr = struct.pack(
        ">I",
        (0x7FF << 21) | (3 << 19) | (1 << 17) | (1 << 16)
        | (M._BITRATE_KBPS.index(128) << 12) | (0 << 10) | (0 << 6),
    )  # mode 0 = stereo
    body = side_bytes + main_bytes
    payload = hdr + body + b"\x00" * (flen - 4 - len(body))
    frames = M.parse_frames(payload)
    assert frames[0]["nch"] == 2
    for gr in range(2):
        for ch in range(2):
            d = frames[0]["granules"][gr][ch]
            assert d["lines"][:2] == list(ch_pairs[ch][0]), (gr, ch)
            assert d["info"].global_gain == 50 + ch


# ----------------------------------------------- synthesis (part 1)
def test_antialias_butterflies_are_rotations():
    import math
    # each (cs, ca) pair is a unit rotation: cs^2 + ca^2 == 1, so the
    # butterfly is invertible; apply forward then the analytic inverse
    for cs, ca in zip(M._ANTIALIAS_CS, M._ANTIALIAS_CA):
        assert cs * cs + ca * ca == pytest.approx(1.0, rel=1e-15)
    gi = M.GranuleInfo()
    gi.window_switching = 0
    gi.block_type = 0
    rng = random.Random(3)
    xr = [rng.uniform(-4, 4) for _ in range(576)]
    y = M.antialias(xr, gi)
    # invert: rotate back at every boundary
    z = list(y)
    for sb in range(1, 32):
        for i in range(8):
            lo, hi = 18 * sb - 1 - i, 18 * sb + i
            a, b = z[lo], z[hi]
            z[lo] = a * M._ANTIALIAS_CS[i] + b * M._ANTIALIAS_CA[i]
            z[hi] = b * M._ANTIALIAS_CS[i] - a * M._ANTIALIAS_CA[i]
    assert z == pytest.approx(xr, rel=1e-12)
    # pure short blocks: pass-through
    gi.window_switching, gi.block_type, gi.mixed_block = 1, 2, 0
    assert M.antialias(xr, gi) == xr
    # mixed: only the first boundary is touched
    gi.mixed_block = 1
    ym = M.antialias(xr, gi)
    assert ym[:10] == xr[:10] and ym[26:] == xr[26:]
    assert ym[17] != xr[17] and ym[18] != xr[18]


def test_imdct_matches_direct_definition():
    import math
    rng = random.Random(5)
    for n in (12, 36):
        x = [rng.uniform(-2, 2) for _ in range(n // 2)]
        got = M._imdct(x, n)
        exp = []
        for i in range(n):
            acc = 0.0
            for k in range(n // 2):
                acc += x[k] * math.cos(
                    math.pi / (2 * n) * (2 * i + 1 + n // 2) * (2 * k + 1)
                )
            exp.append(acc)
        assert got == pytest.approx(exp, rel=1e-12)
    # single-coefficient analytic case
    x = [0.0] * 18
    x[4] = 1.0
    y = M._imdct(x, 36)
    assert y[7] == pytest.approx(math.cos(math.pi / 72 * 15 * 9))


def test_window_shapes_closed_form():
    import math
    w0 = M._window_long(0)
    w1 = M._window_long(1)
    w3 = M._window_long(3)
    # normal window: symmetric sine; Princen-Bradley overlap condition
    for i in range(18):
        assert w0[i] == pytest.approx(w0[35 - i])
        assert w0[i] ** 2 + w0[i + 18] ** 2 == pytest.approx(1.0)
    # start and stop windows are mirror images
    for i in range(36):
        assert w1[i] == pytest.approx(w3[35 - i])
    # start begins like normal (long overlap on the left)
    assert w1[:18] == pytest.approx(w0[:18])
    with pytest.raises(ValueError):
        M._window_long(2)


def test_overlap_add_carries_granule_tail():
    gi = M.GranuleInfo()
    gi.window_switching = 0
    gi.block_type = 0
    rng = random.Random(11)
    xr = [0.0] * 576
    for k in range(36):
        xr[rng.randrange(576)] = rng.uniform(-3, 3)
    s1, ov = M.granule_time_samples(xr, gi, 44100)
    # a silent granule next: its output must be EXACTLY the previous
    # granule's windowed tail (with frequency inversion applied)
    s2, ov2 = M.granule_time_samples([0.0] * 576, gi, 44100, ov)
    for sb in range(32):
        for i in range(18):
            exp = ov[sb][i]
            if sb % 2 and i % 2:
                exp = -exp
            assert s2[i][sb] == pytest.approx(exp, abs=1e-12)
    assert all(v == pytest.approx(0.0, abs=1e-12)
               for row in ov2 for v in row)


def test_reorder_short_is_the_window_interleave():
    gi = M.GranuleInfo()
    gi.window_switching, gi.block_type, gi.mixed_block = 1, 2, 0
    xr = list(range(576))
    out = M.reorder_short(xr, gi, 44100)
    bands = M.SFB_SHORT[44100]
    for b in range(len(bands) - 1):
        start, width = bands[b], bands[b + 1] - bands[b]
        for win in range(3):
            for k in range(width):
                assert out[3 * start + 3 * k + win] == \
                    xr[3 * start + win * width + k]
    assert sorted(out) == list(range(576))  # a permutation
    # mixed blocks keep the long region (first 3 short bands' worth)
    gi.mixed_block = 1
    outm = M.reorder_short(xr, gi, 44100)
    assert outm[:36] == xr[:36]
    # long blocks pass through
    gi.window_switching = 0
    gi.block_type = 0
    assert M.reorder_short(xr, gi, 44100) == xr


def test_short_blocks_synthesize_in_envelope():
    # a pure short granule: three 12-point IMDCTs overlap inside the
    # 36-sample envelope; with zero input everything is zero, with one
    # nonzero line the energy lands in that window's 12-sample span
    gi = M.GranuleInfo()
    gi.window_switching, gi.block_type, gi.mixed_block = 1, 2, 0
    xr = [0.0] * 576
    # BITSTREAM order (pre-reorder): short band 0 (width 4), window 1,
    # point 0 -> index win*width + k = 4
    xr[4] = 1.0
    s, ov = M.granule_time_samples(xr, gi, 44100)
    col = [s[i][0] for i in range(18)] + [ov[0][i] for i in range(18)]
    # window 1 spans envelope samples 12..24
    assert all(v == pytest.approx(0.0, abs=1e-12) for v in col[:12])
    assert any(abs(v) > 1e-6 for v in col[12:24])
    assert all(v == pytest.approx(0.0, abs=1e-12) for v in col[24:])


def test_ms_stereo_is_the_exact_inverse_mix():
    import math
    rng = random.Random(21)
    L = [rng.uniform(-3, 3) for _ in range(576)]
    R = [rng.uniform(-3, 3) for _ in range(576)]
    s2 = math.sqrt(2.0)
    mid = [(l + r) / s2 for l, r in zip(L, R)]
    side = [(l - r) / s2 for l, r in zip(L, R)]
    gl, gr = M.stereo_process(mid, side, 2, [7] * 21,
                              [1] * 576, 44100)
    assert gl == pytest.approx(L, rel=1e-12)
    assert gr == pytest.approx(R, rel=1e-12)
    # energy preservation: sum(M^2+S^2) == sum(L^2+R^2)
    assert sum(v * v for v in mid + side) == pytest.approx(
        sum(v * v for v in L + R)
    )


def test_intensity_stereo_pans_the_zero_tail():
    import math
    xl = [1.0] * 576
    right_lines = [0] * 576
    right_lines[99] = 2  # right channel nonzero through line 99
    xr_ = [0.5] * 576
    sf_r = [7] * 21
    bands = M.SFB_LONG[44100]
    # find the first band entirely above line 100 and give it pos 3
    b3 = next(b for b in range(21) if bands[b] >= 100)
    sf_r[b3] = 3   # tan(pi/4) = 1 -> equal split
    sf_r[b3 + 1] = 0  # tan(0) = 0 -> everything to the right
    gl, gr = M.stereo_process(xl, xr_, 1, sf_r, right_lines, 44100)
    i3 = bands[b3]
    assert gl[i3] == pytest.approx(0.5) and gr[i3] == pytest.approx(0.5)
    i0 = bands[b3 + 1]
    assert gl[i0] == pytest.approx(0.0) and gr[i0] == pytest.approx(1.0)
    # below the bound: untouched (mode_extension has no MS bit here)
    assert gl[0] == 1.0 and gr[0] == 0.5
    # is_pos 7 bands stay exactly as decoded
    i7 = bands[b3 + 2]
    assert gl[i7] == 1.0 and gr[i7] == 0.5
    # bound computation
    assert M._intensity_bound(right_lines) == 100
    assert M._intensity_bound([0] * 576) == 0


def test_ms_plus_intensity_split_at_the_bound():
    import math
    mid = [2.0] * 576
    side = [0.0] * 576
    right_lines = [0] * 576
    right_lines[3] = 1
    sf_r = [3] * 21
    gl, gr = M.stereo_process(mid, side, 3, sf_r, right_lines, 44100)
    s2 = math.sqrt(2.0)
    # below bound 4: MS applied
    assert gl[0] == pytest.approx(2.0 / s2)
    assert gr[0] == pytest.approx(2.0 / s2)
    # above: intensity panning of the (un-MS'd) left value
    assert gl[4] == pytest.approx(1.0) and gr[4] == pytest.approx(1.0)


def test_short_block_intensity_is_per_window():
    import math
    bands = M.SFB_SHORT[44100]
    xl = [1.0] * 576
    xr_ = [0.25] * 576
    right_lines = [0] * 576
    # window 0: right nonzero through band 3; windows 1/2: all zero
    b, w = 3, 0
    start, width = bands[b], bands[b + 1] - bands[b]
    right_lines[3 * start + w * width] = 1
    sf_r = [[3] * 3 for _ in range(12)]  # tan(pi/4)=1 -> equal split
    gl, gr = M.stereo_process_short(
        xl, xr_, 1, sf_r, right_lines, 44100
    )
    # window 0, band 3: still below its bound -> untouched
    i = 3 * start + 0 * width
    assert gl[i] == 1.0 and gr[i] == 0.25
    # window 1 of the same band: bound 0 -> intensity applies
    i1 = 3 * start + 1 * width
    assert gl[i1] == pytest.approx(0.5) and gr[i1] == pytest.approx(0.5)
    # window 0 of band 4 (above its bound): intensity applies
    s4, w4 = bands[4], bands[5] - bands[4]
    i4 = 3 * s4 + 0 * w4
    assert gl[i4] == pytest.approx(0.5) and gr[i4] == pytest.approx(0.5)
    # is_pos 7 windows pass through
    sf_r[5] = [7, 7, 7]
    gl2, gr2 = M.stereo_process_short(
        xl, xr_, 1, sf_r, right_lines, 44100
    )
    s5, w5 = bands[5], bands[6] - bands[5]
    i5 = 3 * s5 + 1 * w5
    assert gl2[i5] == 1.0 and gr2[i5] == 0.25


def test_short_block_ms_below_the_window_bounds():
    import math
    s2 = math.sqrt(2.0)
    mid = [2.0] * 576
    side = [1.0] * 576
    right_lines = [1] * 576  # right never zero -> no intensity region
    sf_r = [[0] * 3 for _ in range(12)]
    gl, gr = M.stereo_process_short(
        mid, side, 3, sf_r, right_lines, 44100
    )
    assert gl[0] == pytest.approx(3.0 / s2)
    assert gr[0] == pytest.approx(1.0 / s2)
    # MS alone (no intensity bit) covers everything
    gl2, gr2 = M.stereo_process_short(
        mid, side, 2, sf_r, [0] * 576, 44100
    )
    assert gl2[575] == pytest.approx(3.0 / s2)
    assert gr2[575] == pytest.approx(1.0 / s2)


# ----------------------------------------------- polyphase machinery
def test_polyphase_matrixing_closed_form():
    import math
    pp = M.PolyphaseSynth([1.0] * 512)
    # single-subband impulse: V[i] must equal the cosine closed form
    for k0 in (0, 5, 31):
        pp2 = M.PolyphaseSynth([1.0] * 512)
        s = [0.0] * 32
        s[k0] = 1.0
        pp2.step(s)
        for i in range(64):
            exp = math.cos((16 + i) * (2 * k0 + 1) * math.pi / 64.0)
            assert pp2.v[i] == pytest.approx(exp, abs=1e-12), (k0, i)
    # V[16] is identically zero: (16+16)(2k+1)pi/64 = (2k+1)pi/2
    rng = random.Random(2)
    s = [rng.uniform(-1, 1) for _ in range(32)]
    pp.step(s)
    assert pp.v[16] == pytest.approx(0.0, abs=1e-12)


def test_polyphase_fifo_and_direct_definition():
    import math
    rng = random.Random(8)
    window = [rng.uniform(-1, 1) for _ in range(512)]
    pp = M.PolyphaseSynth(window)
    steps = [[rng.uniform(-2, 2) for _ in range(32)] for _ in range(20)]
    got = [pp.step(s) for s in steps]
    # independent direct reimplementation of the same equations
    v_hist = []
    n = [[math.cos((16 + i) * (2 * k + 1) * math.pi / 64.0)
          for k in range(32)] for i in range(64)]
    exp = []
    for s in steps:
        v_hist.insert(0, [
            sum(n[i][k] * s[k] for k in range(32)) for i in range(64)
        ])
        u = [0.0] * 512
        for j in range(8):
            blk = v_hist[2 * j] if 2 * j < len(v_hist) else [0.0] * 64
            blk2 = (v_hist[2 * j + 1] if 2 * j + 1 < len(v_hist)
                    else [0.0] * 64)
            for i in range(32):
                u[64 * j + i] = blk[i]
                u[64 * j + 32 + i] = blk2[32 + i]
        w = [u[i] * window[i] for i in range(512)]
        exp.append([sum(w[32 * i + j] for i in range(16))
                    for j in range(32)])
    for g, e in zip(got, exp):
        assert g == pytest.approx(e, abs=1e-9)


def test_polyphase_guards():
    with pytest.raises(ValueError, match="512"):
        M.PolyphaseSynth([1.0] * 100)
    pp = M.PolyphaseSynth([0.0] * 512)
    with pytest.raises(ValueError, match="32"):
        pp.step([1.0] * 31)
    # zero window -> zero output regardless of input
    assert pp.step([1.0] * 32) == [0.0] * 32


def test_decode_pcm_full_chain_with_injected_window():
    import math
    window = [math.sin(math.pi * (i + 0.5) / 512.0) for i in range(512)]
    spec = _spec(pairs=[(3, -2), (1, 1)], quads=[(1, 0, 0, -1)],
                 gg=210, sfc=0)
    payload = M.write_frames([spec, spec])
    sr, chans = M.decode_pcm(payload, window)
    assert sr == 44100
    assert len(chans) == 1
    assert len(chans[0]) == 2 * 1152  # two frames of mono PCM
    assert sum(v * v for v in chans[0]) > 0
    # linearity in the window: doubling the window doubles the PCM
    _, chans2 = M.decode_pcm(payload, [2.0 * w for w in window])
    for a, b in zip(chans[0], chans2[0]):
        assert b == pytest.approx(2.0 * a, abs=1e-9)
    with pytest.raises(ValueError, match="no frames"):
        M.decode_pcm(b"", window)


def test_mp3_decoder_factory_matches_wav_contract(spark):
    # plugs into the SAME Arrow seam the wav/flac/au decoders use
    import math

    from osmexpress_spark.operators import multimodal as MM

    window = [math.sin(math.pi * (i + 0.5) / 512.0) for i in range(512)]
    dec = M.mp3_decoder_factory(window)
    payload = M.write_frames([_spec(pairs=[(3, -1)], gg=210, sfc=0)])
    feats = dec(payload)
    assert len(feats) == 5
    assert feats[0] == 1.0 and feats[1] == 44100.0 and feats[2] == 1152.0
    assert feats[3] > 0 and feats[4] >= feats[3]
    # through extract_features: decode_ok True for valid streams,
    # False for the free-format refusal
    df = spark.createDataFrame(
        [(1, bytearray(payload), ""),
         (2, bytearray(b"\xff\xfb\x00\xc0" + b"\x00" * 50), "")],
        "item_id long, payload binary, meta string",
    )
    rows = {r.item_id: r for r in
            MM.extract_features(df, decoder=dec, modality="audio").collect()}
    assert rows[1].decode_ok and rows[1].feat[2] == 1152.0
    assert not rows[2].decode_ok


def test_requantize_mixed_block_splits_long_and_short():
    gi = M.GranuleInfo()
    gi.window_switching, gi.block_type, gi.mixed_block = 1, 2, 1
    gi.preflag = 0
    gi.scalefac_scale = 0
    gi.global_gain = 210
    gi.subblock_gain = [0, 3, 0]
    xs = [0] * 576
    xs[0] = 8          # long band 0
    xs[35] = 1         # long band 7 (last long line is 35)
    # short region: band 3 (start 12, width 4), window 1, point 0 ->
    # bitstream index 3*12 + 1*4 + 0 = 40
    xs[40] = 8
    sf_long = [0] * 21
    sf_long[0] = 2
    sf_short = [[0] * 3 for _ in range(12)]
    sf_short[3][1] = 1
    out = M.requantize(xs, gi, sf_long, sf_short, 44100)
    # long band 0: 8^(4/3) * 2^(-0.5*2) = 16/2
    assert out[0] == pytest.approx(8.0)
    assert out[35] == pytest.approx(1.0)
    # short band 3 win 1: 16 * 2^(-2*sbg[1] - 0.5*sf) = 16 * 2^-6.5
    assert out[40] == pytest.approx(16.0 * 2.0 ** -6.5)
    # nothing bleeds across the 36-line boundary
    assert all(v == 0.0 for i, v in enumerate(out)
               if i not in (0, 35, 40))
