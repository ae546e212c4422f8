"""MPEG-1 Layer III bitstream decode (ISO/IEC 11172-3): the Huffman
half of full mp3 PCM decode.

Round-10 scope (the r09 VERDICT's staged plan): frame walk + bit
reservoir assembly + side-info parse + scalefactor decode + Huffman
decode of the 576 frequency lines per granule + requantization to
spectral values, PLUS the closed-form time-domain stages (short-block
reorder, antialias rotations, IMDCT with all four window types,
overlap-add, frequency inversion — `granule_time_samples`).  What
remains for full PCM is the 32-band polyphase filterbank: its
matrixing is closed form, but the 512-tap synthesis window is TABLE
DATA with no in-container reference to verify against (the same
honesty boundary as the large Huffman tables below); until that data
can be pinned, `audio_decoder` keeps refusing mp3 PCM honestly.

Validation strategy (no mp3 codec of any kind exists in the
container — checked: no libmad/libmpg123/lame/ffmpeg, no Python
package, no network):

1. The Huffman tables are typed from the published standard (ISO
   11172-3 Table B.7, reproduced in every public decoder).  Every
   shipped table is checked to be a COMPLETE prefix code: all
   codewords distinct, prefix-free, Kraft sum exactly 1.
   Completeness makes the check strong: a complete code has no holes,
   so ANY single-entry transcription error — a wrong length (breaks
   the Kraft identity) or wrong bits at the same length (collides
   with the codeword that owns that space) — is detected.  The one
   error class the suite cannot see is a same-length codeword SWAP
   between two symbols; that residual risk is documented and can only
   be retired against a real decoder (none in-container).
2. The check is not a formality: it CAUGHT transcription errors
   during this build and localized them to forced completions
   (table 8: (4,3)/(5,3) lengths; table 10: (7,1)/(7,2) lengths —
   in each case the unique repair consistent with the trusted code
   values), and it REJECTED this author's transcriptions of the
   large tables outright (measured: table 13 kraft 131205/131072
   with 24 collisions, table 16 2125/2048 with 148, table 24
   3751/4096 with 89).  Unverifiable data is not shipped: tables
   13, 15 and the 16..31 ESC families raise NotImplementedError
   per row (decode_ok=False), the same honest contract as lossy
   WebP/arithmetic JPEG.  The linbits ESCAPE machinery is still
   fully implemented and pinned through an injectable synthetic ESC
   table in the tests (`tables=` override), so when verified 16/24
   data becomes available it is a data drop, not new code.
3. An independent bitstream WRITER (`write_frames`) builds whole
   frames — header, side info, scalefactors, Huffman-coded lines,
   reservoir stuffing — from chosen integer spectra; pytest
   round-trips decode(write(x)) == x across tables, sign patterns,
   scfsi, short/mixed blocks, escapes (synthetic table) and
   reservoir layouts.
4. The staged driver gate decodes md5-parameterized synth streams and
   the DuckDB oracle recomputes every decoded integer in closed form
   from the same md5 bytes — the bitstream machinery (reservoir,
   side info, scalefactors, Huffman, signs) must transport the exact
   integers end to end.
5. Requantization is a closed-form map (|q|^(4/3) scaled by the
   global-gain / scalefactor / preflag / subblock-gain exponent); it
   is pinned against exact integer cases (q=8 -> 16, q=64 -> 256 at
   neutral gain) and an independent direct reimplementation.

The census/metadata siblings live in operators/multimodal.py
(mp3_frame_census, id3v2_text_frames, mp3_xing_parse); this module is
the decode path they triage for.
"""

from __future__ import annotations

import struct

from .bitio import MsbReader, MsbWriter, PrefixCode

# --------------------------------------------------------------- tables
# ISO 11172-3 Table B.7 Huffman code tables, row-major (x, y).  Only
# tables that pass the completeness check (tests/test_mp3l3.py) ship;
# see the module docstring for the measured rejections.

_HLEN_1 = [[1, 3], [2, 3]]
_HCOD_1 = [[1, 1], [1, 0]]

_HLEN_2 = [[1, 3, 6], [3, 3, 5], [5, 5, 6]]
_HCOD_2 = [[1, 2, 1], [3, 1, 1], [3, 2, 0]]

_HLEN_3 = [[2, 2, 6], [3, 2, 5], [5, 5, 6]]
_HCOD_3 = [[3, 2, 1], [1, 1, 1], [3, 2, 0]]

_HLEN_5 = [[1, 3, 6, 7], [3, 3, 6, 7], [6, 6, 7, 8], [7, 6, 7, 8]]
_HCOD_5 = [[1, 2, 6, 5], [3, 1, 4, 4], [7, 5, 7, 1], [6, 1, 1, 0]]

_HLEN_6 = [[3, 3, 5, 7], [3, 2, 4, 5], [4, 4, 5, 6], [6, 5, 6, 7]]
_HCOD_6 = [[7, 3, 5, 1], [6, 2, 3, 2], [5, 4, 4, 1], [3, 3, 2, 0]]

_HLEN_7 = [
    [1, 3, 6, 8, 8, 9],
    [3, 4, 6, 7, 7, 8],
    [6, 5, 7, 8, 8, 9],
    [7, 7, 8, 9, 9, 9],
    [7, 7, 8, 9, 9, 10],
    [8, 8, 9, 10, 10, 10],
]
_HCOD_7 = [
    [1, 2, 10, 19, 16, 10],
    [3, 3, 7, 10, 5, 3],
    [11, 4, 13, 17, 8, 4],
    [12, 11, 18, 15, 11, 2],
    [7, 6, 9, 14, 3, 1],
    [6, 4, 5, 3, 2, 0],
]

# Table 8: (4,3) and (5,3) are length 9 — the unique completion
# consistent with the trusted code values (see module docstring).
_HLEN_8 = [
    [2, 3, 6, 8, 8, 9],
    [3, 2, 4, 8, 8, 8],
    [6, 4, 6, 8, 8, 9],
    [8, 8, 8, 9, 9, 10],
    [8, 7, 8, 9, 10, 10],
    [9, 8, 9, 9, 11, 11],
]
_HCOD_8 = [
    [3, 4, 6, 18, 12, 5],
    [5, 1, 2, 16, 9, 3],
    [7, 3, 5, 14, 7, 3],
    [19, 17, 15, 13, 10, 4],
    [13, 5, 8, 11, 5, 1],
    [12, 4, 4, 1, 1, 0],
]

_HLEN_9 = [
    [3, 3, 5, 6, 8, 9],
    [3, 3, 4, 5, 6, 8],
    [4, 4, 5, 6, 7, 8],
    [6, 5, 6, 7, 7, 8],
    [7, 6, 7, 7, 8, 9],
    [8, 7, 8, 8, 9, 9],
]
_HCOD_9 = [
    [7, 5, 9, 14, 15, 7],
    [6, 4, 5, 5, 6, 7],
    [7, 6, 8, 8, 8, 5],
    [15, 6, 9, 10, 5, 1],
    [11, 7, 9, 6, 4, 1],
    [14, 4, 6, 2, 6, 0],
]

# Table 10: (7,1) is length 8 and (7,2) length 9 — the unique
# completion consistent with the trusted code values.
_HLEN_10 = [
    [1, 3, 6, 8, 9, 9, 9, 10],
    [3, 4, 6, 7, 8, 9, 8, 8],
    [6, 6, 7, 8, 9, 10, 9, 9],
    [7, 7, 8, 9, 10, 10, 9, 10],
    [8, 8, 9, 10, 10, 10, 10, 10],
    [9, 9, 10, 10, 11, 11, 10, 11],
    [8, 8, 9, 10, 10, 10, 11, 11],
    [9, 8, 9, 10, 10, 11, 11, 11],
]
_HCOD_10 = [
    [1, 2, 10, 23, 35, 30, 12, 17],
    [3, 3, 8, 12, 18, 21, 12, 7],
    [11, 9, 15, 21, 32, 40, 19, 6],
    [14, 13, 22, 34, 46, 23, 18, 7],
    [20, 19, 33, 47, 27, 22, 9, 3],
    [31, 22, 41, 26, 21, 20, 5, 3],
    [14, 13, 10, 11, 16, 6, 5, 1],
    [9, 8, 7, 8, 4, 4, 2, 0],
]

_HLEN_12 = [
    [4, 3, 5, 7, 8, 9, 9, 9],
    [3, 3, 4, 5, 7, 7, 8, 8],
    [5, 4, 5, 6, 7, 8, 7, 8],
    [6, 5, 6, 6, 7, 8, 8, 8],
    [7, 6, 7, 7, 8, 8, 8, 9],
    [8, 7, 8, 8, 8, 9, 8, 9],
    [8, 7, 7, 8, 8, 9, 9, 10],
    [9, 8, 8, 9, 9, 9, 9, 10],
]
_HCOD_12 = [
    [9, 6, 16, 33, 41, 39, 38, 26],
    [7, 5, 6, 9, 23, 16, 26, 11],
    [17, 7, 11, 14, 21, 30, 10, 7],
    [17, 10, 15, 12, 18, 28, 14, 5],
    [32, 13, 22, 19, 18, 16, 9, 5],
    [40, 17, 31, 29, 17, 13, 4, 2],
    [27, 12, 11, 15, 10, 7, 4, 1],
    [27, 12, 8, 12, 6, 3, 1, 0],
]

# count1 table A (variable length, no linbits, quadruple symbols
# indexed (v<<3)|(w<<2)|(x<<1)|y); table B is computed: 4 inverted
# bits per quadruple.
_HLEN_C1A = [1, 4, 4, 5, 4, 6, 5, 6, 4, 5, 5, 6, 5, 6, 6, 6]
_HCOD_C1A = [1, 5, 4, 5, 6, 5, 4, 4, 7, 3, 6, 0, 7, 2, 3, 1]


def _build_decode_map(hlen, hcod):
    """{(length, code): symbol_index_or_pair} for a table in row-major
    (x, y) order (or flat for count1)."""
    out = {}
    if isinstance(hlen[0], list):
        for x, row in enumerate(hlen):
            for y, l in enumerate(row):
                out[(l, hcod[x][y])] = (x, y)
    else:
        for i, l in enumerate(hlen):
            out[(l, hcod[i])] = i
    return out


class HuffTable:
    """One big_values Huffman table: encode maps hlen/hcod indexed
    [x][y], the linbits escape width, and the decoding PrefixCode."""

    def __init__(self, dim, hlen, hcod, linbits=0):
        self.dim = dim
        self.linbits = linbits
        self.hlen = hlen
        self.hcod = hcod
        self.code = PrefixCode(_build_decode_map(hlen, hcod), lsb=False)


# Verified big_values tables.  None = table exists in the standard but
# its data could not be verified in-container (see module docstring);
# referencing it raises NotImplementedError per row.
_T16_LINBITS = {16: 1, 17: 2, 18: 3, 19: 4, 20: 6, 21: 8, 22: 10, 23: 13}
_T24_LINBITS = {24: 4, 25: 5, 26: 6, 27: 7, 28: 8, 29: 9, 30: 11, 31: 13}

BIG_VALUE_TABLES: dict[int, HuffTable | None] = {
    0: HuffTable(1, [[0]], [[0]]),  # table 0: zero bits, zero values
    1: HuffTable(2, _HLEN_1, _HCOD_1),
    2: HuffTable(3, _HLEN_2, _HCOD_2),
    3: HuffTable(3, _HLEN_3, _HCOD_3),
    5: HuffTable(4, _HLEN_5, _HCOD_5),
    6: HuffTable(4, _HLEN_6, _HCOD_6),
    7: HuffTable(6, _HLEN_7, _HCOD_7),
    8: HuffTable(6, _HLEN_8, _HCOD_8),
    9: HuffTable(6, _HLEN_9, _HCOD_9),
    10: HuffTable(8, _HLEN_10, _HCOD_10),
    12: HuffTable(8, _HLEN_12, _HCOD_12),
    # 4 and 14 are not used by the standard; 11, 13, 15 and the ESC
    # families 16..31 are real but unverifiable in-container.
    11: None, 13: None, 15: None,
    **{n: None for n in range(16, 32)},
}

_C1A_CODE = PrefixCode(_build_decode_map(_HLEN_C1A, _HCOD_C1A), lsb=False)

# Scalefactor band partitions (MPEG-1), indexed by sample rate.
SFB_LONG = {
    44100: [0, 4, 8, 12, 16, 20, 24, 30, 36, 44, 52, 62, 74, 90, 110,
            134, 162, 196, 238, 288, 342, 418, 576],
    48000: [0, 4, 8, 12, 16, 20, 24, 30, 36, 42, 50, 60, 72, 88, 106,
            128, 156, 190, 230, 276, 330, 384, 576],
    32000: [0, 4, 8, 12, 16, 20, 24, 30, 36, 44, 54, 66, 82, 102, 126,
            156, 194, 240, 296, 364, 448, 550, 576],
}
SFB_SHORT = {
    44100: [0, 4, 8, 12, 16, 22, 30, 40, 52, 66, 84, 106, 136, 192],
    48000: [0, 4, 8, 12, 16, 22, 28, 38, 50, 64, 80, 100, 126, 192],
    32000: [0, 4, 8, 12, 16, 22, 30, 42, 58, 78, 104, 138, 180, 192],
}

_SLEN1 = [0, 0, 0, 0, 3, 1, 1, 1, 2, 2, 2, 3, 3, 3, 4, 4]
_SLEN2 = [0, 1, 2, 3, 0, 1, 2, 3, 1, 2, 3, 1, 2, 3, 2, 3]
_PRETAB = [0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 1, 1, 1, 1, 2, 2, 3, 3, 3,
           2, 0]

_BITRATE_KBPS = (0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192,
                 224, 256, 320)
_SAMPLE_RATE = (44100, 48000, 32000)

# scfsi band groups: long scalefactor bands 0-5, 6-10, 11-15, 16-20.
_SCFSI_BANDS = ((0, 6), (6, 11), (11, 16), (16, 21))


# ------------------------------------------------------- side info
class GranuleInfo:
    __slots__ = (
        "part2_3_length", "big_values", "global_gain",
        "scalefac_compress", "window_switching", "block_type",
        "mixed_block", "table_select", "subblock_gain",
        "region0_count", "region1_count", "preflag", "scalefac_scale",
        "count1table_select",
    )


def _parse_side_info(data: bytes, nch: int):
    """MPEG-1 side info: 17 bytes mono / 32 bytes stereo.  Returns
    (main_data_begin, scfsi[ch][4], granules[2][ch])."""
    br = MsbReader(data)
    main_data_begin = br.read(9)
    br.read(5 if nch == 1 else 3)  # private_bits
    scfsi = [[br.read(1) for _ in range(4)] for _ in range(nch)]
    granules = []
    for _gr in range(2):
        chans = []
        for _ch in range(nch):
            g = GranuleInfo()
            g.part2_3_length = br.read(12)
            g.big_values = br.read(9)
            g.global_gain = br.read(8)
            g.scalefac_compress = br.read(4)
            g.window_switching = br.read(1)
            if g.window_switching:
                g.block_type = br.read(2)
                g.mixed_block = br.read(1)
                g.table_select = [br.read(5), br.read(5), 0]
                g.subblock_gain = [br.read(3) for _ in range(3)]
                if g.block_type == 0:
                    raise ValueError(
                        "window_switching with block_type 0 is reserved"
                    )
                # region split is implicit under window switching
                # (region0 ends at line 36, region1 at 576); the
                # counts are not in the bitstream.
                g.region0_count = 0
                g.region1_count = 0
            else:
                g.block_type = 0
                g.mixed_block = 0
                g.table_select = [br.read(5), br.read(5), br.read(5)]
                g.subblock_gain = [0, 0, 0]
                g.region0_count = br.read(4)
                g.region1_count = br.read(3)
            g.preflag = br.read(1)
            g.scalefac_scale = br.read(1)
            g.count1table_select = br.read(1)
            chans.append(g)
        granules.append(chans)
    return main_data_begin, scfsi, granules


def _region_boundaries(g: GranuleInfo, sample_rate: int):
    """(end_of_region0, end_of_region1) in line indices, clamped to
    big_values*2."""
    bv2 = g.big_values * 2
    if g.window_switching:
        r0 = 36
        r1 = 576
    else:
        long_b = SFB_LONG[sample_rate]
        r0 = long_b[min(g.region0_count + 1, len(long_b) - 1)]
        r1 = long_b[min(g.region0_count + 1 + g.region1_count + 1,
                        len(long_b) - 1)]
    return min(r0, bv2), min(r1, bv2)


# --------------------------------------------------------- decoding
def _decode_scalefactors(br: MsbReader, g: GranuleInfo, scfsi_ch,
                         gr_index: int, prev_long):
    """Returns (sf_long[21], sf_short[12][3], part2_bits)."""
    slen1, slen2 = _SLEN1[g.scalefac_compress], _SLEN2[g.scalefac_compress]
    start = br.pos
    sf_long = [0] * 21
    sf_short = [[0, 0, 0] for _ in range(12)]
    if g.window_switching and g.block_type == 2:
        if g.mixed_block:
            for band in range(8):
                sf_long[band] = br.read(slen1)
            for band in range(3, 6):
                for win in range(3):
                    sf_short[band][win] = br.read(slen1)
            for band in range(6, 12):
                for win in range(3):
                    sf_short[band][win] = br.read(slen2)
        else:
            for band in range(6):
                for win in range(3):
                    sf_short[band][win] = br.read(slen1)
            for band in range(6, 12):
                for win in range(3):
                    sf_short[band][win] = br.read(slen2)
    else:
        # long blocks; scfsi only applies in granule 1 (second granule)
        for grp, (lo, hi) in enumerate(_SCFSI_BANDS):
            if gr_index == 1 and scfsi_ch[grp]:
                for band in range(lo, hi):
                    sf_long[band] = prev_long[band]
            else:
                # bands 0-10 use slen1, 11-20 use slen2
                for band in range(lo, hi):
                    sf_long[band] = br.read(slen1 if band < 11 else slen2)
    return sf_long, sf_short, br.pos - start


def _decode_huffman(br: MsbReader, g: GranuleInfo, sample_rate: int,
                    part2_3_end: int, tables=None):
    """Decode big_values pairs + count1 quadruples into 576 lines."""
    tabs = BIG_VALUE_TABLES if tables is None else tables
    xs = [0] * 576
    r0_end, r1_end = _region_boundaries(g, sample_rate)
    line = 0
    bv2 = g.big_values * 2
    if bv2 > 576:
        raise ValueError("big_values exceeds 576 lines")
    while line < bv2:
        region = 0 if line < r0_end else (1 if line < r1_end else 2)
        tsel = g.table_select[region]
        table = tabs.get(tsel)
        if tsel in (4, 14):
            raise ValueError(f"reserved Huffman table {tsel}")
        if table is None:
            raise NotImplementedError(
                f"mp3 Huffman table {tsel} not verifiable in-container"
            )
        if table.dim == 1:  # table 0: no bits, two zero lines
            xs[line] = 0
            xs[line + 1] = 0
            line += 2
            continue
        x, y = table.code.decode(br)
        if x == 15 and table.linbits:
            x += br.read(table.linbits)
        if x:
            if br.read(1):
                x = -x
        if y == 15 and table.linbits:
            y += br.read(table.linbits)
        if y:
            if br.read(1):
                y = -y
        xs[line] = x
        xs[line + 1] = y
        line += 2
    # count1: quadruples until the granule's bit budget is consumed
    n_count1 = 0
    while br.pos < part2_3_end and line + 4 <= 576:
        if g.count1table_select:
            quad = br.read(4) ^ 0xF
        else:
            quad = _C1A_CODE.decode(br)
        vals = [(quad >> 3) & 1, (quad >> 2) & 1, (quad >> 1) & 1,
                quad & 1]
        for v in vals:
            if v and br.read(1):
                v = -v
            xs[line] = v
            line += 1
        n_count1 += 1
    if br.pos > part2_3_end:
        raise ValueError("mp3 Huffman data overran part2_3_length")
    # skip stuffing up to the declared budget
    br.pos = part2_3_end
    return xs, line, n_count1


def requantize(xs, g: GranuleInfo, sf_long, sf_short, sample_rate: int):
    """ISO 2.4.3.4: xr_i = sign(is_i) * |is_i|^(4/3) * 2^exp with
    exp = (global_gain - 210)/4 - (scalefac_scale+1)/2 *
    (scalefac + preflag*pretab)  [long] and the subblock_gain form
    for short windows.  Pure closed form over the decoded integers."""
    sf_mult = 1.0 if g.scalefac_scale else 0.5
    out = [0.0] * 576
    is_short = g.window_switching and g.block_type == 2
    if is_short:
        # Values stay in BITSTREAM line order (band-major, window
        # within band): the window-major reorder is a separate stage
        # (reorder_short).  Each line gets the gain of the (band,
        # window) that owns it.  MIXED blocks: short bands start at
        # band 3 (line 36); the long region below is handled after.
        bands = SFB_SHORT[sample_rate]
        first = 3 if g.mixed_block else 0
        for b in range(first, len(bands) - 1):
            start, end = bands[b], bands[b + 1]
            width = end - start
            for win in range(3):
                # band 12 (the last short partition) carries no
                # scalefactor, like long band 21
                sfv = sf_short[b][win] if b < 12 else 0
                gain = (
                    (g.global_gain - 210) / 4.0
                    - 2.0 * g.subblock_gain[win]
                    - sf_mult * sfv
                )
                scale = 2.0 ** gain
                for k in range(width):
                    idx = 3 * start + win * width + k
                    if idx >= 576:
                        continue
                    q = xs[idx]
                    mag = abs(q) ** (4.0 / 3.0) * scale
                    out[idx] = -mag if q < 0 else mag
        if not g.mixed_block:
            return out
    bands = SFB_LONG[sample_rate]
    # mixed blocks: only the 8 long bands below line 36 (ISO 2.4.3.4)
    n_long = 8 if is_short else len(bands) - 1
    for b in range(n_long):
        sf = sf_long[b] if b < 21 else 0
        pre = _PRETAB[b] if g.preflag else 0
        gain = (g.global_gain - 210) / 4.0 - sf_mult * (sf + pre)
        scale = 2.0 ** gain
        for i in range(bands[b], bands[b + 1]):
            q = xs[i]
            mag = abs(q) ** (4.0 / 3.0) * scale
            out[i] = -mag if q < 0 else mag
    return out


def parse_frames(payload: bytes, tables=None):
    """Full bitstream parse of an MPEG-1 Layer III stream: frame walk,
    bit-reservoir assembly, side info, scalefactors, Huffman lines.

    Returns a list of frame dicts: {sample_rate, bitrate_kbps, mode,
    nch, granules: [[{gran info, sf_long, sf_short, lines, n_lines,
    n_count1}]*nch]*2}.  Raises ValueError on structural damage and
    NotImplementedError on honest gaps (non-MPEG1-L3, free format,
    unverified Huffman tables) — the same triage contract as
    mp3_frame_census."""
    pos = 0
    if payload[:3] == b"ID3":
        if len(payload) < 10:
            raise ValueError("ID3v2 header truncated")
        b6, b7, b8, b9 = payload[6:10]
        if (b6 | b7 | b8 | b9) & 0x80:
            raise ValueError("ID3v2 size bytes not syncsafe")
        pos = 10 + ((b6 << 21) | (b7 << 14) | (b8 << 7) | b9)
        if payload[5] & 0x10:
            pos += 10
        if pos > len(payload):
            raise ValueError("ID3v2 tag runs past the payload")
    frames = []
    reservoir = b""
    pending = []  # (frame_meta, side, main_part) awaiting reservoir
    while pos < len(payload):
        if payload[pos:pos + 3] == b"TAG" and len(payload) - pos == 128:
            break
        if len(payload) - pos < 4:
            raise ValueError("mp3 frame header truncated")
        (hdr,) = struct.unpack_from(">I", payload, pos)
        if (hdr >> 21) & 0x7FF != 0x7FF:
            raise ValueError(f"lost mp3 frame sync at offset {pos}")
        version = (hdr >> 19) & 3
        layer = (hdr >> 17) & 3
        if version == 1 or layer == 0:
            raise ValueError("reserved MPEG version/layer bits")
        if version != 3 or layer != 1:
            raise NotImplementedError("only MPEG-1 Layer III decoded")
        protection = not ((hdr >> 16) & 1)
        br_idx = (hdr >> 12) & 0xF
        sr_idx = (hdr >> 10) & 3
        pad = (hdr >> 9) & 1
        mode = (hdr >> 6) & 3
        mode_ext = (hdr >> 4) & 3
        if br_idx == 0:
            raise NotImplementedError("free-format mp3 not decoded")
        if br_idx == 0xF or sr_idx == 3:
            raise ValueError("invalid mp3 header")
        bitrate = _BITRATE_KBPS[br_idx]
        sr = _SAMPLE_RATE[sr_idx]
        nch = 1 if mode == 3 else 2
        flen = (144000 * bitrate) // sr + pad
        if pos + flen > len(payload):
            raise ValueError("mp3 final frame truncated")
        off = pos + 4
        if protection:
            off += 2  # CRC-16 over header+side info; not verified here
        side_len = 17 if nch == 1 else 32
        side = payload[off:off + side_len]
        if len(side) < side_len:
            raise ValueError("mp3 side info truncated")
        main_part = payload[off + side_len:pos + flen]
        main_data_begin, scfsi, granules = _parse_side_info(side, nch)
        if main_data_begin > len(reservoir):
            raise ValueError(
                "bit reservoir underflow (main_data_begin reaches "
                "before the stream start)"
            )
        main_data = (
            reservoir[len(reservoir) - main_data_begin:] + main_part
            if main_data_begin else main_part
        )
        brd = MsbReader(main_data)
        frame = {
            "sample_rate": sr, "bitrate_kbps": bitrate,
            "mode": mode, "mode_ext": mode_ext, "nch": nch,
            "granules": [],
        }
        prev_long = [[0] * 21 for _ in range(nch)]
        for gr in range(2):
            chans = []
            for ch in range(nch):
                g = granules[gr][ch]
                p23_start = brd.pos
                sf_long, sf_short, part2 = _decode_scalefactors(
                    brd, g, scfsi[ch], gr, prev_long[ch]
                )
                if gr == 0:
                    prev_long[ch] = sf_long
                p23_end = p23_start + g.part2_3_length
                if part2 > g.part2_3_length:
                    raise ValueError(
                        "scalefactors overran part2_3_length"
                    )
                lines, n_lines, n_c1 = _decode_huffman(
                    brd, g, sr, p23_end, tables
                )
                chans.append({
                    "info": g, "sf_long": sf_long, "sf_short": sf_short,
                    "lines": lines, "n_lines": n_lines,
                    "n_count1": n_c1,
                })
            frame["granules"].append(chans)
        frames.append(frame)
        # reservoir: everything in this frame's main-data slot is
        # available to FUTURE frames (keep the 511-byte maximum the
        # 9-bit main_data_begin can address)
        reservoir = (reservoir + main_part)[-511:]
        pos += flen
    return frames


def decode_stats(payload: bytes) -> list[float]:
    """Integer census of the decoded bitstream for the driver gate:
    [n_frames, n_granule_channels, sum_abs_q, n_nonzero, max_abs_q,
    sum_scalefac, sum_global_gain] — every element an exact integer
    over the decoded Huffman lines and scalefactors, so a DuckDB
    oracle can recompute it in closed form from the synth parameters
    (the bitstream transports exactly these integers)."""
    frames = parse_frames(payload)
    n_gc = sum_abs = n_nz = max_abs = sum_sf = sum_gg = 0
    for f in frames:
        for gr_chans in f["granules"]:
            for d in gr_chans:
                n_gc += 1
                for q in d["lines"]:
                    if q:
                        a = abs(q)
                        sum_abs += a
                        n_nz += 1
                        if a > max_abs:
                            max_abs = a
                sum_sf += sum(d["sf_long"]) + sum(
                    v for w in d["sf_short"] for v in w
                )
                sum_gg += d["info"].global_gain
    return [
        float(len(frames)), float(n_gc), float(sum_abs), float(n_nz),
        float(max_abs), float(sum_sf), float(sum_gg),
    ]


# --------------------------------------------------------- writing
def _encode_value(bw: MsbWriter, table: HuffTable, x: int, y: int):
    ax, ay = abs(x), abs(y)
    lx = ly = 0
    if table.linbits:
        if ax > 15 + (1 << table.linbits) - 1:
            raise ValueError("value exceeds linbits range")
        if ax >= 15:
            lx, ax2 = ax - 15, 15
        else:
            ax2 = ax
        if ay >= 15:
            ly, ay2 = ay - 15, 15
        else:
            ay2 = ay
    else:
        if ax >= table.dim or ay >= table.dim:
            raise ValueError("value exceeds table range")
        ax2, ay2 = ax, ay
    bw.write(table.hcod[ax2][ay2], table.hlen[ax2][ay2])
    if table.linbits and ax2 == 15:
        bw.write(lx, table.linbits)
    if ax:
        bw.write(1 if x < 0 else 0, 1)
    if table.linbits and ay2 == 15:
        bw.write(ly, table.linbits)
    if ay:
        bw.write(1 if y < 0 else 0, 1)


def write_frames(frame_specs, tables=None):
    """The independent bitstream writer: build a whole MPEG-1 Layer
    III stream from explicit frame specs, the encode-side mirror the
    round-trip tests drive.

    Each spec: {bitrate_kbps, sample_rate, padding, granules:
    [[{big_values_pairs: [(x, y), ...], count1_quads: [(v,w,x,y),...],
    global_gain, scalefac_compress, sf_long, table_select,
    region0_count, region1_count, count1table_select, preflag,
    scalefac_scale}]*1]*2}  (mono only; main_data_begin always 0 —
    reservoir layouts are exercised by hand-built streams in the
    tests).  part2_3_length is COMPUTED from the actual emitted bits,
    the invariant real encoders must maintain."""
    tabs = BIG_VALUE_TABLES if tables is None else tables
    out = bytearray()
    for spec in frame_specs:
        bitrate = spec["bitrate_kbps"]
        sr = spec["sample_rate"]
        pad = spec.get("padding", 0)
        br_idx = _BITRATE_KBPS.index(bitrate)
        sr_idx = _SAMPLE_RATE.index(sr)
        hdr = (0x7FF << 21) | (3 << 19) | (1 << 17) | (1 << 16)
        hdr |= (br_idx << 12) | (sr_idx << 10) | (pad << 9) | (3 << 6)
        flen = (144000 * bitrate) // sr + pad
        # encode both granules' main data first to learn part2_3_length
        main = MsbWriter()
        p23 = []
        for gr in range(2):
            g = spec["granules"][gr][0]
            start = main.bit_length()
            slen1 = _SLEN1[g["scalefac_compress"]]
            slen2 = _SLEN2[g["scalefac_compress"]]
            sf_long = g.get("sf_long", [0] * 21)
            for band in range(21):
                main.write(sf_long[band], slen1 if band < 11 else slen2)
            table_select = g["table_select"]
            pairs = g.get("big_values_pairs", [])
            # region boundaries must match the decoder's split
            gi = GranuleInfo()
            gi.big_values = len(pairs)
            gi.window_switching = 0
            gi.region0_count = g.get("region0_count", 0)
            gi.region1_count = g.get("region1_count", 0)
            r0, r1 = _region_boundaries(gi, sr)
            for i, (x, y) in enumerate(pairs):
                line = i * 2
                region = 0 if line < r0 else (1 if line < r1 else 2)
                tsel = table_select[region]
                table = tabs.get(tsel)
                if table is None:
                    raise NotImplementedError(
                        f"mp3 Huffman table {tsel} not verifiable"
                    )
                if table.dim == 1:
                    if x or y:
                        raise ValueError("table 0 only encodes zeros")
                    continue
                _encode_value(main, table, x, y)
            for (v, w, x, y) in g.get("count1_quads", []):
                quad = ((1 if v else 0) << 3 | (1 if w else 0) << 2
                        | (1 if x else 0) << 1 | (1 if y else 0))
                if g.get("count1table_select", 0):
                    main.write(quad ^ 0xF, 4)
                else:
                    main.write(_HCOD_C1A[quad], _HLEN_C1A[quad])
                for s in (v, w, x, y):
                    if s:
                        main.write(1 if s < 0 else 0, 1)
            p23.append(main.bit_length() - start)
        main_bytes = main.getvalue()
        side = MsbWriter()
        side.write(0, 9)   # main_data_begin
        side.write(0, 5)   # private (mono)
        for _ in range(4):
            side.write(0, 1)  # scfsi
        for gr in range(2):
            g = spec["granules"][gr][0]
            side.write(p23[gr], 12)
            side.write(len(g.get("big_values_pairs", [])), 9)
            side.write(g["global_gain"], 8)
            side.write(g["scalefac_compress"], 4)
            side.write(0, 1)  # window_switching
            for tsel in g["table_select"]:
                side.write(tsel, 5)
            side.write(g.get("region0_count", 0), 4)
            side.write(g.get("region1_count", 0), 3)
            side.write(g.get("preflag", 0), 1)
            side.write(g.get("scalefac_scale", 0), 1)
            side.write(g.get("count1table_select", 0), 1)
        side_bytes = side.getvalue()
        assert len(side_bytes) == 17
        body = side_bytes + main_bytes
        room = flen - 4
        if len(body) > room:
            raise ValueError(
                f"frame payload {len(body)} exceeds frame length {room}"
            )
        out += struct.pack(">I", hdr) + body + b"\x00" * (room - len(body))
    return bytes(out)


# ------------------------------------------------- synthesis (part 1)
# The time-domain half between requantize and the polyphase
# filterbank: short-block reorder, antialias butterflies, IMDCT with
# the four window types, overlap-add, frequency inversion.  Every
# stage here is CLOSED-FORM math (cosine transforms, sine windows,
# plane rotations from the eight published ci constants) and is pinned
# against direct definition-based reimplementations in the tests — no
# unverifiable table data.  The remaining PCM stage (the 32-band
# polyphase filterbank) is matrixing (closed form) times the 512-tap
# synthesis window, which IS table data with no in-container reference
# to verify against; it stays the documented gap (module docstring).

_ANTIALIAS_CI = (-0.6, -0.535, -0.33, -0.185,
                 -0.095, -0.041, -0.0142, -0.0037)
_ANTIALIAS_CS = tuple(1.0 / (1.0 + c * c) ** 0.5 for c in _ANTIALIAS_CI)
_ANTIALIAS_CA = tuple(c / (1.0 + c * c) ** 0.5 for c in _ANTIALIAS_CI)


def reorder_short(xr, g: GranuleInfo, sample_rate: int):
    """Short-block reorder: requantize leaves values in BITSTREAM
    order (scalefactor-band-major, window runs within each band); the
    IMDCT needs them point-interleaved (window w's spectral point i of
    subband sb at 18*sb + 3*i + w).  Long/mixed-long regions pass
    through unchanged."""
    if not (g.window_switching and g.block_type == 2):
        return list(xr)
    out = list(xr)
    bands = SFB_SHORT[sample_rate]
    first = 3 if g.mixed_block else 0
    for b in range(first, len(bands) - 1):
        start, width = bands[b], bands[b + 1] - bands[b]
        base = 3 * start
        for win in range(3):
            for k in range(width):
                out[base + 3 * k + win] = xr[base + win * width + k]
    return out


def antialias(xr, g: GranuleInfo):
    """The 8 butterfly rotations across each of the 31 subband
    boundaries (ISO 2.4.3.4.10.1); skipped for pure short blocks, and
    applied only at the first boundary for mixed blocks."""
    if g.window_switching and g.block_type == 2 and not g.mixed_block:
        return list(xr)
    n_bounds = 1 if (g.window_switching and g.block_type == 2) else 31
    out = list(xr)
    for sb in range(1, n_bounds + 1):
        for i in range(8):
            lo = 18 * sb - 1 - i
            hi = 18 * sb + i
            a, b = out[lo], out[hi]
            out[lo] = a * _ANTIALIAS_CS[i] - b * _ANTIALIAS_CA[i]
            out[hi] = b * _ANTIALIAS_CS[i] + a * _ANTIALIAS_CA[i]
    return out


_IMDCT_COS: dict = {}
_IMDCT_COS_NP: dict = {}


def _imdct(x, n):
    """The Layer III IMDCT: out[i] = sum_k x[k] cos(pi/(2n) *
    (2i + 1 + n/2)(2k + 1)), i in [0, n), len(x) == n//2.

    The cosine matrix is cached per n and all-zero inputs
    short-circuit — both BIT-exact rewrites (same doubles, and a sum
    of signed zeros compares equal to 0.0), worth ~6x on sparse
    spectra like the PCM gate's single-line granules."""
    import math

    half = n // 2
    mat = _IMDCT_COS.get(n)
    if mat is None:
        mat = [
            [
                math.cos(math.pi / (2 * n) * (2 * i + 1 + half)
                         * (2 * k + 1))
                for k in range(half)
            ]
            for i in range(n)
        ]
        _IMDCT_COS[n] = mat
    if not any(x):
        return [0.0] * n
    # r12 §4.2: same products, same left-to-right accumulation order —
    # np.cumsum is a sequential scan, so row i's last prefix equals the
    # python sum bit-for-bit (verified against the loop in tests); the
    # matrix rows just run through C instead of a genexpr.
    import numpy as np

    npmat = _IMDCT_COS_NP.get(n)
    if npmat is None:
        npmat = np.array(mat, dtype=np.float64)
        _IMDCT_COS_NP[n] = npmat
    xv = np.asarray(x, dtype=np.float64)
    prods = npmat * xv
    if half == 1:
        return prods[:, 0].tolist()
    return prods.cumsum(axis=1)[:, -1].tolist()


_WINDOW_LONG_CACHE: dict = {}


def _window_long(block_type):
    """The 36-point sine windows for block types 0 (normal), 1
    (start), 3 (stop) — all closed form (cached per type: the values
    are deterministic and the trig re-evaluation showed up at ~13% of
    decode_pcm in the r12 profile)."""
    import math

    cached = _WINDOW_LONG_CACHE.get(block_type)
    if cached is not None:
        return cached
    w = []
    for i in range(36):
        if block_type == 0:
            w.append(math.sin(math.pi / 36 * (i + 0.5)))
        elif block_type == 1:
            if i < 18:
                w.append(math.sin(math.pi / 36 * (i + 0.5)))
            elif i < 24:
                w.append(1.0)
            elif i < 30:
                w.append(math.sin(math.pi / 12 * (i - 18 + 0.5)))
            else:
                w.append(0.0)
        elif block_type == 3:
            if i < 6:
                w.append(0.0)
            elif i < 12:
                w.append(math.sin(math.pi / 12 * (i - 6 + 0.5)))
            elif i < 18:
                w.append(1.0)
            else:
                w.append(math.sin(math.pi / 36 * (i + 0.5)))
        else:
            raise ValueError("long window for block_type 2")
    _WINDOW_LONG_CACHE[block_type] = w
    return w


def _imdct_block(x18, block_type):
    """One subband's 18 spectral lines -> 36 windowed time samples.
    Short blocks run three 12-point IMDCTs overlapped at +6 inside
    the same 36-sample envelope (leading/trailing 6 zeros)."""
    import math

    if block_type == 2:
        out = [0.0] * 36
        win12 = [math.sin(math.pi / 12 * (i + 0.5)) for i in range(12)]
        for w in range(3):
            xin = [x18[3 * i + w] for i in range(6)]
            y = _imdct(xin, 12)
            for i in range(12):
                out[6 + 6 * w + i] += y[i] * win12[i]
        return out
    win = _window_long(block_type)
    y = _imdct(x18, 36)
    return [y[i] * win[i] for i in range(36)]


def granule_time_samples(xr, g: GranuleInfo, sample_rate: int,
                         overlap=None):
    """Reorder + antialias + per-subband IMDCT + overlap-add +
    frequency inversion: the full time-domain path up to the polyphase
    filterbank.  Returns (samples, new_overlap): samples is 18 rows x
    32 subbands (the filterbank's input order), new_overlap the 32x18
    tail to carry into the next granule.  For MIXED blocks the first
    two subbands run as long blocks (type 0) and the rest as short,
    per the standard."""
    if overlap is None:
        overlap = [[0.0] * 18 for _ in range(32)]
    xr = reorder_short(xr, g, sample_rate)
    xr = antialias(xr, g)
    samples = [[0.0] * 32 for _ in range(18)]
    new_overlap = []
    for sb in range(32):
        if g.window_switching and g.block_type == 2:
            bt = 0 if (g.mixed_block and sb < 2) else 2
        else:
            bt = g.block_type
        z = _imdct_block(xr[18 * sb:18 * sb + 18], bt)
        for i in range(18):
            v = z[i] + overlap[sb][i]
            # frequency inversion: odd time samples of odd subbands
            if sb % 2 and i % 2:
                v = -v
            samples[i][sb] = v
        new_overlap.append([z[18 + i] for i in range(18)])
    return samples, new_overlap


# ------------------------------------------------- stereo processing
def _intensity_bound(right_lines):
    """The intensity-stereo bound: the line index after the RIGHT
    channel's last nonzero decoded value (ISO 2.4.3.4.9.3 — intensity
    applies to the all-zero tail of the right channel)."""
    for i in range(575, -1, -1):
        if right_lines[i]:
            return i + 1
    return 0


def stereo_process(xl, xr_, mode_extension, sf_right_long,
                   right_lines, sample_rate: int):
    """Joint-stereo reconstruction over requantized LONG-block
    spectra: MS stereo (mode_extension bit 1) mixes L=(M+S)/sqrt2,
    R=(M-S)/sqrt2; intensity stereo (bit 0) replaces the right
    channel's all-zero tail band-by-band with a panned copy of the
    left using the right channel's scalefactor as the position
    (ratio = tan(is_pos * pi/12); is_pos 7 = 'illegal', band left
    as-is).  Where both are on, MS covers the spectrum below the
    intensity bound, intensity above — the standard's split.  Returns
    (left, right) lists of 576.  Closed form throughout; the pure
    short-block form is stereo_process_short (per-window bounds)."""
    import math

    left, right = list(xl), list(xr_)
    do_ms = bool(mode_extension & 2)
    do_is = bool(mode_extension & 1)
    bound = _intensity_bound(right_lines) if do_is else 576
    if do_ms:
        s2 = math.sqrt(2.0)
        for i in range(bound):
            m, s = left[i], right[i]
            left[i] = (m + s) / s2
            right[i] = (m - s) / s2
    if do_is:
        bands = SFB_LONG[sample_rate]
        for b in range(len(bands) - 1):
            start, end = bands[b], bands[b + 1]
            if start < bound:
                continue  # band not entirely in the zero tail
            is_pos = sf_right_long[b] if b < 21 else 7
            if is_pos == 7:
                continue  # 'illegal' position: band stays as decoded
            ratio = math.tan(is_pos * math.pi / 12.0)
            for i in range(start, end):
                v = left[i]
                left[i] = v * (ratio / (1.0 + ratio))
                right[i] = v * (1.0 / (1.0 + ratio))
    return left, right


def stereo_process_short(xl, xr_, mode_extension, sf_right_short,
                         right_lines, sample_rate: int):
    """Joint stereo for PURE SHORT blocks (block_type 2, not mixed),
    over BITSTREAM-order spectra (stereo runs before the reorder, as
    in the standard pipeline): MS mixes below the intensity region;
    intensity applies PER WINDOW — for each of the three windows, the
    bound is the line after the right channel's last nonzero value
    belonging to that window, and every short band at-or-above the
    bound in that window pans the left value with
    ratio = tan(is_pos * pi / 12), is_pos = sf_right_short[band][win]
    (7 = passthrough).  Returns (left, right)."""
    import math

    left, right = list(xl), list(xr_)
    do_ms = bool(mode_extension & 2)
    do_is = bool(mode_extension & 1)
    bands = SFB_SHORT[sample_rate]
    nb = len(bands) - 1
    # per-window bound: the first short BAND index in window w at or
    # above which the right channel is entirely zero
    bound_band = [0, 0, 0]
    if do_is:
        for w in range(3):
            bb = 0
            for b in range(nb):
                start, width = bands[b], bands[b + 1] - bands[b]
                base = 3 * start + w * width
                if any(right_lines[base + k] for k in range(width)
                       if base + k < 576):
                    bb = b + 1
            bound_band[w] = bb
    else:
        bound_band = [nb, nb, nb]
    s2 = math.sqrt(2.0)
    for b in range(nb):
        start, width = bands[b], bands[b + 1] - bands[b]
        for w in range(3):
            base = 3 * start + w * width
            in_intensity = do_is and b >= bound_band[w]
            for k in range(width):
                i = base + k
                if i >= 576:
                    continue
                if in_intensity:
                    is_pos = sf_right_short[b][w] if b < 12 else 7
                    if is_pos == 7:
                        continue
                    ratio = math.tan(is_pos * math.pi / 12.0)
                    v = left[i]
                    left[i] = v * (ratio / (1.0 + ratio))
                    right[i] = v * (1.0 / (1.0 + ratio))
                elif do_ms:
                    m, s = left[i], right[i]
                    left[i] = (m + s) / s2
                    right[i] = (m - s) / s2
    return left, right


# ------------------------------------------- polyphase filterbank
class PolyphaseSynth:
    """The 32-band synthesis filterbank MACHINERY (ISO 2.4.3.2.2,
    run once per 32-subband time step): matrixing V[i] =
    sum_k cos((16+i)(2k+1)pi/64) * S[k] into a 1024-sample FIFO,
    the U-vector gather, windowing, and the 16-fold accumulation to
    32 PCM samples.  The MATRIX is closed form and pinned against
    direct cosine evaluation; the 512-tap synthesis WINDOW is the one
    piece of mp3 PCM that is unverifiable table data in-container, so
    it is an INJECTED parameter (the synthetic-ESC-table pattern):
    tests drive the machinery with closed-form windows, and shipping
    real PCM becomes a data drop once a reference exists to pin the
    published window against."""

    _N_MATRIX = None  # class-level cache: the 64x32 cosine matrix

    def __init__(self, window):
        import math

        if len(window) != 512:
            raise ValueError("synthesis window must have 512 taps")
        self.window = list(window)
        if PolyphaseSynth._N_MATRIX is None:
            PolyphaseSynth._N_MATRIX = [
                [math.cos((16 + i) * (2 * k + 1) * math.pi / 64.0)
                 for k in range(32)]
                for i in range(64)
            ]
        self._n = PolyphaseSynth._N_MATRIX
        # per output j, the (v-index, window-value) pairs of the
        # NONZERO window taps at 32i+j, i ascending (ISO U-vector
        # gather: u[64q+r] = v[128q+r] for r<32 else v[128q+96+r-32])
        self._taps = [[] for _ in range(32)]
        for i in range(16):
            for j in range(32):
                t = 32 * i + j
                wv = self.window[t]
                if wv != 0.0:
                    q, r = divmod(t, 64)
                    vidx = (128 * q + r) if r < 32 else (
                        128 * q + 96 + (r - 32)
                    )
                    self._taps[j].append((vidx, wv))
        # r12 §4.2: when every output has the same number of nonzero
        # taps (true for the gate window and for dense real windows),
        # the gather runs as one (32, T) fancy-index + elementwise
        # product + sequential row scan — identical products in
        # identical order, no padding terms ever introduced.  Ragged
        # windows keep the per-output python sum.
        import numpy as np

        counts = {len(t) for t in self._taps}
        if len(counts) == 1 and counts != {0}:
            self._tap_idx = np.array(
                [[vi for vi, _ in row] for row in self._taps],
                dtype=np.intp,
            )
            self._tap_w = np.array(
                [[wv for _, wv in row] for row in self._taps],
                dtype=np.float64,
            )
        else:
            self._tap_idx = None
        self._n_np = np.array(self._n, dtype=np.float64)
        # the FIFO state; indexable like the old python list
        self.v = np.zeros(1024, dtype=np.float64)

    def step(self, subband_samples):
        """One time step: 32 subband samples -> 32 PCM samples.
        Matrixing skips exact-zero subbands — bit-exact (dropping
        +-0.0 terms from a sum leaves the value unchanged up to zero
        sign, which compares equal) and ~16x cheaper on sparse
        granules."""
        if len(subband_samples) != 32:
            raise ValueError("expected 32 subband samples")
        import numpy as np

        # r12 §4.2 vectorized form of the definitional loops, product-
        # for-product and in the same order (np.cumsum is a sequential
        # scan; the nonzero-subband skip is the same index list the
        # python path used, ascending), so the PCM floats are
        # bit-identical — pinned by tests/test_mp3l3.py's step-
        # equivalence test against the reference python loop.
        v = np.empty(1024, dtype=np.float64)
        v[64:] = self.v[:-64]  # shift the FIFO by 64
        s = np.asarray(subband_samples, dtype=np.float64)
        nz = np.nonzero(s != 0.0)[0]
        if nz.size == 0:
            v[:64] = 0.0
        elif nz.size == 1:
            v[:64] = self._n_np[:, nz[0]] * s[nz[0]]
        else:
            v[:64] = (self._n_np[:, nz] * s[nz]).cumsum(axis=1)[:, -1]
        self.v = v
        if self._tap_idx is not None:
            prods = v[self._tap_idx] * self._tap_w
            if prods.shape[1] == 1:
                return prods[:, 0].tolist()
            return prods.cumsum(axis=1)[:, -1].tolist()
        # ragged window: keep the exact per-output python fold
        taps = self._taps
        return [
            sum(v[vi] * wv for vi, wv in taps[j]) for j in range(32)
        ]


def decode_pcm(payload: bytes, synthesis_window, tables=None):
    """The complete decode chain: frames -> requantize -> joint
    stereo -> time-domain synthesis -> polyphase filterbank -> PCM
    floats per channel.  `synthesis_window` must be supplied by the
    caller (512 taps): the published window is unverifiable
    in-container (module docstring), so this function IS the data
    drop point — hand it the real table and mp3 PCM is live.
    Returns (sample_rate, channels) where channels is a list of
    per-channel PCM float lists (1152 samples per frame)."""
    frames = parse_frames(payload, tables)
    if not frames:
        raise ValueError("no frames decoded")
    sr = frames[0]["sample_rate"]
    nch = max(f["nch"] for f in frames)
    synths = [PolyphaseSynth(synthesis_window) for _ in range(nch)]
    overlaps = [None] * nch
    pcm = [[] for _ in range(nch)]
    for f in frames:
        mode_ext = f.get("mode_ext", 0)
        for gr_chans in f["granules"]:
            xrs = []
            for ch, d in enumerate(gr_chans):
                xrs.append(requantize(
                    d["lines"], d["info"], d["sf_long"],
                    d["sf_short"], sr,
                ))
            if f["nch"] == 2 and f["mode"] == 1 and mode_ext:
                gR = gr_chans[1]["info"]
                if gR.window_switching and gR.block_type == 2 \
                        and not gR.mixed_block:
                    xrs[0], xrs[1] = stereo_process_short(
                        xrs[0], xrs[1], mode_ext,
                        gr_chans[1]["sf_short"],
                        gr_chans[1]["lines"], sr,
                    )
                else:
                    xrs[0], xrs[1] = stereo_process(
                        xrs[0], xrs[1], mode_ext,
                        gr_chans[1]["sf_long"],
                        gr_chans[1]["lines"], sr,
                    )
            for ch in range(f["nch"]):
                d = gr_chans[ch]
                samples, overlaps[ch] = granule_time_samples(
                    xrs[ch], d["info"], sr, overlaps[ch]
                )
                for row in samples:
                    pcm[ch].extend(synths[ch].step(row))
    return sr, pcm[:frames[0]["nch"]] if nch else pcm


def gate_synthesis_window():
    """The ANALYTICALLY-DEFINED injected window the full-PCM driver
    gate runs decode_pcm with (VERDICT r10 next-round #4): taps 0..31
    are 1.0 (the current matrixing block passes straight through) and
    taps 64..95 are 0.5 (the block from TWO steps ago re-enters at
    half gain through the FIFO, so the 1024-sample V-buffer shift is
    behind the driver hash too).  Every tap is an exact power of two,
    so windowing never rounds; the closed-form oracle's PCM is
    C_j*G_t + (C_j*G_{t-2})*0.5 exactly.  The published 512-tap
    window remains a pure data drop into the same argument."""
    win = [0.0] * 512
    for i in range(32):
        win[i] = 1.0
    for i in range(64, 96):
        win[i] = 0.5
    return win


def decode_pcm_census(payload: bytes) -> list[float]:
    """The full-PCM gate decoder: decode_pcm with the analytic
    gate_synthesis_window, then integer statistics of the
    1/4096-quantized samples (round-half-up floor, exact in float64 —
    |fq| <= ~2e5, checksum <= ~5e10 < 2^53).  The positional checksum
    pins every sample's VALUE AND POSITION behind one integer:
    [sample_rate, n_samples, sum_fq, sum_abs_fq, max_fq, min_fq,
    checksum]."""
    import math

    sr, chans = decode_pcm(payload, gate_synthesis_window())
    if len(chans) != 1:
        raise ValueError("pcm gate expects mono streams")
    fq = [math.floor(x * 4096 + 0.5) for x in chans[0]]
    if not fq:
        raise ValueError("no PCM samples decoded")
    return [
        float(sr),
        float(len(fq)),
        float(sum(fq)),
        float(sum(abs(v) for v in fq)),
        float(max(fq)),
        float(min(fq)),
        float(sum(v * ((i % 97) + 1) for i, v in enumerate(fq))),
    ]


def mp3_decoder_factory(synthesis_window, tables=None):
    """A consumer-facing decoder with multimodal.wav_decoder's 5-float
    contract — [n_channels, sample_rate, n_frames(samples/ch),
    mean_abs, peak] — so mp3 plugs straight into extract_features and
    the audio dedup/VAD operators once the caller supplies verified
    synthesis-window (and optionally Huffman-table) data.  The same
    consumer-option pattern as multimodal.image_decoder_ctypes: the
    honest default (`audio_decoder`) keeps refusing mp3 PCM because
    the published window is unverifiable in-container; this factory is
    the opt-in for callers who bring the data."""
    def decoder(payload: bytes) -> list[float]:
        sr, chans = decode_pcm(payload, synthesis_window, tables)
        samples = [v for ch in chans for v in ch]
        tot_abs = sum(abs(s) for s in samples)
        peak = max((abs(s) for s in samples), default=0.0)
        n = len(samples)
        return [
            float(len(chans)),
            float(sr),
            float(len(chans[0]) if chans else 0),
            tot_abs / n if n else 0.0,
            float(peak),
        ]

    return decoder
