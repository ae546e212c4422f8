"""Property tests for the Vorbis decode machinery (operators/
vorbis.py), each stage against an INDEPENDENT model — the mp3l3
discipline: codeword assignment vs a brute-force lowest-free-code
search, render_line vs exact Fraction arithmetic, the window vs the
Princen-Bradley identity, the inverse MDCT vs its direct (2pi/n)
definition."""

from __future__ import annotations

import math
from fractions import Fraction

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from osmexpress_spark.operators import vorbis as V
from osmexpress_spark.operators.multimodal import (
    _VorbisBitReader,
    _VorbisBitWriter,
)


# --------------------------------------------------------- codewords


from conftest import assert_no_key_exchange  # noqa: E402

def _brute_force_assign(lengths: dict[int, int]) -> dict:
    """Independent model: for each entry in order, scan codewords of
    its length in ascending numeric order and take the first that
    neither prefixes nor is prefixed by an already-assigned word."""
    def conflicts(c1, l1, c2, l2):
        m = min(l1, l2)
        return (c1 >> (l1 - m)) == (c2 >> (l2 - m))

    out = {}
    for entry in sorted(lengths):
        ln = lengths[entry]
        for cand in range(1 << ln):
            if not any(conflicts(cand, ln, c, l)
                       for c, l in out.values()):
                out[entry] = (cand, ln)
                break
        else:
            raise ValueError("overspecified codebook")
    return out


def _complete_length_sets():
    """Small complete prefix trees as entry->length dicts."""
    return st.sampled_from([
        {0: 1, 1: 1},
        {0: 1, 1: 2, 2: 2},
        {0: 2, 1: 2, 2: 2, 3: 2},
        {0: 1, 1: 2, 2: 3, 3: 3},
        {0: 3, 1: 3, 2: 2, 3: 2, 4: 2},
        {0: 2, 1: 3, 2: 3, 3: 1},          # entry order != length order
        {2: 1, 5: 2, 9: 3, 11: 3},         # sparse entry numbers
    ])


@given(_complete_length_sets())
@settings(max_examples=20, deadline=None)
def test_codeword_assignment_matches_brute_force(lengths):
    assert V.assign_codewords(lengths) == _brute_force_assign(lengths)


def test_codeword_assignment_kraft_discipline():
    # complete trees pass and cover the whole code space
    words = V.assign_codewords({0: 2, 1: 2, 2: 2, 3: 2})
    assert sorted(c for c, _ in words.values()) == [0, 1, 2, 3]
    # underspecified (kraft < 1) rejected
    with pytest.raises(ValueError, match="underspecified"):
        V.assign_codewords({0: 2, 1: 2, 2: 2})
    # overspecified (kraft > 1) rejected
    with pytest.raises(ValueError, match="overspecified"):
        V.assign_codewords({0: 1, 1: 1, 2: 1})
    # the spec's single-entry special case: 1-bit codeword 0
    assert V.assign_codewords({7: 4}) == {7: (0, 1)}
    with pytest.raises(ValueError):
        V.assign_codewords({})


def test_huffman_decode_roundtrip_lsb_stream():
    lengths = {0: 1, 1: 2, 2: 3, 3: 3}
    words = V.assign_codewords(lengths)
    dec = V.HuffDecoder(lengths)
    seq = [3, 0, 1, 2, 2, 0, 3, 1, 0, 0, 2]
    bw = _VorbisBitWriter()
    for entry in seq:
        code, ln = words[entry]
        for k in range(ln - 1, -1, -1):   # root-first bit order
            bw.write((code >> k) & 1, 1)
    br = _VorbisBitReader(bw.getvalue())
    assert [dec.decode(br) for _ in seq] == seq


def test_huffman_decode_invalid_codeword():
    dec = V.HuffDecoder({0: 2, 1: 2, 2: 2, 3: 2})
    # exhaust max_len without a hit is impossible for a complete
    # 2-bit tree, so truncation is the failure mode instead
    with pytest.raises(ValueError):
        dec.decode(_VorbisBitReader(b""))


# -------------------------------------------------------- render_line


@given(
    st.integers(0, 30), st.integers(-120, 120),
    st.integers(1, 60), st.integers(-120, 120),
)
@settings(max_examples=200, deadline=None)
def test_render_line_matches_exact_rational_model(x0, y0, dx, y1):
    x1 = x0 + dx
    v = [None] * x1
    V.render_line(x0, y0, x1, y1, v)
    dy = y1 - y0
    for x in range(x0, x1):
        exact = Fraction(dy * (x - x0), dx)
        trunc = int(exact)  # Fraction.__int__ truncates toward zero
        assert v[x] == y0 + trunc, (x, v[x], y0 + trunc)


def test_render_line_endpoint_and_monotone():
    v = [0] * 10
    V.render_line(0, 5, 10, 25, v)
    assert v[0] == 5
    assert all(v[i + 1] >= v[i] for i in range(9))
    v2 = [0] * 10
    V.render_line(0, 25, 10, 5, v2)
    assert v2[0] == 25
    assert all(v2[i + 1] <= v2[i] for i in range(9))


# ------------------------------------------------------------ floor1


def test_floor1_flat_curve_constant():
    tab = V.analytic_db_table()
    out = V.floor1_curve([0, 64], [40, 40], [True, True], 32, 1, tab)
    assert out == [tab[40]] * 32


def test_floor1_sloped_curve_matches_render_line():
    tab = V.analytic_db_table()
    out = V.floor1_curve([0, 64], [10, 74], [True, True], 64, 1, tab)
    v = [0] * 64
    V.render_line(0, 10, 64, 74, v)
    assert out == [tab[y] for y in v]


def test_floor1_unflagged_points_skipped_and_x_sorted():
    tab = V.analytic_db_table()
    # the middle point is unflagged -> pure two-point line; X list
    # deliberately unsorted to exercise the sort
    out = V.floor1_curve(
        [64, 0, 32], [50, 50, 200], [True, True, False], 32, 1, tab
    )
    assert out == [tab[50]] * 32


def test_floor1_multiplier_and_clamp():
    tab = V.analytic_db_table()
    out = V.floor1_curve([0, 64], [80, 80], [True, True], 8, 4, tab)
    assert out == [tab[255]] * 8  # 320 clamps to 255
    with pytest.raises(ValueError):
        V.floor1_curve([0, 64], [1, 1], [True, True], 8, 1, [0.0] * 10)


# ----------------------------------------------------- window / MDCT


@pytest.mark.parametrize("n", [8, 64, 256])
def test_vorbis_window_princen_bradley(n):
    w = V.vorbis_window(n)
    half = n // 2
    for i in range(half):
        assert abs(w[i] ** 2 + w[i + half] ** 2 - 1.0) < 1e-12
    # the fully-lapped window is a SYMMETRIC bump: ~0 at the edges,
    # 1 at the center crossing
    assert w[0] < 0.1 and w[n - 1] < 0.1
    assert all(abs(w[i] - w[n - 1 - i]) < 1e-12 for i in range(n))
    assert w[half - 1] > 0.99 and w[half] > 0.99


@pytest.mark.parametrize("n", [8, 16, 64])
def test_inverse_mdct_matches_direct_definition(n):
    import random

    rnd = random.Random(7)
    spec = [rnd.uniform(-1, 1) for _ in range(n // 2)]
    got = V.inverse_mdct(spec, n)
    for j in range(n):
        direct = sum(
            spec[k] * math.cos(
                2 * math.pi / n * (j + 0.5 + n / 4) * (k + 0.5)
            )
            for k in range(n // 2)
        )
        assert abs(got[j] - direct) < 1e-9
    with pytest.raises(ValueError):
        V.inverse_mdct(spec, 2 * n)


def test_mdct_tdac_perfect_reconstruction():
    """The lapped-transform identity end to end: forward MDCT of
    windowed blocks, inverse_mdct, OverlapAdd — the overlapped region
    reconstructs the input times n/4 (the convention's constant,
    verified numerically), which pins window + transform + overlap
    TOGETHER."""
    import random

    n, half = 16, 8
    rnd = random.Random(3)
    x = [rnd.uniform(-1, 1) for _ in range(half * 5)]
    w = V.vorbis_window(n)

    def fwd(block):
        return [
            sum(
                block[j] * w[j] * math.cos(
                    2 * math.pi / n * (j + 0.5 + n / 4) * (k + 0.5)
                )
                for j in range(n)
            )
            for k in range(half)
        ]

    ola = V.OverlapAdd(n)
    outs = []
    for b in range(4):
        block = x[b * half:(b + 2) * half]
        outs.extend(ola.step(V.inverse_mdct(fwd(block), n)))
    # outs[i] corresponds to x[half + i] (the first half-block is
    # transform latency), scaled by n/4
    for i, got in enumerate(outs):
        assert abs(got - x[half + i] * (n / 4)) < 1e-9


def test_overlap_add_state():
    ola = V.OverlapAdd(8)
    assert ola.step([1.0] * 8) == []      # first block: latency only
    out = ola.step([0.0] * 8)
    assert len(out) == 4
    with pytest.raises(ValueError):
        ola.step([0.0] * 4)


# ------------------------------------------- full packet decode e2e


def _f32_pack(value: float) -> int:
    """Inverse of float32_unpack for the simple values the tests use
    (0.0 and small powers-of-two-scaled integers)."""
    if value == 0.0:
        return 0
    sign = 0
    if value < 0:
        sign = 0x80000000
        value = -value
    mantissa = int(value)
    exponent = 788
    while mantissa != value:  # scale fractions up
        value *= 2
        mantissa = int(value)
        exponent -= 1
    return sign | (exponent << 21) | mantissa


def _ogg_page(body, lacing, flags, serial, seq):
    import struct

    from osmexpress_spark.operators import multimodal as M

    head = (
        b"OggS\x00" + bytes([flags])
        + struct.pack("<qIII", 0, serial, seq, 0)
        + bytes([len(lacing)]) + bytes(lacing)
    )
    crc = M._ogg_crc(head + body)
    return head[:22] + struct.pack("<I", crc) + head[26:] + body


def _lacing(pkt):
    return [255] * (len(pkt) // 255) + [len(pkt) % 255]


def _write_unordered_book(bw, dims, lengths, lookup=None):
    """lengths: list over ALL entries (None = unused -> sparse)."""
    bw.write(0x564342, 24)
    bw.write(dims, 16)
    bw.write(len(lengths), 24)
    bw.write(0, 1)  # unordered
    sparse = any(ln is None for ln in lengths)
    bw.write(1 if sparse else 0, 1)
    for ln in lengths:
        if sparse:
            bw.write(0 if ln is None else 1, 1)
            if ln is not None:
                bw.write(ln - 1, 5)
        else:
            bw.write(ln - 1, 5)
    if lookup is None:
        bw.write(0, 4)
    else:
        ltype, minimum, delta, vbits, seq_p, mults = lookup
        bw.write(ltype, 4)
        bw.write(_f32_pack(minimum), 32)
        bw.write(_f32_pack(delta), 32)
        bw.write(vbits - 1, 4)
        bw.write(seq_p, 1)
        for m in mults:
            bw.write(m, vbits)


def _build_stream(channels, audio_packet_bits, coupling=False):
    """A complete Ogg/Vorbis stream: n=64 both blocksizes, two books
    (1-bit classbook, 4-dim VQ book with lookup type 2), a two-point
    floor1, a type-1 (or type-2 when coupling) residue over bins
    0..32, one mapping, one mode."""
    import struct

    from osmexpress_spark.operators.multimodal import _VorbisBitWriter

    ident = (
        b"\x01vorbis" + struct.pack("<I", 0) + bytes([channels])
        + struct.pack("<I", 8000) + struct.pack("<iii", 0, 128000, 0)
        + b"\x66\x01"
    )
    comment = b"\x03vorbis" + struct.pack("<I", 0) \
        + struct.pack("<I", 0) + b"\x01"
    bw = _VorbisBitWriter()
    bw.write(2 - 1, 8)  # two codebooks
    _write_unordered_book(bw, 1, [1, 1])
    _write_unordered_book(
        bw, 4, [2, 2, 2, 2],
        lookup=(2, 0.0, 1.0, 3, 0,
                [1, 2, 3, 4, 0, 0, 0, 0, 7, 6, 5, 4, 1, 1, 1, 1]),
    )
    bw.write(0, 6); bw.write(0, 16)          # one time transform
    bw.write(0, 6)                           # one floor
    bw.write(1, 16)                          # floor type 1
    bw.write(0, 5)                           # partitions = 0
    bw.write(0, 2)                           # multiplier - 1 = 0
    bw.write(6, 4)                           # rangebits (X1 = 64)
    bw.write(0, 6)                           # one residue
    bw.write(2 if coupling else 1, 16)       # residue type
    bw.write(0, 24)                          # begin
    bw.write(64 if coupling else 32, 24)     # end
    bw.write(8 - 1, 24)                      # partition size 8
    bw.write(2 - 1, 6)                       # 2 classifications
    bw.write(0, 8)                           # classbook = book 0
    # class 0: cascade 0; class 1: cascade 1 (pass 0 decodes)
    bw.write(0, 3); bw.write(0, 1)
    bw.write(1, 3); bw.write(0, 1)
    bw.write(1, 8)                           # class 1 pass-0 book = 1
    bw.write(0, 6)                           # one mapping
    bw.write(0, 16)                          # type 0
    bw.write(0, 1)                           # one submap
    if coupling:
        bw.write(1, 1); bw.write(0, 8)       # one coupling step
        bw.write(0, 1); bw.write(1, 1)       # magnitude 0, angle 1
    else:
        bw.write(0, 1)
    bw.write(0, 2)                           # reserved
    bw.write(0, 8); bw.write(0, 8); bw.write(0, 8)  # time/floor/res 0
    bw.write(0, 6)                           # one mode
    bw.write(0, 1)                           # blockflag 0
    bw.write(0, 16); bw.write(0, 16); bw.write(0, 8)
    bw.write(1, 1)                           # framing
    setup = b"\x05vorbis" + bw.getvalue()
    out = _ogg_page(ident, _lacing(ident), 0x02, 9, 0)
    out += _ogg_page(comment + setup, _lacing(comment) + _lacing(setup),
                     0x00, 9, 1)
    pkts = []
    for bits in audio_packet_bits:
        pb = _VorbisBitWriter()
        for v, nb in bits:
            pb.write(v, nb)
        pkts.append(pb.getvalue())
    body = b"".join(pkts)
    lac = []
    for p in pkts:
        lac += _lacing(p)
    out += _ogg_page(body, lac, 0x04, 9, 2)
    return out


def _mono_packet(y0, y1, classes, vq_words):
    """Audio packet bits: type 0, mode (0 bits), floor nonzero +
    two 8-bit Ys, then residue pass 0 — classbook words (1 bit each,
    code==entry for the 2-entry book) and 2-bit VQ codewords for
    class-1 partitions."""
    from osmexpress_spark.operators import vorbis as V

    cw0 = V.assign_codewords({0: 1, 1: 1})
    cw1 = V.assign_codewords({0: 2, 1: 2, 2: 2, 3: 2})

    def msb_bits(code, ln):
        return [((code >> k) & 1, 1) for k in range(ln - 1, -1, -1)]

    bits = [(0, 1), (1, 1), (y0, 8), (y1, 8)]
    vq_iter = iter(vq_words)
    for cls in classes:
        bits += msb_bits(*cw0[cls])
        if cls == 1:
            for _ in range(2):  # psize 8 / dims 4 = 2 VQ words
                bits += msb_bits(*cw1[next(vq_iter)])
    return bits


VQ_TABLE = [[1.0, 2.0, 3.0, 4.0], [0.0, 0.0, 0.0, 0.0],
            [7.0, 6.0, 5.0, 4.0], [1.0, 1.0, 1.0, 1.0]]


def test_decode_audio_mono_end_to_end():
    """Full chain vs an independent model: floor render_line curve x
    residue partition adds -> inverse MDCT -> window -> overlap."""
    from osmexpress_spark.operators import vorbis as V

    classes = [1, 0, 1, 0]
    vq_words = [0, 2, 3, 1]
    stream = _build_stream(
        1, [_mono_packet(100, 40, classes, vq_words),
            _mono_packet(30, 200, [0, 1, 0, 1], [2, 2, 1, 0])],
    )
    rate, pcm = V.decode_audio(stream)
    assert rate == 8000
    assert len(pcm) == 1 and len(pcm[0]) == 32  # 2 packets, n/2 lap

    tab = V.analytic_db_table()

    def model_block(y0, y1, classes, vq_words):
        fv = [0] * 32
        V.render_line(0, y0, 64, y1, fv)
        floor = [tab[v] for v in fv]
        resid = [0.0] * 32
        it = iter(vq_words)
        for p, cls in enumerate(classes):
            if cls == 1:
                for half_part in range(2):
                    vec = VQ_TABLE[next(it)]
                    for j in range(4):
                        resid[p * 8 + half_part * 4 + j] += vec[j]
        spec = [floor[i] * resid[i] for i in range(32)]
        return V.inverse_mdct(spec, 64)

    ola = V.OverlapAdd(64)
    exp = []
    exp += ola.step(model_block(100, 40, classes, vq_words))
    exp += ola.step(model_block(30, 200, [0, 1, 0, 1], [2, 2, 1, 0]))
    assert pcm[0] == exp


def test_decode_audio_stereo_coupling_type2():
    """Stereo with one coupling step and a type-2 (interleaved)
    residue: decode, then verify the coupling inverse against the
    spec's square-polar reconstruction applied to the independently
    deinterleaved residue vectors."""
    from osmexpress_spark.operators import vorbis as V

    # stereo type-2 residue: size 64 interleaved, 8 partitions -> 8
    # classwords + VQ words for class-1 partitions
    classes = [1, 0, 0, 1, 0, 1, 0, 0]
    vq_words = [0, 2, 3, 1, 2, 0]
    bits = [(0, 1), (1, 1), (50, 8), (50, 8),   # floor ch0 (flat)
            (1, 1), (80, 8), (80, 8)]           # floor ch1 (flat)
    cw0 = V.assign_codewords({0: 1, 1: 1})
    cw1 = V.assign_codewords({0: 2, 1: 2, 2: 2, 3: 2})

    def msb_bits(code, ln):
        return [((code >> k) & 1, 1) for k in range(ln - 1, -1, -1)]

    it = iter(vq_words)
    for cls in classes:
        bits += msb_bits(*cw0[cls])
        if cls == 1:
            for _ in range(2):
                bits += msb_bits(*cw1[next(it)])
    stream = _build_stream(2, [bits], coupling=True)
    rate, pcm = V.decode_audio(stream)
    assert len(pcm) == 2 and len(pcm[0]) == 0  # 1 packet: latency only

    # direct model of the spectra instead (reach into the chain)
    from osmexpress_spark.operators.multimodal import vorbis_parse_setup
    tab = V.analytic_db_table()
    inter = [0.0] * 64
    it = iter(vq_words)
    for p, cls in enumerate(classes):
        if cls == 1:
            for hp in range(2):
                vec = VQ_TABLE[next(it)]
                for j in range(4):
                    inter[p * 8 + hp * 4 + j] += vec[j]
    vm = [inter[2 * i] for i in range(32)]
    va = [inter[2 * i + 1] for i in range(32)]
    for i in range(32):
        M, A = vm[i], va[i]
        if M > 0:
            vm[i], va[i] = (M, M - A) if A > 0 else (M + A, M)
        else:
            vm[i], va[i] = (M, M + A) if A > 0 else (M - A, M)
    f0 = [tab[50]] * 32
    f1 = [tab[80]] * 32
    exp0 = V.inverse_mdct([f0[i] * vm[i] for i in range(32)], 64)
    exp1 = V.inverse_mdct([f1[i] * va[i] for i in range(32)], 64)
    # pin via a second packet-free OverlapAdd: prev halves must match
    o0, o1 = V.OverlapAdd(64), V.OverlapAdd(64)
    o0.step(exp0); o1.step(exp1)
    # decode_audio's internal state after one packet equals the model
    # state; verify by feeding one more silent packet to BOTH paths
    silent = [(0, 1), (0, 1)]  # type 0, floor nonzero=0 (unaudible)
    stream2 = _build_stream(2, [bits, silent + [(0, 1)]],
                            coupling=True)
    _, pcm2 = V.decode_audio(stream2)
    exp_out0 = o0.step(V.inverse_mdct([0.0] * 32, 64))
    exp_out1 = o1.step(V.inverse_mdct([0.0] * 32, 64))
    assert pcm2[0] == exp_out0 and pcm2[1] == exp_out1


def test_decode_audio_unaudible_floor_zero_spectrum():
    from osmexpress_spark.operators import vorbis as V

    silent = [(0, 1), (0, 1)]
    loud = _mono_packet(100, 100, [1, 1, 1, 1], [0] * 8)
    stream = _build_stream(1, [silent, loud])
    _, pcm = V.decode_audio(stream)
    # first block all-zero spectrum -> overlap half contributes only
    # the second packet's left half
    tab = V.analytic_db_table()
    resid = [0.0] * 32
    for p in range(4):
        for hp in range(2):
            for j in range(4):
                resid[p * 8 + hp * 4 + j] += VQ_TABLE[0][j]
    spec = [tab[100] * r for r in resid]
    ola = V.OverlapAdd(64)
    ola.step(V.inverse_mdct([0.0] * 32, 64))
    exp = ola.step(V.inverse_mdct(spec, 64))
    assert pcm[0] == exp


def test_float32_unpack_known_values():
    from osmexpress_spark.operators import vorbis as V

    assert V.float32_unpack(0) == 0.0
    assert V.float32_unpack(_f32_pack(1.0)) == 1.0
    assert V.float32_unpack(_f32_pack(-2.5)) == -2.5
    assert V.float32_unpack(_f32_pack(0.25)) == 0.25


def test_build_vq_type1_and_type2():
    from osmexpress_spark.operators import vorbis as V

    # type 2: sequential multiplicands
    book = {"dims": 2, "entries": 2,
            "lookup": {"type": 2, "min_raw": _f32_pack(1.0),
                       "delta_raw": _f32_pack(2.0), "value_bits": 3,
                       "sequence_p": 0,
                       "multiplicands": [0, 1, 2, 3]}}
    assert V.build_vq(book) == [[1.0, 3.0], [5.0, 7.0]]
    # type 1: div/mod indexing over lookup1_values(4, 2) = 2
    book1 = {"dims": 2, "entries": 4,
             "lookup": {"type": 1, "min_raw": 0,
                        "delta_raw": _f32_pack(1.0), "value_bits": 3,
                        "sequence_p": 0, "multiplicands": [5, 9]}}
    assert V.build_vq(book1) == [
        [5.0, 5.0], [9.0, 5.0], [5.0, 9.0], [9.0, 9.0]
    ]
    # sequence_p accumulates
    book2 = {"dims": 2, "entries": 2,
             "lookup": {"type": 2, "min_raw": 0,
                        "delta_raw": _f32_pack(1.0), "value_bits": 3,
                        "sequence_p": 1,
                        "multiplicands": [1, 2, 3, 4]}}
    assert V.build_vq(book2) == [[1.0, 3.0], [3.0, 7.0]]
    assert V.build_vq({"dims": 1, "entries": 2, "lookup": None}) is None


def test_render_point_matches_render_line():
    from osmexpress_spark.operators import vorbis as V

    for (x0, y0, x1, y1) in [(0, 10, 64, 74), (0, 74, 64, 10),
                             (3, 5, 40, 6), (0, 0, 7, 100)]:
        v = [0] * x1
        V.render_line(x0, y0, x1, y1, v)
        for x in range(x0, x1):
            assert V.render_point(x0, y0, x1, y1, x) == v[x]


# --------------------------------------------- full-PCM gate plumbing


VALS_GATE = (3.0, 5.0, 7.0, 2.0)


def _gate_model_pcm(i: int) -> list[float]:
    """The closed-form model of synth_vorbis_pcm's decoded PCM — the
    same derivation the q_vorbis_pcm oracle writes in SQL."""
    import hashlib

    def wblock(t):
        hp = hashlib.md5(f"{i}_vp_{t}".encode()).digest()
        y, p, wa, wb = hp[0], hp[1] % 4, hp[2] % 4, hp[3] % 4
        ka, kb = 8 * p + wa, 8 * p + 4 + wb
        s1 = y / 255.0 * VALS_GATE[wa]
        s2 = y / 255.0 * VALS_GATE[wb]
        return [
            (s1 * math.cos(math.pi / 128 * (2 * j + 33) * (2 * ka + 1))
             + s2 * math.cos(math.pi / 128 * (2 * j + 33)
                             * (2 * kb + 1)))
            * math.sin(math.pi / 2
                       * math.sin(math.pi / 64 * (j + 0.5)) ** 2)
            for j in range(64)
        ]

    blocks = [wblock(t) for t in range(3)]
    return [
        blocks[t - 1][32 + j] + blocks[t][j]
        for t in range(1, 3) for j in range(32)
    ]


@pytest.mark.parametrize("i", [1, 2, 3, 5, 47, 1234])
def test_vorbis_gate_decode_bit_identical_to_closed_form(spark, i):
    from osmexpress_spark.operators import multimodal as M

    d = spark.createDataFrame([(i,)], "doc_id long")
    payload = bytes(M.synth_vorbis_pcm(d).collect()[0].payload)
    rate, chans = V.decode_audio(payload)
    assert rate == 8000 and len(chans) == 1
    exp = _gate_model_pcm(i)
    assert len(chans[0]) == 64
    assert all(a == b for a, b in zip(chans[0], exp))


def test_vorbis_gate_torn_setup_refused(spark):
    from osmexpress_spark.operators import multimodal as M

    d = spark.createDataFrame([(13,)], "doc_id long")
    payload = bytes(M.synth_vorbis_pcm(d).collect()[0].payload)
    with pytest.raises(ValueError):
        V.vorbis_pcm_census(payload)


def test_vorbis_pcm_gate_plan(spark):
    from osmexpress_spark import registry

    df = registry.queries(include_staged=True)["q_vorbis_pcm"](
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


# ------------------------------------- variable blocksize synthesis


def test_window_shaped_reduces_to_symmetric():
    for n in (8, 64):
        a = V.vorbis_window_shaped(n, False, False, n // 2)
        b = V.vorbis_window(n)
        assert all(abs(x - y) < 1e-12 for x, y in zip(a, b))
    # short-neighbor narrowing: zero skirts, unit center
    w = V.vorbis_window_shaped(16, True, True, 8)
    assert w[:2] == [0.0, 0.0] and w[14:] == [0.0, 0.0]
    assert w[6] == 1.0 and w[9] == 1.0


def test_window_shaped_cross_boundary_princen_bradley():
    """The long block's narrowed right slope and the short block's
    left slope satisfy w1^2 + w2^2 = 1 on the overlap — the condition
    mixed-size TDAC rests on."""
    NL, NS = 16, 8
    long_w = V.vorbis_window_shaped(NL, False, True, NS)
    short_w = V.vorbis_window_shaped(NS, True, True, NS)
    rn = NS // 2
    rws = 3 * NL // 4 - rn // 2
    lws = NS // 4 - rn // 2
    for k in range(rn):
        s = long_w[rws + k] ** 2 + short_w[lws + k] ** 2
        assert abs(s - 1.0) < 1e-12


def test_variable_overlap_add_mixed_tdac():
    """Forward MDCT (scaled 4/n) of shaped-windowed blocks over a
    long-short-long schedule, inverse, VariableOverlapAdd: perfect
    reconstruction of the input — pins the window shapes, the hop
    rule (3n_p/4 - n_c/4), and the emission boundaries together."""
    import random

    NS, NL = 8, 16
    rnd = random.Random(11)
    x = [rnd.uniform(-1, 1) for _ in range(200)]
    sched = [(NL, False, False), (NL, False, True), (NS, True, True),
             (NS, True, True), (NS, True, False), (NL, True, False),
             (NL, False, False)]

    def fwd(block, w, n):
        return [
            sum(block[j] * w[j] * math.cos(
                2 * math.pi / n * (j + 0.5 + n / 4) * (k + 0.5))
                for j in range(n)) * (4.0 / n)
            for k in range(n // 2)
        ]

    ola = V.VariableOverlapAdd(NS)
    pos, prev_n, out = 0, None, []
    for (n, ps, ns) in sched:
        if prev_n is not None:
            pos = pos + 3 * prev_n // 4 - n // 4
        prev_n = n
        w = V.vorbis_window_shaped(n, ps, ns, NS)
        spec = fwd(x[pos:pos + n], w, n)
        tb = V.inverse_mdct(spec, n)
        out.extend(ola.step([tb[i] * w[i] for i in range(n)], ps, ns))
    start = sched[0][0] // 4 + sched[0][0] // 4  # first left-slope end
    assert len(out) > 20
    for i, o in enumerate(out):
        assert abs(o - x[start + i]) < 1e-9


def test_variable_overlap_add_equal_sizes_matches_fixed():
    """With all-equal blocks the variable path must produce the same
    samples as the fixed OverlapAdd (same windows, same lapping)."""
    import random

    n = 16
    rnd = random.Random(5)
    blocks = [[rnd.uniform(-1, 1) for _ in range(n)]
              for _ in range(4)]
    w = V.vorbis_window(n)
    fixed = V.OverlapAdd(n)
    var = V.VariableOverlapAdd(n)
    out_f, out_v = [], []
    for b in blocks:
        out_f.extend(fixed.step(b))
        out_v.extend(var.step([b[i] * w[i] for i in range(n)],
                              False, False))
    assert len(out_f) == len(out_v)
    for a, b2 in zip(out_f, out_v):
        assert abs(a - b2) < 1e-12


def test_decode_audio_variable_blocksize_stream():
    """A full long/short/long Ogg stream through decode_audio: the
    variable path end to end vs an independent spectrum model +
    the (already TDAC-pinned) transform/lapping primitives."""
    import struct

    from osmexpress_spark.operators.multimodal import _VorbisBitWriter

    NS, NL = 8, 16
    ident = (
        b"\x01vorbis" + struct.pack("<I", 0) + bytes([1])
        + struct.pack("<I", 8000) + struct.pack("<iii", 0, 128000, 0)
        + b"\x43\x01"          # blocksizes 2^3 = 8, 2^4 = 16
    )
    comment = b"\x03vorbis" + struct.pack("<I", 0) \
        + struct.pack("<I", 0) + b"\x01"
    bw = _VorbisBitWriter()
    bw.write(1, 8)
    _write_unordered_book(bw, 1, [1, 1])
    _write_unordered_book(
        bw, 4, [2, 2, 2, 2],
        lookup=(2, 0.0, 1.0, 3, 0,
                [1, 2, 3, 4, 0, 0, 0, 0, 7, 6, 5, 4, 1, 1, 1, 1]),
    )
    bw.write(0, 6); bw.write(0, 16)
    bw.write(0, 6)                       # one floor
    bw.write(1, 16); bw.write(0, 5); bw.write(0, 2); bw.write(6, 4)
    bw.write(0, 6)                       # one residue: type 1
    bw.write(1, 16)
    bw.write(0, 24); bw.write(32, 24); bw.write(4 - 1, 24)
    bw.write(2 - 1, 6); bw.write(0, 8)
    bw.write(0, 3); bw.write(0, 1)
    bw.write(1, 3); bw.write(0, 1)
    bw.write(1, 8)
    bw.write(0, 6)                       # one mapping
    bw.write(0, 16); bw.write(0, 1); bw.write(0, 1); bw.write(0, 2)
    bw.write(0, 8); bw.write(0, 8); bw.write(0, 8)
    bw.write(1, 6)                       # TWO modes
    bw.write(0, 1)                       # mode 0: short
    bw.write(0, 16); bw.write(0, 16); bw.write(0, 8)
    bw.write(1, 1)                       # mode 1: long
    bw.write(0, 16); bw.write(0, 16); bw.write(0, 8)
    bw.write(1, 1)
    setup = b"\x05vorbis" + bw.getvalue()

    cw0 = V.assign_codewords({0: 1, 1: 1})
    cw1 = V.assign_codewords({0: 2, 1: 2, 2: 2, 3: 2})

    def msb(bw2, code, ln):
        for k in range(ln - 1, -1, -1):
            bw2.write((code >> k) & 1, 1)

    # schedule: L(nf short), S, S, L(pf short) with flat floors and
    # one class-1 partition each
    VQT = [[1.0, 2.0, 3.0, 4.0], [0.0] * 4,
           [7.0, 6.0, 5.0, 4.0], [1.0] * 4]
    sched = [
        (1, 1, 0, 120, [1, 0], [2]),   # long: pf=1(long), nf=0(short)
        (0, None, None, 60, [1], [0]),
        (0, None, None, 200, [0], []),
        (1, 0, 1, 90, [0, 1], [3]),
    ]
    pkts = []
    for (bf, pf, nf, y, classes, words) in sched:
        pb = _VorbisBitWriter()
        pb.write(0, 1)
        pb.write(bf, 1)                  # mode number (1 bit)
        if bf:
            pb.write(pf, 1)
            pb.write(nf, 1)
        pb.write(1, 1)                   # floor nonzero
        pb.write(y, 8); pb.write(y, 8)
        it = iter(words)
        for cls in classes:
            msb(pb, *cw0[cls])
            if cls == 1:
                msb(pb, *cw1[next(it)])
        pkts.append(pb.getvalue())

    stream = _ogg_page(ident, _lacing(ident), 0x02, 3, 0)
    stream += _ogg_page(comment + setup,
                        _lacing(comment) + _lacing(setup), 0x00, 3, 1)
    lac = []
    for p in pkts:
        lac += _lacing(p)
    stream += _ogg_page(b"".join(pkts), lac, 0x04, 3, 2)

    rate, pcm = V.decode_audio(stream)
    assert rate == 8000 and len(pcm) == 1

    # independent model: spectra from flat floor x residue adds, then
    # the TDAC-pinned primitives
    tab = V.analytic_db_table()
    ola = V.VariableOverlapAdd(NS)
    exp = []
    for (bf, pf, nf, y, classes, words) in sched:
        n = NL if bf else NS
        half = n // 2
        ps = (pf == 0) if bf else True
        ns = (nf == 0) if bf else True
        resid = [0.0] * half
        it = iter(words)
        for p, cls in enumerate(classes):
            if cls == 1:
                vec = VQT[next(it)]
                for j in range(4):
                    resid[p * 4 + j] += vec[j]
        fv = [0] * half
        V.render_line(0, y, 64, y, fv)
        spec = [tab[fv[i]] * resid[i] for i in range(half)]
        w = V.vorbis_window_shaped(n, ps, ns, NS)
        tb = V.inverse_mdct(spec, n)
        exp.extend(ola.step([tb[i] * w[i] for i in range(n)], ps, ns))
    assert pcm[0] == exp


def test_vorbis_decoder_factory_contract(spark):
    """The 5-float audio contract over a synth_vorbis_pcm stream:
    plugs into extract_features like wav/mp3 decoders."""
    from osmexpress_spark.operators import multimodal as M

    d = spark.createDataFrame([(3,), (13,)], "doc_id long")
    blobs = M.synth_vorbis_pcm(d)
    feats = {
        r.item_id: (r.decode_ok, r.feat)
        for r in M.extract_features(
            blobs, decoder=V.vorbis_decoder_factory(), modality="audio"
        ).collect()
    }
    ok, feat = feats[3]
    assert ok and len(feat) == 5
    assert feat[0] == 1.0 and feat[1] == 8000.0 and feat[2] == 64.0
    assert feat[4] >= feat[3] >= 0.0
    assert feats[13][0] is False  # torn setup -> per-row damage
