"""The shared bit I/O and prefix-code layer (operators/bitio.py)."""

from __future__ import annotations

import random

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from osmexpress_spark.operators.bitio import (
    W, LsbReader, LsbWriter, MsbReader, MsbWriter, PrefixCode, reverse_bits,
)

ORDERS = ((MsbReader, MsbWriter, False), (LsbReader, LsbWriter, True))


def test_bit_io_roundtrip_both_orders():
    fields = [(0x564342, 24), (5, 16), (300, 24), (1, 1), (0, 1),
              (19, 5), (0xDEADBEEF, 32), (7, 3), (0, 0)]
    for reader, writer, _ in ORDERS:
        bw = writer()
        for v, n in fields:
            bw.write(v, n)
        assert bw.bit_length() == sum(n for _, n in fields)
        br = reader(bw.getvalue())
        for v, n in fields:
            assert br.read(n) == v
        assert 0 <= br.bits_left() < 8
        with pytest.raises(ValueError, match="does not fit"):
            bw.write(2, 1)
    # LSB-first: writing value 1 in 8 bits puts the set bit FIRST
    bw = LsbWriter()
    bw.write(1, 8)
    assert bw.getvalue() == b"\x01"
    br = LsbReader(b"\x80")
    assert br.read(7) == 0 and br.read(1) == 1
    # MSB-first: the first bit written is the high bit of the byte
    bw = MsbWriter()
    bw.write(1, 1)
    assert bw.getvalue() == b"\x80"
    br = MsbReader(b"\x01")
    assert br.read(7) == 0 and br.read(1) == 1


def test_peek_pads_skip_and_read_raise_truncated():
    for reader, _, lsb in ORDERS:
        br = reader(b"\xff")
        br.skip(5)
        assert br.peek(6) == (0b000111 if lsb else 0b111000)
        assert br.bits_left() == 3
        with pytest.raises(ValueError, match="truncated"):
            br.skip(4)
        with pytest.raises(ValueError, match="truncated"):
            br.read(4)
        assert br.read(3) == 0b111 and br.read(0) == 0
        br = reader(b"\x00\x00", 3)
        br.align()
        assert br.pos == 8


def _complete_code(rnd: random.Random, long: bool) -> dict:
    """A random complete prefix code {(length, code): symbol}: split
    leaves of a full binary tree; `long` first grows one path past W."""
    leaves = [(0, 0)]
    if long:
        while leaves[-1][0] < W + rnd.randint(1, 6):
            ln, c = leaves.pop()
            leaves += [(ln + 1, 2 * c + 1), (ln + 1, 2 * c)]
    for _ in range(rnd.randint(1, 40)):
        ln, c = leaves.pop(rnd.randrange(len(leaves)))
        leaves += [(ln + 1, 2 * c), (ln + 1, 2 * c + 1)]
    syms = list(range(len(leaves)))
    rnd.shuffle(syms)
    return {leaf: (s, "sym") for leaf, s in zip(leaves, syms)}


def _walk(codes: dict, br):
    """Reference decode: one read(1) per tree level, root first."""
    code = 0
    for ln in range(1, max(ln for ln, _ in codes) + 1):
        code = (code << 1) | br.read(1)
        if (ln, code) in codes:
            return codes[(ln, code)]
    raise ValueError("invalid prefix code")


def _decode_all(decode, br) -> tuple[list, str]:
    out = []
    for _ in range(br.bits_left() + 1):  # every code takes >= 1 bit
        try:
            out.append((decode(br), br.pos))
        except ValueError as e:
            return out, str(e)
    return out, "decoded past the end"


@settings(max_examples=80, deadline=None)
@given(st.integers(0, 2**32 - 1), st.booleans(), st.booleans())
def test_lut_decode_matches_bit_walk(seed, lsb, long):
    rnd = random.Random(seed)
    codes = _complete_code(rnd, long)
    pc = PrefixCode(codes, lsb=lsb)
    reader, writer = (LsbReader, LsbWriter) if lsb else (MsbReader, MsbWriter)
    # a coded message decodes back, symbol for symbol
    msg = [rnd.choice(list(codes)) for _ in range(rnd.randint(1, 30))]
    bw = writer()
    for ln, c in msg:
        bw.write(reverse_bits(c, ln) if lsb else c, ln)
    br = reader(bw.getvalue())
    assert [pc.decode(br) for _ in msg] == [codes[k] for k in msg]
    # arbitrary bits: the same symbols at the same positions, and the
    # same truncation error where the data ends inside a code
    data = bytes(rnd.randrange(256) for _ in range(rnd.randint(0, 12)))
    got, err = _decode_all(pc.decode, reader(data))
    want, want_err = _decode_all(lambda b: _walk(codes, b), reader(data))
    assert got == want
    assert "truncated" in err and "truncated" in want_err


def test_prefix_code_rejects_code_longer_than_its_length():
    with pytest.raises(ValueError, match="does not fit"):
        PrefixCode({(1, 0): "a", (1, 1): "b", (1, 2): "c"}, lsb=False)
