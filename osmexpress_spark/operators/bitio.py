"""Bit I/O and prefix-code decoding shared by every codec in the package.

Two bit orders exist among the formats: MSB-first (mp3, FLAC, JPEG)
packs each value from the high bit of a byte down, LSB-first (WebP
lossless, Vorbis) from the low bit up.  Each order has one reader and
one writer here.  Readers raise ValueError("... truncated") on any read
past the end of the data; `peek` instead pads with zero bits, so a
prefix-code lookup near the end is safe and the `skip` that follows
raises if the matched code runs past the data.

`PrefixCode` is the one prefix-code decode loop.  Each codec keeps its
own code assignment (T.81 counts, DEFLATE order, Vorbis entry order,
the mp3 tables) and passes the resulting {(length, code): symbol} map
here.  A code's bits are read root first, one `read(1)` per tree level,
in both bit orders; the bit order only decides how the first-level
table is indexed.
"""

from __future__ import annotations

# First-level table width: codes up to W bits decode with one peek and
# one skip.  Longer codes and prefixes that are no code fall back to the
# per-bit walk.  W bounds each table, and so its build, at 2**W
# entries.
W = 10


class _Reader:
    """Bit reader state: `pos` is the bit position in `data`.  It is
    public: codecs that seek (mp3 part2_3 budgets, FLAC metadata) set
    it directly, and reads past the end then raise.  Each bit order
    has its own `read` (bounds-checked) and `peek` (zero-padded)."""

    __slots__ = ("data", "pos", "end")

    def __init__(self, data: bytes, pos: int = 0):
        self.data = data
        self.pos = pos
        self.end = len(data) * 8

    def skip(self, n: int) -> None:
        if self.pos + n > self.end:
            raise ValueError("bitstream truncated")
        self.pos += n

    def bits_left(self) -> int:
        return self.end - self.pos

    def align(self) -> None:
        self.pos = (self.pos + 7) & ~7


class MsbReader(_Reader):
    """MSB-first: value bits come from the high end of each byte down
    (mp3, FLAC)."""

    __slots__ = ()

    def read(self, n: int) -> int:
        pos = self.pos
        end = pos + n
        if end > self.end and n:
            raise ValueError("bitstream truncated")
        self.pos = end
        v = int.from_bytes(self.data[pos >> 3:(end + 7) >> 3], "big")
        return (v >> (-end & 7)) & ((1 << n) - 1)

    def peek(self, n: int) -> int:
        pos = self.pos
        end = pos + n
        lo, hi = pos >> 3, (end + 7) >> 3
        chunk = self.data[lo:hi]
        v = int.from_bytes(chunk, "big") << ((hi - lo - len(chunk)) << 3)
        return (v >> (-end & 7)) & ((1 << n) - 1)


class LsbReader(_Reader):
    """LSB-first: value bits come from the low end of each byte up
    (VP8L, Vorbis I §2.1.2)."""

    __slots__ = ()

    def read(self, n: int) -> int:
        pos = self.pos
        end = pos + n
        if end > self.end and n:
            raise ValueError("bitstream truncated")
        self.pos = end
        v = int.from_bytes(self.data[pos >> 3:(end + 7) >> 3], "little")
        return (v >> (pos & 7)) & ((1 << n) - 1)

    def peek(self, n: int) -> int:
        pos = self.pos
        v = int.from_bytes(self.data[pos >> 3:(pos + n + 7) >> 3], "little")
        return (v >> (pos & 7)) & ((1 << n) - 1)


class _Writer:
    __slots__ = ("buf", "acc", "nbits")

    def __init__(self):
        self.buf = bytearray()
        self.acc = 0  # the nbits bits not yet in buf
        self.nbits = 0

    def bit_length(self) -> int:
        return len(self.buf) * 8 + self.nbits


class MsbWriter(_Writer):
    """MSB-first writer; `getvalue` pads the last byte with zero bits."""

    __slots__ = ()

    def write(self, value: int, n: int) -> None:
        if value < 0 or value >> n:
            raise ValueError(f"value {value} does not fit in {n} bits")
        self.acc = (self.acc << n) | value
        self.nbits += n
        while self.nbits >= 8:
            self.nbits -= 8
            self.buf.append((self.acc >> self.nbits) & 0xFF)
        self.acc &= (1 << self.nbits) - 1

    def getvalue(self) -> bytes:
        tail = bytes([self.acc << (8 - self.nbits)]) if self.nbits else b""
        return bytes(self.buf) + tail


class LsbWriter(_Writer):
    """LSB-first writer; `getvalue` pads the last byte with zero bits."""

    __slots__ = ()

    def write(self, value: int, n: int) -> None:
        if value < 0 or value >> n:
            raise ValueError(f"value {value} does not fit in {n} bits")
        self.acc |= value << self.nbits
        self.nbits += n
        while self.nbits >= 8:
            self.buf.append(self.acc & 0xFF)
            self.acc >>= 8
            self.nbits -= 8

    def getvalue(self) -> bytes:
        return bytes(self.buf) + (bytes([self.acc]) if self.nbits else b"")


def reverse_bits(v: int, n: int) -> int:
    """`v`'s low `n` bits in reverse order: a code word's root-first
    bits as one LSB-first value."""
    out = 0
    for _ in range(n):
        out = (out << 1) | (v & 1)
        v >>= 1
    return out


# reverse_bits(c, ln) == _REV_W[c << (W - ln)] for every ln <= W
_REV_W = [reverse_bits(i, W) for i in range(1 << W)]


class PrefixCode:
    """Decoder for a prefix code given as {(length, code): symbol},
    `code` holding the bits in root-first order.  `lsb` says which
    reader order it is decoded from."""

    __slots__ = ("codes", "max_len", "width", "lut")

    def __init__(self, codes: dict[tuple[int, int], object], lsb: bool):
        self.codes = codes
        self.max_len = max((ln for ln, _ in codes), default=0)
        self.width = lb = min(W, self.max_len)
        lut: list = [None] * (1 << lb)
        for (ln, code), sym in codes.items():
            if code >> ln:
                raise ValueError(f"code {code} does not fit in {ln} bits")
            if ln > lb:
                continue
            entry = (sym, ln)
            if lsb:
                # the code's bits sit in the low ln bits of the peek,
                # reversed; the free high bits take every value
                lut[_REV_W[code << (W - ln)]::1 << ln] = [entry] * (1 << (lb - ln))
            else:
                base = code << (lb - ln)
                lut[base:base + (1 << (lb - ln))] = [entry] * (1 << (lb - ln))
        self.lut = lut

    def decode(self, reader):
        hit = self.lut[reader.peek(self.width)]
        if hit is not None:
            reader.skip(hit[1])
            return hit[0]
        code = 0
        codes = self.codes
        for ln in range(1, self.max_len + 1):
            code = (code << 1) | reader.read(1)
            sym = codes.get((ln, code))
            if sym is not None:
                return sym
        raise ValueError("invalid prefix code")
