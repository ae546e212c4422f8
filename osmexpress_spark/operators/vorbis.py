"""Vorbis I decode: Ogg packet assembly, the setup-header parse
(vorbis_parse_setup / vorbis_setup_census) and the synthesis from
there to PCM.

Spec: the public Vorbis I specification (xiph.org).  Everything here
is CLOSED-FORM math or exact integer algorithms from the spec and is
property-pinned against independent models in the tests (the mp3l3
discipline):

* canonical Huffman codeword assignment (§3.2.1: each used entry, in
  entry order, takes the LOWEST-valued unused codeword of its length)
  with Kraft-completeness + prefix-freeness validation — codebooks
  that are over- or underspecified are rejected exactly as libvorbis
  rejects them (single-entry books excepted, per spec);
* Huffman decode over the LSB-first packet stream (bitio.PrefixCode);
* the spec's integer Bresenham `render_line` (§9.2.6) — floor curves
  are EXACT integer math, pinned against a Fraction-based model;
* floor1 curve synthesis (§7.2.4) over a two-point (partitions=0)
  or general sorted X list, with the 256-entry
  `floor1_inverse_dB_table` as an INJECTED data parameter — the
  published table is data unverifiable in-container, the exact
  boundary the mp3 synthesis window sits on (operators/mp3l3.py);
* the Vorbis window (§4.3.1, sin(pi/2 * sin^2)) and the inverse MDCT
  — the SAME transform family as mp3's (the (2pi/n)(j+1/2+n/4)(k+1/2)
  argument reduces to mp3l3._imdct's (pi/2n)(2j+1+n/2)(2k+1)), so the
  already-pinned closed-form IMDCT is reused directly;
* equal-blocksize overlap-add state, plus the §4.3.1 shaped windows
  and mixed-size lapping (VariableOverlapAdd) for long/short streams.

With residue decode (§8, all three formats), the channel-coupling
inverse, and the packet loop (decode_audio) below, Vorbis PCM is
CODE-COMPLETE for floor1 streams; the remaining gaps are floor0
synthesis (honest per-row stub) and the published dB table drop.
"""

from __future__ import annotations

import math

from .bitio import LsbReader, PrefixCode
from .mp3l3 import _imdct


# ------------------------------------------------------------ setup parse
# Ogg packet assembly and the Vorbis header parse (round 11): container
# page walk -> identification/comment/setup headers -> codebooks, floors,
# residues, mappings and modes, the configuration the decode below
# consumes.  Vorbis packs bits LSB-first (Vorbis I spec §2, the opposite
# of mp3); codebook framing per spec §3.2.1: 24-bit sync 0x564342,
# 16-bit dimensions, 24-bit entries, ordered/sparse codeword-length
# lists, 4-bit lookup type with lookup1_values multiplicand counting.

_OGG_BITREV = None  # uint8[256] per-byte bit-reversal table (lazy)


def _ogg_crc(data: bytes) -> int:
    """Ogg page CRC: poly 0x04C11DB7, MSB-first, zero init, no
    reflection, no xorout.  Computed at C speed through zlib's crc32
    via the CRC reflection identity — the MSB-first CRC of a message
    equals the bit-reversed LSB-first CRC (reversed polynomial:
    0xEDB88320, exactly zlib's) of the per-byte bit-reversed message.
    zlib's mandatory pre/post complement cancels by seeding with
    0xFFFFFFFF (internal state 0) and complementing the result.  The
    per-byte reversal is one numpy table gather, so the whole walk is
    two vectorized passes instead of the round-10 Python byte loop
    (SCALING.md's 3.65x/decade line for q_ogg_census)."""
    import zlib

    import numpy as np

    global _OGG_BITREV
    if _OGG_BITREV is None:
        _OGG_BITREV = np.array(
            [int(f"{i:08b}"[::-1], 2) for i in range(256)], dtype=np.uint8
        )
    rev = _OGG_BITREV[np.frombuffer(data, dtype=np.uint8)].tobytes()
    r = (zlib.crc32(rev, 0xFFFFFFFF) ^ 0xFFFFFFFF) & 0xFFFFFFFF
    return int(f"{r:032b}"[::-1], 2)


def ogg_lacing(*packets: bytes) -> list[int]:
    """Segment table for packets laid end to end in one page: a 255
    per full segment, then the remainder (a 0 ends a packet whose
    length is a multiple of 255)."""
    out: list[int] = []
    for p in packets:
        out += [255] * (len(p) // 255) + [len(p) % 255]
    return out


def ogg_page(
    body: bytes, lacing: list[int], flags: int,
    granule: int, serial: int, seq: int,
) -> bytes:
    """One Ogg page (version 0): header, segment table and body, with
    the CRC computed over the page with its CRC field zeroed."""
    import struct

    head = (
        b"OggS\x00" + bytes([flags])
        + struct.pack("<qIII", granule, serial, seq, 0)
        + bytes([len(lacing)]) + bytes(lacing)
    )
    crc = _ogg_crc(head + body)
    return head[:22] + struct.pack("<I", crc) + head[26:] + body


def ogg_pages(b: bytes):
    """Walk an Ogg stream page by page, yielding (granule, lacing,
    body) once the page's capture pattern, version, length and
    recomputed CRC check out.  Lazy, so a caller can reject a page's
    content before later pages are read.  ValueError on structural
    damage."""
    import struct

    pos, n = 0, len(b)
    while pos < n:
        if b[pos:pos + 4] != b"OggS" or pos + 27 > n:
            raise ValueError("bad Ogg capture pattern")
        if b[pos + 4] != 0:
            raise ValueError("unknown Ogg version")
        granule, _serial, _seq, crc, nsegs = struct.unpack_from(
            "<qIIIB", b, pos + 6
        )
        if pos + 27 + nsegs > n:
            raise ValueError("truncated Ogg segment table")
        lacing = b[pos + 27:pos + 27 + nsegs]
        page_end = pos + 27 + nsegs + sum(lacing)
        if page_end > n:
            raise ValueError("truncated Ogg page body")
        page = bytearray(b[pos:page_end])
        page[22:26] = b"\x00\x00\x00\x00"
        if _ogg_crc(bytes(page)) != crc:
            raise ValueError("Ogg page CRC mismatch")
        yield granule, lacing, b[pos + 27 + nsegs:page_end]
        pos = page_end


def _vorbis_ilog(x: int) -> int:
    """ilog per Vorbis I spec §9.2.1: bit count of x (0 for x <= 0)."""
    n = 0
    while x > 0:
        n += 1
        x >>= 1
    return n


def _lookup1_values(entries: int, dim: int) -> int:
    """Greatest integer r with r**dim <= entries (spec §9.2.3)."""
    r = 1
    while (r + 1) ** dim <= entries:
        r += 1
    return r


def _ogg_packets(b: bytes) -> list[bytes]:
    """Ogg packet extraction: the page walk plus lacing-based packet
    assembly with cross-page continuation.  ValueError on structural
    damage."""
    packets: list[bytes] = []
    partial = bytearray()
    for _granule, lacing, body in ogg_pages(b):
        off = 0
        for v in lacing:
            partial += body[off:off + v]
            off += v
            if v < 255:
                packets.append(bytes(partial))
                partial = bytearray()
    if partial:
        raise ValueError("unterminated Ogg packet")
    return packets


def _parse_codebook(br: LsbReader) -> dict:
    """One codebook definition (spec §3.2.1) -> {dims, entries,
    ordered, sparse, used_length_sum, lookup_type} plus the
    decode-ready fields the round-11 Vorbis synthesis machinery
    consumes: `lengths` (used entry -> codeword length) and `lookup`
    (raw min/delta words, value_bits, sequence_p, multiplicands)."""
    if br.read(24) != 0x564342:
        raise ValueError("bad Vorbis codebook sync")
    dims = br.read(16)
    entries = br.read(24)
    ordered = br.read(1)
    used_sum = 0
    sparse = 0
    lengths: dict = {}
    if not ordered:
        sparse = br.read(1)
        for e in range(entries):
            if sparse:
                if br.read(1):
                    lengths[e] = br.read(5) + 1
                    used_sum += lengths[e]
            else:
                lengths[e] = br.read(5) + 1
                used_sum += lengths[e]
    else:
        curlen = br.read(5) + 1
        cur = 0
        while cur < entries:
            number = br.read(_vorbis_ilog(entries - cur))
            if number > entries - cur:
                raise ValueError("overspecified ordered codebook run")
            for e in range(cur, cur + number):
                lengths[e] = curlen
            used_sum += curlen * number
            cur += number
            curlen += 1
    lookup = br.read(4)
    if lookup not in (0, 1, 2):
        raise ValueError(f"reserved codebook lookup type {lookup}")
    lookup_cfg = None
    if lookup:
        min_raw = br.read(32)
        delta_raw = br.read(32)
        value_bits = br.read(4) + 1
        sequence_p = br.read(1)
        count = (
            _lookup1_values(entries, dims) if lookup == 1
            else entries * dims
        )
        lookup_cfg = {
            "type": lookup, "min_raw": min_raw,
            "delta_raw": delta_raw, "value_bits": value_bits,
            "sequence_p": sequence_p,
            "multiplicands": [br.read(value_bits)
                              for _ in range(count)],
        }
    return {
        "dims": dims, "entries": entries, "ordered": ordered,
        "sparse": sparse, "used_length_sum": used_sum,
        "lookup_type": lookup, "lengths": lengths,
        "lookup": lookup_cfg,
    }


def _parse_floor(br: LsbReader, n_books: int) -> dict:
    """One floor configuration (spec §6.2, §7.2.2) -> {type,
    partitions, x_sum} (floor0: partitions = number_of_books,
    x_sum = 0)."""
    ftype = br.read(16)
    if ftype == 0:
        br.read(8)   # order
        br.read(16)  # rate
        br.read(16)  # bark_map_size
        br.read(6)   # amplitude_bits
        br.read(8)   # amplitude_offset
        nb = br.read(4) + 1
        for _ in range(nb):
            if br.read(8) >= n_books:
                raise ValueError("floor0 book out of range")
        return {"type": 0, "partitions": nb, "x_sum": 0}
    if ftype != 1:
        raise ValueError(f"reserved floor type {ftype}")
    partitions = br.read(5)
    classes = [br.read(4) for _ in range(partitions)]
    n_classes = (max(classes) + 1) if classes else 0
    class_cfg = []
    for _ in range(n_classes):
        dims = br.read(3) + 1
        subs = br.read(2)
        master = None
        if subs:
            master = br.read(8)
            if master >= n_books:
                raise ValueError("floor1 masterbook out of range")
        subbooks = []
        for _ in range(1 << subs):
            bk = br.read(8) - 1
            if bk >= n_books:
                raise ValueError("floor1 subclass book out of range")
            subbooks.append(bk)
        class_cfg.append({
            "dims": dims, "subs": subs, "masterbook": master,
            "subclass_books": subbooks,
        })
    multiplier = br.read(2) + 1
    rangebits = br.read(4)
    x_sum = 0
    x_list = [0, 1 << rangebits]
    for p in range(partitions):
        for _ in range(class_cfg[classes[p]]["dims"]):
            x = br.read(rangebits)
            x_sum += x
            x_list.append(x)
    return {
        "type": 1, "partitions": partitions, "x_sum": x_sum,
        "classes": classes, "class_cfg": class_cfg,
        "multiplier": multiplier, "rangebits": rangebits,
        "x_list": x_list,
    }


def _parse_residue(br: LsbReader, n_books: int) -> dict:
    """One residue configuration (spec §8.6.1) -> {type, end,
    cascade_sum}."""
    rtype = br.read(16)
    if rtype > 2:
        raise ValueError(f"reserved residue type {rtype}")
    begin = br.read(24)
    end = br.read(24)
    psize = br.read(24) + 1
    classifications = br.read(6) + 1
    classbook = br.read(8)
    if classbook >= n_books:
        raise ValueError("residue classbook out of range")
    cascade_sum = 0
    cascades = []
    for _ in range(classifications):
        low = br.read(3)
        high = br.read(5) if br.read(1) else 0
        cascades.append(high * 8 + low)
        cascade_sum += high * 8 + low
    books: list = []
    for c in cascades:
        row = []
        for pas in range(8):
            if c & (1 << pas):
                bk = br.read(8)
                if bk >= n_books:
                    raise ValueError("residue book out of range")
                row.append(bk)
            else:
                row.append(None)
        books.append(row)
    return {
        "type": rtype, "end": end, "cascade_sum": cascade_sum,
        "begin": begin, "partition_size": psize,
        "classifications": classifications, "classbook": classbook,
        "cascades": cascades, "books": books,
    }


def _parse_mapping(br: LsbReader, channels: int,
                   n_floors: int, n_residues: int) -> dict:
    """One mapping configuration (spec §4.2.4 step 5)."""
    if br.read(16) != 0:
        raise ValueError("reserved mapping type")
    submaps = (br.read(4) + 1) if br.read(1) else 1
    coupling_steps = 0
    coupling = []
    if br.read(1):
        coupling_steps = br.read(8) + 1
        bits = _vorbis_ilog(channels - 1)
        for _ in range(coupling_steps):
            m = br.read(bits)
            a = br.read(bits)
            if m == a or m >= channels or a >= channels:
                raise ValueError("bad coupling channel pair")
            coupling.append((m, a))
    if br.read(2) != 0:
        raise ValueError("nonzero mapping reserved field")
    mux = [0] * channels
    if submaps > 1:
        mux = [br.read(4) for _ in range(channels)]
    submap_cfg = []
    for _ in range(submaps):
        br.read(8)  # unused time config
        fl = br.read(8)
        if fl >= n_floors:
            raise ValueError("mapping floor out of range")
        rs = br.read(8)
        if rs >= n_residues:
            raise ValueError("mapping residue out of range")
        submap_cfg.append({"floor": fl, "residue": rs})
    return {
        "submaps": submaps, "coupling_steps": coupling_steps,
        "coupling": coupling, "mux": mux, "submap_cfg": submap_cfg,
    }


def vorbis_parse_setup(payload: bytes) -> dict:
    """Full Vorbis header parse over a whole Ogg stream, returning
    DECODE-READY configuration: packet assembly (CRC-checked page
    walk), the type-1 identification header (channels / rate /
    blocksizes), comment framing, and the type-5 setup header per
    §4.2.4 — codebooks with codeword lengths and lookup tables,
    floor0/floor1 configs, residues, mappings, modes, framing bit.
    decode_audio below consumes this; vorbis_setup_census is the
    gate-facing census over it.
    Also returns `audio_packets` — every packet after the three
    headers — for the packet decoder."""
    import struct

    packets = _ogg_packets(bytes(payload))
    if len(packets) < 3:
        raise ValueError("missing Vorbis header packets")
    ident, comment, setup = packets[0], packets[1], packets[2]
    if ident[:7] != b"\x01vorbis" or len(ident) < 30:
        raise ValueError("missing Vorbis identification header")
    channels = ident[11]
    rate = struct.unpack_from("<I", ident, 12)[0]
    bs = ident[28]
    blocksize0, blocksize1 = 1 << (bs & 0xF), 1 << (bs >> 4)
    if comment[:7] != b"\x03vorbis":
        raise ValueError("missing Vorbis comment header")
    if setup[:7] != b"\x05vorbis":
        raise ValueError("missing Vorbis setup header")
    br = LsbReader(setup[7:])
    n_books = br.read(8) + 1
    books = [_parse_codebook(br) for _ in range(n_books)]
    for _ in range(br.read(6) + 1):  # time-domain transforms
        if br.read(16) != 0:
            raise ValueError("reserved time-domain transform")
    floors = [
        _parse_floor(br, n_books) for _ in range(br.read(6) + 1)
    ]
    residues = [
        _parse_residue(br, n_books) for _ in range(br.read(6) + 1)
    ]
    mappings = [
        _parse_mapping(br, channels, len(floors), len(residues))
        for _ in range(br.read(6) + 1)
    ]
    modes = []
    for _ in range(br.read(6) + 1):
        blockflag = br.read(1)
        if br.read(16) != 0:
            raise ValueError("reserved mode window type")
        if br.read(16) != 0:
            raise ValueError("reserved mode transform type")
        mapping = br.read(8)
        if mapping >= len(mappings):
            raise ValueError("mode mapping out of range")
        modes.append({"blockflag": blockflag, "mapping": mapping})
    if br.read(1) != 1:
        raise ValueError("missing setup framing bit")
    return {
        "channels": channels, "rate": rate,
        "blocksize0": blocksize0, "blocksize1": blocksize1,
        "books": books, "floors": floors, "residues": residues,
        "mappings": mappings, "modes": modes,
        "audio_packets": packets[3:],
    }


def vorbis_setup_census(payload: bytes) -> list[float]:
    """Vorbis header parse over a whole Ogg stream: packet assembly
    (CRC-checked page walk), the type-1 identification header
    (channels / sample rate), the type-3 comment header (framing
    check), then the type-5 setup header parsed IN FULL per Vorbis I
    §4.2.4 — codebooks (§3.2.1), time-domain transforms, floor0/
    floor1 configurations, residues, mappings, modes, framing bit.
    Returns [channels, rate, n_books, sum_entries, sum_dims,
    sum_used_lengths, n_ordered, n_sparse, n_lookup, n_floors,
    sum_floor1_x, n_residues, sum_res_cascade, n_modes].  PCM
    synthesis (floor curve, residue decode, inverse MDCT) is the
    documented remaining half — and its floor1_inverse_dB_table is
    published DATA unverifiable in-container, the mp3-window
    boundary."""
    cfg = vorbis_parse_setup(payload)
    books = cfg["books"]
    floors = cfg["floors"]
    residues = cfg["residues"]
    channels, rate = cfg["channels"], cfg["rate"]
    n_books, n_modes = len(books), len(cfg["modes"])
    return [
        float(channels),
        float(rate),
        float(n_books),
        float(sum(bk["entries"] for bk in books)),
        float(sum(bk["dims"] for bk in books)),
        float(sum(bk["used_length_sum"] for bk in books)),
        float(sum(1 for bk in books if bk["ordered"])),
        float(sum(1 for bk in books if bk["sparse"])),
        float(sum(1 for bk in books if bk["lookup_type"])),
        float(len(floors)),
        float(sum(f["x_sum"] for f in floors)),
        float(len(residues)),
        float(sum(r["cascade_sum"] for r in residues)),
        float(n_modes),
    ]


# ------------------------------------------------------------ codewords


def assign_codewords(lengths: dict[int, int]) -> dict[int, tuple[int, int]]:
    """Canonical Vorbis codeword assignment: `lengths` maps used
    entry -> codeword length (1..32); returns entry -> (code, len)
    where `code` is the big-endian codeword value.  Entries are
    processed in ascending entry order and each takes the lowest
    available codeword of its length (spec §3.2.1).

    Raises ValueError for an OVERspecified tree (an entry has no free
    codeword) or an UNDERspecified one (free leaves remain), except
    the spec's single-used-entry case, which gets the 1-bit codeword
    0."""
    used = sorted(lengths)
    if not used:
        raise ValueError("codebook with no used entries")
    if len(used) == 1:
        return {used[0]: (0, 1)}
    # free prefix pool as (code, bits), kept sorted by code position
    free: list[tuple[int, int]] = [(0, 0)]
    out: dict[int, tuple[int, int]] = {}
    for entry in used:
        ln = lengths[entry]
        if not 1 <= ln <= 32:
            raise ValueError(f"codeword length {ln} out of range")
        # lowest-valued codeword of length ln = leftmost free prefix
        # with bits <= ln; free is kept ordered by tree position so
        # that is the first qualifying element
        pick = None
        for idx, (c, b) in enumerate(free):
            if b <= ln:
                pick = idx
                break
        if pick is None:
            raise ValueError("overspecified codebook")
        c, b = free.pop(pick)
        code = c << (ln - b)
        # the freed remainder of the picked subtree: at each depth on
        # the path to the leaf, the sibling (path prefix, last bit
        # flipped) becomes available
        siblings = [((code >> (ln - k)) ^ 1, k)
                    for k in range(b + 1, ln + 1)]
        free.extend(siblings)
        free.sort(key=lambda cb: (cb[0] << (32 - cb[1])))
        out[entry] = (code, ln)
    if free:
        raise ValueError("underspecified codebook")
    return out


def codebook_code(lengths: dict[int, int]) -> PrefixCode:
    """The prefix code that decodes a codebook's used entries from the
    LSB-first packet stream."""
    return PrefixCode(
        {(ln, code): e for e, (code, ln) in assign_codewords(lengths).items()},
        lsb=True,
    )


# ------------------------------------------------------------ floor1


def render_line(x0: int, y0: int, x1: int, y1: int, v: list[int]) -> None:
    """The spec's integer line renderer (§9.2.6): writes
    y0 + trunc-toward-zero(dy*(x-x0)/adx) into v[x] for
    x in [x0, x1).  Exact integer math — no floats anywhere."""
    dy = y1 - y0
    adx = x1 - x0
    ady = abs(dy)
    base = abs(dy) // adx * (1 if dy >= 0 else -1)  # trunc toward 0
    x, y, err = x0, y0, 0
    sy = base - 1 if dy < 0 else base + 1
    ady -= abs(base) * adx
    if x0 < len(v):
        v[x0] = y
    for x in range(x0 + 1, x1):
        err += ady
        if err >= adx:
            err -= adx
            y += sy
        else:
            y += base
        if x < len(v):
            v[x] = y


FLOOR1_RANGES = (256, 128, 86, 64)


def floor1_curve(
    x_list: list[int],
    final_y: list[int],
    step2_flag: list[bool],
    n: int,
    multiplier: int,
    inverse_db_table: list[float],
) -> list[float]:
    """Floor curve synthesis (§7.2.4.2): render the piecewise-integer
    line through the flagged (X, Y) points in X-sorted order over n
    bins, then map through the INJECTED 256-entry inverse-dB table.
    `final_y` are the post-step2 amplitude values (0..range-1)."""
    if len(inverse_db_table) != 256:
        raise ValueError("inverse dB table must have 256 entries")
    order = sorted(range(len(x_list)), key=lambda i: x_list[i])
    pts = [
        (x_list[i], final_y[i] * multiplier)
        for i in order
        if step2_flag[i]
    ]
    ay = [0] * n
    hx = 0
    lx, ly = 0, pts[0][1]
    for px, py in pts[1:]:
        render_line(lx, ly, px, py, ay)
        lx, ly = px, py
        hx = px
    if hx < n:
        render_line(hx, ly, n, ly, ay)  # flat tail at the last Y
    return [inverse_db_table[min(max(y, 0), 255)] for y in ay]


def analytic_db_table() -> list[float]:
    """An ANALYTICALLY-DEFINED stand-in for floor1_inverse_dB_table
    (the published table is data this container cannot verify — the
    mp3 synthesis-window boundary): table[y] = y / 255.0, exact
    closed form both engines can recompute.  Swapping in the
    published table is a one-argument data drop everywhere the table
    is injected."""
    return [y / 255.0 for y in range(256)]


# ----------------------------------------------------- window / MDCT


def vorbis_window(n: int) -> list[float]:
    """The Vorbis window (§4.3.1) for a fully-lapped block of size n:
    w(i) = sin(pi/2 * sin^2(pi/n * (i + 0.5))).  Satisfies the
    Princen-Bradley condition w^2(i) + w^2(i + n/2) = 1 exactly in
    real arithmetic (pinned numerically in tests)."""
    return [
        math.sin(math.pi / 2 * math.sin(math.pi / n * (i + 0.5)) ** 2)
        for i in range(n)
    ]


def inverse_mdct(spectrum: list[float], n: int) -> list[float]:
    """The Vorbis inverse MDCT: out[j] = sum_k X[k] *
    cos(2pi/n (j + 1/2 + n/4)(k + 1/2)) — algebraically identical to
    mp3l3._imdct's (pi/2n)(2j+1+n/2)(2k+1) argument, so the pinned
    closed-form transform is reused as-is."""
    if len(spectrum) != n // 2:
        raise ValueError("spectrum must have n/2 coefficients")
    return _imdct(spectrum, n)


class OverlapAdd:
    """Equal-blocksize lapped synthesis state: window the IMDCT
    output, overlap the saved right half of the previous block with
    the left half of the current one, return the n/2 finished
    samples (§4.3.8)."""

    def __init__(self, n: int):
        self.n = n
        self.window = vorbis_window(n)
        self.prev: list[float] | None = None

    def step(self, time_block: list[float]) -> list[float]:
        if len(time_block) != self.n:
            raise ValueError("time block size mismatch")
        w = self.window
        windowed = [time_block[i] * w[i] for i in range(self.n)]
        half = self.n // 2
        if self.prev is None:
            out: list[float] = []
        else:
            out = [self.prev[i] + windowed[i] for i in range(half)]
        self.prev = windowed[half:]
        return out


# ----------------------------------------------------------- VQ lookup


def float32_unpack(raw: int) -> float:
    """Vorbis float32 format (§9.2.2): 21-bit mantissa, sign bit 31,
    10-bit biased exponent -> mantissa * 2^(exponent - 788)."""
    mantissa = raw & 0x1FFFFF
    sign = raw & 0x80000000
    exponent = (raw & 0x7FE00000) >> 21
    value = mantissa * (2.0 ** (exponent - 788))
    return -value if sign else value


def build_vq(book: dict) -> list[list[float]] | None:
    """Decode-side value vectors per entry for a codebook with a
    lookup table (§3.3): type 1 indexes multiplicands by nested
    div/mod over lookup1_values, type 2 sequentially; each component
    is multiplicand * delta + minimum (+ running last when
    sequence_p).  None for lookup type 0 (scalar-context books)."""
    cfg = book.get("lookup")
    if not cfg:
        return None
    dims = book["dims"]
    entries = book["entries"]
    minimum = float32_unpack(cfg["min_raw"])
    delta = float32_unpack(cfg["delta_raw"])
    mults = cfg["multiplicands"]
    out = []
    if cfg["type"] == 1:
        l1v = _lookup1_values(entries, dims)
        for e in range(entries):
            last = 0.0
            idiv = 1
            vec = []
            for _ in range(dims):
                moff = (e // idiv) % l1v
                v = mults[moff] * delta + minimum + last
                if cfg["sequence_p"]:
                    last = v
                vec.append(v)
                idiv *= l1v
            out.append(vec)
    else:
        for e in range(entries):
            last = 0.0
            vec = []
            for d in range(dims):
                v = mults[e * dims + d] * delta + minimum + last
                if cfg["sequence_p"]:
                    last = v
                vec.append(v)
            out.append(vec)
    return out


# -------------------------------------------------------- floor1 decode


def render_point(x0: int, y0: int, x1: int, y1: int, x: int) -> int:
    """§9.2.7: the y of the integer line at X (exact integer math)."""
    dy = y1 - y0
    adx = x1 - x0
    ady = abs(dy)
    err = ady * (x - x0)
    off = err // adx
    return y0 - off if dy < 0 else y0 + off


def _low_neighbor(x_list: list[int], i: int) -> int:
    """Index (< i) of the greatest x_list value <= x_list[i]
    (§9.2.4's low_neighbor over the vector head)."""
    best, bx = None, None
    for j in range(i):
        if x_list[j] <= x_list[i] and (bx is None or x_list[j] > bx):
            best, bx = j, x_list[j]
    return best


def _high_neighbor(x_list: list[int], i: int) -> int:
    best, bx = None, None
    for j in range(i):
        if x_list[j] > x_list[i] and (bx is None or x_list[j] < bx):
            best, bx = j, x_list[j]
    return best


def floor1_decode(br, fl: dict, decoders: list, n_half: int,
                  inverse_db_table: list[float]) -> list[float] | None:
    """Floor1 packet decode (§7.2.3) + amplitude resolution (§7.2.4.1)
    + curve synthesis: returns the floor vector over n_half bins, or
    None when the channel is unaudible this block (nonzero bit 0).
    `decoders` is the per-setup-book codebook_code list."""
    if fl["type"] != 1:
        raise NotImplementedError("floor0 decode not implemented")
    if not br.read(1):
        return None
    rng = FLOOR1_RANGES[fl["multiplier"] - 1]
    ybits = _vorbis_ilog(rng - 1)
    y = [br.read(ybits), br.read(ybits)]
    for p in range(fl["partitions"]):
        cls = fl["classes"][p]
        cc = fl["class_cfg"][cls]
        cbits = cc["subs"]
        csub = (1 << cbits) - 1
        cval = 0
        if cbits:
            cval = decoders[cc["masterbook"]].decode(br)
        for _ in range(cc["dims"]):
            book = cc["subclass_books"][cval & csub]
            cval >>= cbits
            if book >= 0:
                y.append(decoders[book].decode(br))
            else:
                y.append(0)
    x_list = fl["x_list"]
    final = [0] * len(x_list)
    flags = [False] * len(x_list)
    final[0], final[1] = y[0], y[1]
    flags[0] = flags[1] = True
    for i in range(2, len(x_list)):
        low = _low_neighbor(x_list, i)
        high = _high_neighbor(x_list, i)
        predicted = render_point(
            x_list[low], final[low], x_list[high], final[high],
            x_list[i],
        )
        val = y[i]
        highroom = rng - predicted
        lowroom = predicted
        room = 2 * min(highroom, lowroom)
        if val:
            flags[low] = flags[high] = flags[i] = True
            if val >= room:
                if highroom > lowroom:
                    final[i] = val - lowroom + predicted
                else:
                    final[i] = predicted - val + highroom - 1
            elif val % 2:
                final[i] = predicted - (val + 1) // 2
            else:
                final[i] = predicted + val // 2
        else:
            flags[i] = False
            final[i] = predicted
    return floor1_curve(
        x_list, final, flags, n_half, fl["multiplier"],
        inverse_db_table,
    )


# -------------------------------------------------------- residue decode


def residue_decode(br, res: dict, decoders: list, vqs: list,
                   books_cfg: list, n_half: int,
                   do_not_decode: list[bool]) -> list[list[float]]:
    """Residue packet decode (§8.6.2-8.6.5) for types 0, 1, 2 over
    `len(do_not_decode)` channels, returning per-channel residue
    vectors of n_half samples.  Type 2 interleaves the channels into
    one long vector decoded as type 1 and deinterleaves after (its
    do-not-decode applies only when EVERY channel is unaudible)."""
    ch = len(do_not_decode)
    if res["type"] == 2:
        if all(do_not_decode):
            return [[0.0] * n_half for _ in range(ch)]
        inter = _residue_core(
            br, res, decoders, vqs, books_cfg, n_half * ch, [False]
        )[0]
        return [
            [inter[i * ch + c] for i in range(n_half)]
            for c in range(ch)
        ]
    return _residue_core(
        br, res, decoders, vqs, books_cfg, n_half, do_not_decode
    )


def _residue_core(br, res, decoders, vqs, books_cfg, actual_size,
                  do_not_decode):
    ch = len(do_not_decode)
    out = [[0.0] * actual_size for _ in range(ch)]
    begin = min(res["begin"], actual_size)
    end = min(res["end"], actual_size)
    psize = res["partition_size"]
    n_to_read = end - begin
    if n_to_read == 0:
        return out
    parts = n_to_read // psize
    classbook = res["classbook"]
    cwords = books_cfg[classbook]["dims"]
    ncls = res["classifications"]
    classif = [[0] * (parts + cwords) for _ in range(ch)]
    interleaved = res["type"] == 0
    for pas in range(8):
        pcount = 0
        while pcount < parts:
            if pas == 0:
                for c in range(ch):
                    if do_not_decode[c]:
                        continue
                    temp = decoders[classbook].decode(br)
                    for i in range(cwords - 1, -1, -1):
                        classif[c][i + pcount] = temp % ncls
                        temp //= ncls
            for _ in range(cwords):
                if pcount >= parts:
                    break
                for c in range(ch):
                    if do_not_decode[c]:
                        continue
                    vqclass = classif[c][pcount]
                    book = res["books"][vqclass][pas]
                    if book is None:
                        continue
                    vq = vqs[book]
                    if vq is None:
                        raise ValueError(
                            "residue book without a lookup table"
                        )
                    dims = books_cfg[book]["dims"]
                    offset = begin + pcount * psize
                    if interleaved:                     # format 0
                        step = psize // dims
                        for i in range(step):
                            vec = vq[decoders[book].decode(br)]
                            for j in range(dims):
                                out[c][offset + i + j * step] += vec[j]
                    else:                               # format 1
                        i = 0
                        while i < psize:
                            vec = vq[decoders[book].decode(br)]
                            for j in range(dims):
                                out[c][offset + i] += vec[j]
                                i += 1
                pcount += 1
    return out


# -------------------------------------------------------- packet decode


def decode_audio(payload: bytes,
                 inverse_db_table: list[float] | None = None):
    """The complete Vorbis decode chain over an Ogg stream: setup
    parse (vorbis_parse_setup), then per audio packet —
    mode select, per-channel floor1 decode, coupling-aware nonzero
    propagation, residue decode per submap, channel-coupling inverse
    (§4.3.5), floor-times-residue dot product, inverse MDCT, window +
    overlap-add — to PCM floats per channel.  Streams with
    blocksize0 != blocksize1 run the variable-blocksize path: the
    packet's prev/next window flags shape the §4.3.1 slopes and
    VariableOverlapAdd aligns the lapping (mixed-size TDAC is
    perfect-reconstruction-pinned in the tests); equal-blocksize
    streams keep the round-11 gate path bit-for-bit.
    `inverse_db_table` is
    the INJECTED 256-entry floor table (default: the analytic
    stand-in; the published table is the data drop).  Returns
    (sample_rate, [per-channel pcm])."""
    if inverse_db_table is None:
        inverse_db_table = analytic_db_table()
    cfg = vorbis_parse_setup(payload)
    variable = cfg["blocksize0"] != cfg["blocksize1"]
    n0, n1 = cfg["blocksize0"], cfg["blocksize1"]
    n = n0
    half = n // 2
    ch = cfg["channels"]
    decoders = []
    vqs = []
    for bk in cfg["books"]:
        try:
            decoders.append(codebook_code(bk["lengths"]))
        except ValueError:
            decoders.append(None)  # unusable in scalar/VQ context
        vqs.append(build_vq(bk))
    if variable:
        olas = [VariableOverlapAdd(n0) for _ in range(ch)]
    else:
        olas = [OverlapAdd(n) for _ in range(ch)]
    pcm: list[list[float]] = [[] for _ in range(ch)]
    mode_bits = _vorbis_ilog(len(cfg["modes"]) - 1)
    win_cache: dict = {}
    for pkt in cfg["audio_packets"]:
        br = LsbReader(pkt)
        if br.read(1) != 0:
            raise ValueError("audio packet with header packet type")
        mode = cfg["modes"][br.read(mode_bits)]
        prev_short = next_short = not mode["blockflag"]
        if mode["blockflag"]:
            # flag 0 = the adjacent block is short (narrow slope)
            prev_short = br.read(1) == 0
            next_short = br.read(1) == 0
        n = n1 if mode["blockflag"] else n0
        half = n // 2
        mapping = cfg["mappings"][mode["mapping"]]
        floors: list = []
        no_residue = []
        for c in range(ch):
            fl = cfg["floors"][
                mapping["submap_cfg"][mapping["mux"][c]]["floor"]
            ]
            fv = floor1_decode(br, fl, decoders, half,
                               inverse_db_table)
            floors.append(fv)
            no_residue.append(fv is None)
        # §4.3.2: a coupled pair decodes residue if EITHER is audible
        for m, a in mapping["coupling"]:
            if not (no_residue[m] and no_residue[a]):
                no_residue[m] = no_residue[a] = False
        residues: list = [None] * ch
        for s in range(mapping["submaps"]):
            sub_ch = [c for c in range(ch) if mapping["mux"][c] == s]
            dnd = [no_residue[c] for c in sub_ch]
            res = cfg["residues"][mapping["submap_cfg"][s]["residue"]]
            vecs = residue_decode(
                br, res, decoders, vqs, cfg["books"], half, dnd
            )
            for k, c in enumerate(sub_ch):
                residues[c] = vecs[k]
        for m, a in reversed(mapping["coupling"]):
            vm, va = residues[m], residues[a]
            for i in range(half):
                M, A = vm[i], va[i]
                if M > 0:
                    if A > 0:
                        vm[i], va[i] = M, M - A
                    else:
                        vm[i], va[i] = M + A, M
                else:
                    if A > 0:
                        vm[i], va[i] = M, M + A
                    else:
                        vm[i], va[i] = M - A, M
        for c in range(ch):
            if floors[c] is None:
                spectrum = [0.0] * half
            else:
                spectrum = [
                    floors[c][i] * residues[c][i] for i in range(half)
                ]
            tb = inverse_mdct(spectrum, n)
            if variable:
                key = (n, prev_short, next_short)
                w = win_cache.get(key)
                if w is None:
                    w = vorbis_window_shaped(
                        n, prev_short, next_short, n0
                    )
                    win_cache[key] = w
                pcm[c].extend(olas[c].step(
                    [tb[i] * w[i] for i in range(n)],
                    prev_short, next_short,
                ))
            else:
                pcm[c].extend(olas[c].step(tb))
    return cfg["rate"], pcm


def vorbis_pcm_census(payload: bytes) -> list[float]:
    """The Vorbis full-PCM gate decoder: decode_audio with the
    analytic dB table over a mono stream, then the integer census of
    the 1/4096-quantized samples (the mp3 decode_pcm_census
    contract): [rate, n_samples, sum_fq, sum_abs_fq, max_fq, min_fq,
    positional_checksum]."""
    rate, chans = decode_audio(bytes(payload))
    if len(chans) != 1:
        raise ValueError("pcm gate expects mono streams")
    pcm = chans[0]
    if not pcm:
        raise ValueError("no PCM samples decoded")
    fq = [math.floor(x * 4096 + 0.5) for x in pcm]
    return [
        float(rate),
        float(len(fq)),
        float(sum(fq)),
        float(sum(abs(v) for v in fq)),
        float(max(fq)),
        float(min(fq)),
        float(sum(v * ((i % 97) + 1) for i, v in enumerate(fq))),
    ]


# ------------------------------------- variable-blocksize windowing


def vorbis_window_shaped(
    n: int, prev_short: bool, next_short: bool, n_short: int
) -> list[float]:
    """The §4.3.1 window for a block of size n whose neighbors may be
    short: the left/right slopes narrow to n_short/2 samples centered
    at n/4 and 3n/4 when the adjacent block is short, with a flat-1
    center and zero skirts.  Reduces exactly to vorbis_window(n) when
    both neighbors are long (or n == n_short)."""
    ln = (n_short if prev_short else n) // 2
    rn = (n_short if next_short else n) // 2
    lws = n // 4 - ln // 2
    rws = 3 * n // 4 - rn // 2
    w = []
    for i in range(n):
        if i < lws:
            w.append(0.0)
        elif i < lws + ln:
            w.append(math.sin(
                math.pi / 2
                * math.sin((i - lws + 0.5) / ln * (math.pi / 2)) ** 2
            ))
        elif i < rws:
            w.append(1.0)
        elif i < rws + rn:
            w.append(math.sin(
                math.pi / 2
                * math.sin((i - rws + 0.5) / rn * (math.pi / 2)
                           + math.pi / 2) ** 2
            ))
        else:
            w.append(0.0)
    return w


class VariableOverlapAdd:
    """Lapped synthesis for MIXED block sizes (§4.3.8): consecutive
    blocks are placed so their slope centers align (hop from a block
    of size n_p to one of size n_c is 3*n_p/4 - n_c/4), windowed
    blocks accumulate into an absolute-offset buffer, and samples are
    finalized once the next block can no longer touch them (up to the
    current block's right-slope start).  Data before the first
    block's left-slope end is transform latency and is discarded,
    matching the equal-size OverlapAdd's first-block behavior."""

    def __init__(self, n_short: int):
        self.n_short = n_short
        self.buf: list[float] = []
        self.base = 0
        self.pos: int | None = None
        self.prev_n: int | None = None
        self.emitted: int | None = None

    def step(self, windowed: list[float], prev_short: bool,
             next_short: bool) -> list[float]:
        n = len(windowed)
        if self.pos is None:
            self.pos = 0
        else:
            self.pos = self.pos + 3 * self.prev_n // 4 - n // 4
        self.prev_n = n
        off = self.pos - self.base
        need = off + n
        if len(self.buf) < need:
            self.buf.extend([0.0] * (need - len(self.buf)))
        for i, v in enumerate(windowed):
            self.buf[off + i] += v
        ln = (self.n_short if prev_short else n) // 2
        rn = (self.n_short if next_short else n) // 2
        if self.emitted is None:
            # end of the first block's left slope: latency, discarded
            self.emitted = self.pos + n // 4 + ln // 2
        emit_until = self.pos + 3 * n // 4 - rn // 2
        out = self.buf[self.emitted - self.base:
                       emit_until - self.base]
        self.emitted = max(self.emitted, emit_until)
        # trim the finalized prefix
        cut = self.emitted - self.base
        if cut > 0:
            self.buf = self.buf[cut:]
            self.base = self.emitted
        return out


def vorbis_decoder_factory(inverse_db_table: list[float] | None = None):
    """A consumer-facing decoder with multimodal.wav_decoder's 5-float
    contract — [n_channels, sample_rate, n_frames(samples/ch),
    mean_abs, peak] — so Ogg/Vorbis plugs straight into
    extract_features and the audio dedup/VAD operators, exactly like
    mp3l3.mp3_decoder_factory.  The caller may supply the published
    floor1_inverse_dB_table; the default is the analytic stand-in
    (correct machinery, stand-in amplitude mapping — documented)."""
    def decoder(payload: bytes) -> list[float]:
        sr, chans = decode_audio(bytes(payload), inverse_db_table)
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
