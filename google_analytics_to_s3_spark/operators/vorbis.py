"""REAL Ogg/Vorbis decode — the discrete byte path, spec-true.

Public sources: the Vorbis I specification (Xiph.Org, public) and the
Ogg encapsulation RFC 3533. Reference parity target: the reference
engine has no audio codecs at all (its scope is analytics ETL —
``sessionization/main.py``); this module is part of the mandated
beyond-reference training-data surface (compressed audio in crawls).

Scope (r9): everything whose output is EXACT — integers or
bit-reproducible packed floats — decodes for real:

- Ogg page layer (RFC 3533): capture pattern, version, continuation
  flags, granule/serial/sequence, the Ogg CRC-32 (poly 0x04C11DB7,
  init 0, no reflection), lacing values, packet reassembly across
  pages including continued packets.
- Vorbis LSB-first bitpacking (spec §2).
- Identification + comment + setup headers (§4.1-4.2.4): codebook
  parse (ordered and unordered length tables, sparse flags), the
  canonical Huffman codeword assignment (§3.2.1: each entry in order
  receives the lexicographically smallest unused codeword of its
  length), VQ lookup types 0/1 with float32_unpack (§9.2.2) and
  lookup1_values, floor type 1 configuration, residue types 1/2
  configuration, mappings and modes.
- Audio packets (§4.3): mode select, floor1 decode to its INTEGER
  post vector (§7.2.3 — amplitude values before any dB-table
  synthesis), residue decode to its VQ-sum vector (types 1 and 2,
  §8.6.2-8.6.5), square-polar channel coupling (§4.3.5, an exact
  integer transform, r9).
- The float synthesis chain (r10): floor1 amplitude/step2 flags +
  render_line curve synthesis (§7.2.4-7.2.5, §9.2.6), the
  floor1_inverse_dB_table (generated closed form, §10.1), direct
  IMDCT (§4.3.7), the Vorbis window (§4.3.1) and overlap-add, with
  an exact-integer PCM grid readout (``synthesize_vorbis_pcm``).

Honestly gated (named errors, the quarantine contract of
``operators/multimodal``): floor type 0 (LSP), and — in the PCM
synthesis path only — multi-channel output and long/short window
transitions (the integer feature path handles stereo coupling and
both block sizes).

100 TB design: one Arrow ``mapInPandas`` pass, per-payload cost,
embarrassingly parallel; all heavy loops are bounded by packet/
codebook sizes inside a batch.
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)
from .bitio import LsbBits, crc_msb, crc_table_msb
from .payload_memo import decode_map

__all__ = [
    "decode_vorbis_features",
    "VORBIS_FEATURE_SCHEMA",
]


# ---------------------------------------------------------------------------
# Ogg page layer (RFC 3533)
# ---------------------------------------------------------------------------

# direct (non-reflected) CRC-32, polynomial 0x04C11DB7 — the Ogg
# variant: init 0, no final xor
_OGG_CRC = crc_table_msb(0x04C11DB7, 32)


def _ogg_crc32(data: bytes) -> int:
    return crc_msb(data, _OGG_CRC, 32, 0)


def _ogg_packets(raw: bytes) -> list[bytes]:
    """Walk the Ogg pages of a (single-stream) file and reassemble
    the logical packets, verifying every page CRC. A packet whose
    final lacing value is 255 continues on the next page (RFC 3533
    §6); a page-initial continued packet must have the continuation
    flag set."""
    packets: list[bytes] = []
    partial = b""
    pos = 0
    expect_cont = False
    while pos < len(raw):
        if raw[pos:pos + 4] != b"OggS":
            raise ValueError(f"lost Ogg capture at byte {pos}")
        if pos + 27 > len(raw):
            raise ValueError("truncated Ogg page header")
        version = raw[pos + 4]
        if version != 0:
            raise ValueError(f"Ogg version {version} not supported")
        htype = raw[pos + 5]
        (crc,) = struct.unpack_from("<I", raw, pos + 22)
        nseg = raw[pos + 26]
        seg_tbl = raw[pos + 27:pos + 27 + nseg]
        if len(seg_tbl) != nseg:
            raise ValueError("truncated Ogg segment table")
        body_len = sum(seg_tbl)
        body = raw[pos + 27 + nseg:pos + 27 + nseg + body_len]
        if len(body) != body_len:
            raise ValueError("truncated Ogg page body")
        page = bytearray(raw[pos:pos + 27 + nseg + body_len])
        page[22:26] = b"\x00" * 4
        if _ogg_crc32(bytes(page)) != crc:
            raise ValueError("Ogg page CRC mismatch")
        cont_flag = bool(htype & 0x01)
        if cont_flag != expect_cont:
            raise ValueError(
                "Ogg continuation flag disagrees with lacing state"
            )
        at = 0
        for i, lace in enumerate(seg_tbl):
            partial += body[at:at + lace]
            at += lace
            if lace < 255:
                packets.append(partial)
                partial = b""
        expect_cont = bool(seg_tbl) and seg_tbl[-1] == 255
        pos += 27 + nseg + body_len
    if partial:
        raise ValueError("unterminated packet at end of stream")
    return packets


def _ilog(x: int) -> int:
    """spec §9.2.1: number of bits needed; ilog(0) = 0,
    ilog(1) = 1, ilog(7) = 3."""
    n = 0
    while x > 0:
        n += 1
        x >>= 1
    return n


def _float32_unpack(x: int) -> float:
    """spec §9.2.2: 21-bit mantissa, 10-bit biased exponent, sign."""
    mant = x & 0x1FFFFF
    sign = x & 0x80000000
    exp = (x & 0x7FE00000) >> 21
    if sign:
        mant = -mant
    return float(mant) * (2.0 ** (exp - 788))


def _lookup1_values(entries: int, dim: int) -> int:
    """spec §9.2.3: greatest n with n**dim <= entries."""
    n = 0
    while (n + 1) ** dim <= entries:
        n += 1
    return n


# ---------------------------------------------------------------------------
# Codebooks (spec §3)
# ---------------------------------------------------------------------------

class _Codebook:
    __slots__ = ("dim", "entries", "lengths", "tree", "lookup",
                 "vectors")

    def __init__(self, dim, entries, lengths, lookup, vectors):
        self.dim = dim
        self.entries = entries
        self.lengths = lengths  # None = unused entry
        self.lookup = lookup
        self.vectors = vectors  # entry -> tuple of floats (or None)
        self.tree = _assign_codewords(lengths)

    def decode_entry(self, br: LsbBits) -> int:
        """Walk the canonical tree one LSB-first bit at a time."""
        node = self.tree
        while True:
            bit = br.read1()
            node = node[bit]
            if node is None:
                raise ValueError("invalid Huffman codeword")
            if isinstance(node, int):
                return node


def _assign_codewords(lengths: list[int | None]):
    """Canonical Vorbis codeword assignment (spec §3.2.1): entries in
    order receive the lexicographically smallest unused codeword of
    their length. Implemented directly on the decode tree: a greedy
    0-before-1 depth-first search for a free leaf slot at the
    required depth IS the lexicographically smallest valid codeword
    (prefix-freedom holds by construction — assigned leaves are
    ints, never descended). Returns nested [zero_child, one_child]
    lists with int entry leaves. Single-used-entry codebooks take
    the 1-bit codeword 0 per the spec errata; over-subscribed codes
    raise; under-populated trees surface at decode time as an
    invalid-codeword error (spec: such streams are undecodable at
    the missing word, not at setup)."""
    tree: list = [None, None]
    used = [l for l in lengths if l]
    if not used:
        return tree
    single = len(used) == 1

    def alloc(node: list, depth: int, entry: int) -> bool:
        for bit in (0, 1):
            child = node[bit]
            if depth == 1:
                if child is None:
                    node[bit] = entry
                    return True
                continue
            if child is None:
                node[bit] = [None, None]
                if alloc(node[bit], depth - 1, entry):
                    return True
                node[bit] = None  # backtrack an empty subtree
            elif isinstance(child, list):
                if alloc(child, depth - 1, entry):
                    return True
        return False

    for entry, length in enumerate(lengths):
        if not length:
            continue
        if not alloc(tree, 1 if single else length, entry):
            raise ValueError("Huffman code over-subscribed")
    return tree


def _parse_codebook(br: LsbBits) -> _Codebook:
    if br.read(24) != 0x564342:
        raise ValueError("codebook sync pattern missing")
    dim = br.read(16)
    entries = br.read(24)
    # Untrusted-input resource bounds: dim == 0 makes
    # _lookup1_values spin forever ((n+1)**0 <= entries always) and
    # residue type 0 divide by zero; ordered length tables can claim
    # entries = 2**24 in a handful of bytes, turning the VQ
    # expansion below into ~1e12 iterations.  Real encoders stay
    # orders of magnitude under these caps (libvorbis static books
    # top out near 2**15 entries, dim <= 8).
    if dim == 0:
        raise ValueError("codebook dimension 0")
    if entries > (1 << 20) or entries * dim > (1 << 22):
        raise ValueError("codebook entries/dim exceed resource bound")
    ordered = br.read1()
    lengths: list[int | None] = []
    if not ordered:
        sparse = br.read1()
        for _ in range(entries):
            if sparse:
                if br.read1():
                    lengths.append(br.read(5) + 1)
                else:
                    lengths.append(None)
            else:
                lengths.append(br.read(5) + 1)
    else:
        cur_len = br.read(5) + 1
        n = 0
        while n < entries:
            num = br.read(_ilog(entries - n))
            lengths.extend([cur_len] * num)
            n += num
            cur_len += 1
            if cur_len > 32:
                raise ValueError("ordered codebook length overflow")
        if n != entries:
            raise ValueError("ordered codebook entry overflow")
    lookup = br.read(4)
    vectors = None
    if lookup == 0:
        pass
    elif lookup in (1, 2):
        min_v = _float32_unpack(br.read(32))
        delta_v = _float32_unpack(br.read(32))
        value_bits = br.read(4) + 1
        sequence_p = br.read1()
        if lookup == 1:
            n_vals = _lookup1_values(entries, dim)
        else:
            n_vals = entries * dim
        mults = [br.read(value_bits) for _ in range(n_vals)]
        vectors = []
        for e in range(entries):
            vec = []
            last = 0.0
            if lookup == 1:
                idx_div = 1
                for d in range(dim):
                    off = (e // idx_div) % n_vals
                    v = mults[off] * delta_v + min_v + last
                    if sequence_p:
                        last = v
                    vec.append(v)
                    idx_div *= n_vals
            else:
                for d in range(dim):
                    v = mults[e * dim + d] * delta_v + min_v + last
                    if sequence_p:
                        last = v
                    vec.append(v)
            vectors.append(tuple(vec))
    else:
        raise ValueError(f"codebook lookup type {lookup} reserved")
    return _Codebook(dim, entries, lengths, lookup, vectors)


# ---------------------------------------------------------------------------
# Header parse (spec §4.1-4.2.4)
# ---------------------------------------------------------------------------

class _VorbisSetup:
    __slots__ = ("channels", "rate", "blocksize0", "blocksize1",
                 "codebooks", "floors", "residues", "mappings",
                 "modes")


def _expect_header(packet: bytes, ptype: int) -> LsbBits:
    br = LsbBits(packet, 0, "Vorbis")
    t = br.read(8)
    if t != ptype:
        raise ValueError(f"expected header type {ptype}, got {t}")
    if bytes(packet[1:7]) != b"vorbis":
        raise ValueError("missing 'vorbis' header signature")
    br.bitpos = 7 * 8
    return br


def _parse_id_header(packet: bytes) -> _VorbisSetup:
    br = _expect_header(packet, 1)
    version = br.read(32)
    if version != 0:
        raise ValueError(f"Vorbis version {version} not supported")
    s = _VorbisSetup()
    s.channels = br.read(8)
    s.rate = br.read(32)
    if s.channels == 0 or s.rate == 0:
        raise ValueError("zero channels or sample rate")
    br.read(32)  # bitrate max
    br.read(32)  # bitrate nominal
    br.read(32)  # bitrate min
    s.blocksize0 = 1 << br.read(4)
    s.blocksize1 = 1 << br.read(4)
    if not (64 <= s.blocksize0 <= s.blocksize1 <= 8192):
        raise ValueError(
            f"illegal blocksizes {s.blocksize0}/{s.blocksize1}"
        )
    if br.read1() != 1:
        raise ValueError("id header framing bit unset")
    return s


def _parse_comment_header(packet: bytes) -> None:
    br = _expect_header(packet, 3)
    vlen = br.read(32)
    for _ in range(vlen):
        br.read(8)
    n = br.read(32)
    for _ in range(n):
        ln = br.read(32)
        for _ in range(ln):
            br.read(8)
    if br.read1() != 1:
        raise ValueError("comment header framing bit unset")


def _parse_floor1(br: LsbBits) -> dict:
    partitions = br.read(5)
    class_list = [br.read(4) for _ in range(partitions)]
    max_class = max(class_list) if class_list else -1
    classes = []
    for _ in range(max_class + 1):
        dim = br.read(3) + 1
        subbits = br.read(2)
        master = br.read(8) if subbits else None
        books = [br.read(8) - 1 for _ in range(1 << subbits)]
        classes.append(
            {"dim": dim, "subbits": subbits, "master": master,
             "books": books}
        )
    multiplier = br.read(2) + 1
    rangebits = br.read(4)
    x_list = [0, 1 << rangebits]
    for cls in class_list:
        for _ in range(classes[cls]["dim"]):
            x_list.append(br.read(rangebits))
    if len(set(x_list)) != len(x_list):
        raise ValueError("floor1 X values not unique")
    return {
        "type": 1, "partitions": partitions, "class_list": class_list,
        "classes": classes, "multiplier": multiplier,
        "rangebits": rangebits, "x_list": x_list,
    }


def _parse_residue(br: LsbBits, rtype: int) -> dict:
    begin = br.read(24)
    end = br.read(24)
    psize = br.read(24) + 1
    nclass = br.read(6) + 1
    classbook = br.read(8)
    cascades = []
    for _ in range(nclass):
        low = br.read(3)
        high = br.read(5) if br.read1() else 0
        cascades.append(high * 8 + low)
    books = []
    for c in range(nclass):
        row = []
        for bit in range(8):
            row.append(br.read(8) if (cascades[c] >> bit) & 1 else None)
        books.append(row)
    return {
        "type": rtype, "begin": begin, "end": end, "psize": psize,
        "nclass": nclass, "classbook": classbook, "cascades": cascades,
        "books": books,
    }


def _parse_setup_header(packet: bytes, s: _VorbisSetup) -> None:
    br = _expect_header(packet, 5)
    n_books = br.read(8) + 1
    s.codebooks = [_parse_codebook(br) for _ in range(n_books)]
    # time domain transforms: placeholder zeros in Vorbis I
    for _ in range(br.read(6) + 1):
        if br.read(16) != 0:
            raise ValueError("nonzero time transform reserved value")
    s.floors = []
    for _ in range(br.read(6) + 1):
        ftype = br.read(16)
        if ftype == 1:
            f = _parse_floor1(br)
            f["ftype"] = 1
            s.floors.append(f)
        elif ftype == 0:
            s.floors.append(_parse_floor0(br, len(s.codebooks)))
        else:
            raise ValueError(f"reserved floor type {ftype}")
    s.residues = []
    for _ in range(br.read(6) + 1):
        rtype = br.read(16)
        if rtype in (0, 1, 2):
            s.residues.append(_parse_residue(br, rtype))
        else:
            raise ValueError(f"reserved residue type {rtype}")
    s.mappings = []
    for _ in range(br.read(6) + 1):
        mtype = br.read(16)
        if mtype != 0:
            raise ValueError(f"reserved mapping type {mtype}")
        submaps = (br.read(4) + 1) if br.read1() else 1
        couplings = []
        if br.read1():
            steps = br.read(8) + 1
            for _ in range(steps):
                mag = br.read(_ilog(s.channels - 1))
                ang = br.read(_ilog(s.channels - 1))
                if mag == ang or mag >= s.channels or ang >= s.channels:
                    raise ValueError("illegal coupling channel pair")
                couplings.append((mag, ang))
        if br.read(2) != 0:
            raise ValueError("nonzero mapping reserved bits")
        mux = [0] * s.channels
        if submaps > 1:
            mux = [br.read(4) for _ in range(s.channels)]
        sub = []
        for _ in range(submaps):
            br.read(8)  # unused time config
            sub.append({"floor": br.read(8), "residue": br.read(8)})
        s.mappings.append({"submaps": submaps, "mux": mux,
                           "sub": sub, "couplings": couplings})
    s.modes = []
    for _ in range(br.read(6) + 1):
        blockflag = br.read1()
        if br.read(16) != 0 or br.read(16) != 0:
            raise ValueError("nonzero window/transform type")
        s.modes.append({"blockflag": blockflag, "mapping": br.read(8)})
    if br.read1() != 1:
        raise ValueError("setup header framing bit unset")


# ---------------------------------------------------------------------------
# Floor type 0 (LSP) — spec §6. Config (§6.2), packet decode (§6.2.2:
# amplitude + VQ coefficient reads with 'last' accumulation) and the
# LSP curve synthesis (§6.2.3: Bark-scale map, p/q line-spectral
# products, exp amplitude). Everything is closed-form transcendental
# (atan/cos/exp/sqrt), so a DuckDB oracle replays every value with
# its own math in the same operation order; real-encoder parity is
# untestable in this container (no sample corpus), the same caveat as
# the floor1 inverse-dB table.
# ---------------------------------------------------------------------------


def _parse_floor0(br: LsbBits, n_books_total: int) -> dict:
    """§6.2 floor0 config. Gated malformations get named errors."""
    order = br.read(8)
    rate = br.read(16)
    bark = br.read(16)
    amp_bits = br.read(6)
    amp_offset = br.read(8)
    if order < 1:
        raise ValueError("floor0 order must be >= 1")
    if rate < 1 or bark < 1:
        raise ValueError("floor0 rate/bark_map_size must be >= 1")
    nb = br.read(4) + 1
    books = []
    for _ in range(nb):
        b = br.read(8)
        if b >= n_books_total:
            raise ValueError("floor0 book number out of range")
        books.append(b)
    return {"ftype": 0, "order": order, "rate": rate, "bark": bark,
            "amp_bits": amp_bits, "amp_offset": amp_offset,
            "books": books}


def _read_floor0_data(br: LsbBits, floor: dict, books):
    """§6.2.2: amplitude, then LSP coefficients via VQ vector reads,
    each vector offset by the running 'last' scalar. Returns
    (amplitude, coefficients[:order]) or None when amplitude == 0
    (the channel is silent this frame)."""
    amplitude = br.read(floor["amp_bits"])
    if amplitude == 0:
        return None
    booknum = br.read(_ilog(len(floor["books"])))
    if booknum >= len(floor["books"]):
        raise ValueError("floor0 packet book number out of range")
    book = books[floor["books"][booknum]]
    if book.vectors is None:
        raise ValueError("floor0 coefficient book has no lookup table")
    coeffs: list = []
    last = 0.0
    while len(coeffs) < floor["order"]:
        vec = book.vectors[book.decode_entry(br)]
        for v in vec:
            coeffs.append(v + last)
        last = coeffs[-1]
    return amplitude, coeffs[:floor["order"]]


def _floor0_curve(floor: dict, amplitude: int, coeffs: list,
                  n_half: int):
    """§6.2.3 LSP -> LINEAR curve (floor0 outputs linear gains
    directly, unlike floor1's dB-table indices): Bark-scale bin map,
    then per distinct map value the p/q line-spectral products and
    exp((amp * offset) / ((2^bits - 1) sqrt(p + q)) - offset)."""
    import math

    import numpy as np

    order = floor["order"]
    bark_sz = floor["bark"]
    rate = floor["rate"]

    def bark(x: float) -> float:
        return (13.1 * math.atan(0.00074 * x)
                + 2.24 * math.atan(1.85e-8 * x * x) + 1e-4 * x)

    key = ("f0map", rate, bark_sz, n_half)
    fmap = _SYNTH_CACHE.get(key)
    if fmap is None:
        denom = bark(0.5 * rate)
        fmap = [
            min(bark_sz - 1,
                int(bark(rate * i / (2.0 * n_half)) * bark_sz / denom))
            for i in range(n_half)
        ]
        _SYNTH_CACHE[key] = fmap
    cos_c = [math.cos(c) for c in coeffs]
    scale = float((1 << floor["amp_bits"]) - 1)
    off = float(floor["amp_offset"])
    out = np.zeros(n_half)
    cache: dict = {}
    for i in range(n_half):
        m = fmap[i]
        lin = cache.get(m)
        if lin is None:
            w = math.pi * m / bark_sz
            cw = math.cos(w)
            if order % 2:
                p = 1.0 - cw * cw
                for j in range((order - 3) // 2 + 1):
                    d = cos_c[2 * j + 1] - cw
                    p *= 4.0 * d * d
                q = 0.25
                for j in range((order - 1) // 2 + 1):
                    d = cos_c[2 * j] - cw
                    q *= 4.0 * d * d
            else:
                p = (1.0 - cw) / 2.0
                q = (1.0 + cw) / 2.0
                for j in range(order // 2):
                    d = cos_c[2 * j + 1] - cw
                    p *= 4.0 * d * d
                    d = cos_c[2 * j] - cw
                    q *= 4.0 * d * d
            lin = math.exp((amplitude * off) / (scale * math.sqrt(p + q))
                           - off)
            cache[m] = lin
        out[i] = lin
    return out


# ---------------------------------------------------------------------------
# Floor1 packet decode + integer amplitude synthesis (spec §7.2.3-7.2.4)
# ---------------------------------------------------------------------------

_FLOOR1_RANGES = {1: 256, 2: 128, 3: 86, 4: 64}


def _render_point(x0: int, y0: int, x1: int, y1: int, x: int) -> int:
    dy = y1 - y0
    adx = x1 - x0
    off = (abs(dy) * (x - x0)) // adx
    return y0 - off if dy < 0 else y0 + off


def _floor1_amplitude(floor: dict, y: list[int]
                      ) -> tuple[list[int], list[bool]]:
    """Amplitude value synthesis (§7.2.4), pure integers. Returns
    (final_Y, step2_flags) — a post's flag is set when its
    transmitted value is nonzero (and posts 0/1 are always set, plus
    the prediction neighbors of any nonzero post); only flagged
    posts become breakpoints in curve synthesis."""
    frange = _FLOOR1_RANGES[floor["multiplier"]]
    x_list = floor["x_list"]
    final = [y[0], y[1]]
    flags = [True, True] + [False] * (len(x_list) - 2)
    for i in range(2, len(x_list)):
        # neighbors among positions 0..i-1: largest x below, smallest
        # x above (x values are unique by the setup check)
        lo = max(
            (j for j in range(i) if x_list[j] < x_list[i]),
            key=lambda j: x_list[j],
        )
        hi = min(
            (j for j in range(i) if x_list[j] > x_list[i]),
            key=lambda j: x_list[j],
        )
        predicted = _render_point(
            x_list[lo], final[lo], x_list[hi], final[hi], x_list[i]
        )
        val = y[i]
        highroom = frange - predicted
        lowroom = predicted
        room = 2 * min(highroom, lowroom)
        if val == 0:
            final.append(predicted)
        else:
            flags[lo] = flags[hi] = flags[i] = True
            if val >= room:
                if highroom > lowroom:
                    final.append(val - lowroom + predicted)
                else:
                    final.append(predicted - (val - highroom) - 1)
            elif val % 2:
                final.append(predicted - ((val + 1) // 2))
            else:
                final.append(predicted + val // 2)
    return final, flags


def _decode_floor1(br: LsbBits, floor: dict, books) -> list[int] | None:
    """Returns the synthesized final_Y post vector (exact integers),
    or None for an unused (zero-energy) channel."""
    y = _read_floor1_posts(br, floor, books)
    if y is None:
        return None
    return _floor1_amplitude(floor, y)[0]


def _read_floor1_posts(br: LsbBits, floor: dict, books
                       ) -> list[int] | None:
    """§7.2.3: the transmitted post values (before amplitude
    synthesis), or None for an unused channel."""
    if not br.read1():
        return None
    frange = _FLOOR1_RANGES[floor["multiplier"]]
    ybits = _ilog(frange - 1)
    y = [br.read(ybits), br.read(ybits)]
    for i in range(floor["partitions"]):
        cls = floor["classes"][floor["class_list"][i]]
        cbits = cls["subbits"]
        csub = (1 << cbits) - 1
        cval = 0
        if cbits:
            cval = books[cls["master"]].decode_entry(br)
        for _ in range(cls["dim"]):
            book = cls["books"][cval & csub]
            cval >>= cbits
            y.append(books[book].decode_entry(br) if book >= 0 else 0)
    return y


def _render_line(x0: int, y0: int, x1: int, y1: int,
                 v: list[int], n: int) -> None:
    """§9.2.6 render_line: the spec's exact integer Bresenham —
    truncating base slope with error accumulation — writing y values
    into v for x in [x0, min(x1, n))."""
    dy = y1 - y0
    adx = x1 - x0
    base = abs(dy) // adx
    if dy < 0:
        base = -base
        sy = base - 1
    else:
        sy = base + 1
    ady = abs(dy) - abs(base) * adx
    if x0 < n:
        v[x0] = y0
    y = y0
    err = 0
    for x in range(x0 + 1, min(x1, n)):
        err += ady
        if err >= adx:
            err -= adx
            y += sy
        else:
            y += base
        v[x] = y


def _floor1_curve(floor: dict, final: list[int], flags: list[bool],
                  n_half: int) -> list[int]:
    """Curve synthesis (§7.2.5): piecewise render_line through the
    FLAGGED posts in x order, values scaled by the multiplier into
    the 0..255 dB-table index domain, flat fill past the last post."""
    mult = floor["multiplier"]
    posts = sorted(
        (x, final[i] * mult) for i, x in enumerate(floor["x_list"])
        if flags[i]
    )
    v = [0] * n_half
    lx, ly = posts[0]
    for hx, hy in posts[1:]:
        if hx > lx:
            _render_line(lx, ly, hx, hy, v, n_half)
        lx, ly = hx, hy
    if lx < n_half:
        for x in range(lx, n_half):
            v[x] = ly
    return [min(255, max(0, yv)) for yv in v]


# ---------------------------------------------------------------------------
# Residue decode (spec §8.6.2-8.6.5), types 1 and 2, passthrough only
# ---------------------------------------------------------------------------

def _decode_residue(
    br: LsbBits, res: dict, books, n_half: int, n_channels: int,
    do_decode: list[bool],
) -> list[list[float]]:
    """Returns per-channel residue vectors. With integer-valued
    codebook lookups (delta/min integers) the sums are exact."""
    rtype = res["type"]
    if rtype == 2:
        vec_size = n_half * n_channels
        any_decode = any(do_decode)
        vecs = [[0.0] * vec_size]
        chans = 1
        active = [any_decode]
    else:
        vec_size = n_half
        vecs = [[0.0] * vec_size for _ in range(n_channels)]
        chans = n_channels
        active = do_decode
    begin = min(res["begin"], vec_size)
    end = min(res["end"], vec_size)
    psize = res["psize"]
    classbook = books[res["classbook"]]
    cw_per = classbook.dim
    n_parts = (end - begin) // psize
    classes = [[0] * n_parts for _ in range(chans)]
    for p in range(8):
        pi = 0
        while pi < n_parts:
            if p == 0:
                for ch in range(chans):
                    if not active[ch]:
                        continue
                    temp = classbook.decode_entry(br)
                    for k in range(cw_per - 1, -1, -1):
                        if pi + k < n_parts:
                            classes[ch][pi + k] = temp % res["nclass"]
                        temp //= res["nclass"]
            for k in range(cw_per):
                if pi >= n_parts:
                    break
                for ch in range(chans):
                    if not active[ch]:
                        continue
                    cls = classes[ch][pi]
                    book_no = res["books"][cls][p]
                    if book_no is None:
                        continue
                    book = books[book_no]
                    if book.vectors is None:
                        raise ValueError(
                            "residue value book has no lookup table"
                        )
                    off = begin + pi * psize
                    if rtype == 0:
                        # §8.6.3: interleaved scatter — entry i of
                        # step = psize/dim writes component d at
                        # off + i + d*step
                        step = psize // book.dim
                        for i in range(step):
                            vec = book.vectors[book.decode_entry(br)]
                            for d in range(book.dim):
                                vecs[ch][off + i + d * step] += vec[d]
                    else:
                        i = 0
                        while i < psize:
                            entry = book.decode_entry(br)
                            vec = book.vectors[entry]
                            for d in range(book.dim):
                                vecs[ch][off + i] += vec[d]
                                i += 1
                pi += 1
    if rtype == 2 and n_channels > 1:
        # de-interleave back to per-channel vectors
        out = [[0.0] * n_half for _ in range(n_channels)]
        for i in range(n_half):
            for ch in range(n_channels):
                out[ch][i] = vecs[0][i * n_channels + ch]
        return out
    return vecs


# ---------------------------------------------------------------------------
# Audio packet walk → exact integer features
# ---------------------------------------------------------------------------

def _decode_audio_packet(packet: bytes, s: _VorbisSetup) -> dict:
    br = LsbBits(packet, 0, "Vorbis")
    if br.read1() != 0:
        raise ValueError("audio packet type flag set")
    mode_no = br.read(_ilog(len(s.modes) - 1))
    if mode_no >= len(s.modes):
        raise ValueError(f"mode {mode_no} out of range")
    mode = s.modes[mode_no]
    n = s.blocksize1 if mode["blockflag"] else s.blocksize0
    if mode["blockflag"]:
        br.read1()  # previous window flag
        br.read1()  # next window flag
    mapping = s.mappings[mode["mapping"]]
    floors = []
    for ch in range(s.channels):
        sub = mapping["sub"][mapping["mux"][ch]]
        fl = s.floors[sub["floor"]]
        if fl.get("ftype") == 0:
            d0 = _read_floor0_data(br, fl, s.codebooks)
            # floor0 has no integer posts; report presence only
            floors.append(None if d0 is None else [])
        else:
            floors.append(_decode_floor1(br, fl, s.codebooks))
    # nonzero-vector bookkeeping: a coupled pair decodes if EITHER
    # half has a nonzero floor (spec §4.3.4 step 4)
    do_decode = [f is not None for f in floors]
    for mag, ang in mapping["couplings"]:
        if do_decode[mag] or do_decode[ang]:
            do_decode[mag] = do_decode[ang] = True
    chan_vecs: list = [None] * s.channels
    for sm in range(mapping["submaps"]):
        sm_channels = [
            ch for ch in range(s.channels) if mapping["mux"][ch] == sm
        ]
        ch_active = [do_decode[ch] for ch in sm_channels]
        res = s.residues[mapping["sub"][sm]["residue"]]
        group = _decode_residue(
            br, res, s.codebooks, n // 2, len(sm_channels), ch_active
        )
        for ch, vec in zip(sm_channels, group):
            chan_vecs[ch] = vec
    # inverse channel coupling (spec §4.3.5, square-polar): exact
    # integer transform on the integer-valued residue vectors
    for mag, ang in reversed(mapping["couplings"]):
        M, A = chan_vecs[mag], chan_vecs[ang]
        for j in range(len(M)):
            m, a_ = M[j], A[j]
            if m > 0:
                if a_ > 0:
                    new_m, new_a = m, m - a_
                else:
                    new_m, new_a = m + a_, m
            else:
                if a_ > 0:
                    new_m, new_a = m, m + a_
                else:
                    new_m, new_a = m - a_, m
            M[j], A[j] = new_m, new_a
    post_sum = sum(sum(f) for f in floors if f is not None)
    post_count = sum(len(f) for f in floors if f is not None)
    res_sum = 0
    res_nonzero = 0
    for vec in chan_vecs:
        if vec is None:
            continue
        for v in vec:
            iv = int(round(v))
            res_sum += iv
            if iv:
                res_nonzero += 1
    return {
        "n": n, "mode": mode_no, "post_sum": int(post_sum),
        "post_count": post_count, "res_sum": res_sum,
        "res_nonzero": res_nonzero,
    }


def parse_vorbis(raw: bytes) -> dict:
    """Full stream walk: Ogg packets → three headers → every audio
    packet. Returns exact-integer stream features."""
    packets = _ogg_packets(raw)
    if len(packets) < 3:
        raise ValueError("need id/comment/setup header packets")
    s = _parse_id_header(packets[0])
    _parse_comment_header(packets[1])
    _parse_setup_header(packets[2], s)
    post_sum = post_count = res_sum = res_nonzero = 0
    n_samples_windows = 0
    for pk in packets[3:]:
        d = _decode_audio_packet(pk, s)
        post_sum += d["post_sum"]
        post_count += d["post_count"]
        res_sum += d["res_sum"]
        res_nonzero += d["res_nonzero"]
        n_samples_windows += d["n"]
    return {
        "sample_rate_hz": s.rate,
        "channels": s.channels,
        "blocksize0": s.blocksize0,
        "blocksize1": s.blocksize1,
        "n_codebooks": len(s.codebooks),
        "n_audio_packets": len(packets) - 3,
        "window_samples": n_samples_windows,
        "floor_post_sum": post_sum,
        "floor_post_count": post_count,
        "residue_sum": res_sum,
        "residue_nonzero": res_nonzero,
    }


_VORBIS_ERRORS = (ValueError, IndexError, struct.error, ZeroDivisionError,
                  OverflowError)

VORBIS_FEATURE_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("sample_rate_hz", IntegerType()),
    StructField("channels", IntegerType()),
    StructField("blocksize0", IntegerType()),
    StructField("blocksize1", IntegerType()),
    StructField("n_codebooks", IntegerType()),
    StructField("n_audio_packets", IntegerType()),
    StructField("window_samples", LongType()),
    StructField("floor_post_sum", LongType()),
    StructField("floor_post_count", LongType()),
    StructField("residue_sum", LongType()),
    StructField("residue_nonzero", LongType()),
    StructField("decode_error", StringType()),
])


def decode_vorbis_features(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
) -> DataFrame:
    """REAL Ogg/Vorbis byte-path decode (module docstring): per
    payload, the exact-integer stream features from the full packet
    walk — Ogg CRC verification, codebook canonical assignment,
    floor1 post synthesis and residue VQ accumulation all actually
    run. Malformed or out-of-scope payloads quarantine into
    ``decode_error`` with named messages; one bad payload never
    fails the batch (the multimodal contract)."""
    return decode_map(df, lambda p: parse_vorbis(bytes(p)),
                      VORBIS_FEATURE_SCHEMA, _VORBIS_ERRORS,
                      id_col, payload_col)


# ---------------------------------------------------------------------------
# Float synthesis chain (r10): floor1 dB curve -> spectrum -> IMDCT
# -> Vorbis window -> overlap-add -> PCM grid readout
# ---------------------------------------------------------------------------
#
# The floor1_inverse_dB_table (spec §10.1) is generated, not
# memorized: table[i] = 10 ** (-7 * (255 - i) / 256) — both published
# endpoints check out (table[255] = 1.0, table[0] = 1.0649863e-07 =
# 10 ** (-7 * 255/256)) and the constant per-step ratio matches the
# published values to float32 precision. The fixture oracle replays
# the same closed form, so planted-rule parity is exact; float32
# rounding of the spec literals only matters for real-encoder
# parity, which this container cannot test (no sample corpus).

_SYNTH_CACHE: dict = {}


def _inverse_db_table():
    import numpy as np

    t = _SYNTH_CACHE.get("db")
    if t is None:
        t = 10.0 ** ((np.arange(256) - 255) * 7.0 / 256.0)
        _SYNTH_CACHE["db"] = t
    return t


def _imdct_matrix(n: int):
    """Direct IMDCT (spec §4.3.7): out[j] = sum_k X[k] *
    cos(pi/(2n) * (2j + 1 + n/2) * (2k + 1)). O(n^2) as a cached
    matrix — exact for the verification blocksizes (256/512); a
    production path would swap in an FFT-based O(n log n) IMDCT,
    which changes summation order and therefore the last float ulp,
    so the oracle-checked readout pins the direct form."""
    import numpy as np

    M = _SYNTH_CACHE.get(("imdct", n))
    if M is None:
        j = 2 * np.arange(n, dtype=np.int64) + 1 + n // 2
        k = 2 * np.arange(n // 2, dtype=np.int64) + 1
        M = np.cos((np.pi / (2 * n)) * np.outer(j, k))
        _SYNTH_CACHE[("imdct", n)] = M
    return M


def _vorbis_window(n: int):
    """§4.3.1: w(j) = sin((pi/2) * sin^2(pi (j + 0.5) / n))."""
    import numpy as np

    w = _SYNTH_CACHE.get(("win", n))
    if w is None:
        s = np.sin(np.pi * (np.arange(n) + 0.5) / n)
        w = np.sin((0.5 * np.pi) * (s * s))
        _SYNTH_CACHE[("win", n)] = w
    return w


def _vorbis_window_asym(n: int, n0: int, prev_w: int, next_w: int):
    """Long-block window with short-slope halves (spec window
    generation): a window flag of 0 means the neighboring block is
    short, so that half uses the n0/2-length slope centered at n/4
    (left) / 3n/4 (right) and is ZERO outside it. Flags (1, 1)
    reduce to the symmetric window."""
    import numpy as np

    key = ("win", n, n0, prev_w, next_w)
    w = _SYNTH_CACHE.get(key)
    if w is None:
        w = np.zeros(n)
        left_n = n // 2 if prev_w else n0 // 2
        left_start = 0 if prev_w else n // 4 - n0 // 4
        right_n = n // 2 if next_w else n0 // 2
        right_start = n // 2 if next_w else 3 * n // 4 - n0 // 4
        i = np.arange(left_n)
        sl = np.sin(np.pi * (i + 0.5) / (2 * left_n))
        w[left_start:left_start + left_n] = np.sin(
            (0.5 * np.pi) * (sl * sl))
        w[left_start + left_n:right_start] = 1.0
        i = np.arange(right_n)
        sr = np.sin(np.pi * (i + 0.5) / (2 * right_n) + 0.5 * np.pi)
        w[right_start:right_start + right_n] = np.sin(
            (0.5 * np.pi) * (sr * sr))
        _SYNTH_CACHE[key] = w
    return w


def _packet_spectra(packet: bytes, s: _VorbisSetup):
    """Audio packet -> (n, [per-channel float64 spectra of length
    n/2]): per-channel floor1 curves (dB indices -> inverse-dB
    gains), submap residue decode, the EXACT integer inverse
    square-polar coupling (§4.3.5 — residue vectors are
    integer-valued, so the transform is lossless), then the §4.3.6
    floor x residue dot product per channel. A channel whose floor is
    unused renders as silence even when its coupled partner forced
    its residue to decode (§4.3.4 step 4 bookkeeping)."""
    import numpy as np

    br = LsbBits(packet, 0, "Vorbis")
    if br.read1() != 0:
        raise ValueError("audio packet type flag set")
    mode_no = br.read(_ilog(len(s.modes) - 1))
    if mode_no >= len(s.modes):
        raise ValueError(f"mode {mode_no} out of range")
    mode = s.modes[mode_no]
    n = s.blocksize1 if mode["blockflag"] else s.blocksize0
    wflags = None
    if mode["blockflag"]:
        wflags = (br.read1(), br.read1())
    mapping = s.mappings[mode["mapping"]]
    table = _inverse_db_table()
    gains = []
    for ch in range(s.channels):
        floor = s.floors[mapping["sub"][mapping["mux"][ch]]["floor"]]
        if floor.get("ftype") == 0:
            d0 = _read_floor0_data(br, floor, s.codebooks)
            if d0 is None:
                gains.append(None)
            else:
                gains.append(_floor0_curve(floor, d0[0], d0[1], n // 2))
        else:
            y = _read_floor1_posts(br, floor, s.codebooks)
            if y is None:
                gains.append(None)
            else:
                final, flags = _floor1_amplitude(floor, y)
                curve = _floor1_curve(floor, final, flags, n // 2)
                gains.append(table[curve])
    do_decode = [g is not None for g in gains]
    for mag, ang in mapping["couplings"]:
        if do_decode[mag] or do_decode[ang]:
            do_decode[mag] = do_decode[ang] = True
    chan_vecs: list = [None] * s.channels
    for sm in range(mapping["submaps"]):
        sm_channels = [
            ch for ch in range(s.channels) if mapping["mux"][ch] == sm
        ]
        ch_active = [do_decode[ch] for ch in sm_channels]
        res = s.residues[mapping["sub"][sm]["residue"]]
        group = _decode_residue(
            br, res, s.codebooks, n // 2, len(sm_channels), ch_active
        )
        for ch, vec in zip(sm_channels, group):
            chan_vecs[ch] = vec
    for mag, ang in reversed(mapping["couplings"]):
        M, A = chan_vecs[mag], chan_vecs[ang]
        for j in range(len(M)):
            m, a_ = M[j], A[j]
            if m > 0:
                if a_ > 0:
                    new_m, new_a = m, m - a_
                else:
                    new_m, new_a = m + a_, m
            else:
                if a_ > 0:
                    new_m, new_a = m, m + a_
                else:
                    new_m, new_a = m - a_, m
            M[j], A[j] = new_m, new_a
    spectra = []
    for ch in range(s.channels):
        if gains[ch] is None:
            spectra.append(np.zeros(n // 2))
        else:
            spectra.append(
                gains[ch]
                * np.asarray(chan_vecs[ch], dtype=np.float64)
            )
    return n, spectra, wflags


def synthesize_vorbis_pcm(raw: bytes, grid: int = 10_000) -> dict:
    """Full PCM synthesis for a single-blocksize stream, ANY channel
    count (coupled stereo included — the inverse square-polar
    transform happens on the exact integer residue vectors before the
    floor multiply): packets -> per-channel floor curve x residue ->
    IMDCT -> window -> overlap-add per channel; the first packet
    primes the lap buffers (no output), every later packet emits n/2
    samples per channel. The readout quantizes each sample to a
    1/`grid` BIGINT lattice with half-up rounding (floor(x * grid +
    0.5)) so the driver compare is exact-integer; grid sums
    accumulate across channels.

    Long/short window transitions are REAL (asymmetric windows per
    the spec's window generation; variable-size center-to-center
    overlap-add). Floor type 0 remains gated at setup parse."""
    import numpy as np

    packets = _ogg_packets(raw)
    if len(packets) < 3:
        raise ValueError("need id/comment/setup header packets")
    s = _parse_id_header(packets[0])
    _parse_comment_header(packets[1])
    _parse_setup_header(packets[2], s)
    prev_n = 0
    prev_tail: list = [None] * s.channels
    gsum = 0
    gabs = 0
    peak = 0
    n_pcm = 0
    n_packets = 0
    for pk in packets[3:]:
        n, spectra, wflags = _packet_spectra(pk, s)
        M = _imdct_matrix(n)
        if wflags is None:
            w = _vorbis_window(n)
        else:
            w = _vorbis_window_asym(n, s.blocksize0, *wflags)
        # §1.3.2: each packet returns prev_n/4 + n/4 samples, running
        # from the previous window center to this window center; the
        # current block's physical start sits offset = prev_n/4 - n/4
        # samples after the previous center (negative when a long
        # block follows a short one)
        out_len = prev_n // 4 + n // 4
        offset = prev_n // 4 - n // 4
        for ch in range(s.channels):
            z = (M @ spectra[ch]) * w
            if prev_tail[ch] is not None:
                out = np.zeros(out_len)
                tail = prev_tail[ch]
                m = min(out_len, len(tail))
                out[:m] += tail[:m]
                lo = max(0, offset)
                out[lo:] += z[lo - offset:out_len - offset]
                g = np.floor(out * grid + 0.5).astype(np.int64)
                gsum += int(g.sum())
                ga = np.abs(g)
                gabs += int(ga.sum())
                peak = max(peak, int(ga.max(initial=0)))
                n_pcm += out_len
            prev_tail[ch] = z[n // 2:]
        prev_n = n
        n_packets += 1
    if n_packets == 0:
        raise ValueError("no audio packets")
    return {
        "sample_rate_hz": s.rate,
        "channels": s.channels,
        "n_packets": n_packets,
        "n_pcm": n_pcm,
        "pcm_grid_sum": gsum,
        "pcm_abs_grid_sum": gabs,
        "pcm_peak_grid": peak,
    }


_PCM_INT32 = ("sample_rate_hz", "channels", "n_packets")
_PCM_INT64 = ("n_pcm", "pcm_grid_sum", "pcm_abs_grid_sum",
              "pcm_peak_grid")


def decode_vorbis_pcm(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    grid: int = 10_000,
) -> DataFrame:
    """Arrow `mapInPandas` PCM-synthesis wrapper, same quarantine
    contract as decode_vorbis_features: per-payload cost,
    embarrassingly parallel, one bad payload never fails the batch."""
    schema = StructType(
        [StructField("doc_id", LongType())]
        + [StructField(k, IntegerType()) for k in _PCM_INT32]
        + [StructField(k, LongType()) for k in _PCM_INT64]
        + [StructField("decode_error", StringType())])
    return decode_map(
        df, lambda p: synthesize_vorbis_pcm(bytes(p), grid=grid), schema,
        _VORBIS_ERRORS, id_col, payload_col)
