"""Bit-level primitives shared by the byte-path decoders.

This module owns bit order and integer encodings for ``operators/``;
the format modules keep only what is particular to their format.

**Bit readers.** :class:`MsbBits` reads fields most-significant bit
first (bzip2, JPEG, FLAC, MP3, H.264, ORC); :class:`LsbBits` reads
them least-significant bit first (DEFLATE, VP8L, Vorbis, zstd's FSE
headers). Both have one interface: ``read(n)`` takes an n-bit field
with one ``int.from_bytes`` (not a loop per bit), ``read1()`` one bit,
``unary()`` counts the 0 bits before the next 1 and consumes that 1,
``align()`` skips to the next byte boundary, and ``pos`` is the byte
position, rounded up (after ``align``, the next byte to read).
``bitpos`` is the bit position, which a caller may set. Errors start
with the format name the caller passes as ``fmt``: a read past the
end of the buffer raises ``ValueError("<fmt>: truncated bitstream")``,
a unary run over ``2**20`` bits ``"<fmt>: runaway unary code"``.

**Canonical prefix codes.** :class:`CanonicalCode` decodes the code
that RFC 1951 §3.2.2 assigns from code lengths: codes in order of
(length, symbol), each read most-significant bit first from either
reader. It rejects nothing itself; ``slack`` (unused code space) lets
each format keep its own rule: DEFLATE rejects an over-subscribed code
(``slack < 0``), VP8L any code that is not complete (``slack != 0``).

**Varints.** :func:`uvarint` decodes unsigned LEB128 and takes each
format's byte limit: 11 for parquet, ORC and Avro (a 64-bit value plus
the slack their readers allowed), 21 for ORC's decimal significands,
10 for protobuf, 9 for xz and 5 for snappy's uint32 preamble.
:func:`encode_uvarint` is its inverse; :func:`zigzag` maps a zigzag
code back to a signed value.

**CRCs.** :func:`crc_table_lsb` (reflected) and :func:`crc_table_msb`
build the 256-entry tables; :func:`crc_lsb` and :func:`crc_msb` run
them. Each format keeps its polynomial, init and xorout at its call
site.

**Left where they are,** each with its reason (the rule in
``tests/test_bitio.py`` names those that match its patterns):

- ``zstd._BackBits``: zstd's backward stream, read from the last byte
  down with zero fill past the start; it has one user.
- ``sqlite._varint``: SQLite's big-endian varint, a different encoding
  (9th byte carries 8 bits).
- The Vorbis codeword tree: Vorbis assigns codewords in entry order,
  not canonically by length.
- zstd's Huffman weight tables: codes built from weights, decoded from
  the backward stream.
- The validity bitmaps in ``arrow_ipc``, ``arrow_write``,
  ``parquet_write`` and ``roaring``: one bit per row, not a bitstream.
- xxh32, xxh64 and murmur3: hashes, not CRCs.
- ``xz._Range`` and ``xz._REnc``: LZMA's range coder, arithmetic
  coding rather than a bitstream.
- ``inflate._BitWriter``: the DEFLATE compressor's writer.
"""

from __future__ import annotations

__all__ = ["MsbBits", "LsbBits", "CanonicalCode", "uvarint",
           "encode_uvarint", "zigzag", "crc_table_lsb", "crc_table_msb",
           "crc_lsb", "crc_msb"]

_UNARY_MAX = 1 << 20


def _error(fmt: str, what: str) -> ValueError:
    return ValueError(f"{fmt}: {what}" if fmt else what)


class MsbBits:
    """Most-significant-bit-first reader over ``data`` from byte
    ``pos``; its errors start with ``fmt``, the format's name."""

    __slots__ = ("data", "bitpos", "end", "fmt")

    def __init__(self, data: bytes, pos: int = 0, fmt: str = "") -> None:
        self.data = data
        self.bitpos = pos << 3
        self.end = len(data) << 3
        self.fmt = fmt

    @property
    def pos(self) -> int:
        return (self.bitpos + 7) >> 3

    def read(self, n: int) -> int:
        bp = self.bitpos
        e = bp + n
        if e > self.end:
            raise _error(self.fmt, "truncated bitstream")
        self.bitpos = e
        stop = (e + 7) >> 3
        chunk = int.from_bytes(self.data[bp >> 3:stop], "big")
        return (chunk >> ((stop << 3) - e)) & ((1 << n) - 1)

    def read1(self) -> int:
        bp = self.bitpos
        if bp >= self.end:
            raise _error(self.fmt, "truncated bitstream")
        self.bitpos = bp + 1
        return (self.data[bp >> 3] >> (7 - (bp & 7))) & 1

    def unary(self) -> int:
        # whole bytes at a time: the zeros left in the current byte,
        # then one test per following byte
        data = self.data
        bp = start = self.bitpos
        while True:
            if bp >= self.end:
                raise _error(self.fmt, "truncated bitstream")
            rem = 8 - (bp & 7)
            window = data[bp >> 3] & ((1 << rem) - 1)
            if window:
                bp += rem - window.bit_length()
                self.bitpos = bp + 1
                return bp - start
            bp += rem
            if bp - start > _UNARY_MAX:
                raise _error(self.fmt, "runaway unary code")

    def align(self) -> None:
        self.bitpos = (self.bitpos + 7) & ~7


class LsbBits:
    """Least-significant-bit-first reader over ``data`` from byte
    ``pos``; the same interface as :class:`MsbBits`."""

    __slots__ = ("data", "bitpos", "end", "fmt")

    def __init__(self, data: bytes, pos: int = 0, fmt: str = "") -> None:
        self.data = data
        self.bitpos = pos << 3
        self.end = len(data) << 3
        self.fmt = fmt

    @property
    def pos(self) -> int:
        return (self.bitpos + 7) >> 3

    def read(self, n: int) -> int:
        bp = self.bitpos
        e = bp + n
        if e > self.end:
            raise _error(self.fmt, "truncated bitstream")
        self.bitpos = e
        chunk = int.from_bytes(self.data[bp >> 3:(e + 7) >> 3], "little")
        return (chunk >> (bp & 7)) & ((1 << n) - 1)

    def read1(self) -> int:
        bp = self.bitpos
        if bp >= self.end:
            raise _error(self.fmt, "truncated bitstream")
        self.bitpos = bp + 1
        return (self.data[bp >> 3] >> (bp & 7)) & 1

    def unary(self) -> int:
        data = self.data
        bp = start = self.bitpos
        while True:
            if bp >= self.end:
                raise _error(self.fmt, "truncated bitstream")
            window = data[bp >> 3] >> (bp & 7)
            if window:
                bp += (window & -window).bit_length() - 1
                self.bitpos = bp + 1
                return bp - start
            bp = (bp | 7) + 1
            if bp - start > _UNARY_MAX:
                raise _error(self.fmt, "runaway unary code")

    def align(self) -> None:
        self.bitpos = (self.bitpos + 7) & ~7


class CanonicalCode:
    """Canonical prefix code from ``lengths`` (``lengths[s]`` is
    symbol ``s``'s code length, 0 for an unused symbol).

    ``slack`` is the code space left unassigned, in units of the
    longest code: negative for an over-subscribed code, positive for
    an incomplete one, 0 for a complete one. ``max_len`` is 0 when no
    symbol is used."""

    __slots__ = ("counts", "symbols", "max_len", "slack")

    def __init__(self, lengths: "list[int]") -> None:
        max_len = max(lengths, default=0)
        counts = [0] * (max_len + 1)
        for ln in lengths:
            counts[ln] += 1
        counts[0] = 0
        slack = 1
        offs = [0] * (max_len + 2)
        for ln in range(1, max_len + 1):
            slack = (slack << 1) - counts[ln]
            offs[ln + 1] = offs[ln] + counts[ln]
        symbols = [0] * offs[max_len + 1]
        for sym, ln in enumerate(lengths):
            if ln:
                symbols[offs[ln]] = sym
                offs[ln] += 1
        self.counts = counts
        self.symbols = symbols
        self.max_len = max_len
        self.slack = slack

    def decode(self, br: "MsbBits | LsbBits") -> int:
        read1 = br.read1
        counts = self.counts
        code = first = index = 0
        for ln in range(1, self.max_len + 1):
            code |= read1()
            count = counts[ln]
            if code - first < count:
                return self.symbols[index + code - first]
            index += count
            first = (first + count) << 1
            code <<= 1
        raise _error(br.fmt, "invalid Huffman code")


def uvarint(data: bytes, pos: int, max_bytes: int,
            fmt: str) -> "tuple[int, int]":
    """(value, next position) of the unsigned LEB128 varint at
    ``data[pos]``. Errors name ``fmt``: the varint runs past the end
    of ``data``, or has no final byte within ``max_bytes``."""
    out = 0
    shift = 0
    stop = pos + max_bytes
    end = min(len(data), stop)
    while pos < end:
        b = data[pos]
        pos += 1
        out |= (b & 0x7F) << shift
        if b < 0x80:
            return out, pos
        shift += 7
    if pos == stop:
        raise ValueError(f"{fmt}: varint longer than {max_bytes} bytes")
    raise ValueError(f"{fmt}: truncated varint")


def encode_uvarint(v: int) -> bytes:
    """The unsigned LEB128 encoding of ``v`` (``v >= 0``)."""
    out = bytearray()
    while v > 0x7F:
        out.append((v & 0x7F) | 0x80)
        v >>= 7
    out.append(v)
    return bytes(out)


def zigzag(v: int) -> int:
    """The signed value of zigzag code ``v`` (0, -1, 1, -2, ...)."""
    return (v >> 1) ^ -(v & 1)


def crc_table_lsb(poly: int) -> "list[int]":
    """Table for a reflected CRC; ``poly`` is the reflected
    polynomial (0xEDB88320 for CRC-32)."""
    table = []
    for n in range(256):
        c = n
        for _ in range(8):
            c = (c >> 1) ^ poly if c & 1 else c >> 1
        table.append(c)
    return table


def crc_table_msb(poly: int, width: int) -> "list[int]":
    """Table for a non-reflected CRC of ``width`` bits (8 or more)."""
    mask = (1 << width) - 1
    top = 1 << (width - 1)
    table = []
    for n in range(256):
        c = n << (width - 8)
        for _ in range(8):
            c = ((c << 1) ^ poly) & mask if c & top else (c << 1) & mask
        table.append(c)
    return table


def crc_lsb(data: bytes, table: "list[int]", crc: int) -> int:
    """Run the reflected CRC register ``crc`` over ``data``."""
    for b in data:
        crc = table[(crc ^ b) & 0xFF] ^ (crc >> 8)
    return crc


def crc_msb(data: bytes, table: "list[int]", width: int, crc: int) -> int:
    """Run the non-reflected ``width``-bit CRC register ``crc`` over
    ``data``."""
    shift = width - 8
    mask = (1 << width) - 1
    for b in data:
        crc = ((crc << 8) & mask) ^ table[(crc >> shift) ^ b]
    return crc
