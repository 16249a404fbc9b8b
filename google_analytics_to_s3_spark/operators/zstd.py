"""Zstandard (zstd) frame decompression — RFC 8878, pure Python.

zstd is the dominant codec of the modern data-lake / crawl stack
(Parquet ``ZSTD`` pages, ``.warc.zst`` Common Crawl exports,
``.tar.zst`` WebDataset shards, Kafka message sets); a 100 TB
pipeline engine needs the byte path.  This module implements the
full single-shot frame format from the public RFC:

- **Frames**: magic ``0xFD2FB528``, frame-header descriptor
  (content-size / single-segment / checksum / dictionary-ID flags),
  window descriptor, optional XXH64 content checksum (low 32 bits,
  verified), concatenated data frames, and ``0x184D2A5x`` skippable
  frames.
- **Blocks**: raw / RLE / compressed, 3-byte little-endian header
  (last-block bit, 2-bit type, 21-bit size), block output capped at
  ``min(window, 128 KiB)``.
- **Literals**: raw / RLE / Huffman-compressed / treeless (repeat
  table), 1-stream and 4-stream layouts with the 6-byte jump table,
  Huffman tree descriptions in both the direct 4-bit-weights form
  and the FSE-compressed form (two interleaved states over a
  backward bitstream, per RFC 8878 §4.2.1).
- **Sequences**: predefined / RLE / FSE-compressed / repeat symbol
  modes for literals-length, offset, and match-length codes; the
  RFC's predefined distributions (LL log 6, OF log 5, ML log 6);
  FSE normalized-count headers (forward bitstream, small-value
  encoding, zero-repeat flags); the backward interleaved decode
  (init LL→OF→ML, extras OF→ML→LL, updates LL→ML→OF); the 3-slot
  repeat-offset history with the ``litLength == 0`` shift rule.
- **Sequence execution**: overlap-safe (byte-serial via bounded
  chunk copies) match expansion inside the frame window.

**Cross-validation, not self-round-trip**: the test suite decodes
frames produced by *libzstd itself* (via ``pyarrow.Codec('zstd')``,
baked into this environment) across compression levels 1..19 and
payload shapes that exercise raw, RLE, 4-stream Huffman,
FSE-described and repeated tables, multi-block frames, and treeless
literals — so a green test proves this decoder inverts real zstd
streams, not merely its own fixtures.  XXH64 is implemented from
the public algorithm and pinned on the published empty-input vector.

Dictionary frames (r12): RFC 8878 §5 dictionaries — entropy tables
(Huffman literals + FSE offset/match-length/literals-length), rep
offsets and window-seeding content — decode via ``parse_zstd_dict``
+ the ``dictionaries={id: bytes}`` parameter, cross-validated
against frames libzstd compressed with its own ZDICT-trained
dictionaries at levels 1..22.  A frame whose Dictionary_ID has no
provided dictionary still raises the named ``ValueError``
(quarantined by the Arrow wrapper, never garbage).  Untrusted-input
discipline as in operators/lz4.py / snappy.py: bounds checks,
output caps, named-error quarantine.  No zstd surface exists in the
reference repo (beyond-reference LLM-pipeline surface, SURVEY
§2.12).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)
from .bitio import LsbBits
from .payload_memo import decode_map

__all__ = ["xxh64", "decompress_zstd", "compress_zstd_store",
           "parse_zstd_frames",
           "parse_zstd_dict", "decode_zstd_meta", "unwrap_zstd"]

_MAGIC = 0xFD2FB528
_SKIP_MAGIC_LO = 0x184D2A50
_SKIP_MAGIC_HI = 0x184D2A5F
_BLOCK_MAX = 128 * 1024
_MAX_OUT = 256 * 1024 * 1024


# --------------------------------------------------------------------------
# XXH64 (public xxHash algorithm) — zstd's content checksum.

_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5
_M64 = (1 << 64) - 1


def _rotl64(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _xxh_round(acc: int, lane: int) -> int:
    return (_rotl64((acc + lane * _P2) & _M64, 31) * _P1) & _M64


def xxh64(data: bytes, seed: int = 0) -> int:
    """XXH64 of ``data`` (64-bit). Pinned: ``xxh64(b'') ==
    0xEF46DB3751D8E999``."""
    n = len(data)
    if n >= 32:
        a1 = (seed + _P1 + _P2) & _M64
        a2 = (seed + _P2) & _M64
        a3 = seed & _M64
        a4 = (seed - _P1) & _M64
        i = 0
        for i in range(0, n - 31, 32):
            a1 = _xxh_round(a1, int.from_bytes(data[i:i + 8], "little"))
            a2 = _xxh_round(a2, int.from_bytes(data[i + 8:i + 16], "little"))
            a3 = _xxh_round(a3, int.from_bytes(data[i + 16:i + 24], "little"))
            a4 = _xxh_round(a4, int.from_bytes(data[i + 24:i + 32], "little"))
        i += 32
        h = (_rotl64(a1, 1) + _rotl64(a2, 7)
             + _rotl64(a3, 12) + _rotl64(a4, 18)) & _M64
        for acc in (a1, a2, a3, a4):
            h = ((h ^ _xxh_round(0, acc)) * _P1 + _P4) & _M64
    else:
        h = (seed + _P5) & _M64
        i = 0
    h = (h + n) & _M64
    while i + 8 <= n:
        k = _xxh_round(0, int.from_bytes(data[i:i + 8], "little"))
        h = (_rotl64(h ^ k, 27) * _P1 + _P4) & _M64
        i += 8
    if i + 4 <= n:
        h = (h ^ (int.from_bytes(data[i:i + 4], "little") * _P1 & _M64))
        h = (_rotl64(h, 23) * _P2 + _P3) & _M64
        i += 4
    while i < n:
        h = (h ^ (data[i] * _P5 & _M64))
        h = (_rotl64(h, 11) * _P1) & _M64
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _M64
    h ^= h >> 29
    h = (h * _P3) & _M64
    h ^= h >> 32
    return h


# --------------------------------------------------------------------------
# Bitstreams.  zstd uses two: a *forward* little-endian stream for FSE
# table descriptions (``bitio.LsbBits``), and a *backward* stream
# (read from the last byte, whose highest set bit marks 1-8 padding
# bits) for Huffman literals, FSE-compressed Huffman weights, and the
# sequences section.


class _BackBits:
    """Backward bit reader.  ``remaining`` may go negative: reads past
    the start return zero-padded bits (the RFC's overflow semantics —
    callers check ``remaining`` to detect stream end).

    Bytes load lazily into a SMALL sliding buffer (never more than
    ``n + 7`` bits wide), so per-read cost is O(1) regardless of
    stream length — a whole-stream big integer would make every read
    O(len) and the decode quadratic."""

    __slots__ = ("data", "pos_byte", "buf", "nbits", "remaining")

    def __init__(self, data: bytes) -> None:
        if not data:
            raise ValueError("zstd: empty backward bitstream")
        last = data[-1]
        if last == 0:
            raise ValueError("zstd: backward bitstream missing start bit")
        bl = last.bit_length() - 1  # drop the 1-8 padding bits
        self.data = data
        self.pos_byte = len(data) - 1
        self.buf = last & ((1 << bl) - 1)
        self.nbits = bl
        self.remaining = 8 * (len(data) - 1) + bl

    def read(self, n: int) -> int:
        if n == 0:
            return 0
        self.remaining -= n
        buf = self.buf
        nbits = self.nbits
        pos = self.pos_byte
        data = self.data
        while nbits < n and pos > 0:
            pos -= 1
            buf = (buf << 8) | data[pos]
            nbits += 8
        self.pos_byte = pos
        if nbits >= n:
            nbits -= n
            self.nbits = nbits
            v = buf >> nbits
            self.buf = buf & ((1 << nbits) - 1)
            return v
        # past the stream start: real bits go high, zeros pad low
        self.buf = 0
        self.nbits = 0
        return (buf << (n - nbits)) & ((1 << n) - 1)


# --------------------------------------------------------------------------
# FSE decoding tables.


class _FseTable:
    __slots__ = ("log", "sym", "nb", "base")

    def __init__(self, log: int, sym: list, nb: list, base: list) -> None:
        self.log = log
        self.sym = sym
        self.nb = nb
        self.base = base


def _fse_from_probs(probs: list[int], log: int) -> _FseTable:
    """Build the decode table from normalized probabilities (RFC 8878
    §4.1.1): ``-1`` symbols take one cell each at the table's top with
    ``nb = log``; positive probabilities spread with the
    ``(size>>1)+(size>>3)+3`` step; per-cell ``nb/baseline`` from the
    ``c -> (log - floor(log2 c), (c << nb) - size)`` rule."""
    size = 1 << log
    sym = [0] * size
    hi = size - 1
    counts: dict[int, int] = {}
    for s, p in enumerate(probs):
        if p == -1:
            sym[hi] = s
            hi -= 1
            counts[s] = 1
        elif p > 0:
            counts[s] = p
    pos = 0
    step = (size >> 1) + (size >> 3) + 3
    mask = size - 1
    for s, p in enumerate(probs):
        if p <= 0:
            continue
        for _ in range(p):
            sym[pos] = s
            pos = (pos + step) & mask
            while pos > hi:
                pos = (pos + step) & mask
    if pos != 0:
        raise ValueError("zstd: corrupt FSE distribution")
    nb = [0] * size
    base = [0] * size
    nxt = dict(counts)
    for i in range(hi + 1):
        s = sym[i]
        c = nxt[s]
        nxt[s] = c + 1
        b = log - (c.bit_length() - 1)
        nb[i] = b
        base[i] = (c << b) - size
    for i in range(hi + 1, size):
        nb[i] = log
        base[i] = 0
    return _FseTable(log, sym, nb, base)


def _fse_read_header(data: bytes, max_log: int,
                     max_sym: int) -> tuple[_FseTable, int]:
    """Parse an FSE normalized-count description (forward bitstream,
    RFC 8878 §4.1.1) → (table, bytes consumed)."""
    br = LsbBits(data, 0, "zstd")
    log = br.read(4) + 5
    if log > max_log:
        raise ValueError("zstd: FSE accuracy log too large")
    remaining = (1 << log) + 1
    probs: list[int] = []
    while remaining > 1:
        if len(probs) > max_sym:
            raise ValueError("zstd: FSE header symbol overflow")
        bits = remaining.bit_length()
        val = br.read(bits - 1)
        lo_mask = (1 << (bits - 1)) - 1
        # ``remaining`` is the maximum readable value (R + 1 with R
        # probability points left); values below threshold fit in one
        # bit less (RFC 8878 §4.1.1 small-value encoding)
        threshold = (1 << bits) - 1 - remaining
        if val < threshold:
            pass  # small value: bits-1 bits suffice
        else:
            val |= br.read(1) << (bits - 1)
            if val > lo_mask:
                val -= threshold
        p = val - 1
        if p != 0:
            remaining -= -p if p < 0 else p
        probs.append(p)
        if p == 0:
            while True:
                rep = br.read(2)
                probs.extend([0] * rep)
                if rep < 3:
                    break
    if remaining != 1:
        raise ValueError("zstd: corrupt FSE normalized counts")
    return _fse_from_probs(probs, log), br.pos


def _fse_rle(symbol: int) -> _FseTable:
    return _FseTable(0, [symbol], [0], [0])


# Predefined distributions (RFC 8878 §3.1.1.3.2.2).
_LL_DEFAULT = _fse_from_probs(
    [4, 3, 2, 2, 2, 2, 2, 2, 2, 2, 2, 2, 2, 1, 1, 1,
     2, 2, 2, 2, 2, 2, 2, 2, 2, 3, 2, 1, 1, 1, 1, 1,
     -1, -1, -1, -1], 6)
_OF_DEFAULT = _fse_from_probs(
    [1, 1, 1, 1, 1, 1, 2, 2, 2, 1, 1, 1, 1, 1, 1, 1,
     1, 1, 1, 1, 1, 1, 1, 1, -1, -1, -1, -1, -1], 5)
_ML_DEFAULT = _fse_from_probs(
    [1, 4, 3, 2, 2, 2, 2, 2, 2, 1, 1, 1, 1, 1, 1, 1,
     1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1,
     1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1,
     -1, -1, -1, -1, -1, -1, -1], 6)

# Baseline / extra-bit tables for the code -> value mappings
# (RFC 8878 §3.1.1.3.2.1).
_LL_BASE = [0, 1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15,
            16, 18, 20, 22, 24, 28, 32, 40, 48, 64, 128, 256, 512,
            1024, 2048, 4096, 8192, 16384, 32768, 65536]
_LL_BITS = [0] * 16 + [1, 1, 1, 1, 2, 2, 3, 3, 4, 6, 7, 8, 9, 10,
                       11, 12, 13, 14, 15, 16]
_ML_BASE = [x + 3 for x in range(32)] + [
    35, 37, 39, 41, 43, 47, 51, 59, 67, 83, 99, 131, 259, 515,
    1027, 2051, 4099, 8195, 16387, 32771, 65539]
_ML_BITS = [0] * 32 + [1, 1, 1, 1, 2, 2, 3, 3, 4, 4, 5, 7, 8, 9,
                       10, 11, 12, 13, 14, 15, 16]


# --------------------------------------------------------------------------
# Huffman literals.


class _HufTable:
    __slots__ = ("log", "sym", "nb")

    def __init__(self, log: int, sym: list, nb: list) -> None:
        self.log = log
        self.sym = sym
        self.nb = nb


def _huf_from_weights(weights: list[int]) -> _HufTable:
    """Canonical zstd Huffman table from explicit weights; the last
    symbol's weight is implied (completes the next power of two)."""
    total = sum(1 << (w - 1) for w in weights if w > 0)
    if total == 0:
        raise ValueError("zstd: empty Huffman weights")
    log = total.bit_length()  # next power of two above total
    left = (1 << log) - total
    if left & (left - 1):
        raise ValueError("zstd: non-canonical Huffman weights")
    weights = weights + [left.bit_length()]
    if log > 11:
        raise ValueError("zstd: Huffman table log exceeds 11")
    size = 1 << log
    sym = [0] * size
    nb = [0] * size
    pos = 0
    for w in range(1, log + 1):
        rng = 1 << (w - 1)
        bits = log + 1 - w
        for s, ws in enumerate(weights):
            if ws != w:
                continue
            for i in range(pos, pos + rng):
                sym[i] = s
                nb[i] = bits
            pos += rng
    if pos != size:
        raise ValueError("zstd: Huffman weights do not fill the table")
    return _HufTable(log, sym, nb)


def _huf_read_table(data: bytes) -> tuple[_HufTable, int]:
    """Huffman_Tree_Description (RFC 8878 §4.2.1) → (table, consumed).
    headerByte >= 128: direct 4-bit weights; else an FSE-compressed
    weight stream of headerByte bytes, decoded with two interleaved
    states over a backward bitstream."""
    if not data:
        raise ValueError("zstd: missing Huffman tree description")
    hb = data[0]
    if hb >= 128:
        n = hb - 127
        nbytes = (n + 1) // 2
        if len(data) < 1 + nbytes:
            raise ValueError("zstd: truncated Huffman weights")
        weights = []
        for i in range(n):
            b = data[1 + i // 2]
            weights.append((b >> 4) if i % 2 == 0 else (b & 0x0F))
        return _huf_from_weights(weights), 1 + nbytes
    # FSE-compressed weights
    if len(data) < 1 + hb:
        raise ValueError("zstd: truncated FSE weight stream")
    table, consumed = _fse_read_header(data[1:1 + hb], 6, 255)
    stream = data[1 + consumed:1 + hb]
    br = _BackBits(stream)
    s1 = br.read(table.log)
    s2 = br.read(table.log)
    if br.remaining < 0:
        raise ValueError("zstd: FSE weight stream too short")
    # Two interleaved states; a state update may read past the start
    # (zero-padded) — that overflow, detected as remaining < 0, signals
    # the end: the other state flushes its final symbol (RFC 8878
    # §4.2.1.2 / the libzstd FSE_decompress loop).
    weights: list[int] = []
    while True:
        weights.append(table.sym[s1])
        s1 = table.base[s1] + br.read(table.nb[s1])
        if br.remaining < 0:
            weights.append(table.sym[s2])
            break
        weights.append(table.sym[s2])
        s2 = table.base[s2] + br.read(table.nb[s2])
        if br.remaining < 0:
            weights.append(table.sym[s1])
            break
        if len(weights) > 254:
            raise ValueError("zstd: too many Huffman weights")
    return _huf_from_weights(weights), 1 + hb


def _huf_decode_stream(table: _HufTable, data: bytes, out_len: int,
                       out: bytearray) -> None:
    """Decode one backward Huffman stream into ``out`` (appends
    exactly ``out_len`` symbols).  Same small-sliding-buffer
    discipline as :class:`_BackBits` — O(1) per symbol."""
    n = len(data)
    if n == 0:
        raise ValueError("zstd: empty Huffman stream")
    last = data[-1]
    if last == 0:
        raise ValueError("zstd: Huffman stream missing start bit")
    bl = last.bit_length() - 1
    buf = last & ((1 << bl) - 1)
    bits = bl
    pos = n - 1
    log = table.log
    sym = table.sym
    nb = table.nb
    mask = (1 << log) - 1
    append = out.append
    consumed = 0
    for _ in range(out_len):
        while bits < log and pos > 0:
            pos -= 1
            buf = (buf << 8) | data[pos]
            bits += 8
        if bits >= log:
            idx = (buf >> (bits - log)) & mask
        else:
            idx = (buf << (log - bits)) & mask
        k = nb[idx]
        if k > bits:
            raise ValueError("zstd: Huffman stream underrun")
        bits -= k
        buf &= (1 << bits) - 1
        consumed += k
        append(sym[idx])
    if consumed != 8 * (n - 1) + bl:
        raise ValueError("zstd: Huffman stream not fully consumed")


def _huf_decode_literals(table: _HufTable, data: bytes, regen: int,
                         four: bool) -> bytes:
    out = bytearray()
    if not four:
        _huf_decode_stream(table, data, regen, out)
        return bytes(out)
    if len(data) < 6:
        raise ValueError("zstd: truncated Huffman jump table")
    s1 = int.from_bytes(data[0:2], "little")
    s2 = int.from_bytes(data[2:4], "little")
    s3 = int.from_bytes(data[4:6], "little")
    p1, p2, p3 = 6, 6 + s1, 6 + s1 + s2
    p4 = 6 + s1 + s2 + s3
    if p4 > len(data):
        raise ValueError("zstd: Huffman jump table overruns section")
    part = (regen + 3) // 4
    last = regen - 3 * part
    if last < 0:
        raise ValueError("zstd: 4-stream literals shorter than 3 parts")
    for seg, n in ((data[p1:p2], part), (data[p2:p3], part),
                   (data[p3:p4], part), (data[p4:], last)):
        _huf_decode_stream(table, seg, n, out)
    return bytes(out)


# --------------------------------------------------------------------------
# Sequences.


def _seq_offset_value(ofcode: int, br: _BackBits) -> int:
    if ofcode > 31:
        raise ValueError("zstd: offset code out of range")
    return (1 << ofcode) + br.read(ofcode)


def _decode_sequences_header(
    data: bytes,
) -> tuple[int, int, int]:
    b0 = data[0]
    if b0 < 128:
        return b0, 1, 0
    if b0 < 255:
        if len(data) < 2:
            raise ValueError("zstd: truncated sequence count")
        return ((b0 - 128) << 8) | data[1], 2, 0
    if len(data) < 3:
        raise ValueError("zstd: truncated sequence count")
    return data[1] | (data[2] << 8) | 0x7F00, 3, 0


class _FrameCtx:
    """Per-frame state reused across blocks: repeat-offset history,
    last Huffman table (treeless literals), last FSE tables (repeat
    symbol-compression mode)."""

    __slots__ = ("rep", "huf", "ll", "of", "ml")

    def __init__(self) -> None:
        self.rep = [1, 4, 8]
        self.huf: _HufTable | None = None
        self.ll: _FseTable | None = None
        self.of: _FseTable | None = None
        self.ml: _FseTable | None = None


def _read_seq_table(mode: int, data: bytes, pos: int, kind: str,
                    default: _FseTable, max_log: int, max_sym: int,
                    prev: _FseTable | None) -> tuple[_FseTable, int]:
    if mode == 0:
        return default, pos
    if mode == 1:
        if pos >= len(data):
            raise ValueError("zstd: truncated RLE symbol")
        sym = data[pos]
        if sym > max_sym:
            raise ValueError(f"zstd: {kind} RLE symbol out of range")
        return _fse_rle(sym), pos + 1
    if mode == 2:
        table, used = _fse_read_header(data[pos:], max_log, max_sym)
        if max(table.sym) > max_sym:
            raise ValueError(f"zstd: {kind} symbol out of range")
        return table, pos + used
    if prev is None:
        raise ValueError(f"zstd: {kind} repeat mode without prior table")
    return prev, pos


def _decompress_block(data: bytes, ctx: _FrameCtx, window: list[bytearray],
                      win_len: int) -> bytearray:
    """Decode one compressed block.  ``window`` is the frame output so
    far (list of block bytearrays) — matches may reach back into it."""
    if not data:
        raise ValueError("zstd: empty compressed block")
    # ---- literals section
    b0 = data[0]
    lit_type = b0 & 3
    size_fmt = (b0 >> 2) & 3
    if lit_type in (0, 1):  # Raw / RLE
        if size_fmt in (0, 2):
            regen = b0 >> 3
            pos = 1
        elif size_fmt == 1:
            if len(data) < 2:
                raise ValueError("zstd: truncated literals header")
            regen = (b0 >> 4) | (data[1] << 4)
            pos = 2
        else:
            if len(data) < 3:
                raise ValueError("zstd: truncated literals header")
            regen = (b0 >> 4) | (data[1] << 4) | (data[2] << 12)
            pos = 3
        if lit_type == 0:
            literals = bytes(data[pos:pos + regen])
            if len(literals) != regen:
                raise ValueError("zstd: truncated raw literals")
            pos += regen
        else:
            if pos >= len(data):
                raise ValueError("zstd: truncated RLE literal")
            literals = bytes([data[pos]]) * regen
            pos += 1
    else:  # Compressed / Treeless
        if size_fmt == 0:
            if len(data) < 3:
                raise ValueError("zstd: truncated literals header")
            h = int.from_bytes(data[0:3], "little")
            regen = (h >> 4) & 0x3FF
            csize = (h >> 14) & 0x3FF
            pos = 3
            four = False
        elif size_fmt == 1:
            if len(data) < 3:
                raise ValueError("zstd: truncated literals header")
            h = int.from_bytes(data[0:3], "little")
            regen = (h >> 4) & 0x3FF
            csize = (h >> 14) & 0x3FF
            pos = 3
            four = True
        elif size_fmt == 2:
            if len(data) < 4:
                raise ValueError("zstd: truncated literals header")
            h = int.from_bytes(data[0:4], "little")
            regen = (h >> 4) & 0x3FFF
            csize = (h >> 18) & 0x3FFF
            pos = 4
            four = True
        else:
            if len(data) < 5:
                raise ValueError("zstd: truncated literals header")
            h = int.from_bytes(data[0:5], "little")
            regen = (h >> 4) & 0x3FFFF
            csize = (h >> 22) & 0x3FFFF
            pos = 5
            four = True
        section = bytes(data[pos:pos + csize])
        if len(section) != csize:
            raise ValueError("zstd: truncated compressed literals")
        pos += csize
        if lit_type == 2:
            table, used = _huf_read_table(section)
            ctx.huf = table
            streams = section[used:]
        else:
            if ctx.huf is None:
                raise ValueError("zstd: treeless literals without table")
            table = ctx.huf
            streams = section
        literals = _huf_decode_literals(table, streams, regen, four)
    if regen > _BLOCK_MAX:
        raise ValueError("zstd: literals exceed block maximum")

    # ---- sequences section
    rest = data[pos:]
    if not rest:
        raise ValueError("zstd: missing sequences section")
    nseq, used, _ = _decode_sequences_header(rest)
    spos = used
    if nseq == 0:
        if spos != len(rest):
            raise ValueError("zstd: trailing bytes after empty sequences")
        return bytearray(literals)
    if spos >= len(rest):
        raise ValueError("zstd: truncated compression modes")
    modes = rest[spos]
    spos += 1
    if modes & 3:
        raise ValueError("zstd: reserved compression-mode bits set")
    ll_t, spos = _read_seq_table((modes >> 6) & 3, rest, spos, "LL",
                                 _LL_DEFAULT, 9, 35, ctx.ll)
    of_t, spos = _read_seq_table((modes >> 4) & 3, rest, spos, "OF",
                                 _OF_DEFAULT, 8, 31, ctx.of)
    ml_t, spos = _read_seq_table((modes >> 2) & 3, rest, spos, "ML",
                                 _ML_DEFAULT, 9, 52, ctx.ml)
    ctx.ll, ctx.of, ctx.ml = ll_t, of_t, ml_t

    br = _BackBits(rest[spos:])
    st_ll = br.read(ll_t.log)
    st_of = br.read(of_t.log)
    st_ml = br.read(ml_t.log)
    out = bytearray()
    lit_pos = 0
    rep = ctx.rep
    for i in range(nseq):
        of_code = of_t.sym[st_of]
        offset_value = _seq_offset_value(of_code, br)
        ml_code = ml_t.sym[st_ml]
        ml = _ML_BASE[ml_code] + br.read(_ML_BITS[ml_code])
        ll_code = ll_t.sym[st_ll]
        ll = _LL_BASE[ll_code] + br.read(_LL_BITS[ll_code])
        if i + 1 < nseq:
            st_ll = ll_t.base[st_ll] + br.read(ll_t.nb[st_ll])
            st_ml = ml_t.base[st_ml] + br.read(ml_t.nb[st_ml])
            st_of = of_t.base[st_of] + br.read(of_t.nb[st_of])
        if br.remaining < 0:
            raise ValueError("zstd: sequences bitstream underrun")
        # repeat-offset resolution (RFC 8878 §3.1.1.5)
        if offset_value > 3:
            offset = offset_value - 3
            rep[2] = rep[1]
            rep[1] = rep[0]
            rep[0] = offset
        else:
            idx = offset_value + (1 if ll == 0 else 0)
            if idx == 1:
                offset = rep[0]
            elif idx == 2:
                offset = rep[1]
                rep[1] = rep[0]
                rep[0] = offset
            elif idx == 3:
                offset = rep[2]
                rep[2] = rep[1]
                rep[1] = rep[0]
                rep[0] = offset
            else:  # idx == 4: rep[0] - 1
                offset = rep[0] - 1
                if offset == 0:
                    raise ValueError("zstd: repeat offset underflow")
                rep[2] = rep[1]
                rep[1] = rep[0]
                rep[0] = offset
        # literals copy
        if lit_pos + ll > len(literals):
            raise ValueError("zstd: literals overrun")
        out += literals[lit_pos:lit_pos + ll]
        lit_pos += ll
        # match copy (may reach into prior blocks of this frame)
        avail = win_len + len(out)
        if offset > avail:
            raise ValueError("zstd: match offset beyond frame start")
        if len(out) + ml > _BLOCK_MAX + (1 << 17):
            raise ValueError("zstd: block output exceeds maximum")
        back = offset - len(out)
        if back > 0:
            # reaches into earlier blocks: the match starts `back`
            # bytes before this block's output, i.e. at win_len - back
            # in the concatenated window.  Copy only the `take` bytes
            # actually needed, walking blocks FORWARD from the match
            # start — never materializing the full back-span (which is
            # O(window) per sequence, quadratic on adversarial frames)
            take = min(back, ml)
            skip = win_len - back
            for blk in window:
                if take <= 0:
                    break
                if skip >= len(blk):
                    skip -= len(blk)
                    continue
                seg = blk[skip:skip + take]
                out += seg
                ml -= len(seg)
                take -= len(seg)
                skip = 0
        while ml > 0:
            start = len(out) - offset
            chunk = min(ml, offset)
            out += out[start:start + chunk]
            ml -= chunk
    if lit_pos != len(literals):
        out += literals[lit_pos:]
    if br.remaining != 0:
        raise ValueError("zstd: sequences bitstream not fully consumed")
    return out


def _decompress_frame(data: bytes, pos: int,
                      dicts: dict | None = None) -> tuple[bytes, int]:
    """Decode one zstd data frame starting at ``pos`` (after magic).
    ``dicts`` maps Dictionary_ID → parsed dictionary
    (:func:`parse_zstd_dict`).  Returns (content, new position)."""
    if pos >= len(data):
        raise ValueError("zstd: truncated frame header")
    fhd = data[pos]
    pos += 1
    if fhd & 0x08:
        raise ValueError("zstd: reserved frame-header bit set")
    single = bool(fhd & 0x20)
    checksum = bool(fhd & 0x04)
    did_flag = fhd & 0x03
    fcs_flag = fhd >> 6
    window_size = None
    if not single:
        if pos >= len(data):
            raise ValueError("zstd: truncated window descriptor")
        wd = data[pos]
        pos += 1
        exp = wd >> 3
        mant = wd & 7
        base = 1 << (10 + exp)
        window_size = base + (base // 8) * mant
    did_len = (0, 1, 2, 4)[did_flag]
    zdict = None
    if did_len:
        did = int.from_bytes(data[pos:pos + did_len], "little")
        pos += did_len
        if did != 0:
            zdict = (dicts or {}).get(did)
            if zdict is None:
                raise ValueError(
                    "zstd: frame requires external dictionary "
                    f"(Dictionary_ID={did}) — not provided")
    fcs = None
    fcs_len = (1 if single else 0, 2, 4, 8)[fcs_flag]
    if fcs_len:
        if pos + fcs_len > len(data):
            raise ValueError("zstd: truncated frame content size")
        fcs = int.from_bytes(data[pos:pos + fcs_len], "little")
        if fcs_len == 2:
            fcs += 256
        pos += fcs_len
    if single:
        window_size = fcs if fcs is not None else 0
    if window_size is not None and window_size > _MAX_OUT:
        raise ValueError("zstd: window size exceeds output cap")
    block_max = min(window_size or _BLOCK_MAX, _BLOCK_MAX)

    blocks: list[bytearray] = []
    total = 0
    seeded = 0
    ctx = _FrameCtx()
    if zdict is not None:
        # RFC 8878 §5: the dictionary seeds the window (content is
        # match history), the entropy tables (usable via the repeat /
        # treeless modes from the first block) and the rep offsets
        blocks.append(bytearray(zdict["content"]))
        total = seeded = len(zdict["content"])
        ctx.rep = list(zdict["rep"])
        ctx.huf = zdict["huf"]
        ctx.ll = zdict["ll"]
        ctx.of = zdict["of"]
        ctx.ml = zdict["ml"]
    while True:
        if pos + 3 > len(data):
            raise ValueError("zstd: truncated block header")
        bh = int.from_bytes(data[pos:pos + 3], "little")
        pos += 3
        last = bh & 1
        btype = (bh >> 1) & 3
        bsize = bh >> 3
        if btype == 0:  # raw
            blk = bytearray(data[pos:pos + bsize])
            if len(blk) != bsize:
                raise ValueError("zstd: truncated raw block")
            pos += bsize
        elif btype == 1:  # RLE
            if pos >= len(data):
                raise ValueError("zstd: truncated RLE block")
            if bsize > block_max:
                raise ValueError("zstd: RLE block exceeds maximum")
            blk = bytearray([data[pos]]) * bsize
            pos += 1
        elif btype == 2:  # compressed
            if bsize > block_max:
                raise ValueError("zstd: compressed block exceeds maximum")
            seg = data[pos:pos + bsize]
            if len(seg) != bsize:
                raise ValueError("zstd: truncated compressed block")
            pos += bsize
            blk = _decompress_block(seg, ctx, blocks, total)
            if len(blk) > block_max:
                raise ValueError("zstd: block output exceeds maximum")
        else:
            raise ValueError("zstd: reserved block type")
        blocks.append(blk)
        total += len(blk)
        if total - seeded > _MAX_OUT:
            raise ValueError("zstd: output exceeds cap")
        if last:
            break
    content = b"".join(bytes(b) for b in
                       (blocks[1:] if seeded else blocks))
    if fcs is not None and len(content) != fcs:
        raise ValueError("zstd: frame content size mismatch")
    if checksum:
        if pos + 4 > len(data):
            raise ValueError("zstd: truncated content checksum")
        want = int.from_bytes(data[pos:pos + 4], "little")
        pos += 4
        if xxh64(content) & 0xFFFFFFFF != want:
            raise ValueError("zstd: content checksum mismatch")
    return content, pos


def parse_zstd_frames(raw: bytes,
                      dictionaries: dict | None = None
                      ) -> tuple[bytes, int]:
    """Decode a concatenation of zstd data frames and skippable
    frames.  ``dictionaries`` maps Dictionary_ID → raw dictionary
    bytes (parsed once here).  Returns (content, data frame count)."""
    dicts = None
    if dictionaries:
        dicts = {k: (v if isinstance(v, dict) else parse_zstd_dict(v))
                 for k, v in dictionaries.items()}
    pos = 0
    parts: list[bytes] = []
    n_frames = 0
    if len(raw) < 4:
        raise ValueError("zstd: input shorter than a magic number")
    while pos < len(raw):
        if pos + 4 > len(raw):
            raise ValueError("zstd: trailing bytes after last frame")
        magic = int.from_bytes(raw[pos:pos + 4], "little")
        pos += 4
        if _SKIP_MAGIC_LO <= magic <= _SKIP_MAGIC_HI:
            if pos + 4 > len(raw):
                raise ValueError("zstd: truncated skippable frame")
            size = int.from_bytes(raw[pos:pos + 4], "little")
            pos += 4 + size
            if pos > len(raw):
                raise ValueError("zstd: skippable frame overruns input")
            continue
        if magic != _MAGIC:
            raise ValueError("zstd: bad magic number")
        content, pos = _decompress_frame(raw, pos, dicts)
        parts.append(content)
        n_frames += 1
    if n_frames == 0:
        raise ValueError("zstd: no data frames")
    return b"".join(parts), n_frames


def decompress_zstd(raw: bytes,
                    dictionaries: dict | None = None) -> bytes:
    """Decode ``raw`` (one or more concatenated zstd frames),
    optionally with external dictionaries keyed by Dictionary_ID."""
    return parse_zstd_frames(raw, dictionaries)[0]


_DICT_MAGIC = 0xEC30A437


def parse_zstd_dict(raw: bytes) -> dict:
    """Parse a zstd dictionary (RFC 8878 §5).  A magic-framed
    dictionary carries Dictionary_ID, entropy tables (Huffman
    literals, then FSE offsets / match-lengths / literals-lengths),
    three 4-byte rep offsets, and the content; anything else is a
    raw-content dictionary (history only)."""
    if len(raw) >= 8 and \
            int.from_bytes(raw[0:4], "little") == _DICT_MAGIC:
        did = int.from_bytes(raw[4:8], "little")
        pos = 8
        huf, used = _huf_read_table(raw[pos:])
        pos += used
        of, used = _fse_read_header(raw[pos:], 8, 31)
        pos += used
        ml, used = _fse_read_header(raw[pos:], 9, 52)
        pos += used
        ll, used = _fse_read_header(raw[pos:], 9, 35)
        pos += used
        if pos + 12 > len(raw):
            raise ValueError("zstd: dictionary missing rep offsets")
        rep = [int.from_bytes(raw[pos + 4 * i:pos + 4 * i + 4],
                              "little") for i in range(3)]
        pos += 12
        content = raw[pos:]
        if any(r == 0 or r > len(content) for r in rep):
            raise ValueError("zstd: dictionary rep offset invalid")
        return {"dict_id": did, "huf": huf, "of": of, "ml": ml,
                "ll": ll, "rep": rep, "content": content}
    return {"dict_id": 0, "huf": None, "of": None, "ml": None,
            "ll": None, "rep": [1, 4, 8], "content": bytes(raw)}


# --------------------------------------------------------------------------
# Spark surface.

ZSTD_META_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("n_frames", IntegerType()),
    StructField("content_len", LongType()),
    StructField("content_sum", LongType()),
    StructField("decode_error", StringType()),
])


def decode_zstd_meta(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload",
    dictionaries: dict | None = None,
) -> DataFrame:
    """Arrow ``mapInPandas`` wrapper over :func:`parse_zstd_frames` —
    exact byte sum of the decompressed content plus data-frame count;
    per-payload quarantine, no shuffle (same contract as
    operators/lz4.py / snappy.py)."""

    def _parse(payload) -> dict:
        content, nf = parse_zstd_frames(bytes(payload), dictionaries)
        return {"n_frames": nf, "content_len": len(content),
                "content_sum": sum(content)}

    return decode_map(df, _parse, ZSTD_META_SCHEMA,
                      (ValueError, IndexError), id_col, payload_col)


def unwrap_zstd(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload",
    dictionaries: dict | None = None,
) -> DataFrame:
    """Replace a zstd-framed ``payload`` column with its decompressed
    bytes (Arrow ``mapInPandas``, per-payload quarantine via a
    ``decode_error`` column carrying the named gate message).  This is
    the front door for the ``.tar.zst`` / ``.warc.zst`` container
    chains: unwrap, then hand the bytes to the tar/WARC walkers."""
    schema = StructType([
        StructField("doc_id", LongType()),
        StructField("payload", BinaryType()),
        StructField("decode_error", StringType()),
    ])

    def _parse(payload) -> dict:
        return {"payload": parse_zstd_frames(bytes(payload),
                                             dictionaries)[0]}

    return decode_map(df, _parse, schema, (ValueError, IndexError),
                      id_col, payload_col)


# --------------------------------------------------------------------------
# Frame WRITER (r13) — the store/RLE subset of RFC 8878.
#
# Raw_Block and RLE_Block need no entropy coding, so a writer that
# emits them produces fully spec-valid zstd frames any decoder must
# accept (libzstd's own `--format=zstd` store path does the same at
# level 0 for incompressible data).  The writer RLE-collapses byte
# runs >= 16, appends the XXH64 content checksum, and splits content
# at the 128 KiB block ceiling.  tests/test_zstd.py and the
# `zstd_write_roundtrip` driver query decompress every emitted frame
# with LIBZSTD (pyarrow) — the independent consumer — and with the
# engine's own decoder.

_WRITE_BLOCK_MAX = 128 * 1024


def compress_zstd_store(data: bytes, checksum: bool = True) -> bytes:
    """Emit ``data`` as one zstd frame of Raw/RLE blocks."""
    out = bytearray(_MAGIC.to_bytes(4, "little"))
    # frame header: FCS field size by content length, no window
    # descriptor needed when Single_Segment is set
    n = len(data)
    if n < 256:
        out.append((0 << 6) | (0x20) | (0x04 if checksum else 0))
        out.append(n)
    elif n < 65536 + 256:
        out.append((1 << 6) | 0x20 | (0x04 if checksum else 0))
        out += (n - 256).to_bytes(2, "little")
    else:
        out.append((2 << 6) | 0x20 | (0x04 if checksum else 0))
        out += n.to_bytes(4, "little")
    # blocks: RLE-collapse runs, raw otherwise, 128 KiB ceiling
    blocks: list[tuple[int, bytes]] = []   # (type, payload)
    i = 0
    lit_start = 0

    def _flush_raw(lo: int, hi: int) -> None:
        while lo < hi:
            chunk = data[lo:min(hi, lo + _WRITE_BLOCK_MAX)]
            blocks.append((0, chunk))
            lo += len(chunk)

    while i < n:
        j = i
        while j < n and data[j] == data[i] \
                and j - i < _WRITE_BLOCK_MAX:
            j += 1
        if j - i >= 16:
            _flush_raw(lit_start, i)
            blocks.append((1, bytes([data[i]]) + (j - i).to_bytes(
                3, "little")))  # payload: byte + run length
            i = j
            lit_start = i
        else:
            i = j
    _flush_raw(lit_start, n)
    if not blocks:
        blocks.append((0, b""))
    for k, (btype, payload) in enumerate(blocks):
        last = 1 if k == len(blocks) - 1 else 0
        if btype == 0:
            size = len(payload)
            out += (last | (0 << 1) | (size << 3)).to_bytes(
                3, "little")
            out += payload
        else:
            run = int.from_bytes(payload[1:], "little")
            out += (last | (1 << 1) | (run << 3)).to_bytes(
                3, "little")
            out.append(payload[0])
    if checksum:
        out += (xxh64(data) & 0xFFFFFFFF).to_bytes(4, "little")
    return bytes(out)
