"""bzip2 decompression from first principles — the public format
(BWT + MTF + RLE + canonical Huffman; bzip.org / the format as
documented in the bzip2 sources and the informal spec), pure Python.

bzip2 is the container of the big public text dumps (Wikipedia/
Wikidata exports, many archive mirrors); a corpus-ingesting engine
needs the byte path.  Decode pipeline per block:

- **Stream header**: ``BZh`` + level digit (block size 100k–900k).
- **Block header** (MSB-first bitstream): the 48-bit magic
  ``0x314159265359``, block CRC, the deprecated ``randomised`` bit
  (a named gate), ``origPtr``.
- **Symbol map**: 16-bit sector map + 16-bit per-sector maps → the
  used byte values; symbol alphabet = used + RUNA/RUNB + EOB.
- **Huffman**: 2–6 tables, group selectors MTF-coded in unary,
  per-table delta-coded code lengths, canonical decode with table
  switching every 50 symbols.
- **RLE2**: RUNA/RUNB bijective base-2 run counts of the MTF zero
  symbol.
- **Inverse MTF**, **inverse BWT** (counting sort + successor-vector
  walk from ``origPtr``), **RLE1** (4 identical bytes + count byte).
- **CRCs**: bzip2's MSB-first CRC-32 (polynomial 0x04C11DB7) per
  block and combined ``((s << 1) | (s >> 31)) ^ crc`` for the stream
  footer (magic ``0x177245385090``); both verified.

Cross-validation: tests decode streams produced by the stdlib
``bz2`` module (a REAL independent producer baked into this
environment) across compression levels 1..9, payload shapes that
exercise long RLE1 runs, two-symbol MTF extremes, incompressible
data and multi-stream concatenation, plus flip-byte fuzz (the CRCs
must quarantine every corruption, never emit silent wrong bytes).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)
from .bitio import CanonicalCode, MsbBits, crc_msb, crc_table_msb
from .payload_memo import decode_map

__all__ = ["bzip2_decompress", "decode_bzip2_meta"]

_MAX_OUT = 256 * 1024 * 1024
_BLOCK_MAGIC = 0x314159265359
_EOS_MAGIC = 0x177245385090


# bzip2's CRC-32: polynomial 0x04C11DB7 MSB-first, init and xorout
# 0xFFFFFFFF
_CRC = crc_table_msb(0x04C11DB7, 32)


def _bz_crc(data: bytes) -> int:
    return crc_msb(data, _CRC, 32, 0xFFFFFFFF) ^ 0xFFFFFFFF


def _decode_block(br: MsbBits, block_limit: int) -> bytes:
    crc_want = br.read(32)
    if br.read(1):
        raise ValueError("bzip2: randomised blocks gated "
                         "(deprecated since 0.9.5)")
    orig_ptr = br.read(24)
    # symbol map
    sectors = br.read(16)
    used = []
    for i in range(16):
        if sectors & (0x8000 >> i):
            bits = br.read(16)
            for j in range(16):
                if bits & (0x8000 >> j):
                    used.append(16 * i + j)
    if not used:
        raise ValueError("bzip2: empty symbol map")
    n_sym = len(used) + 2  # RUNA/RUNB fold into symbol 0/1, +EOB
    n_groups = br.read(3)
    if not 2 <= n_groups <= 6:
        raise ValueError("bzip2: bad Huffman group count")
    n_sel = br.read(15)
    if n_sel == 0:
        raise ValueError("bzip2: zero selectors")
    # selectors, MTF-coded in unary
    mtf_g = list(range(n_groups))
    selectors = []
    for _ in range(n_sel):
        j = 0
        while br.read(1):
            j += 1
            if j >= n_groups:
                raise ValueError("bzip2: selector out of range")
        g = mtf_g.pop(j)
        mtf_g.insert(0, g)
        selectors.append(g)
    # per-group delta-coded lengths
    tables = []
    for _ in range(n_groups):
        ln = br.read(5)
        lens = []
        for _ in range(n_sym):
            while br.read(1):
                ln += -1 if br.read(1) else 1
            if not 1 <= ln <= 20:
                raise ValueError("bzip2: delta length out of range")
            lens.append(ln)
        tables.append(CanonicalCode(lens))
    # MTF + RLE2 decode
    eob = n_sym - 1
    mtf = list(used)
    bwt = bytearray()
    run = 0
    run_bit = 0
    gi = -1
    left = 0
    table: CanonicalCode | None = None
    while True:
        if left == 0:
            gi += 1
            if gi >= len(selectors):
                raise ValueError("bzip2: selectors exhausted")
            table = tables[selectors[gi]]
            left = 50
        left -= 1
        sym = table.decode(br)
        if sym <= 1:  # RUNA / RUNB (bijective base 2)
            run += (sym + 1) << run_bit
            run_bit += 1
            continue
        if run:
            if len(bwt) + run > block_limit:
                raise ValueError("bzip2: block overrun (run)")
            bwt += bytes([mtf[0]]) * run
            run = 0
            run_bit = 0
        if sym == eob:
            break
        v = mtf.pop(sym - 1)
        mtf.insert(0, v)
        bwt.append(v)
        if len(bwt) > block_limit:
            raise ValueError("bzip2: block overrun")
    if run:
        if len(bwt) + run > block_limit:
            raise ValueError("bzip2: block overrun (run)")
        bwt += bytes([mtf[0]]) * run
    # inverse BWT: counting sort + successor vector
    n = len(bwt)
    if orig_ptr >= n:
        raise ValueError("bzip2: origPtr out of range")
    counts = [0] * 256
    for b in bwt:
        counts[b] += 1
    starts = [0] * 256
    acc = 0
    for v in range(256):
        starts[v] = acc
        acc += counts[v]
    nxt = [0] * n
    seen = [0] * 256
    for i, b in enumerate(bwt):
        nxt[starts[b] + seen[b]] = i
        seen[b] += 1
    out = bytearray(n)
    p = nxt[orig_ptr]
    for i in range(n):
        out[i] = bwt[p]
        p = nxt[p]
    # RLE1 decode: 4 identical bytes followed by a count byte
    plain = bytearray()
    i = 0
    while i < n:
        b = out[i]
        j = i + 1
        while j < n and j - i < 4 and out[j] == b:
            j += 1
        cnt = j - i
        plain += bytes([b]) * cnt
        i = j
        if cnt == 4:
            if i >= n:
                raise ValueError("bzip2: truncated RLE1 count")
            plain += bytes([b]) * out[i]
            i += 1
        if len(plain) > _MAX_OUT:
            raise ValueError("bzip2: output exceeds cap")
    if _bz_crc(bytes(plain)) != crc_want:
        raise ValueError("bzip2: block CRC mismatch")
    return bytes(plain)


def bzip2_decompress(data: bytes) -> tuple[bytes, int]:
    """Decode a (possibly multi-stream) bzip2 file → (content,
    n_blocks).  Block and stream CRCs are verified."""
    pos = 0
    parts: list[bytes] = []
    n_blocks = 0
    if len(data) < 10:
        raise ValueError("bzip2: input too short")
    while pos < len(data):
        if data[pos:pos + 2] != b"BZ":
            raise ValueError("bzip2: bad stream magic")
        if data[pos + 2:pos + 3] != b"h":
            raise ValueError("bzip2: only the h (Huffman) format "
                             "exists")
        level = data[pos + 3] - 0x30
        if not 1 <= level <= 9:
            raise ValueError("bzip2: bad block-size digit")
        block_limit = level * 100_000 + 10
        br = MsbBits(data, pos + 4, "bzip2")
        combined = 0
        while True:
            magic = br.read(48)
            if magic == _BLOCK_MAGIC:
                # peek the block CRC (re-read inside _decode_block)
                # for the stream's combined checksum
                at = br.bitpos
                crc = br.read(32)
                br.bitpos = at
                blk = _decode_block(br, block_limit)
                parts.append(blk)
                n_blocks += 1
                combined = (((combined << 1)
                             | (combined >> 31)) ^ crc) & 0xFFFFFFFF
            elif magic == _EOS_MAGIC:
                want = br.read(32)
                if combined != want:
                    raise ValueError("bzip2: stream CRC mismatch")
                # streams are byte-aligned after the footer
                pos = br.pos
                break
            else:
                raise ValueError("bzip2: bad block magic")
    # an empty input compresses to a stream with ZERO blocks (the
    # stdlib producer emits exactly that) — valid, returns empty
    return b"".join(parts), n_blocks


BZIP2_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("n_blocks", IntegerType()),
    StructField("content_len", LongType()),
    StructField("content_sum", LongType()),
    StructField("decode_error", StringType()),
])


def decode_bzip2_meta(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """Arrow ``mapInPandas`` wrapper over :func:`bzip2_decompress`
    (same contract as decode_zstd_meta / decode_gzip_members);
    per-payload quarantine, no shuffle."""

    def _parse(payload) -> dict:
        content, nb = bzip2_decompress(bytes(payload))
        return {"n_blocks": nb, "content_len": len(content),
                "content_sum": sum(content)}

    return decode_map(df, _parse, BZIP2_SCHEMA, (ValueError, IndexError),
                      id_col, payload_col)


# --------------------------------------------------------------------------
# COMPRESSOR (r13) — the full bzip2 pipeline in reverse: RLE1 →
# Block-Sorting Transform (prefix-doubling rotation sort) → MTF →
# RLE2 (RUNA/RUNB bijective base 2) → canonical Huffman (2 groups,
# delta-coded lengths, unary-MTF selectors), MSB-first bit packing,
# per-block and combined stream CRCs.  Every emitted stream is
# decompressed by STDLIB BZ2 (the independent consumer) and by
# `bzip2_decompress` above in tests/test_codec_write.py; the
# `codec_write_roundtrip` driver query carries the foreign-ok flag.

class _MsbBitWriter:
    __slots__ = ("out", "acc", "nbits")

    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, n: int) -> None:
        self.acc = (self.acc << n) | (value & ((1 << n) - 1))
        self.nbits += n
        while self.nbits >= 8:
            self.nbits -= 8
            self.out.append((self.acc >> self.nbits) & 0xFF)
        self.acc &= (1 << self.nbits) - 1

    def finish(self) -> bytes:
        if self.nbits:
            self.out.append((self.acc << (8 - self.nbits)) & 0xFF)
        return bytes(self.out)


def _rle1_encode(data: bytes) -> bytes:
    out = bytearray()
    i = 0
    n = len(data)
    while i < n:
        b = data[i]
        j = i
        while j < n and j - i < 259 and data[j] == b:
            j += 1
        run = j - i
        if run >= 4:
            out += bytes([b]) * 4
            out.append(run - 4)
        else:
            out += bytes([b]) * run
        i = j
    return bytes(out)


def _bwt(s: bytes) -> tuple[bytes, int]:
    """Rotation sort by prefix doubling → (last column, origPtr)."""
    n = len(s)
    if n == 0:
        return b"", 0
    rank = list(s)
    order = sorted(range(n), key=lambda i: rank[i])
    k = 1
    while k < n:
        key = [(rank[i], rank[(i + k) % n]) for i in range(n)]
        order.sort(key=lambda i: key[i])
        new_rank = [0] * n
        for x in range(1, n):
            new_rank[order[x]] = new_rank[order[x - 1]] + (
                1 if key[order[x]] != key[order[x - 1]] else 0)
        rank = new_rank
        if rank[order[-1]] == n - 1:
            break
        k <<= 1
    last = bytes(s[(i - 1) % n] for i in order)
    return last, order.index(0)


def _huff_lengths(freqs: "list[int]", max_len: int = 17) -> "list[int]":
    """Huffman code lengths (every symbol gets one, min length 1),
    length-limited by frequency flattening on overflow."""
    import heapq

    n = len(freqs)
    while True:
        heap = [(max(f, 1), i, None) for i, f in enumerate(freqs)]
        heapq.heapify(heap)
        if len(heap) == 1:
            return [1]
        while len(heap) > 1:
            a = heapq.heappop(heap)
            bq = heapq.heappop(heap)
            heapq.heappush(heap, (a[0] + bq[0], n, (a, bq)))
            n += 1
        lengths = [0] * len(freqs)
        stack = [(heap[0], 0)]
        while stack:
            (f, i, kids), depth = stack.pop()
            if kids is None:
                lengths[i] = max(depth, 1)
            else:
                stack.append((kids[0], depth + 1))
                stack.append((kids[1], depth + 1))
        if max(lengths) <= max_len:
            return lengths
        # flatten: halve frequencies (classic bzip2 strategy)
        freqs = [max(f // 2, 1) for f in freqs]
        n = len(freqs)


def _huff_codes(lengths: "list[int]") -> "list[tuple[int, int]]":
    """Canonical (code, length) per symbol — codes assigned in
    (length, symbol-index) order, matching the decoder's
    limit/base/perm walk."""
    order = sorted(range(len(lengths)), key=lambda s: (lengths[s], s))
    codes: list[tuple[int, int]] = [(0, 0)] * len(lengths)
    code = 0
    prev_len = lengths[order[0]]
    for sym in order:
        code <<= lengths[sym] - prev_len
        prev_len = lengths[sym]
        codes[sym] = (code, lengths[sym])
        code += 1
    return codes


def bzip2_compress(data: bytes, level: int = 1) -> bytes:
    """Compress ``data`` as a complete single-stream bzip2 file."""
    if not 1 <= level <= 9:
        raise ValueError("bzip2: bad level")
    w = _MsbBitWriter()
    for c in b"BZh":
        w.write(c, 8)
    w.write(0x30 + level, 8)
    combined = 0
    block_cap = level * 100_000 - 20
    at = 0
    while at < len(data):
        # take plain bytes whose RLE1 form fits the block
        plain = data[at:at + block_cap]
        rle1 = _rle1_encode(plain)
        while len(rle1) > block_cap:
            plain = plain[:len(plain) * 9 // 10]
            rle1 = _rle1_encode(plain)
        at += len(plain)
        crc = _bz_crc(bytes(plain))
        combined = (((combined << 1) | (combined >> 31)) ^ crc) \
            & 0xFFFFFFFF
        w.write(_BLOCK_MAGIC >> 24, 24)
        w.write(_BLOCK_MAGIC & 0xFFFFFF, 24)
        w.write(crc, 32)
        w.write(0, 1)                         # not randomised
        last, orig_ptr = _bwt(rle1)
        w.write(orig_ptr, 24)
        used = sorted(set(last))
        sectors = 0
        for b in used:
            sectors |= 0x8000 >> (b >> 4)
        w.write(sectors, 16)
        for i in range(16):
            if sectors & (0x8000 >> i):
                bits = 0
                for b in used:
                    if b >> 4 == i:
                        bits |= 0x8000 >> (b & 15)
                w.write(bits, 16)
        # MTF + RLE2
        n_sym = len(used) + 2
        eob = n_sym - 1
        mtf = list(used)
        syms: list[int] = []
        run = 0

        def _flush_run() -> None:
            nonlocal run
            while run > 0:
                d = (run - 1) % 2           # 0 -> RUNA, 1 -> RUNB
                syms.append(d)
                run = (run - (d + 1)) // 2

        for b in last:
            idx = mtf.index(b)
            if idx == 0:
                run += 1
                continue
            _flush_run()
            mtf.pop(idx)
            mtf.insert(0, b)
            syms.append(idx + 1)
        _flush_run()
        syms.append(eob)
        # Huffman: 2 identical groups, all selectors -> group 0
        freqs = [0] * n_sym
        for s in syms:
            freqs[s] += 1
        lengths = _huff_lengths(freqs)
        codes = _huff_codes(lengths)
        n_sel = (len(syms) + 49) // 50
        w.write(2, 3)                        # nGroups
        w.write(n_sel, 15)
        for _ in range(n_sel):
            w.write(0, 1)                    # selector 0, unary-MTF
        for _g in range(2):
            cur = lengths[0]
            w.write(cur, 5)
            for ln in lengths:
                while cur < ln:
                    w.write(2, 2)            # 10: increment
                    cur += 1
                while cur > ln:
                    w.write(3, 2)            # 11: decrement
                    cur -= 1
                w.write(0, 1)
        for s in syms:
            code, ln = codes[s]
            w.write(code, ln)
    w.write(_EOS_MAGIC >> 24, 24)
    w.write(_EOS_MAGIC & 0xFFFFFF, 24)
    w.write(combined, 32)
    return w.finish()
