"""REAL LZ4 frame decode — public specs (lz4 block format + frame
format v1.6.x, github.com/lz4/lz4/tree/dev/doc) and xxHash32
(github.com/Cyan4973/xxHash, XXH32 reference algorithm).

LZ4 is the default light compression for data-lake interchange and
shows up wrapping JSONL shards in crawl deliveries; an engine that
reads 100 TB of mixed shards needs the byte path. Implemented in
full — the format is small enough that nothing needs gating:

- **xxHash32**: the real algorithm (4-lane stripe loop, tail mix,
  avalanche), used for the frame-descriptor HC byte, optional
  per-block checksums, and the content checksum.
- **Block format**: token (literal-length high nibble / match-length
  low nibble), 255-saturated length extensions, little-endian 2-byte
  match offsets, OVERLAPPING match copies (offset < length replays
  bytes just written — the RLE idiom), and the literals-only last
  sequence rule.
- **Frame format**: magic ``0x184D2204``, FLG/BD descriptor
  (version 01, content-size / block-checksum / content-checksum
  flags, block-independence), descriptor HC verification, data
  blocks with the high-bit "uncompressed" escape, the 0 end mark,
  and checksum verification wherever the flags declare one.

Untrusted-input discipline matches the other byte paths
(multimodal.py): explicit resource bounds (declared content size and
per-block expansion caps), truncation checks on every read,
ValueError on any malformed input, per-payload quarantine in the
Arrow wrapper. No LZ4 surface exists in the reference repo
(mydatastack/google-analytics-to-s3).
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
from .payload_memo import decode_map

_MAGIC = 0x184D2204
_P1, _P2, _P3, _P4, _P5 = (2654435761, 2246822519, 3266489917,
                           668265263, 374761393)
_M32 = 0xFFFFFFFF

# hard cap on a single frame's declared/decoded content: one payload
# may never balloon past this no matter what its header claims
_MAX_CONTENT = 64 * 1024 * 1024


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (32 - r))) & _M32


def xxh32(data: bytes, seed: int = 0) -> int:
    """Reference XXH32 over ``data`` (public algorithm)."""
    n = len(data)
    pos = 0
    if n >= 16:
        v1 = (seed + _P1 + _P2) & _M32
        v2 = (seed + _P2) & _M32
        v3 = seed & _M32
        v4 = (seed - _P1) & _M32
        while pos + 16 <= n:
            lane = int.from_bytes(data[pos:pos + 4], "little")
            v1 = (_rotl((v1 + lane * _P2) & _M32, 13) * _P1) & _M32
            lane = int.from_bytes(data[pos + 4:pos + 8], "little")
            v2 = (_rotl((v2 + lane * _P2) & _M32, 13) * _P1) & _M32
            lane = int.from_bytes(data[pos + 8:pos + 12], "little")
            v3 = (_rotl((v3 + lane * _P2) & _M32, 13) * _P1) & _M32
            lane = int.from_bytes(data[pos + 12:pos + 16], "little")
            v4 = (_rotl((v4 + lane * _P2) & _M32, 13) * _P1) & _M32
            pos += 16
        acc = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12)
               + _rotl(v4, 18)) & _M32
    else:
        acc = (seed + _P5) & _M32
    acc = (acc + n) & _M32
    while pos + 4 <= n:
        lane = int.from_bytes(data[pos:pos + 4], "little")
        acc = (_rotl((acc + lane * _P3) & _M32, 17) * _P4) & _M32
        pos += 4
    while pos < n:
        acc = (_rotl((acc + data[pos] * _P5) & _M32, 11) * _P1) & _M32
        pos += 1
    acc ^= acc >> 15
    acc = (acc * _P2) & _M32
    acc ^= acc >> 13
    acc = (acc * _P3) & _M32
    acc ^= acc >> 16
    return acc


def _decode_lz4_block(data: bytes, max_out: int) -> bytes:
    """Decode one LZ4 block (block format spec); ``max_out`` bounds
    expansion against crafted token floods."""
    out = bytearray()
    pos = 0
    n = len(data)
    while pos < n:
        token = data[pos]
        pos += 1
        lit_len = token >> 4
        if lit_len == 15:
            while True:
                if pos >= n:
                    raise ValueError("truncated LZ4 literal length")
                b = data[pos]
                pos += 1
                lit_len += b
                if b != 255:
                    break
        if pos + lit_len > n:
            raise ValueError("truncated LZ4 literals")
        if len(out) + lit_len > max_out:
            raise ValueError("LZ4 block exceeds expansion bound")
        out += data[pos:pos + lit_len]
        pos += lit_len
        if pos == n:
            break  # literals-only last sequence
        if pos + 2 > n:
            raise ValueError("truncated LZ4 match offset")
        offset = int.from_bytes(data[pos:pos + 2], "little")
        pos += 2
        if offset == 0 or offset > len(out):
            raise ValueError("LZ4 match offset out of range")
        match_len = (token & 0xF) + 4
        if (token & 0xF) == 15:
            while True:
                if pos >= n:
                    raise ValueError("truncated LZ4 match length")
                b = data[pos]
                pos += 1
                match_len += b
                if b != 255:
                    break
        if len(out) + match_len > max_out:
            raise ValueError("LZ4 block exceeds expansion bound")
        start = len(out) - offset
        if offset >= match_len:
            out += out[start:start + match_len]
        else:  # overlapping copy replays bytes as they are written
            for i in range(match_len):
                out.append(out[start + i])
    return bytes(out)


def parse_lz4_frame(raw: bytes) -> "tuple[bytes, int]":
    """Decode a full LZ4 frame; returns (content, n_blocks). Verifies
    the descriptor HC byte and every checksum the flags declare."""
    if len(raw) < 7:
        raise ValueError("truncated LZ4 frame header")
    if int.from_bytes(raw[:4], "little") != _MAGIC:
        raise ValueError("LZ4 frame magic missing")
    flg = raw[4]
    bd = raw[5]
    if flg >> 6 != 0b01:
        raise ValueError("LZ4 frame version not 01")
    b_indep = (flg >> 5) & 1
    b_checksum = (flg >> 4) & 1
    c_size = (flg >> 3) & 1
    c_checksum = (flg >> 2) & 1
    dict_id = flg & 1
    if (flg >> 1) & 1:
        raise ValueError("LZ4 reserved FLG bit set")
    bmax_code = (bd >> 4) & 7
    if bd & 0x8F:
        raise ValueError("LZ4 reserved BD bits set")
    if bmax_code < 4:
        raise ValueError("LZ4 block max-size code invalid")
    bmax = 1 << (2 * bmax_code + 8)  # 4->64KB, 5->256KB, 6->1MB, 7->4MB
    pos = 6
    content_size = None
    if c_size:
        if pos + 8 > len(raw):
            raise ValueError("truncated LZ4 content size")
        content_size = int.from_bytes(raw[pos:pos + 8], "little")
        if content_size > _MAX_CONTENT:
            raise ValueError("LZ4 declared content exceeds bound")
        pos += 8
    if dict_id:
        pos += 4
    if pos >= len(raw):
        raise ValueError("truncated LZ4 descriptor")
    hc = raw[pos]
    if (xxh32(raw[4:pos]) >> 8) & 0xFF != hc:
        raise ValueError("LZ4 descriptor checksum mismatch")
    pos += 1
    if not b_indep:
        # linked blocks may reference the prior 64 KB window across
        # block boundaries; this decoder implements independent blocks
        raise ValueError("LZ4 linked-block frames unsupported")
    content = bytearray()
    n_blocks = 0
    while True:
        if pos + 4 > len(raw):
            raise ValueError("truncated LZ4 block size")
        word = int.from_bytes(raw[pos:pos + 4], "little")
        pos += 4
        if word == 0:
            break  # end mark
        stored = bool(word & 0x80000000)
        size = word & 0x7FFFFFFF
        if size > bmax:
            raise ValueError("LZ4 block larger than declared max")
        if pos + size > len(raw):
            raise ValueError("truncated LZ4 block data")
        data = raw[pos:pos + size]
        pos += size
        if b_checksum:
            if pos + 4 > len(raw):
                raise ValueError("truncated LZ4 block checksum")
            if int.from_bytes(raw[pos:pos + 4], "little") != xxh32(data):
                raise ValueError("LZ4 block checksum mismatch")
            pos += 4
        budget = min(bmax, _MAX_CONTENT - len(content))
        block = data if stored else _decode_lz4_block(bytes(data),
                                                      budget)
        if stored and len(block) > budget:
            raise ValueError("LZ4 stored block exceeds bound")
        content += block
        n_blocks += 1
    if c_checksum:
        if pos + 4 > len(raw):
            raise ValueError("truncated LZ4 content checksum")
        if int.from_bytes(raw[pos:pos + 4], "little") != xxh32(
                bytes(content)):
            raise ValueError("LZ4 content checksum mismatch")
        pos += 4
    if pos != len(raw):
        raise ValueError("LZ4 trailing bytes after frame")
    if content_size is not None and len(content) != content_size:
        raise ValueError("LZ4 content size mismatch")
    return bytes(content), n_blocks


LZ4_META_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("n_blocks", IntegerType()),
    StructField("content_len", LongType()),
    StructField("content_sum", LongType()),
    StructField("decode_error", StringType()),
])


def decode_lz4_meta(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """Arrow ``mapInPandas`` wrapper over :func:`parse_lz4_frame` —
    exact byte sum of the decompressed content plus block count;
    per-payload quarantine, no shuffle."""

    def _parse(payload) -> dict:
        content, nb = parse_lz4_frame(bytes(payload))
        return {"n_blocks": nb, "content_len": len(content),
                "content_sum": sum(content)}

    return decode_map(df, _parse, LZ4_META_SCHEMA, (ValueError, IndexError),
                      id_col, payload_col)


# --------------------------------------------------------------------------
# Frame WRITER (r13) — real LZ4 block compression (greedy hash-4
# matcher, token/literal/offset sequences, the spec's end-of-block
# restrictions: last 5 bytes literal, no match within the final 12)
# framed per the LZ4F spec (FLG/BD + header checksum byte, 64 KiB
# independent blocks, XXH32 content checksum).  Every emitted frame
# is decompressed by LIBLZ4 (pyarrow Codec 'lz4') — the independent
# consumer — and by parse_lz4_frame above, in
# tests/test_codec_write.py and the `codec_write_roundtrip` family.

def _lz4_compress_block(data: bytes) -> bytes:
    """One LZ4 block.  Greedy: 4-byte hash matches, offsets to
    64 KiB, honoring the spec's end restrictions."""
    n = len(data)
    out = bytearray()
    table: dict[bytes, int] = {}
    i = 0
    anchor = 0

    def _emit(lit_hi: int, match_len: int, offset: int) -> None:
        lit_len = lit_hi - anchor
        tok_lit = min(lit_len, 15)
        tok_mat = min(match_len - 4, 15) if match_len else 0
        out.append((tok_lit << 4) | tok_mat)
        rem = lit_len - 15
        while rem >= 0:
            out.append(min(rem, 255))
            if rem < 255:
                break
            rem -= 255
        out.extend(data[anchor:lit_hi])
        if match_len:
            out.extend(offset.to_bytes(2, "little"))
            rem = match_len - 4 - 15
            while rem >= 0:
                out.append(min(rem, 255))
                if rem < 255:
                    break
                rem -= 255

    # matches may not cover the last 12 bytes; the final 5+ bytes
    # must be literals (spec end-of-block restrictions)
    limit = n - 12
    while i < limit:
        key = data[i:i + 4]
        j = table.get(key)
        table[key] = i
        if j is not None and i - j <= 65535 and data[j:j + 4] == key:
            length = 4
            cap = min(n - 5 - i, limit + 12 - 5 - i)
            cap = n - 5 - i
            while length < cap and data[j + length] == data[i + length]:
                length += 1
            _emit(i, length, i - j)
            end = i + length
            i += 1
            while i < end and i < limit:
                table[data[i:i + 4]] = i
                i += 1
            i = end
            anchor = i
        else:
            i += 1
    _emit(n, 0, 0)  # trailing literals
    return bytes(out)


def write_lz4_frame(data: bytes) -> bytes:
    """A complete LZ4 frame over :func:`_lz4_compress_block` —
    64 KiB independent blocks (stored uncompressed when compression
    does not help, per the spec's high-bit escape), XXH32 content
    checksum."""
    out = bytearray((0x184D2204).to_bytes(4, "little"))
    flg_bd = bytes([0x64, 0x40])     # v01, indep, C.Checksum; 64 KiB
    out += flg_bd
    out.append((xxh32(flg_bd) >> 8) & 0xFF)
    for at in range(0, len(data), 65536):
        chunk = data[at:at + 65536]
        comp = _lz4_compress_block(chunk)
        if len(comp) < len(chunk):
            out += len(comp).to_bytes(4, "little")
            out += comp
        else:
            out += (0x80000000 | len(chunk)).to_bytes(4, "little")
            out += chunk
    out += (0).to_bytes(4, "little")  # EndMark
    out += xxh32(data).to_bytes(4, "little")
    return bytes(out)
