"""Snappy decompression — public format specs (google/snappy
format_description.txt and framing_format.txt).

Snappy is the default codec of the Hadoop/Parquet/ORC ecosystem and a
common WARC/object-store sidecar; a crawl engine needs the byte path.

- **Block format**: varint-encoded uncompressed length, then a tag
  stream: tag byte low 2 bits = element type (00 literal, 01 copy
  with 1-byte offset, 10 copy with 2-byte offset, 11 copy with
  4-byte offset); literal lengths 1-60 inline, 61-64 = 1-4 trailing
  length bytes; copy-1 packs len 4-11 + offset bits 8-10 in the tag;
  overlapping copies are byte-serial (the RLE idiom).
- **Framing format**: 0xFF stream identifier chunk ("sNaPpY"),
  0x00 compressed / 0x01 uncompressed data chunks, each carrying a
  masked CRC-32C (Castagnoli, masked = rotr(crc, 15) + 0xA282EAD8)
  of the UNCOMPRESSED data — verified; 0xFE padding and reserved
  skippable chunks skipped; reserved unskippable chunks quarantine.

CRC-32C is implemented from the Castagnoli polynomial (0x1EDC6F41,
reflected 0x82F63B78) — pinned in tests against published check
vectors ("123456789" -> 0xE3069283).

Untrusted-input discipline: length bounds, offset-in-range checks,
output cap, named ValueError quarantine in the Arrow wrapper. No
snappy surface exists in the reference repo (beyond-reference
LLM-pipeline surface, SURVEY §2.12).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from .bitio import crc_lsb, crc_table_lsb, encode_uvarint, uvarint
from .payload_memo import decode_map, tally_schema

__all__ = ["crc32c", "snappy_uncompress", "snappy_compress_block",
           "parse_snappy_frame",
           "decode_snappy_meta"]

_MAX_OUT = 256 * 1024 * 1024

_CRC32C = crc_table_lsb(0x82F63B78)


def crc32c(data: bytes, crc: int = 0) -> int:
    """CRC-32C (Castagnoli), reflected, init/xorout 0xFFFFFFFF."""
    return crc_lsb(data, _CRC32C, crc ^ 0xFFFFFFFF) ^ 0xFFFFFFFF


def _masked_crc(data: bytes) -> int:
    c = crc32c(data)
    return (((c >> 15) | (c << 17)) + 0xA282EAD8) & 0xFFFFFFFF


def snappy_uncompress(data: bytes) -> bytes:
    """Decode one snappy BLOCK-format stream."""
    # the preamble is a uint32: at most 5 varint bytes, and the output
    # bound (below 2**32) rejects the larger values 5 bytes can hold
    n, pos = uvarint(data, 0, 5, "snappy")
    if n > _MAX_OUT:
        raise ValueError("snappy output exceeds bound")
    out = bytearray()
    ln = len(data)
    while pos < ln:
        tag = data[pos]
        pos += 1
        typ = tag & 3
        if typ == 0:  # literal
            length = tag >> 2
            if length >= 60:
                nb = length - 59
                if pos + nb > ln:
                    raise ValueError("snappy literal length truncated")
                length = int.from_bytes(data[pos:pos + nb], "little")
                pos += nb
            length += 1
            if pos + length > ln:
                raise ValueError("snappy literal data truncated")
            out += data[pos:pos + length]
            pos += length
        else:
            if typ == 1:  # copy, 1-byte offset
                length = ((tag >> 2) & 0x7) + 4
                if pos >= ln:
                    raise ValueError("snappy copy-1 truncated")
                offset = ((tag >> 5) << 8) | data[pos]
                pos += 1
            elif typ == 2:  # copy, 2-byte offset
                length = (tag >> 2) + 1
                if pos + 2 > ln:
                    raise ValueError("snappy copy-2 truncated")
                offset = int.from_bytes(data[pos:pos + 2], "little")
                pos += 2
            else:  # copy, 4-byte offset
                length = (tag >> 2) + 1
                if pos + 4 > ln:
                    raise ValueError("snappy copy-4 truncated")
                offset = int.from_bytes(data[pos:pos + 4], "little")
                pos += 4
            if offset == 0 or offset > len(out):
                raise ValueError("snappy copy offset out of range")
            if len(out) + length > n:
                raise ValueError("snappy copy overruns output")
            start = len(out) - offset
            for i in range(length):  # byte-serial: overlap = RLE
                out.append(out[start + i])
        if len(out) > n:
            raise ValueError("snappy output overruns declared length")
    if len(out) != n:
        raise ValueError(
            f"snappy produced {len(out)} bytes, declared {n}")
    return bytes(out)


def parse_snappy_frame(raw: bytes) -> "tuple[bytes, int, int]":
    """Decode a snappy FRAMING-format stream. Returns (payload,
    n_data_chunks, n_skipped_chunks); every data chunk's masked
    CRC-32C is verified against the uncompressed bytes."""
    if raw[:10] != b"\xff\x06\x00\x00sNaPpY":
        raise ValueError("snappy stream identifier missing")
    pos = 10
    out = bytearray()
    n_data = 0
    n_skip = 0
    while pos < len(raw):
        if pos + 4 > len(raw):
            raise ValueError("snappy chunk header truncated")
        ctype = raw[pos]
        clen = int.from_bytes(raw[pos + 1:pos + 4], "little")
        pos += 4
        if pos + clen > len(raw):
            raise ValueError("snappy chunk body truncated")
        body = raw[pos:pos + clen]
        pos += clen
        if ctype == 0x00:  # compressed data
            if clen < 4:
                raise ValueError("snappy data chunk too short")
            blob = snappy_uncompress(body[4:])
            if _masked_crc(blob) != int.from_bytes(body[:4], "little"):
                raise ValueError("snappy chunk CRC mismatch")
            out += blob
            n_data += 1
        elif ctype == 0x01:  # uncompressed data
            if clen < 4:
                raise ValueError("snappy data chunk too short")
            blob = body[4:]
            if _masked_crc(blob) != int.from_bytes(body[:4], "little"):
                raise ValueError("snappy chunk CRC mismatch")
            out += blob
            n_data += 1
        elif ctype == 0xFE or 0x80 <= ctype <= 0xFD:
            n_skip += 1  # padding / skippable
        elif ctype == 0xFF:
            if body != b"sNaPpY":
                raise ValueError("snappy repeated identifier invalid")
            n_skip += 1
        else:
            raise ValueError(
                f"snappy reserved unskippable chunk 0x{ctype:02x}")
        if len(out) > _MAX_OUT:
            raise ValueError("snappy frame output exceeds bound")
    return bytes(out), n_data, n_skip


_INT_COLS = ("n_bytes", "n_data_chunks", "n_skipped_chunks",
             "byte_sum", "crc32c_payload")


def decode_snappy_meta(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """Arrow `mapInPandas` wrapper over :func:`parse_snappy_frame` —
    per-payload quarantine, no shuffle (scan -> map -> columns)."""

    def _parse(payload) -> dict:
        blob, nd, ns = parse_snappy_frame(bytes(payload))
        return {"n_bytes": len(blob), "n_data_chunks": nd,
                "n_skipped_chunks": ns, "byte_sum": sum(blob),
                "crc32c_payload": crc32c(blob)}

    return decode_map(df, _parse, tally_schema(_INT_COLS),
                      (ValueError, IndexError), id_col, payload_col)


# ------------------------------------------------------------------
# Block COMPRESSOR (promoted from the fixture encoder in r13 —
# the from-scratch parquet writer emits snappy pages with it;
# foreign readers of those pages cross-validate every emit).

def snappy_compress_block(data: bytes) -> bytes:
    """Real greedy snappy BLOCK compressor (hash-table 4-byte
    matcher): emits copy-1 when len 4-11 fits an offset < 2048,
    copy-2 otherwise; literals split at 64 KiB. Inverse of
    operators/snappy.snappy_uncompress."""
    out = bytearray(encode_uvarint(len(data)))
    n = len(data)
    i = 0
    lit_start = 0
    table: dict[bytes, int] = {}

    def emit_literal(lo: int, hi: int) -> None:
        while lo < hi:
            ln = min(hi - lo, 65536)
            lm1 = ln - 1
            if lm1 < 60:
                out.append(lm1 << 2)
            elif lm1 < 256:
                out.append(60 << 2)
                out.append(lm1)
            else:
                out.append(61 << 2)
                out.extend(lm1.to_bytes(2, "little"))
            out.extend(data[lo:lo + ln])
            lo += ln

    while i + 4 <= n:
        key = data[i:i + 4]
        j = table.get(key)
        table[key] = i
        if j is not None and i - j <= 65535:
            length = 4
            while i + length < n and length < 64 and \
                    data[j + length] == data[i + length]:
                length += 1
            emit_literal(lit_start, i)
            offset = i - j
            if 4 <= length <= 11 and offset < 2048:
                out.append(1 | ((length - 4) << 2)
                           | ((offset >> 8) << 5))
                out.append(offset & 0xFF)
            else:
                out.append(2 | ((length - 1) << 2))
                out.extend(offset.to_bytes(2, "little"))
            i += length
            lit_start = i
        else:
            i += 1
    emit_literal(lit_start, n)
    return bytes(out)
