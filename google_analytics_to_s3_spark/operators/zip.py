"""ZIP reader (PKWARE APPNOTE layout, public): the other ubiquitous
bundle format for crawled corpora. Real byte path:

- end-of-central-directory (EOCD) located by scanning the trailing
  64 KiB for the PK\\x05\\x06 signature (comment-tolerant, the way
  every reader does it), central-directory walk (PK\\x01\\x02
  entries: name, method, flags, CRC-32, sizes, local offset);
- local headers (PK\\x03\\x04) re-read per entry — their
  name/extra lengths decide where the data really starts;
- method 0 (stored) and method 8 (raw deflate via stdlib zlib,
  ``wbits=-MAX_WBITS``) decompression with BOTH the uncompressed
  size and the CRC-32 VERIFIED against the central directory;
- grammar cross-validated both directions against CPython's
  ``zipfile`` in pytest (same discipline as the tar reader).

Honest gates (named ValueError, per-payload quarantine in the Spark
wrappers): encrypted entries (flag bit 0) and compression methods
other than stored/deflate. ZIP64 reads for REAL as of r10s3 (EOCD
locator + ZIP64 EOCD record + 0x0001 extra fields, cross-validated
against CPython zipfile both directions). No ZIP surface exists in the
reference repo (beyond-reference LLM-pipeline surface, SURVEY §2.12).
"""

from __future__ import annotations

import struct
import zlib

from pyspark.sql import DataFrame
from .payload_memo import decode_map, tally_schema

__all__ = ["parse_zip", "zip_features", "extract_zip_features"]


def parse_zip(raw: bytes) -> list[dict]:
    """Central-directory walk -> [{name, method, data}] with size and
    CRC-32 verified per entry."""
    tail = raw[-(65536 + 22):] if len(raw) > 65558 else raw
    eocd_rel = tail.rfind(b"PK\x05\x06")
    if eocd_rel < 0:
        raise ValueError("ZIP end-of-central-directory missing")
    eocd = len(raw) - len(tail) + eocd_rel
    if eocd + 22 > len(raw):
        raise ValueError("truncated EOCD record")
    n_entries, cd_size, cd_off = struct.unpack(
        "<HII", raw[eocd + 10:eocd + 20])
    total_entries = struct.unpack("<H", raw[eocd + 8:eocd + 10])[0]
    if total_entries == 0xFFFF or cd_off == 0xFFFFFFFF \
            or cd_size == 0xFFFFFFFF:
        # ZIP64: the EOCD locator (PK\x06\x07) sits right before the
        # EOCD and points at the ZIP64 EOCD record (PK\x06\x06)
        loc = eocd - 20
        if loc < 0 or raw[loc:loc + 4] != b"PK\x06\x07":
            raise ValueError("ZIP64 EOCD locator missing")
        z64_off = struct.unpack("<Q", raw[loc + 8:loc + 16])[0]
        if z64_off + 56 > len(raw) \
                or raw[z64_off:z64_off + 4] != b"PK\x06\x06":
            raise ValueError("ZIP64 EOCD record missing")
        n_entries = struct.unpack(
            "<Q", raw[z64_off + 32:z64_off + 40])[0]
        cd_size = struct.unpack(
            "<Q", raw[z64_off + 40:z64_off + 48])[0]
        cd_off = struct.unpack(
            "<Q", raw[z64_off + 48:z64_off + 56])[0]
        if n_entries > 10_000_000:
            raise ValueError("ZIP64 entry count exceeds bound")
    if cd_off + cd_size > len(raw):
        raise ValueError("central directory overruns the file")
    entries = []
    pos = cd_off
    for _ in range(n_entries):
        if raw[pos:pos + 4] != b"PK\x01\x02":
            raise ValueError("central-directory signature missing")
        (flags, method, _t, _d, crc, csize, usize, nlen, elen, clen,
         ) = struct.unpack("<HHHHIIIHHH", raw[pos + 8:pos + 34])
        lho = struct.unpack("<I", raw[pos + 42:pos + 46])[0]
        name = raw[pos + 46:pos + 46 + nlen].decode("utf-8", "replace")
        pos += 46 + nlen + elen + clen
        if flags & 0x1:
            raise ValueError("encrypted ZIP entries unsupported")
        if method not in (0, 8):
            raise ValueError(f"ZIP compression method {method} "
                             "unsupported")
        if 0xFFFFFFFF in (csize, usize, lho):
            # ZIP64 extra field 0x0001: 8-byte values in the fixed
            # order usize, csize, lho — present only for the fields
            # whose 32-bit slots are saturated
            extra = raw[pos - elen - clen:pos - clen]
            at = 0
            z64 = None
            while at + 4 <= len(extra):
                hid, hlen = struct.unpack("<HH", extra[at:at + 4])
                if hid == 0x0001:
                    z64 = extra[at + 4:at + 4 + hlen]
                    break
                at += 4 + hlen
            if z64 is None:
                raise ValueError("ZIP64 sizes without a 0x0001 extra")
            zat = 0
            if usize == 0xFFFFFFFF:
                usize = struct.unpack("<Q", z64[zat:zat + 8])[0]
                zat += 8
            if csize == 0xFFFFFFFF:
                csize = struct.unpack("<Q", z64[zat:zat + 8])[0]
                zat += 8
            if lho == 0xFFFFFFFF:
                lho = struct.unpack("<Q", z64[zat:zat + 8])[0]
                zat += 8
        # the LOCAL header's own name/extra lengths position the data
        if raw[lho:lho + 4] != b"PK\x03\x04":
            raise ValueError("local-header signature missing")
        lnlen, lelen = struct.unpack("<HH", raw[lho + 26:lho + 30])
        data_start = lho + 30 + lnlen + lelen
        if data_start + csize > len(raw):
            raise ValueError("ZIP entry data overruns the file")
        blob = raw[data_start:data_start + csize]
        if method == 8:
            try:
                data = zlib.decompress(blob, wbits=-zlib.MAX_WBITS)
            except zlib.error as e:
                raise ValueError(f"corrupt deflate stream: {e}") from e
        else:
            data = blob
        if len(data) != usize:
            raise ValueError("ZIP entry size mismatch")
        if zlib.crc32(data) & 0xFFFFFFFF != crc:
            raise ValueError("ZIP entry CRC-32 mismatch")
        entries.append({"name": name, "method": method, "data": data})
    return entries


def zip_features(raw: bytes) -> dict:
    entries = parse_zip(raw)
    return {
        "n_entries": len(entries),
        "n_deflated": sum(1 for e in entries if e["method"] == 8),
        "n_stored": sum(1 for e in entries if e["method"] == 0),
        "uncompressed_sum": sum(len(e["data"]) for e in entries),
        "byte_sum": sum(sum(e["data"]) for e in entries),
        "name_len_sum": sum(len(e["name"]) for e in entries),
    }


_ZIP_INT = ("n_entries", "n_deflated", "n_stored", "uncompressed_sum",
            "byte_sum", "name_len_sum")


def extract_zip_features(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload",
) -> DataFrame:
    """Arrow `mapInPandas` wrapper over :func:`zip_features`."""
    return decode_map(df, lambda p: zip_features(bytes(p)),
                      tally_schema(_ZIP_INT),
                      (ValueError, IndexError, struct.error, zlib.error,
                       OverflowError, MemoryError), id_col, payload_col)
