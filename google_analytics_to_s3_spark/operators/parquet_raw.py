"""Raw Parquet reading from first principles — public parquet-format
spec (Thrift compact protocol metadata, RLE/bit-packing hybrid,
PLAIN / RLE_DICTIONARY encodings).

A 100 TB engine should be able to introspect its own storage format
from bytes: footer metadata (row counts, row-group layout, per-chunk
codecs/encodings/statistics) without a reader library, and — for the
flat columns that dominate analytics tables — materialize values
straight from the page bytes.  This module implements:

- **Thrift compact protocol** (public Apache Thrift spec): varint,
  zigzag, short/long-form field headers, bool-in-type encoding,
  nested structs, lists (short/long size), maps, binaries.  A
  generic walker produces ``{field_id: value}`` trees, so unknown /
  future fields are carried, not crashed on (same philosophy as
  operators/protowire.py).
- **Footer parse**: trailing ``PAR1`` magic + footer length,
  FileMetaData → version, schema elements, num_rows, row groups,
  column chunks (codec, encodings, num_values, sizes, offsets,
  Statistics min/max/null_count).
- **Column materialization** for flat (non-nested) columns, v1 AND
  v2 data pages: page-header thrift walk, definition levels
  (RLE/bit-packed hybrid — 4-byte length prefix on v1, header-sized
  uncompressed prefix on v2), PLAIN values (int32/int64/float/
  double/byte_array/boolean), RLE_DICTIONARY indices over a PLAIN
  dictionary page, DELTA_BINARY_PACKED integers (zigzag header,
  per-miniblock bit widths, LE bit-packed deltas),
  DELTA_LENGTH_BYTE_ARRAY / DELTA_BYTE_ARRAY (front-coded) strings,
  and BYTE_STREAM_SPLIT floats/ints; page codecs
  UNCOMPRESSED, GZIP (stdlib zlib), SNAPPY (operators/snappy.py) and
  ZSTD (operators/zstd.py) — the engine's own decoders in the hot
  path.

Cross-validation: tests read files written by *pyarrow/parquet-cpp*
(including the driver's own ``/root/testdata`` tables) and compare
against pyarrow's metadata and values — a green test proves this
reads real Parquet, not a private dialect.

One-level LIST columns (the standard 3-level layout) materialize
too: repetition levels segment records, definition levels
distinguish value / null element / empty list / null list (Dremel
record assembly, ``parquet_read_list_column``) — and arbitrary
nesting (structs, multi-level lists, maps, any composition)
assembles via the general Dremel algorithm in
``parquet_read_nested`` (r12), exact-matched against parquet-cpp.
INT96 legacy timestamps decode to int64 ns since the Unix epoch
(Julian-day + nanos-of-day layout); LZ4_RAW pages decode through
operators/lz4.py.

Honest gates (named ValueError, quarantined by wrappers): LZO /
BROTLI / legacy Hadoop-framed LZ4 codecs, encrypted files.
"""

from __future__ import annotations

import zlib

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)
from .bitio import uvarint, zigzag
from .payload_memo import decode_map

__all__ = ["thrift_compact_struct", "parquet_file_meta",
           "parquet_read_column", "parquet_read_list_column",
           "parquet_read_nested", "decode_parquet_meta",
           "decode_parquet_column_sum", "decode_parquet_list_sum",
           "decode_parquet_nested_stats", "decode_parquet_ts96",
           "nested_struct_tallies", "parquet_page_index",
           "parquet_read_int_range", "decode_parquet_range_scan"]

_MAGIC = b"PAR1"


# --------------------------------------------------------------------------
# Thrift compact protocol (generic).

_CT_STOP = 0
_CT_TRUE = 1
_CT_FALSE = 2
_CT_BYTE = 3
_CT_I16 = 4
_CT_I32 = 5
_CT_I64 = 6
_CT_DOUBLE = 7
_CT_BINARY = 8
_CT_LIST = 9
_CT_SET = 10
_CT_MAP = 11
_CT_STRUCT = 12


def _read_value(data: bytes, pos: int, ctype: int) -> tuple[object, int]:
    if ctype == _CT_TRUE:
        return True, pos
    if ctype == _CT_FALSE:
        return False, pos
    if ctype == _CT_BYTE:
        if pos >= len(data):
            raise ValueError("parquet: truncated thrift byte")
        v = data[pos]
        return (v - 256 if v > 127 else v), pos + 1
    if ctype in (_CT_I16, _CT_I32, _CT_I64):
        raw, pos = uvarint(data, pos, 11, "parquet thrift")
        return zigzag(raw), pos
    if ctype == _CT_DOUBLE:
        import struct as _struct

        if pos + 8 > len(data):
            raise ValueError("parquet: truncated thrift double")
        return _struct.unpack("<d", data[pos:pos + 8])[0], pos + 8
    if ctype == _CT_BINARY:
        n, pos = uvarint(data, pos, 11, "parquet thrift")
        if pos + n > len(data):
            raise ValueError("parquet: truncated thrift binary")
        return bytes(data[pos:pos + n]), pos + n
    if ctype in (_CT_LIST, _CT_SET):
        if pos >= len(data):
            raise ValueError("parquet: truncated thrift list header")
        hdr = data[pos]
        pos += 1
        etype = hdr & 0x0F
        size = hdr >> 4
        if size == 15:
            size, pos = uvarint(data, pos, 11, "parquet thrift")
        if size > len(data):
            raise ValueError("parquet: thrift list size overruns input")
        out = []
        for _ in range(size):
            if etype in (_CT_TRUE, _CT_FALSE):
                # bools in collections: one byte each
                if pos >= len(data):
                    raise ValueError("parquet: truncated thrift bool")
                out.append(data[pos] == 1)
                pos += 1
            else:
                v, pos = _read_value(data, pos, etype)
                out.append(v)
        return out, pos
    if ctype == _CT_MAP:
        size, pos = uvarint(data, pos, 11, "parquet thrift")
        if size == 0:
            return {}, pos
        if pos >= len(data):
            raise ValueError("parquet: truncated thrift map header")
        kt = data[pos] >> 4
        vt = data[pos] & 0x0F
        pos += 1
        out = {}
        for _ in range(size):
            k, pos = _read_value(data, pos, kt)
            v, pos = _read_value(data, pos, vt)
            out[k] = v
        return out, pos
    if ctype == _CT_STRUCT:
        return thrift_compact_struct(data, pos)
    raise ValueError(f"parquet: unknown thrift compact type {ctype}")


def thrift_compact_struct(data: bytes, pos: int = 0) -> tuple[dict, int]:
    """Parse one Thrift-compact struct at ``pos`` → ``({field_id:
    value}, new_pos)``.  Nested structs become dicts, lists become
    lists — field names are the parquet.thrift field ids."""
    fields: dict[int, object] = {}
    fid = 0
    while True:
        if pos >= len(data):
            raise ValueError("parquet: truncated thrift struct")
        b = data[pos]
        pos += 1
        if b == _CT_STOP:
            return fields, pos
        delta = b >> 4
        ctype = b & 0x0F
        if delta:
            fid += delta
        else:
            raw, pos = uvarint(data, pos, 11, "parquet thrift")
            fid = zigzag(raw)
        v, pos = _read_value(data, pos, ctype)
        fields[fid] = v


# --------------------------------------------------------------------------
# Footer metadata.

# parquet.thrift physical types
_PT_BOOLEAN = 0
_PT_INT32 = 1
_PT_INT64 = 2
_PT_INT96 = 3
_PT_FLOAT = 4
_PT_DOUBLE = 5
_PT_BYTE_ARRAY = 6
_PT_FIXED = 7

_CODEC_NAMES = {0: "UNCOMPRESSED", 1: "SNAPPY", 2: "GZIP", 3: "LZO",
                4: "BROTLI", 5: "LZ4", 6: "ZSTD", 7: "LZ4_RAW"}
_ENC_NAMES = {0: "PLAIN", 2: "PLAIN_DICTIONARY", 3: "RLE",
              4: "BIT_PACKED", 5: "DELTA_BINARY_PACKED",
              6: "DELTA_LENGTH_BYTE_ARRAY", 7: "DELTA_BYTE_ARRAY",
              8: "RLE_DICTIONARY", 9: "BYTE_STREAM_SPLIT"}


def parquet_file_meta(data: bytes) -> dict:
    """Parse the trailing footer of a parquet file (bytes) into a
    plain dict: version, num_rows, created_by, schema (name/type/
    repetition per leaf), row groups with per-chunk codec/encodings/
    num_values/sizes/offsets and int statistics where present."""
    if len(data) < 12 or data[:4] != _MAGIC or data[-4:] != _MAGIC:
        raise ValueError("parquet: missing PAR1 magic")
    flen = int.from_bytes(data[-8:-4], "little")
    if flen + 8 > len(data):
        raise ValueError("parquet: footer length overruns file")
    footer = data[-8 - flen:-8]
    fmd, _ = thrift_compact_struct(footer)
    try:
        return _build_meta(fmd)
    except (TypeError, AttributeError, KeyError) as e:
        # a corrupted footer parses into the wrong tree shape — the
        # generic thrift walker cannot catch that, this boundary does
        raise ValueError(f"parquet: malformed footer tree ({e})") \
            from None


def _build_meta(fmd: dict) -> dict:
    schema_elems = fmd.get(2) or []
    schema = []
    for el in schema_elems:
        schema.append({
            "name": (el.get(4) or b"").decode("utf-8", "replace"),
            "type": el.get(1),
            "type_length": el.get(2),
            "repetition": el.get(3),
            "num_children": el.get(5, 0),
            "converted_type": el.get(6),
            "scale": el.get(7),
            "precision": el.get(8),
            "field_id": el.get(9),
        })
    row_groups = []
    for rg in fmd.get(4) or []:
        cols = []
        for cc in rg.get(1) or []:
            md = cc.get(3) or {}
            stats = md.get(12) or {}
            cols.append({
                "path": [p.decode("utf-8", "replace")
                         for p in md.get(3) or []],
                "type": md.get(1),
                "codec": md.get(4),
                "codec_name": _CODEC_NAMES.get(md.get(4), "UNKNOWN"),
                "encodings": md.get(2) or [],
                "num_values": md.get(5),
                "total_uncompressed_size": md.get(6),
                "total_compressed_size": md.get(7),
                "data_page_offset": md.get(9),
                "dictionary_page_offset": md.get(11),
                "bloom_offset": md.get(14),
                "bloom_length": md.get(15),
                "stat_min": stats.get(6), "stat_max": stats.get(5),
                "stat_null_count": stats.get(3),
                "offset_index_offset": cc.get(4),
                "offset_index_length": cc.get(5),
                "column_index_offset": cc.get(6),
                "column_index_length": cc.get(7),
            })
        row_groups.append({
            "num_rows": rg.get(3),
            "total_byte_size": rg.get(2),
            "columns": cols,
        })
    return {
        "version": fmd.get(1),
        "num_rows": fmd.get(3),
        "created_by": (fmd.get(6) or b"").decode("utf-8", "replace"),
        "schema": schema,
        "row_groups": row_groups,
    }


# --------------------------------------------------------------------------
# RLE / bit-packing hybrid (parquet-format Encodings.md).


def _rle_bp_hybrid(data: bytes, pos: int, end: int, bit_width: int,
                   count: int) -> list[int]:
    out: list[int] = []
    byte_w = (bit_width + 7) // 8
    while len(out) < count:
        if pos >= end:
            raise ValueError("parquet: RLE/BP stream underrun")
        hdr, pos = uvarint(data, pos, 11, "parquet")
        if hdr & 1:  # bit-packed groups of 8
            ngroups = hdr >> 1
            nbytes = ngroups * bit_width
            if pos + nbytes > end:
                raise ValueError("parquet: bit-packed run overrun")
            chunk = int.from_bytes(data[pos:pos + nbytes], "little")
            pos += nbytes
            mask = (1 << bit_width) - 1
            n = min(ngroups * 8, count - len(out))
            for i in range(n):
                out.append((chunk >> (i * bit_width)) & mask)
        else:  # RLE run
            run = hdr >> 1
            if byte_w:
                if pos + byte_w > end:
                    raise ValueError("parquet: RLE run overrun")
                v = int.from_bytes(data[pos:pos + byte_w], "little")
                pos += byte_w
            else:
                v = 0
            out.extend([v] * min(run, count - len(out)))
    return out


def _delta_binary_packed(data: bytes, pos: int, n: int) -> list[int]:
    """DELTA_BINARY_PACKED (parquet-format Encodings.md): header of
    (block size, miniblocks/block, total count, zigzag first value),
    then per block a zigzag min-delta, one bit-width byte per
    miniblock, and LE bit-packed delta miniblocks."""
    block_size, pos = uvarint(data, pos, 11, "parquet")
    nmini, pos = uvarint(data, pos, 11, "parquet")
    total, pos = uvarint(data, pos, 11, "parquet")
    raw_first, pos = uvarint(data, pos, 11, "parquet")
    first = zigzag(raw_first)
    if nmini <= 0 or block_size <= 0 or block_size % nmini:
        raise ValueError("parquet: bad delta block geometry")
    per_mini = block_size // nmini
    if total < n:
        raise ValueError("parquet: delta header count short of page")
    out = [first]
    prev = first
    while len(out) < total:
        raw_md, pos = uvarint(data, pos, 11, "parquet")
        min_delta = zigzag(raw_md)
        if pos + nmini > len(data):
            raise ValueError("parquet: truncated delta bit widths")
        widths = data[pos:pos + nmini]
        pos += nmini
        for w in widths:
            if len(out) >= total:
                break
            if w > 64:
                raise ValueError("parquet: delta bit width too large")
            nbytes = per_mini * w // 8
            if pos + nbytes > len(data):
                raise ValueError("parquet: truncated delta miniblock")
            chunk = int.from_bytes(data[pos:pos + nbytes], "little")
            pos += nbytes
            mask = (1 << w) - 1
            take = min(per_mini, total - len(out))
            for i in range(take):
                prev = prev + min_delta + ((chunk >> (i * w)) & mask)
                out.append(prev)
    return out[:n]


def _delta_bp_with_end(data: bytes, pos: int,
                       n: int) -> tuple[list[int], int]:
    """Like :func:`_delta_binary_packed` but also returns the stream
    position after the encoded run (DELTA_BYTE_ARRAY needs to read
    two back-to-back runs)."""
    block_size, p = uvarint(data, pos, 11, "parquet")
    nmini, p = uvarint(data, p, 11, "parquet")
    total, p = uvarint(data, p, 11, "parquet")
    raw_first, p = uvarint(data, p, 11, "parquet")
    first = zigzag(raw_first)
    if nmini <= 0 or block_size <= 0 or block_size % nmini:
        raise ValueError("parquet: bad delta block geometry")
    per_mini = block_size // nmini
    out = [first] if total else []
    prev = first
    while len(out) < total:
        raw_md, p = uvarint(data, p, 11, "parquet")
        min_delta = zigzag(raw_md)
        if p + nmini > len(data):
            raise ValueError("parquet: truncated delta bit widths")
        widths = data[p:p + nmini]
        p += nmini
        for w in widths:
            if len(out) >= total:
                break
            if w > 64:
                raise ValueError("parquet: delta bit width too large")
            nbytes = per_mini * w // 8
            if p + nbytes > len(data):
                raise ValueError("parquet: truncated delta miniblock")
            chunk = int.from_bytes(data[p:p + nbytes], "little")
            p += nbytes
            mask = (1 << w) - 1
            take = min(per_mini, total - len(out))
            for i in range(take):
                prev = prev + min_delta + ((chunk >> (i * w)) & mask)
                out.append(prev)
    if total < n:
        raise ValueError("parquet: delta run count short of page")
    return out[:n], p


def _delta_length_byte_array(data: bytes, pos: int,
                             n: int) -> list[bytes]:
    """DELTA_LENGTH_BYTE_ARRAY: delta-packed lengths, then the
    concatenated bytes."""
    lengths, p = _delta_bp_with_end(data, pos, n)
    out = []
    for ln in lengths:
        if ln < 0 or p + ln > len(data):
            raise ValueError("parquet: DELTA_LENGTH data overrun")
        out.append(bytes(data[p:p + ln]))
        p += ln
    return out


def _delta_byte_array(data: bytes, pos: int, n: int) -> list[bytes]:
    """DELTA_BYTE_ARRAY (incremental/front coding): delta-packed
    prefix lengths, then the suffixes as DELTA_LENGTH_BYTE_ARRAY."""
    prefixes, p = _delta_bp_with_end(data, pos, n)
    suffixes = _delta_length_byte_array(data, p, n)
    out: list[bytes] = []
    prev = b""
    for pre, suf in zip(prefixes, suffixes):
        if pre < 0 or pre > len(prev):
            raise ValueError("parquet: prefix length out of range")
        prev = prev[:pre] + suf
        out.append(prev)
    return out


def _byte_stream_split(data: bytes, n: int, width: int,
                       ptype: int) -> list:
    """BYTE_STREAM_SPLIT: byte k of value i lives at stream k offset
    i; reassemble then reinterpret."""
    import struct as _struct

    if len(data) < n * width:
        raise ValueError("parquet: BYTE_STREAM_SPLIT underrun")
    joined = bytearray(n * width)
    for k in range(width):
        joined[k::width] = data[k * n:(k + 1) * n]
    fmt = {(_PT_FLOAT, 4): "f", (_PT_DOUBLE, 8): "d",
           (_PT_INT32, 4): "i", (_PT_INT64, 8): "q"}[(ptype, width)]
    return list(_struct.unpack(f"<{n}{fmt}", bytes(joined)))


# --------------------------------------------------------------------------
# Page decode.


def _decompress_page(codec: int, data: bytes, uncompressed: int) -> bytes:
    if codec == 0:
        return data
    if codec == 2:  # GZIP
        try:
            return zlib.decompress(data, 31)
        except zlib.error as e:
            raise ValueError(f"parquet: corrupt gzip page ({e})") from None
    if codec == 1:  # SNAPPY (block format)
        from .snappy import snappy_uncompress

        return snappy_uncompress(data)
    if codec == 6:  # ZSTD
        from .zstd import decompress_zstd

        return decompress_zstd(data)
    if codec == 7:  # LZ4_RAW (parquet-format 2.9+; one raw LZ4 block)
        from .lz4 import _decode_lz4_block

        out = _decode_lz4_block(data, uncompressed)
        return bytes(out)
    raise ValueError(
        f"parquet: codec {_CODEC_NAMES.get(codec, codec)} gated")


def _plain_values(ptype: int, data: bytes, n: int,
                  type_length: int | None = None) -> list:
    import struct as _struct

    width = {_PT_INT32: 4, _PT_INT64: 8, _PT_FLOAT: 4,
             _PT_DOUBLE: 8}.get(ptype)
    if width is not None and len(data) < width * n:
        raise ValueError("parquet: PLAIN values overrun page")
    if ptype == _PT_INT32:
        return list(_struct.unpack(f"<{n}i", data[:4 * n]))
    if ptype == _PT_INT64:
        return list(_struct.unpack(f"<{n}q", data[:8 * n]))
    if ptype == _PT_FLOAT:
        return list(_struct.unpack(f"<{n}f", data[:4 * n]))
    if ptype == _PT_DOUBLE:
        return list(_struct.unpack(f"<{n}d", data[:8 * n]))
    if ptype == _PT_BOOLEAN:
        bits = int.from_bytes(data[:(n + 7) // 8], "little")
        return [(bits >> i) & 1 == 1 for i in range(n)]
    if ptype == _PT_BYTE_ARRAY:
        out = []
        pos = 0
        for _ in range(n):
            ln = int.from_bytes(data[pos:pos + 4], "little")
            pos += 4
            if pos + ln > len(data):
                raise ValueError("parquet: PLAIN byte_array overrun")
            out.append(bytes(data[pos:pos + ln]))
            pos += ln
        return out
    if ptype == _PT_FIXED:
        if not type_length or type_length <= 0:
            raise ValueError("parquet: FLBA without type_length")
        if len(data) < n * type_length:
            raise ValueError("parquet: PLAIN FLBA overrun")
        return [bytes(data[i * type_length:(i + 1) * type_length])
                for i in range(n)]
    if ptype == _PT_INT96:
        # legacy Hive/Impala/Spark timestamps: 8-byte LE nanos-of-day
        # + 4-byte LE Julian day; decoded to int64 ns since Unix epoch
        # (Julian day 2440588 = 1970-01-01)
        if len(data) < 12 * n:
            raise ValueError("parquet: PLAIN INT96 overrun")
        out = []
        for i in range(n):
            # both halves signed: parquet-cpp emits negative
            # nanos-of-day (two's complement) for pre-1970 values
            nanos = int.from_bytes(data[12 * i:12 * i + 8], "little",
                                   signed=True)
            jday = int.from_bytes(data[12 * i + 8:12 * i + 12],
                                  "little", signed=True)
            out.append((jday - 2440588) * 86_400_000_000_000 + nanos)
        return out
    raise ValueError(f"parquet: PLAIN decode for type {ptype} gated")


def parquet_read_column(data: bytes, column: str) -> list:
    """Materialize one flat column from raw parquet bytes: walks every
    row group's chunk for ``column``, decodes v1 AND v2 data pages
    (PLAIN, RLE_DICTIONARY over a PLAIN dictionary page, the DELTA_*
    family, BYTE_STREAM_SPLIT) with definition levels; nulls come
    back as None.  Nested columns route to
    :func:`parquet_read_nested` / :func:`parquet_read_list_column`;
    the real gates are LZO/BROTLI/legacy-LZ4 codecs and encrypted
    files."""
    import struct as _struct

    try:
        return _read_column(data, column)
    except (TypeError, AttributeError, KeyError, _struct.error) as e:
        # corrupted metadata parses into wrong tree shapes; convert to
        # the named quarantine class at the public boundary
        raise ValueError(f"parquet: malformed structure ({e})") from None


def _leaf_levels(schema: list[dict]) -> dict:
    """Walk the preorder-flattened schema tree → ``{leaf path:
    (max_def, max_rep, element)}`` per the Dremel level rules
    (optional adds a definition level, repeated adds both)."""
    leaves: dict = {}

    def walk(idx: int, path: list, d: int, r: int) -> int:
        if idx >= len(schema):
            raise ValueError("parquet: schema tree short")
        el = schema[idx]
        nc = el.get("num_children") or 0
        if idx > 0:
            rep = el.get("repetition")
            if rep == 1:
                d += 1
            elif rep == 2:
                d += 1
                r += 1
            path = path + [el["name"]]
        nxt = idx + 1
        if nc == 0 and idx > 0:
            leaves[tuple(path)] = (d, r, el)
            return nxt
        for _ in range(nc):
            nxt = walk(nxt, path, d, r)
        return nxt

    walk(0, [], 0, 0)
    return leaves


def _read_chunk(data: bytes, chunk: dict, max_def: int,
                max_rep: int,
                type_length: int | None = None) -> tuple[list, list, list]:
    """Walk one column chunk's pages → (defs, reps, present values)."""
    start = chunk["dictionary_page_offset"]
    if start is None:
        start = chunk["data_page_offset"]
    if not all(isinstance(chunk[k], int) and chunk[k] >= 0
               for k in ("total_compressed_size", "num_values")) \
            or not isinstance(start, int) or start < 0:
        raise ValueError("parquet: corrupt column-chunk metadata")
    pos = start
    end = start + chunk["total_compressed_size"]
    if end > len(data):
        raise ValueError("parquet: column chunk overruns file")
    remaining = chunk["num_values"]
    dictionary: list | None = None
    ptype = chunk["type"]
    def_w = max_def.bit_length()
    rep_w = max_rep.bit_length()
    all_defs: list = []
    all_reps: list = []
    values: list = []
    while remaining > 0:
            ph, pos = thrift_compact_struct(data, pos)
            page_type = ph.get(1)
            comp_size = ph.get(3)
            unc_size = ph.get(2)
            if not (isinstance(comp_size, int) and comp_size >= 0
                    and isinstance(unc_size, int) and unc_size >= 0):
                raise ValueError("parquet: corrupt page header sizes")
            if page_type not in (0, 2, 3):
                raise ValueError(f"parquet: page type {page_type} gated")
            body = bytes(data[pos:pos + comp_size])
            if len(body) != comp_size:
                raise ValueError("parquet: truncated page body")
            pos += comp_size
            if page_type == 2:  # DICTIONARY_PAGE
                raw = _decompress_page(chunk["codec"], body, unc_size)
                if len(raw) != unc_size:
                    raise ValueError("parquet: page size mismatch")
                dph = ph.get(7) or {}
                nvals = dph.get(1)
                if dph.get(2) not in (0, 2):  # PLAIN(_DICTIONARY)
                    raise ValueError("parquet: non-PLAIN dictionary gated")
                dictionary = _plain_values(ptype, raw, nvals,
                                           type_length)
                continue
            if page_type == 0:  # v1: whole body compressed together
                raw = _decompress_page(chunk["codec"], body, unc_size)
                if len(raw) != unc_size:
                    raise ValueError("parquet: page size mismatch")
                dh = ph.get(5) or {}
                nvals = dh.get(1)
                enc = dh.get(2)
                vpos = 0
                reps = [0] * nvals
                if max_rep:  # repetition levels first, length-prefixed
                    rlen = int.from_bytes(raw[0:4], "little")
                    reps = _rle_bp_hybrid(raw, 4, 4 + rlen, rep_w, nvals)
                    vpos = 4 + rlen
                if max_def:
                    dlen = int.from_bytes(raw[vpos:vpos + 4], "little")
                    defs = _rle_bp_hybrid(raw, vpos + 4,
                                          vpos + 4 + dlen, def_w, nvals)
                    vpos += 4 + dlen
                else:
                    defs = [max_def] * nvals
                vals_buf = raw
            else:  # v2: levels stored up front UNCOMPRESSED
                dh = ph.get(8) or {}
                nvals = dh.get(1)
                enc = dh.get(4)
                dll = dh.get(5, 0)
                rll = dh.get(6, 0)
                is_comp = dh.get(7, True)
                if not isinstance(dll, int) or dll < 0 \
                        or not isinstance(rll, int) or rll < 0 \
                        or dll + rll > len(body):
                    raise ValueError("parquet: bad v2 level lengths")
                reps = ([0] * nvals if not max_rep else
                        _rle_bp_hybrid(body, 0, rll, rep_w, nvals))
                defs = ([max_def] * nvals if not max_def else
                        _rle_bp_hybrid(body, rll, rll + dll, def_w,
                                       nvals))
                tail = body[rll + dll:]
                if chunk["codec"] and is_comp:
                    tail = _decompress_page(chunk["codec"], tail,
                                            unc_size - dll - rll)
                if len(tail) != unc_size - dll - rll:
                    raise ValueError("parquet: v2 page size mismatch")
                vals_buf = tail
                vpos = 0
            npresent = sum(1 for d in defs if d == max_def)
            if enc == 0:  # PLAIN
                present = _plain_values(ptype, vals_buf[vpos:], npresent,
                                        type_length)
            elif enc in (2, 8):  # (PLAIN_/RLE_)DICTIONARY
                if dictionary is None:
                    raise ValueError("parquet: dictionary page missing")
                if vpos >= len(vals_buf) and npresent:
                    raise ValueError("parquet: truncated index stream")
                bw = vals_buf[vpos] if npresent else 0
                idx = _rle_bp_hybrid(vals_buf, vpos + 1, len(vals_buf),
                                     bw, npresent)
                try:
                    present = [dictionary[i] for i in idx]
                except IndexError:
                    raise ValueError(
                        "parquet: dictionary index out of range"
                    ) from None
            elif enc == 5:  # DELTA_BINARY_PACKED
                if ptype not in (_PT_INT32, _PT_INT64):
                    raise ValueError(
                        "parquet: DELTA_BINARY_PACKED non-int gated")
                present = _delta_binary_packed(vals_buf, vpos, npresent)
            elif enc == 6:  # DELTA_LENGTH_BYTE_ARRAY
                if ptype != _PT_BYTE_ARRAY:
                    raise ValueError(
                        "parquet: DELTA_LENGTH on non-byte_array")
                present = _delta_length_byte_array(
                    vals_buf, vpos, npresent)
            elif enc == 7:  # DELTA_BYTE_ARRAY
                if ptype != _PT_BYTE_ARRAY:
                    raise ValueError(
                        "parquet: DELTA_BYTE_ARRAY on non-byte_array")
                present = _delta_byte_array(vals_buf, vpos, npresent)
            elif enc == 9:  # BYTE_STREAM_SPLIT
                width = {_PT_FLOAT: 4, _PT_DOUBLE: 8,
                         _PT_INT32: 4, _PT_INT64: 8}.get(ptype)
                if width is None:
                    raise ValueError(
                        "parquet: BYTE_STREAM_SPLIT type gated")
                present = _byte_stream_split(
                    vals_buf[vpos:], npresent, width, ptype)
            else:
                raise ValueError(
                    f"parquet: encoding {_ENC_NAMES.get(enc, enc)} gated")
            if len(present) != npresent:
                raise ValueError("parquet: value count mismatch")
            all_defs.extend(defs)
            all_reps.extend(reps)
            values.extend(present)
            remaining -= nvals
    return all_defs, all_reps, values


def _find_chunk(rg: dict, pred) -> dict:
    for cc in rg["columns"]:
        if pred(cc["path"]):
            return cc
    raise ValueError("parquet: column missing from a row group")


def _read_column(data: bytes, column: str) -> list:
    meta = parquet_file_meta(data)
    leaves = _leaf_levels(meta["schema"])
    leaf = leaves.get((column,))
    if leaf is None:
        if any(p[0] == column for p in leaves):
            raise ValueError("parquet: nested columns gated "
                             "(use parquet_read_list_column for lists)")
        raise ValueError(f"parquet: no column {column!r}")
    max_def, max_rep, el = leaf
    if max_rep:
        raise ValueError("parquet: repeated columns gated")
    values: list = []
    for rg in meta["row_groups"]:
        chunk = _find_chunk(rg, lambda p: p == [column])
        defs, _reps, present = _read_chunk(data, chunk, max_def,
                                           max_rep,
                                           el.get("type_length"))
        it = iter(present)
        values.extend(next(it) if d == max_def else None for d in defs)
    return values


def parquet_read_list_column(data: bytes, column: str) -> list:
    """Materialize a ONE-LEVEL list column (``list<primitive>``, the
    standard 3-level parquet layout) from raw bytes: repetition
    levels segment rows, definition levels distinguish value / null
    element / empty list / null list (Dremel record assembly)."""
    import struct as _struct

    try:
        return _read_list_column(data, column)
    except (TypeError, AttributeError, KeyError, _struct.error) as e:
        raise ValueError(f"parquet: malformed structure ({e})") from None


def _read_list_column(data: bytes, column: str) -> list:
    meta = parquet_file_meta(data)
    leaves = _leaf_levels(meta["schema"])
    leaf_path = None
    for p, (d, r, el) in leaves.items():
        if p[0] == column:
            leaf_path = p
            max_def, max_rep, elem = d, r, el
    if leaf_path is None:
        raise ValueError(f"parquet: no column {column!r}")
    if max_rep == 0:
        raise ValueError("parquet: not a list column")
    if max_rep > 1:
        raise ValueError("parquet: multi-level nesting gated")
    elem_nullable = elem.get("repetition") == 1
    d_value = max_def
    d_null_elem = max_def - 1 if elem_nullable else None
    d_empty = max_def - 1 - (1 if elem_nullable else 0)
    rows: list = []
    for rg in meta["row_groups"]:
        chunk = _find_chunk(rg, lambda p: list(p) == list(leaf_path))
        defs, reps, present = _read_chunk(data, chunk, max_def,
                                          max_rep,
                                          elem.get("type_length"))
        it = iter(present)
        for d, r in zip(defs, reps):
            if r == 0:  # new record
                if d == d_value:
                    rows.append([next(it)])
                elif d_null_elem is not None and d == d_null_elem:
                    rows.append([None])
                elif d == d_empty:
                    rows.append([])
                else:
                    rows.append(None)
            else:  # continuation of the current record's list
                if not rows or rows[-1] is None:
                    raise ValueError("parquet: repetition underflow")
                if d == d_value:
                    rows[-1].append(next(it))
                elif d_null_elem is not None and d == d_null_elem:
                    rows[-1].append(None)
                else:
                    raise ValueError("parquet: bad def level mid-list")
    return rows


# --------------------------------------------------------------------------
# General Dremel record assembly (arbitrary nesting).
#
# The r11 reader materialized flat and one-level-list columns; this is
# the general algorithm from the Dremel paper (Melnik et al., VLDB'10,
# public) + the parquet-format LogicalTypes rules: a column's leaves
# each carry (repetition, definition) level streams; walking a leaf's
# logical path top-down while consuming the record's def level
# reconstructs structs (dict), lists (list, incl. multi-level), and
# maps (dict via the repeated key_value group).  All leaves of a
# column merge into one skeleton per record — the format guarantees
# their level streams agree on shared ancestors.

_MISSING = object()
_REP_REQUIRED, _REP_OPTIONAL, _REP_REPEATED = 0, 1, 2
_CONV_UTF8, _CONV_MAP, _CONV_MAP_KV, _CONV_LIST = 0, 1, 2, 3


def _schema_tree(schema: list[dict]) -> dict:
    """Nest the preorder-flattened footer schema into a tree and
    annotate each node with its Dremel levels: ``d`` = definition
    level when the node is present, ``r`` = repetition depth."""

    def build(idx: int, d: int, r: int) -> tuple[dict, int]:
        if idx >= len(schema):
            raise ValueError("parquet: schema tree short")
        node = dict(schema[idx])
        if idx > 0:
            rep = node.get("repetition")
            if rep == _REP_OPTIONAL:
                d += 1
            elif rep == _REP_REPEATED:
                d += 1
                r += 1
        node["d"], node["r"] = d, r
        node["children"] = []
        nxt = idx + 1
        for _ in range(node.get("num_children") or 0):
            child, nxt = build(nxt, d, r)
            node["children"].append(child)
        return node, nxt

    root, _ = build(0, 0, 0)
    return root


def _logical_paths(node: dict, prefix_steps: list, phys_path: list,
                   out: list, maps: list) -> None:
    """Flatten the physical subtree under a top-level column into one
    logical step-path per leaf.  Steps:

    - ``('opt', d)``   — presence check for an optional node
    - ``('rep', d, k)`` — repeated level (d = def level when ≥1
      element, k = 1-based repetition depth); descend to element
    - ``('field', name)`` — struct member (dict key)
    - ``('value', conv)`` — terminal leaf (conv = converted_type)

    ``maps`` collects the step-prefixes of MAP-annotated repeated
    levels so finalization can turn entry lists into dicts."""
    steps = list(prefix_steps)
    if node.get("repetition") == _REP_OPTIONAL:
        steps.append(("opt", node["d"]))
    is_leaf = not node["children"]
    if node.get("repetition") == _REP_REPEATED:
        # legacy 2-level list: repeated node IS the element
        steps.append(("rep", node["d"], node["r"]))
        if is_leaf:
            out.append((steps + [("value", node.get("converted_type"))],
                        phys_path, node))
            return
        if len(node["children"]) == 1 and node.get("converted_type") \
                not in (_CONV_MAP_KV,):
            # 3-level LIST inner wrapper (repeated group "list" with a
            # single "element" child) — transparent
            ch = node["children"][0]
            _logical_paths(ch, steps, phys_path + [ch["name"]],
                           out, maps)
            return
        # repeated group with 2+ children: element is a struct
        # (covers the MAP key_value group and legacy repeated groups)
        if node.get("converted_type") == _CONV_MAP_KV or \
                {c["name"] for c in node["children"]} == {"key", "value"}:
            maps.append(tuple(steps))
        for ch in node["children"]:
            _logical_paths(ch, steps + [("field", ch["name"])],
                           phys_path + [ch["name"]], out, maps)
        return
    if is_leaf:
        steps.append(("value", node.get("converted_type")))
        out.append((steps, phys_path, node))
        return
    conv = node.get("converted_type")
    if conv in (_CONV_MAP, _CONV_MAP_KV) and len(node["children"]) == 1 \
            and node["children"][0].get("repetition") == _REP_REPEATED:
        maps.append(tuple(steps + [
            ("rep", node["children"][0]["d"], node["children"][0]["r"])]))
        kv = node["children"][0]
        ksteps = steps + [("rep", kv["d"], kv["r"])]
        for ch in kv["children"]:
            _logical_paths(ch, ksteps + [("field", ch["name"])],
                           phys_path + [kv["name"], ch["name"]],
                           out, maps)
        return
    if conv == _CONV_LIST and len(node["children"]) == 1 \
            and node["children"][0].get("repetition") == _REP_REPEATED:
        _logical_paths(node["children"][0], steps,
                       phys_path + [node["children"][0]["name"]],
                       out, maps)
        return
    for ch in node["children"]:
        _logical_paths(ch, steps + [("field", ch["name"])],
                       phys_path + [ch["name"]], out, maps)


def _insert(cont, key, steps, iv: list[int], d: int, value) -> None:
    """Apply one (def, rep, value) leaf entry into the record
    skeleton, walking the leaf's logical path top-down."""
    for step in steps:
        kind = step[0]
        if kind == "opt":
            if d < step[1]:
                cont[key] = None
                return
        elif kind == "field":
            cur = cont[key]
            if not isinstance(cur, dict):
                cur = {}
                cont[key] = cur
            if step[1] not in cur:
                cur[step[1]] = _MISSING
            cont, key = cur, step[1]
        elif kind == "rep":
            cur = cont[key]
            if not isinstance(cur, list):
                cur = []
                cont[key] = cur
            if d < step[1]:
                return  # list present but empty
            idx = iv[step[2] - 1]
            while len(cur) <= idx:
                cur.append(_MISSING)
            cont, key = cur, idx
        else:  # value
            cont[key] = value


def parquet_read_nested(data: bytes, column: str) -> list:
    """Materialize an arbitrarily nested top-level ``column`` (structs
    → dict, lists incl. multi-level → list, maps → dict, UTF8 leaves →
    str) from raw parquet bytes by general Dremel record assembly.
    All page encodings/codecs of :func:`parquet_read_column` apply.
    Remaining named gates: INT96 leaves, encrypted files."""
    import struct as _struct

    try:
        return _read_nested(data, column)
    except (TypeError, AttributeError, KeyError, _struct.error) as e:
        raise ValueError(f"parquet: malformed structure ({e})") from None


def _read_nested(data: bytes, column: str) -> list:
    meta = parquet_file_meta(data)
    root = _schema_tree(meta["schema"])
    col_node = None
    for ch in root["children"]:
        if ch["name"] == column:
            col_node = ch
            break
    if col_node is None:
        raise ValueError(f"parquet: no column {column!r}")
    leaf_specs: list = []
    map_prefixes: list = []
    _logical_paths(col_node, [], [column], leaf_specs, map_prefixes)
    if not leaf_specs:
        raise ValueError("parquet: column has no leaves")
    records: list = []
    for rg in meta["row_groups"]:
        nrows = rg["num_rows"]
        cells = [[_MISSING] for _ in range(nrows)]
        for steps, phys_path, leaf_el in leaf_specs:
            max_def = leaf_el["d"]
            max_rep = leaf_el["r"]
            chunk = _find_chunk(rg, lambda p, _pp=phys_path:
                                list(p) == list(_pp))
            defs, reps, present = _read_chunk(
                data, chunk, max_def, max_rep,
                leaf_el.get("type_length"))
            it = iter(present)
            conv = leaf_el.get("converted_type")
            iv = [0] * max(max_rep, 1)
            ridx = -1
            for d, r in zip(defs, reps):
                if r == 0:
                    ridx += 1
                    for k in range(len(iv)):
                        iv[k] = 0
                else:
                    iv[r - 1] += 1
                    for k in range(r, len(iv)):
                        iv[k] = 0
                if ridx >= nrows:
                    raise ValueError("parquet: repetition overflow")
                v = None
                if d == max_def:
                    v = next(it)
                    if conv == _CONV_UTF8 and isinstance(v, bytes):
                        v = v.decode("utf-8", "replace")
                _insert(cells[ridx], 0, steps, iv, d, v)
            if ridx != nrows - 1:
                raise ValueError("parquet: record count mismatch")
        records.extend(cells)
    # finalize: drop placeholders, convert map entry lists to dicts
    map_set = {tuple(p) for p in map_prefixes}

    def conv_value(val, steps_prefix):
        if val is _MISSING:
            return None
        if isinstance(val, dict):
            return {k: conv_value(v, steps_prefix + (("field", k),))
                    for k, v in val.items()}
        if isinstance(val, list):
            # find the repeated step this list corresponds to: it is
            # the unique 'rep' step directly following steps_prefix in
            # any leaf path
            rep_step = None
            for steps, _p, _el in leaf_specs:
                cleaned = tuple(s for s in steps if s[0] != "opt")
                pref = tuple(s for s in steps_prefix if s[0] != "opt")
                if cleaned[:len(pref)] == pref \
                        and len(cleaned) > len(pref) \
                        and cleaned[len(pref)][0] == "rep":
                    rep_step = cleaned[len(pref)]
                    break
            new_prefix = steps_prefix + ((rep_step,) if rep_step else ())
            items = [conv_value(v, new_prefix) for v in val]
            full = tuple(s for s in new_prefix if s[0] != "opt")
            for mp in map_set:
                if tuple(s for s in mp if s[0] != "opt") == full:
                    return {e["key"]: e["value"] for e in items
                            if isinstance(e, dict)}
            return items
        return val

    out = []
    for cell in records:
        out.append(conv_value(cell[0], ()))
    return out


# --------------------------------------------------------------------------
# Spark surfaces.

PARQUET_META_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("num_rows", LongType()),
    StructField("n_row_groups", IntegerType()),
    StructField("n_leaf_columns", IntegerType()),
    StructField("chunk_values_sum", LongType()),
    StructField("codec_id", IntegerType()),
    StructField("stat_min_i64", LongType()),
    StructField("stat_max_i64", LongType()),
    StructField("decode_error", StringType()),
])


def _first_int_stats(meta: dict) -> tuple[int | None, int | None]:
    """min/max of the first INT64 leaf across row groups (from the
    footer Statistics, PLAIN little-endian)."""
    lo = hi = None
    for rg in meta["row_groups"]:
        for cc in rg["columns"]:
            if cc["type"] != _PT_INT64:
                continue
            mn, mx = cc["stat_min"], cc["stat_max"]
            if mn is None or mx is None:
                continue
            mn = int.from_bytes(mn, "little", signed=True)
            mx = int.from_bytes(mx, "little", signed=True)
            lo = mn if lo is None else min(lo, mn)
            hi = mx if hi is None else max(hi, mx)
            break
    return lo, hi


def decode_parquet_meta(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """Arrow ``mapInPandas`` wrapper over :func:`parquet_file_meta` —
    footer-only introspection (row counts, layout, first-INT64-column
    statistics); per-payload quarantine, no shuffle."""

    def _parse(payload) -> dict:
        m = parquet_file_meta(bytes(payload))
        leaves = [s for s in m["schema"][1:] if not s["num_children"]]
        chunks = [cc for rg in m["row_groups"] for cc in rg["columns"]]
        lo, hi = _first_int_stats(m)
        return {"num_rows": m["num_rows"],
                "n_row_groups": len(m["row_groups"]),
                "n_leaf_columns": len(leaves),
                "chunk_values_sum": sum(cc["num_values"] or 0
                                        for cc in chunks),
                "codec_id": chunks[0]["codec"] if chunks else None,
                "stat_min_i64": lo, "stat_max_i64": hi}

    return decode_map(df, _parse, PARQUET_META_SCHEMA,
                      (ValueError, IndexError), id_col, payload_col)


PARQUET_COLSUM_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("n_values", LongType()),
    StructField("n_nulls", LongType()),
    StructField("value_sum", LongType()),
    StructField("decode_error", StringType()),
])


def decode_parquet_column_sum(
    df: DataFrame, column: str,
    id_col: str = "doc_id", payload_col: str = "payload",
) -> DataFrame:
    """Arrow ``mapInPandas`` wrapper over :func:`parquet_read_column`
    for an integer column — count/nulls/sum straight from the raw
    page bytes (dictionary + plain, all supported codecs)."""

    def _parse(payload) -> dict:
        vals = parquet_read_column(bytes(payload), column)
        present = [v for v in vals if v is not None]
        return {"n_values": len(vals), "n_nulls": len(vals) - len(present),
                "value_sum": sum(present)}

    return decode_map(df, _parse, PARQUET_COLSUM_SCHEMA,
                      (ValueError, IndexError), id_col, payload_col)


PARQUET_LISTSUM_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("n_rows", LongType()),
    StructField("n_null_lists", LongType()),
    StructField("n_empty_lists", LongType()),
    StructField("n_elems", LongType()),
    StructField("n_null_elems", LongType()),
    StructField("elem_sum", LongType()),
    StructField("decode_error", StringType()),
])


def decode_parquet_list_sum(
    df: DataFrame, column: str,
    id_col: str = "doc_id", payload_col: str = "payload",
) -> DataFrame:
    """Arrow ``mapInPandas`` wrapper over
    :func:`parquet_read_list_column` — null-list / empty-list /
    element tallies straight from the rep/def level streams."""

    def _parse(payload) -> dict:
        lists = parquet_read_list_column(bytes(payload), column)
        elems = [e for x in lists if x for e in x]
        return {"n_rows": len(lists),
                "n_null_lists": sum(1 for x in lists if x is None),
                "n_empty_lists": sum(1 for x in lists if x == []),
                "n_elems": len(elems),
                "n_null_elems": sum(1 for e in elems if e is None),
                "elem_sum": sum(e for e in elems if e is not None)}

    return decode_map(df, _parse, PARQUET_LISTSUM_SCHEMA,
                      (ValueError, IndexError), id_col, payload_col)


PARQUET_NESTED_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("n_rows", LongType()),
    StructField("n_null_rows", LongType()),
    StructField("a_sum", LongType()),
    StructField("n_tags", LongType()),
    StructField("tags_chars", LongType()),
    StructField("pts_n", LongType()),
    StructField("x_sum", LongType()),
    StructField("y_nulls", LongType()),
    StructField("m_entries", LongType()),
    StructField("m_val_sum", LongType()),
    StructField("decode_error", StringType()),
])


def nested_struct_tallies(recs: list) -> dict:
    """Tallies for the shared struct{a, tags, pts, m} nested-fixture
    shape — used by the parquet AND orc nested driver queries (both
    readers materialize the identical dict/list representation)."""
    live = [r for r in recs if r is not None]
    tags = [t for r in live if r["tags"] is not None
            for t in r["tags"]]
    pts = [p for r in live for p in r["pts"]]
    ments = [v for r in live for v in r["m"].values()]
    return {
        "n_rows": len(recs),
        "n_null_rows": len(recs) - len(live),
        "a_sum": sum(r["a"] for r in live if r["a"] is not None),
        "n_tags": len(tags),
        "tags_chars": sum(len(t) for t in tags if t is not None),
        "pts_n": len(pts),
        "x_sum": sum(p["x"] for p in pts),
        "y_nulls": sum(1 for p in pts if p["y"] is None),
        "m_entries": len(ments),
        "m_val_sum": sum(v for v in ments if v is not None),
    }


def decode_parquet_nested_stats(
    df: DataFrame, column: str = "v",
    id_col: str = "doc_id", payload_col: str = "payload",
) -> DataFrame:
    """Arrow ``mapInPandas`` wrapper over :func:`parquet_read_nested`
    for the struct{a, tags:list<string>, pts:list<struct{x,y}>,
    m:map<string,int64>} shape — every tally comes from the general
    Dremel assembly, exercising multi-level def/rep decoding, struct
    merge across four leaf columns, 3-level lists, and the MAP
    key_value path.  Per-payload quarantine, no shuffle."""

    def _parse(payload) -> dict:
        return nested_struct_tallies(
            parquet_read_nested(bytes(payload), column))

    return decode_map(df, _parse, PARQUET_NESTED_SCHEMA,
                      (ValueError, IndexError, TypeError, KeyError),
                      id_col, payload_col)


PARQUET_TS96_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("n_values", LongType()),
    StructField("n_nulls", LongType()),
    StructField("ts_min_ns", LongType()),
    StructField("ts_max_ns", LongType()),
    StructField("ts_subsec", LongType()),
    StructField("subsec_sum", LongType()),
    StructField("decode_error", StringType()),
])


def decode_parquet_ts96(
    df: DataFrame, column: str,
    id_col: str = "doc_id", payload_col: str = "payload",
) -> DataFrame:
    """Arrow ``mapInPandas`` wrapper over :func:`parquet_read_column`
    for a legacy INT96 timestamp column — range and sub-second
    tallies (int64-safe, as in orc_meta.decode_orc_ts_dec)."""

    def _parse(payload) -> dict:
        vals = parquet_read_column(bytes(payload), column)
        pts = [v for v in vals if v is not None]
        subs = [v % 1_000_000_000 for v in pts]
        return {"n_values": len(vals), "n_nulls": len(vals) - len(pts),
                "ts_min_ns": min(pts) if pts else None,
                "ts_max_ns": max(pts) if pts else None,
                "ts_subsec": sum(1 for v in subs if v),
                "subsec_sum": sum(subs)}

    return decode_map(df, _parse, PARQUET_TS96_SCHEMA,
                      (ValueError, IndexError), id_col, payload_col)


# --------------------------------------------------------------------------
# Page indexes (r12): ColumnIndex / OffsetIndex (parquet-format
# PageIndex.md) and an index-driven range scan that decodes ONLY the
# pages whose [min, max] overlaps the predicate — the real machinery
# behind page-level predicate pushdown.


def parquet_page_index(data: bytes, column: str) -> list[dict]:
    """Per row group: the column's ColumnIndex (null_pages,
    min/max binaries, boundary_order, null_counts) and OffsetIndex
    (page offset / compressed size / first_row_index)."""
    meta = parquet_file_meta(data)
    out = []
    for rg in meta["row_groups"]:
        chunk = _find_chunk(rg, lambda p: p == [column])
        cio, cil = chunk.get("column_index_offset"), \
            chunk.get("column_index_length")
        oio, oil = chunk.get("offset_index_offset"), \
            chunk.get("offset_index_length")
        if cio is None or oio is None:
            raise ValueError("parquet: page index absent")
        if cio + cil > len(data) or oio + oil > len(data):
            raise ValueError("parquet: page index overruns file")
        ci, _ = thrift_compact_struct(data[cio:cio + cil])
        oi, _ = thrift_compact_struct(data[oio:oio + oil])
        pages = []
        for loc in oi.get(1) or []:
            pages.append({"offset": loc.get(1),
                          "compressed_page_size": loc.get(2),
                          "first_row_index": loc.get(3)})
        out.append({
            "null_pages": ci.get(1) or [],
            "min_values": ci.get(2) or [],
            "max_values": ci.get(3) or [],
            "boundary_order": ci.get(4, 0),
            "null_counts": ci.get(5) or [],
            "pages": pages,
        })
    return out


def _decode_page_at(data: bytes, pos: int, chunk: dict, max_def: int,
                    dictionary: list | None,
                    type_length: int | None) -> tuple[list, list]:
    """Decode the single data page at ``pos`` → (defs, present
    values).  Flat columns only (the range scan's domain)."""
    ph, body_pos = thrift_compact_struct(data, pos)
    page_type = ph.get(1)
    comp_size = ph.get(3)
    unc_size = ph.get(2)
    if not (isinstance(comp_size, int) and comp_size >= 0
            and isinstance(unc_size, int) and unc_size >= 0):
        raise ValueError("parquet: corrupt page header sizes")
    body = bytes(data[body_pos:body_pos + comp_size])
    if len(body) != comp_size:
        raise ValueError("parquet: truncated page body")
    ptype = chunk["type"]
    def_w = max_def.bit_length()
    if page_type == 0:  # v1
        raw = _decompress_page(chunk["codec"], body, unc_size)
        dh = ph.get(5) or {}
        nvals = dh.get(1)
        enc = dh.get(2)
        vpos = 0
        if max_def:
            dlen = int.from_bytes(raw[0:4], "little")
            defs = _rle_bp_hybrid(raw, 4, 4 + dlen, def_w, nvals)
            vpos = 4 + dlen
        else:
            defs = [max_def] * nvals
        vals_buf = raw
    elif page_type == 3:  # v2
        dh = ph.get(8) or {}
        nvals = dh.get(1)
        enc = dh.get(4)
        dll = dh.get(5, 0)
        rll = dh.get(6, 0)
        is_comp = dh.get(7, True)
        defs = ([max_def] * nvals if not max_def else
                _rle_bp_hybrid(body, rll, rll + dll, def_w, nvals))
        tail = body[rll + dll:]
        if chunk["codec"] and is_comp:
            tail = _decompress_page(chunk["codec"], tail,
                                    unc_size - dll - rll)
        vals_buf = tail
        vpos = 0
    else:
        raise ValueError(f"parquet: page type {page_type} at offset")
    npresent = sum(1 for d in defs if d == max_def)
    if enc == 0:
        present = _plain_values(ptype, vals_buf[vpos:], npresent,
                                type_length)
    elif enc in (2, 8):
        if dictionary is None:
            raise ValueError("parquet: dictionary page missing")
        bw = vals_buf[vpos] if npresent else 0
        idx = _rle_bp_hybrid(vals_buf, vpos + 1, len(vals_buf),
                             bw, npresent)
        try:
            present = [dictionary[i] for i in idx]
        except IndexError:
            raise ValueError("parquet: dictionary index out of "
                             "range") from None
    else:
        raise ValueError("parquet: range scan supports PLAIN/"
                         "DICTIONARY pages")
    return defs, present


def parquet_read_int_range(data: bytes, column: str, lo: int,
                           hi: int) -> dict:
    """Index-driven range scan of a flat INT32/INT64 column: the
    ColumnIndex min/max prunes pages, the OffsetIndex seeks straight
    to the survivors, and only those decode.  Returns matching count/
    sum plus pages_read/pages_total — the pruning evidence."""
    meta = parquet_file_meta(data)
    leaves = _leaf_levels(meta["schema"])
    leaf = leaves.get((column,))
    if leaf is None:
        raise ValueError(f"parquet: no column {column!r}")
    max_def, max_rep, el = leaf
    if max_rep:
        raise ValueError("parquet: repeated columns gated")
    if el.get("type") not in (_PT_INT32, _PT_INT64):
        raise ValueError("parquet: range scan is for int columns")
    width = 4 if el["type"] == _PT_INT32 else 8
    idx = parquet_page_index(data, column)
    n_match = 0
    v_sum = 0
    pages_read = 0
    pages_total = 0
    for rg, rgidx in zip(meta["row_groups"], idx):
        chunk = _find_chunk(rg, lambda p: p == [column])
        dictionary = None
        dpo = chunk.get("dictionary_page_offset")
        if dpo is not None:
            ph, pos = thrift_compact_struct(data, dpo)
            if ph.get(1) == 2:
                raw = _decompress_page(
                    chunk["codec"],
                    bytes(data[pos:pos + ph.get(3, 0)]), ph.get(2, 0))
                dph = ph.get(7) or {}
                dictionary = _plain_values(chunk["type"], raw,
                                           dph.get(1),
                                           el.get("type_length"))
        pages = rgidx["pages"]
        pages_total += len(pages)
        for i, page in enumerate(pages):
            if i < len(rgidx["null_pages"]) and rgidx["null_pages"][i]:
                continue  # all-null page: nothing can match
            mn = rgidx["min_values"][i]
            mx = rgidx["max_values"][i]
            pmin = int.from_bytes(mn[:width], "little", signed=True)
            pmax = int.from_bytes(mx[:width], "little", signed=True)
            if pmax < lo or pmin > hi:
                continue  # pruned without touching the page bytes
            pages_read += 1
            _defs, present = _decode_page_at(
                data, page["offset"], chunk, max_def, dictionary,
                el.get("type_length"))
            for v in present:
                if lo <= v <= hi:
                    n_match += 1
                    v_sum += v
    return {"n_match": n_match, "value_sum": v_sum,
            "pages_read": pages_read, "pages_total": pages_total}


PARQUET_RANGE_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("n_match", LongType()),
    StructField("value_sum", LongType()),
    StructField("skipped_pages", LongType()),
    StructField("decode_error", StringType()),
])


def decode_parquet_range_scan(
    df: DataFrame, column: str,
    id_col: str = "doc_id", payload_col: str = "payload",
    lo_col: str = "lo", hi_col: str = "hi",
) -> DataFrame:
    """Arrow ``mapInPandas`` wrapper over
    :func:`parquet_read_int_range` — per-payload predicate ranges
    from ``lo``/``hi`` columns; ``skipped_pages`` counts the pages
    the ColumnIndex pruned away without touching their bytes."""

    def _parse(payload, lo, hi) -> dict:
        r = parquet_read_int_range(bytes(payload), column, int(lo), int(hi))
        return {"n_match": r["n_match"], "value_sum": r["value_sum"],
                "skipped_pages": r["pages_total"] - r["pages_read"]}

    return decode_map(df, _parse, PARQUET_RANGE_SCHEMA,
                      (ValueError, IndexError), id_col,
                      [payload_col, lo_col, hi_col])


# --------------------------------------------------------------------------
# Bloom filters (r13) — parquet-format BloomFilter.md: split-block
# bloom (SBBF).  Each filter is a thrift BloomFilterHeader (numBytes,
# algorithm=BLOCK, hash=XXHASH, compression=UNCOMPRESSED) followed by
# a bitset of 32-byte blocks (8 little-endian u32 words).  A value
# hashes with xxhash64 (seed 0) over its PLAIN encoding; the high 32
# hash bits pick the block (multiply-shift), the low 32 set one bit
# per word via the 8 published salt constants.  Point lookups skip
# entire row groups whose filter proves the value absent — no false
# negatives, bounded false positives.

_BLOOM_SALT = (0x47B6137B, 0x44974D91, 0x8824AD5B, 0xA2B7289D,
               0x705495C7, 0x2DF1424B, 0x9EFC4947, 0x5C6BFB31)


def bloom_block_check(bitset: bytes, block_ix: int, h: int) -> bool:
    """True iff all 8 salted bits of ``h``'s low word are set in
    block ``block_ix``."""
    import struct as _struct

    base = block_ix * 32
    words = _struct.unpack_from("<8I", bitset, base)
    hl = h & 0xFFFFFFFF
    for i in range(8):
        bit = ((hl * _BLOOM_SALT[i]) & 0xFFFFFFFF) >> 27
        if not (words[i] >> bit) & 1:
            return False
    return True


def bloom_insert(bitset: bytearray, h: int) -> None:
    """Set ``h``'s 8 salted bits (the SBBF insert — used by the
    fixture producer and pinned byte-for-byte against parquet-mr's
    own filters in tests/test_parquet_bloom.py)."""
    import struct as _struct

    nblocks = len(bitset) // 32
    block_ix = ((h >> 32) * nblocks) >> 32
    base = block_ix * 32
    hl = h & 0xFFFFFFFF
    for i in range(8):
        bit = ((hl * _BLOOM_SALT[i]) & 0xFFFFFFFF) >> 27
        w = _struct.unpack_from("<I", bitset, base + 4 * i)[0]
        _struct.pack_into("<I", bitset, base + 4 * i, w | (1 << bit))


def bloom_hash_int64(v: int) -> int:
    """xxhash64 (seed 0) over the PLAIN encoding of an INT64."""
    from .zstd import xxh64

    return xxh64(int(v).to_bytes(8, "little", signed=True))


def parquet_read_bloom(data: bytes, column: str) -> list:
    """Per row group: (num_bytes, bitset bytes) of ``column``'s bloom
    filter, or None when the chunk carries none."""
    meta = parquet_file_meta(data)
    out = []
    for rg in meta["row_groups"]:
        chunk = _find_chunk(rg, lambda p: p == [column])
        off = chunk.get("bloom_offset")
        if off is None:
            out.append(None)
            continue
        hdr, pos = thrift_compact_struct(data, off)
        nbytes = hdr.get(1)
        if not isinstance(nbytes, int) or nbytes <= 0:
            raise ValueError("parquet: bad bloom numBytes")
        if nbytes % 32:
            raise ValueError("parquet: bloom bitset not block-aligned")
        if 2 not in hdr or 3 not in hdr or 4 not in hdr:
            raise ValueError("parquet: bloom header missing unions")
        if not isinstance(hdr[2], dict) or 1 not in hdr[2]:
            raise ValueError("parquet: bloom algorithm gated")
        if not isinstance(hdr[3], dict) or 1 not in hdr[3]:
            raise ValueError("parquet: bloom hash gated")
        if not isinstance(hdr[4], dict) or 1 not in hdr[4]:
            raise ValueError("parquet: compressed bloom gated")
        bitset = data[pos:pos + nbytes]
        if len(bitset) != nbytes:
            raise ValueError("parquet: truncated bloom bitset")
        length = chunk.get("bloom_length")
        if length is not None and pos + nbytes - off != length:
            raise ValueError("parquet: bloom length mismatch")
        out.append((nbytes, bitset))
    return out


def parquet_bloom_lookup(data: bytes, column: str,
                         probes: list[int]) -> dict:
    """Point lookups over an INT64 column using bloom-based row-group
    skipping: each probe reads ONLY the row groups whose filter says
    maybe-present.  Returns deterministic tallies (groups, probes,
    per-probe occurrence counts summed) plus the bloom-pass pair
    count — the skipping evidence (pass_pairs < n_probes * n_groups
    proves groups were skipped; a false negative would drop
    found_sum and fail the oracle)."""
    meta = parquet_file_meta(data)
    leaves = _leaf_levels(meta["schema"])
    leaf = leaves.get((column,))
    if leaf is None:
        raise ValueError(f"parquet: no column {column!r}")
    max_def, max_rep, el = leaf
    if max_rep:
        raise ValueError("parquet: repeated columns gated")
    blooms = parquet_read_bloom(data, column)
    if any(b is None for b in blooms):
        raise ValueError("parquet: row group without a bloom filter")
    hashes = [bloom_hash_int64(p) for p in probes]
    group_vals: dict[int, list] = {}
    pass_pairs = 0
    present_pairs = 0
    found_sum = 0
    for pi, (probe, h) in enumerate(zip(probes, hashes)):
        for gi, rg in enumerate(meta["row_groups"]):
            nbytes, bitset = blooms[gi]
            nblocks = nbytes // 32
            block_ix = ((h >> 32) * nblocks) >> 32
            if not bloom_block_check(bitset, block_ix, h):
                continue  # proven absent: the row group is skipped
            pass_pairs += 1
            if gi not in group_vals:
                chunk = _find_chunk(rg, lambda p: p == [column])
                defs, _reps, present = _read_chunk(
                    data, chunk, max_def, max_rep,
                    el.get("type_length"))
                it = iter(present)
                group_vals[gi] = [next(it) if d == max_def else None
                                  for d in defs]
            hits = sum(1 for v in group_vals[gi] if v == probe)
            if hits:
                present_pairs += 1
                found_sum += hits
    return {
        "n_groups": len(meta["row_groups"]),
        "n_probes": len(probes),
        "pass_pairs": pass_pairs,
        "present_pairs": present_pairs,
        "found_sum": found_sum,
        "groups_read": len(group_vals),
    }


PARQUET_BLOOM_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("n_groups", IntegerType()),
    StructField("n_probes", IntegerType()),
    StructField("present_pairs", LongType()),
    StructField("found_sum", LongType()),
    StructField("decode_error", StringType()),
])


def decode_parquet_bloom_probe(
    df: DataFrame, column: str,
    id_col: str = "doc_id", payload_col: str = "payload",
    probes_col: str = "probes",
) -> DataFrame:
    """Arrow ``mapInPandas`` wrapper over
    :func:`parquet_bloom_lookup`; the probe values arrive as an
    array column next to the payload.  Only the DETERMINISTIC
    tallies surface here (bloom false-positive counts vary with the
    hash layout and are pinned in pytest instead); a false NEGATIVE
    — the correctness failure mode — drops found_sum and fails the
    DuckDB oracle.  Per-payload quarantine, no shuffle."""

    def _parse(payload, probes) -> dict:
        return parquet_bloom_lookup(bytes(payload), column,
                                    [int(p) for p in probes])

    return decode_map(df, _parse, PARQUET_BLOOM_SCHEMA,
                      (ValueError, IndexError, TypeError, KeyError),
                      id_col, [payload_col, probes_col])


# --------------------------------------------------------------------------
# DECIMAL columns (r13) — parquet LogicalTypes.md: DECIMAL annotates
# INT32/INT64 (unscaled little-int) or FIXED_LEN_BYTE_ARRAY /
# BYTE_ARRAY (unscaled BIG-ENDIAN two's complement, the layout
# parquet-cpp writes for decimal128).


def parquet_read_decimal_column(data: bytes,
                                column: str) -> tuple[list, int]:
    """Materialize one DECIMAL column as (unscaled ints with None for
    null, declared scale): converted_type must be DECIMAL(5); FLBA /
    BYTE_ARRAY payloads sign-decode big-endian."""
    meta = parquet_file_meta(data)
    el = next((s for s in meta["schema"]
               if s["name"] == column and not s["num_children"]), None)
    if el is None:
        raise ValueError(f"parquet: no column {column!r}")
    if el.get("converted_type") != 5:
        raise ValueError(f"parquet: column {column!r} is not DECIMAL")
    scale = el.get("scale") or 0
    raw = parquet_read_column(data, column)
    ptype = el["type"]
    if ptype in (1, 2):  # INT32 / INT64 carry the unscaled value
        return raw, scale
    if ptype in (6, 7):  # BYTE_ARRAY / FLBA: big-endian signed
        out = [None if v is None
               else int.from_bytes(v, "big", signed=True) for v in raw]
        return out, scale
    raise ValueError(f"parquet: DECIMAL physical type {ptype} gated")


PARQUET_DECIMAL_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("n_values", LongType()),
    StructField("n_nulls", LongType()),
    StructField("scale", IntegerType()),
    StructField("unscaled_sum", LongType()),
    StructField("unscaled_min", LongType()),
    StructField("unscaled_max", LongType()),
    StructField("decode_error", StringType()),
])


def decode_parquet_decimal(
    df: DataFrame, column: str,
    id_col: str = "doc_id", payload_col: str = "payload",
) -> DataFrame:
    """Arrow ``mapInPandas`` wrapper over
    :func:`parquet_read_decimal_column`; per-payload quarantine, no
    shuffle."""

    def _parse(payload) -> dict:
        vals, scale = parquet_read_decimal_column(bytes(payload), column)
        pv = [v for v in vals if v is not None]
        return {"n_values": len(vals), "n_nulls": len(vals) - len(pv),
                "scale": scale, "unscaled_sum": sum(pv),
                "unscaled_min": min(pv) if pv else None,
                "unscaled_max": max(pv) if pv else None}

    return decode_map(df, _parse, PARQUET_DECIMAL_SCHEMA,
                      (ValueError, IndexError, TypeError, KeyError),
                      id_col, payload_col)


# --------------------------------------------------------------------------
# Page CRCs (r13) — PageHeader.crc: CRC-32 (zlib polynomial) over the
# page's COMPRESSED bytes; written by parquet-mr and by parquet-cpp
# under write_page_checksum, verified by readers to catch torn or
# bit-rotted pages before decode propagates garbage.


def parquet_verify_page_crcs(data: bytes, column: str) -> dict:
    """Walk every page of ``column``'s chunks verifying stored CRCs →
    {n_pages, n_crc, n_row_groups}; a mismatch is a named error."""
    import zlib as _zlib

    meta = parquet_file_meta(data)
    n_pages = n_crc = 0
    for rg in meta["row_groups"]:
        chunk = _find_chunk(rg, lambda p: p == [column])
        start = chunk["dictionary_page_offset"]
        if start is None:
            start = chunk["data_page_offset"]
        total = chunk["total_compressed_size"]
        pos = start
        end = start + total
        while pos < end:
            hdr, body = thrift_compact_struct(data, pos)
            comp_size = hdr.get(3)
            if not isinstance(comp_size, int) or comp_size < 0:
                raise ValueError("parquet: bad page compressed size")
            page = data[body:body + comp_size]
            if len(page) != comp_size:
                raise ValueError("parquet: truncated page body")
            n_pages += 1
            crc = hdr.get(4)
            if crc is not None:
                n_crc += 1
                if _zlib.crc32(page) != crc & 0xFFFFFFFF:
                    raise ValueError(
                        f"parquet: page CRC mismatch in {column!r}")
            pos = body + comp_size
    return {"n_pages": n_pages, "n_crc": n_crc,
            "n_row_groups": len(meta["row_groups"])}


PARQUET_CRC_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("n_pages", IntegerType()),
    StructField("n_crc", IntegerType()),
    StructField("n_values", LongType()),
    StructField("value_sum", LongType()),
    StructField("decode_error", StringType()),
])


def decode_parquet_crc_scan(
    df: DataFrame, column: str,
    id_col: str = "doc_id", payload_col: str = "payload",
) -> DataFrame:
    """Arrow ``mapInPandas`` wrapper: verify every page CRC of
    ``column`` (named error on mismatch), then read the column —
    integrity-checked scan; per-payload quarantine, no shuffle."""

    def _parse(payload) -> dict:
        blob = bytes(payload)
        v = parquet_verify_page_crcs(blob, column)
        vals = parquet_read_column(blob, column)
        return {"n_pages": v["n_pages"], "n_crc": v["n_crc"],
                "n_values": len(vals),
                "value_sum": sum(x for x in vals if x is not None)}

    return decode_map(df, _parse, PARQUET_CRC_SCHEMA,
                      (ValueError, IndexError, TypeError, KeyError),
                      id_col, payload_col)
