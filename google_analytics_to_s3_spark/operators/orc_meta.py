"""ORC file metadata from raw bytes — public Apache ORC spec
(orc.apache.org/specification): postscript + footer protobufs and
the ORC chunked-compression framing.

The second pillar of the columnar data-lake (Hive/Trino ecosystems)
next to Parquet; the engine reads its layout without an ORC library:

- **Postscript** (always uncompressed, its length in the file's last
  byte): footerLength, compression kind, compressionBlockSize,
  version, metadataLength, the trailing ``ORC`` magic.
- **Compression framing**: each compressed section is a sequence of
  chunks with a 3-byte little-endian header ``(length << 1) |
  is_original``; chunk codecs ZLIB (raw deflate, stdlib), SNAPPY
  (operators/snappy.py block format), LZ4 (operators/lz4.py raw
  block), ZSTD (operators/zstd.py frames) — the engine's own byte
  decoders; LZO stays a named gate.
- **Footer protobuf**: a deterministic wire-format reader (varints,
  zigzag where the .proto says ``sint64``, length-delimited
  submessages — schema-directed, unlike the heuristic
  operators/protowire.py walker) extracts content length, stripe
  list (offset/index/data/footer lengths, row counts), the type
  tree (kinds, packed-or-not subtypes), file row count, and per-
  column statistics (IntegerStatistics min/max/sum).

Cross-validation: tests compare against pyarrow's ORC reader (the
Apache ORC C++ library) across compression kinds and multi-stripe
layouts — a green test proves this reads real ORC.
"""

from __future__ import annotations

import functools as _functools
import zlib

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)
from .bitio import MsbBits, uvarint, zigzag
from .payload_memo import decode_map

__all__ = ["pb_message", "parse_orc_meta", "decode_orc_meta",
           "rlev2_decode", "orc_read_int_column",
           "decode_orc_column_sum", "orc_read_string_column",
           "decode_orc_string_sum", "orc_read_timestamp_column",
           "orc_read_decimal_column", "decode_orc_ts_dec",
           "orc_read_nested_column", "decode_orc_nested_stats",
           "decode_orc_ts_utc", "decode_orc_union_stats"]

_MAX_SECTION = 64 * 1024 * 1024


# --------------------------------------------------------------------------
# Minimal deterministic protobuf wire reader: field id -> list of raw
# values (ints for varint/fixed, bytes for length-delimited).


def pb_message(data: bytes) -> dict[int, list]:
    """Decode one protobuf message's wire fields: ``{field_id:
    [values...]}`` — ints for wire types 0/1/5, bytes for 2."""
    fields: dict[int, list] = {}
    pos = 0
    while pos < len(data):
        key, pos = uvarint(data, pos, 11, "orc")
        fid = key >> 3
        wt = key & 7
        if fid == 0:
            raise ValueError("orc: protobuf field 0")
        if wt == 0:
            v, pos = uvarint(data, pos, 11, "orc")
        elif wt == 1:
            if pos + 8 > len(data):
                raise ValueError("orc: truncated fixed64")
            v = int.from_bytes(data[pos:pos + 8], "little")
            pos += 8
        elif wt == 5:
            if pos + 4 > len(data):
                raise ValueError("orc: truncated fixed32")
            v = int.from_bytes(data[pos:pos + 4], "little")
            pos += 4
        elif wt == 2:
            n, pos = uvarint(data, pos, 11, "orc")
            if pos + n > len(data):
                raise ValueError("orc: truncated length-delimited field")
            v = bytes(data[pos:pos + n])
            pos += n
        else:
            raise ValueError(f"orc: unsupported wire type {wt}")
        fields.setdefault(fid, []).append(v)
    return fields


def _pb_one(fields: dict, fid: int, default=None):
    vals = fields.get(fid)
    return vals[-1] if vals else default


def _pb_packed_varints(fields: dict, fid: int) -> list[int]:
    """A proto2 repeated integer field: either unpacked (wire type 0
    per element) or packed (one length-delimited blob)."""
    out: list[int] = []
    for v in fields.get(fid, []):
        if isinstance(v, int):
            out.append(v)
        else:
            pos = 0
            while pos < len(v):
                x, pos = uvarint(v, pos, 11, "orc")
                out.append(x)
    return out


# --------------------------------------------------------------------------
# ORC sections.

_COMP_NAMES = {0: "NONE", 1: "ZLIB", 2: "SNAPPY", 3: "LZO", 4: "LZ4",
               5: "ZSTD"}


def _decompress_section(data: bytes, kind: int) -> bytes:
    if kind == 0:
        return data
    out = bytearray()
    pos = 0
    while pos < len(data):
        if pos + 3 > len(data):
            raise ValueError("orc: truncated chunk header")
        h = int.from_bytes(data[pos:pos + 3], "little")
        pos += 3
        is_orig = h & 1
        n = h >> 1
        chunk = data[pos:pos + n]
        if len(chunk) != n:
            raise ValueError("orc: truncated chunk body")
        pos += n
        if is_orig:
            out += chunk
        elif kind == 1:
            try:
                out += zlib.decompress(chunk, -15)
            except zlib.error as e:
                raise ValueError(f"orc: corrupt zlib chunk ({e})") \
                    from None
        elif kind == 2:
            from .snappy import snappy_uncompress

            out += snappy_uncompress(chunk)
        elif kind == 4:
            from .lz4 import _decode_lz4_block

            out += _decode_lz4_block(chunk, _MAX_SECTION)
        elif kind == 5:
            from .zstd import decompress_zstd

            out += decompress_zstd(chunk)
        else:
            raise ValueError(
                f"orc: codec {_COMP_NAMES.get(kind, kind)} gated")
        if len(out) > _MAX_SECTION:
            raise ValueError("orc: section exceeds size cap")
    return bytes(out)


def parse_orc_meta(data: bytes) -> dict:
    """Parse postscript + footer of an ORC file (bytes) into a plain
    dict: row count, compression, stripes, type kinds, per-column
    IntegerStatistics."""
    if len(data) < 16 or data[:3] != b"ORC":
        raise ValueError("orc: missing ORC magic")
    psl = data[-1]
    if psl == 0 or psl + 1 > len(data):
        raise ValueError("orc: bad postscript length")
    ps = pb_message(data[-1 - psl:-1])
    footer_len = _pb_one(ps, 1, 0)
    compression = _pb_one(ps, 2, 0)
    block_size = _pb_one(ps, 3)
    metadata_len = _pb_one(ps, 5, 0)
    magic = _pb_one(ps, 8000)
    if magic is not None and magic != b"ORC":
        raise ValueError("orc: postscript magic mismatch")
    if not isinstance(footer_len, int) or footer_len <= 0 \
            or footer_len + psl + 1 > len(data):
        raise ValueError("orc: footer length overruns file")
    fstart = len(data) - 1 - psl - footer_len
    footer = pb_message(_decompress_section(
        data[fstart:fstart + footer_len], compression))
    stripes = []
    for raw in footer.get(3, []):
        if not isinstance(raw, bytes):
            raise ValueError("orc: malformed stripe information")
        si = pb_message(raw)
        stripes.append({
            "offset": _pb_one(si, 1),
            "index_length": _pb_one(si, 2),
            "data_length": _pb_one(si, 3),
            "footer_length": _pb_one(si, 4),
            "num_rows": _pb_one(si, 5),
        })
    types = []
    for raw in footer.get(4, []):
        if not isinstance(raw, bytes):
            raise ValueError("orc: malformed type node")
        ty = pb_message(raw)
        types.append({
            "kind": _pb_one(ty, 1, 0),
            "subtypes": _pb_packed_varints(ty, 2),
            "field_names": [n.decode("utf-8", "replace")
                            for n in ty.get(3, [])
                            if isinstance(n, bytes)],
            "precision": _pb_one(ty, 5),
            "scale": _pb_one(ty, 6),
        })
    stats = []
    for raw in footer.get(7, []):
        if not isinstance(raw, bytes):
            raise ValueError("orc: malformed column statistics")
        cs = pb_message(raw)
        ints = _pb_one(cs, 2)
        entry = {"num_values": _pb_one(cs, 1),
                 "int_min": None, "int_max": None, "int_sum": None}
        if isinstance(ints, bytes):
            s = pb_message(ints)
            for key, fid in (("int_min", 1), ("int_max", 2),
                             ("int_sum", 3)):
                v = _pb_one(s, fid)
                if isinstance(v, int):
                    entry[key] = zigzag(v)
        stats.append(entry)
    return {
        "compression": compression,
        "compression_name": _COMP_NAMES.get(compression, "UNKNOWN"),
        "compression_block_size": block_size,
        "footer_length": footer_len,
        "metadata_length": metadata_len,
        "content_length": _pb_one(footer, 2),
        "num_rows": _pb_one(footer, 6),
        "row_index_stride": _pb_one(footer, 8),
        "stripes": stripes,
        "types": types,
        "statistics": stats,
    }


# --------------------------------------------------------------------------
# Spark surface.

_ORC_ERRORS = (ValueError, IndexError, TypeError, KeyError)

ORC_META_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("num_rows", LongType()),
    StructField("n_stripes", IntegerType()),
    StructField("compression_id", IntegerType()),
    StructField("n_types", IntegerType()),
    StructField("stripe_rows_sum", LongType()),
    StructField("int_min", LongType()),
    StructField("int_max", LongType()),
    StructField("int_sum", LongType()),
    StructField("decode_error", StringType()),
])


def decode_orc_meta(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """Arrow ``mapInPandas`` wrapper over :func:`parse_orc_meta` —
    layout plus first-integer-column statistics; per-payload
    quarantine, no shuffle."""

    def _parse(payload) -> dict:
        m = parse_orc_meta(bytes(payload))
        ints = next((s for s in m["statistics"]
                     if s["int_min"] is not None), None)
        return {"num_rows": m["num_rows"], "n_stripes": len(m["stripes"]),
                "compression_id": m["compression"],
                "n_types": len(m["types"]),
                "stripe_rows_sum": sum(s["num_rows"] or 0
                                       for s in m["stripes"]),
                "int_min": ints["int_min"] if ints else None,
                "int_max": ints["int_max"] if ints else None,
                "int_sum": ints["int_sum"] if ints else None}

    return decode_map(df, _parse, ORC_META_SCHEMA,
                      (ValueError, IndexError, TypeError),
                      id_col, payload_col)


# --------------------------------------------------------------------------
# Column data: RLEv2 integer streams (ORC spec "Run Length Encoding
# version 2") + boolean-RLE present streams.  Cross-validated against
# the Apache ORC C++ writer in tests/test_orc_meta.py across data
# shapes that force each sub-encoding (SHORT_REPEAT / DIRECT / DELTA
# / PATCHED_BASE).

_RLE_WIDTHS = [1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15, 16,
               17, 18, 19, 20, 21, 22, 23, 24, 26, 28, 30, 32, 40, 48,
               56, 64]


def _closest_fixed_bits(n: int) -> int:
    """Smallest entry of the RLEv2 width table ≥ n (the reference
    readers' closestFixedBits)."""
    for w in _RLE_WIDTHS:
        if w >= n:
            return w
    return 64


def _orc_svarint(data: bytes, pos: int) -> tuple[int, int]:
    u, pos = uvarint(data, pos, 11, "orc")
    return zigzag(u), pos


def rlev2_decode(data: bytes, count: int, signed: bool,
                 exact: bool = True) -> list[int]:
    """Decode ``count`` integers from an ORC RLEv2 stream.  With
    ``exact=False`` the final run may overshoot (a mid-stream seek
    via row-index positions rarely lands on a count boundary) and
    the result is truncated to ``count``."""
    out: list[int] = []
    pos = 0
    while len(out) < count:
        if pos >= len(data):
            raise ValueError("orc: RLEv2 stream underrun")
        h = data[pos]
        kind = h >> 6
        if kind == 0:  # SHORT_REPEAT
            width = ((h >> 3) & 7) + 1
            rep = (h & 7) + 3
            if pos + 1 + width > len(data):
                raise ValueError("orc: truncated short repeat")
            v = int.from_bytes(data[pos + 1:pos + 1 + width], "big")
            if signed:
                v = zigzag(v)
            out.extend([v] * rep)
            pos += 1 + width
        elif kind == 1:  # DIRECT
            if pos + 2 > len(data):
                raise ValueError("orc: truncated direct header")
            w = _RLE_WIDTHS[(h >> 1) & 0x1F]
            ln = (((h & 1) << 8) | data[pos + 1]) + 1
            br = MsbBits(data, pos + 2, "orc")
            vals = [br.read(w) for _ in range(ln)]
            br.align()
            pos = br.pos
            if signed:
                vals = [zigzag(v) for v in vals]
            out.extend(vals)
        elif kind == 3:  # DELTA
            if pos + 2 > len(data):
                raise ValueError("orc: truncated delta header")
            wcode = (h >> 1) & 0x1F
            ln = (((h & 1) << 8) | data[pos + 1]) + 1
            p = pos + 2
            if signed:
                base, p = _orc_svarint(data, p)
            else:
                base, p = uvarint(data, p, 11, "orc")
            dbase, p = _orc_svarint(data, p)
            vals = [base]
            if ln > 1:
                vals.append(base + dbase)
            if wcode == 0:  # fixed delta
                for _ in range(ln - 2):
                    vals.append(vals[-1] + dbase)
                pos = p
            else:
                w = _RLE_WIDTHS[wcode]
                br = MsbBits(data, p, "orc")
                sign = 1 if dbase >= 0 else -1
                for _ in range(ln - 2):
                    vals.append(vals[-1] + sign * br.read(w))
                br.align()
                pos = br.pos
            out.extend(vals)
        else:  # PATCHED_BASE
            if pos + 4 > len(data):
                raise ValueError("orc: truncated patched-base header")
            w = _RLE_WIDTHS[(h >> 1) & 0x1F]
            ln = (((h & 1) << 8) | data[pos + 1]) + 1
            b3 = data[pos + 2]
            bw = ((b3 >> 5) & 7) + 1
            pw = _RLE_WIDTHS[b3 & 0x1F]
            b4 = data[pos + 3]
            pgw = ((b4 >> 5) & 7) + 1
            pll = b4 & 0x1F
            p = pos + 4
            if p + bw > len(data):
                raise ValueError("orc: truncated patched base value")
            base = int.from_bytes(data[p:p + bw], "big")
            # MSB of the base is its sign bit
            msb = 1 << (bw * 8 - 1)
            if base & msb:
                base = -(base & (msb - 1))
            p += bw
            br = MsbBits(data, p, "orc")
            vals = [br.read(w) for _ in range(ln)]
            br.align()
            br2 = MsbBits(data, br.pos, "orc")
            # patch entries are (gap, patch) pairs; the gap width is
            # 1-8 BITS, and each packed entry is widened to the
            # CLOSEST FIXED width from the RLE table (the reference
            # readers' closestFixedBits rule — raw pgw+pw misaligns
            # whenever the sum falls between table widths, e.g. 33).
            # Gaps accumulate from index 0; a (gap=max, patch=0)
            # entry is a pure gap extension.
            pat_w = _closest_fixed_bits(pgw + pw)
            idx = 0
            for _ in range(pll):
                entry = br2.read(pat_w)
                gap = entry >> pw
                patch = entry & ((1 << pw) - 1)
                idx += gap
                if idx >= ln:
                    raise ValueError("orc: patch index out of range")
                vals[idx] |= patch << w
            br2.align()
            pos = br2.pos
            out.extend(base + v for v in vals)
    if len(out) != count:
        if exact:
            raise ValueError("orc: RLEv2 produced extra values")
        del out[count:]
    return out


def _byte_rle(data: bytes, n: int) -> list[int]:
    """ORC Byte RLE (spec §Byte Run Length Encoding) — also the
    UNION tag stream: header < 128 → run of (h+3) copies of the next
    byte, else literal run of (256-h) bytes."""
    out: list[int] = []
    pos = 0
    while len(out) < n:
        if pos >= len(data):
            raise ValueError("orc: byte-RLE stream underrun")
        h = data[pos]
        pos += 1
        if h < 128:
            if pos >= len(data):
                raise ValueError("orc: truncated byte-RLE run")
            out.extend([data[pos]] * (h + 3))
            pos += 1
        else:
            k = 256 - h
            if pos + k > len(data):
                raise ValueError("orc: truncated byte-RLE literals")
            out.extend(data[pos:pos + k])
            pos += k
    return out[:n]


def _bool_rle(data: bytes, nbits: int) -> list[int]:
    """ORC boolean stream: byte-RLE over MSB-first bit bytes."""
    bits: list[int] = []
    pos = 0
    while len(bits) < nbits:
        if pos >= len(data):
            raise ValueError("orc: boolean stream underrun")
        h = data[pos]
        pos += 1
        if h < 128:  # run: h+3 copies of next byte
            if pos >= len(data):
                raise ValueError("orc: truncated boolean run")
            b = data[pos]
            pos += 1
            for _ in range(h + 3):
                for k in range(7, -1, -1):
                    bits.append((b >> k) & 1)
        else:  # literal: 256-h bytes
            n = 256 - h
            if pos + n > len(data):
                raise ValueError("orc: truncated boolean literals")
            for b in data[pos:pos + n]:
                for k in range(7, -1, -1):
                    bits.append((b >> k) & 1)
            pos += n
    return bits[:nbits]


def orc_read_int_column(data: bytes, column: str) -> list:
    """Materialize one top-level integer column (DIRECT_V2 encoding)
    from raw ORC bytes: stripe footers located via the file footer,
    PRESENT (boolean RLE) + DATA (RLEv2 signed) streams decoded with
    the engine's section decompressor.  Nulls come back as None."""
    meta = parse_orc_meta(data)
    types = meta["types"]
    if not types or types[0]["kind"] != 12:  # STRUCT root
        raise ValueError("orc: root is not a struct")
    try:
        field_ix = types[0]["field_names"].index(column)
    except ValueError:
        raise ValueError(f"orc: no column {column!r}") from None
    col_id = types[0]["subtypes"][field_ix]
    kind = types[col_id]["kind"]
    if kind not in (0, 2, 3, 4, 15):  # BOOL, SHORT, INT, LONG, DATE
        raise ValueError("orc: non-integer column gated")
    comp = meta["compression"]
    out: list = []
    for st in meta["stripes"]:
        off = st["offset"]
        ilen = st["index_length"] or 0
        dlen = st["data_length"] or 0
        flen = st["footer_length"] or 0
        if not all(isinstance(x, int) for x in (off, ilen, dlen, flen)):
            raise ValueError("orc: corrupt stripe information")
        sf_raw = _decompress_section(
            data[off + ilen + dlen:off + ilen + dlen + flen], comp)
        sf = pb_message(sf_raw)
        # streams: kind=1, column=2, length=3 — data region follows
        # the index region in declaration order
        spos = off
        present_raw = None
        data_raw = None
        for s_raw in sf.get(1, []):
            srec = pb_message(s_raw)
            s_kind = _pb_one(srec, 1, 0)
            s_col = _pb_one(srec, 2, 0)
            s_len = _pb_one(srec, 3, 0)
            if s_col == col_id and s_kind in (0, 1):
                seg = data[spos:spos + s_len]
                if s_kind == 0:  # PRESENT
                    present_raw = _decompress_section(seg, comp)
                else:  # DATA
                    data_raw = _decompress_section(seg, comp)
            spos += s_len
        nrows = st["num_rows"] or 0
        if data_raw is None:
            raise ValueError("orc: DATA stream missing for column")
        if present_raw is not None:
            present = _bool_rle(present_raw, nrows)
        else:
            present = [1] * nrows
        nvals = sum(present)
        if kind == 0:  # BOOLEAN: bit stream, not RLEv2
            vals = [bool(b) for b in _bool_rle(data_raw, nvals)]
        else:
            vals = rlev2_decode(data_raw, nvals, signed=True)
        it = iter(vals)
        out.extend(next(it) if p else None for p in present)
    return out


ORC_COLSUM_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("n_values", LongType()),
    StructField("n_nulls", LongType()),
    StructField("value_sum", LongType()),
    StructField("decode_error", StringType()),
])


def decode_orc_column_sum(
    df: DataFrame, column: str,
    id_col: str = "doc_id", payload_col: str = "payload",
) -> DataFrame:
    """Arrow ``mapInPandas`` wrapper over :func:`orc_read_int_column`
    — count/nulls/sum straight from the RLEv2 page bytes (all
    supported chunk codecs); per-payload quarantine, no shuffle."""

    def _parse(payload) -> dict:
        vals = orc_read_int_column(bytes(payload), column)
        present = [v for v in vals if v is not None]
        return {"n_values": len(vals), "n_nulls": len(vals) - len(present),
                "value_sum": sum(present)}

    return decode_map(df, _parse, ORC_COLSUM_SCHEMA,
                      (ValueError, IndexError, TypeError),
                      id_col, payload_col)


def _stripe_column_streams(data: bytes, comp: int, st: dict,
                           col_id: int) -> tuple[dict, int]:
    """Collect a column's decompressed streams for one stripe →
    ``({stream_kind: bytes}, column_encoding_kind, dictionarySize)``."""
    off = st["offset"]
    ilen = st["index_length"] or 0
    dlen = st["data_length"] or 0
    flen = st["footer_length"] or 0
    if not all(isinstance(x, int)
               for x in (off, ilen, dlen, flen)):
        raise ValueError("orc: corrupt stripe information")
    sf_raw = _decompress_section(
        data[off + ilen + dlen:off + ilen + dlen + flen], comp)
    sf = pb_message(sf_raw)
    streams: dict[int, bytes] = {}
    spos = off
    for s_raw in sf.get(1, []):
        srec = pb_message(s_raw)
        s_kind = _pb_one(srec, 1, 0)
        s_col = _pb_one(srec, 2, 0)
        s_len = _pb_one(srec, 3, 0)
        if not isinstance(s_len, int) or s_len < 0:
            raise ValueError("orc: corrupt stream length")
        if s_col == col_id and s_kind in (0, 1, 2, 3, 5):
            streams[s_kind] = _decompress_section(
                data[spos:spos + s_len], comp)
        spos += s_len
    enc_kind = 0
    dict_size = 0
    encs = sf.get(2, [])
    if col_id < len(encs) and isinstance(encs[col_id], bytes):
        enc = pb_message(encs[col_id])
        enc_kind = _pb_one(enc, 1, 0)
        dict_size = _pb_one(enc, 2, 0)
    return streams, enc_kind, dict_size


def orc_read_string_column(data: bytes, column: str) -> list:
    """Materialize one top-level string column from raw ORC bytes:
    DIRECT_V2 (DATA utf-8 bytes + LENGTH RLEv2) and DICTIONARY_V2
    (RLEv2 indices over DICTIONARY_DATA + LENGTH) encodings, with
    PRESENT boolean-RLE nulls.  Nulls come back as None."""
    meta = parse_orc_meta(data)
    types = meta["types"]
    if not types or types[0]["kind"] != 12:
        raise ValueError("orc: root is not a struct")
    try:
        field_ix = types[0]["field_names"].index(column)
    except ValueError:
        raise ValueError(f"orc: no column {column!r}") from None
    col_id = types[0]["subtypes"][field_ix]
    if types[col_id]["kind"] not in (7, 16, 17):  # STRING/VARCHAR/CHAR
        raise ValueError("orc: non-string column gated")
    comp = meta["compression"]
    out: list = []
    for st in meta["stripes"]:
        streams, enc_kind, dict_size = _stripe_column_streams(
            data, comp, st, col_id)
        nrows = st["num_rows"] or 0
        present = (_bool_rle(streams[0], nrows) if 0 in streams
                   else [1] * nrows)
        nvals = sum(present)
        if enc_kind in (2, 0):  # DIRECT(_V2)
            if nvals and (1 not in streams or 2 not in streams):
                raise ValueError("orc: string streams missing")
            lengths = rlev2_decode(streams.get(2, b""), nvals,
                                   signed=False)
            blob = streams.get(1, b"")
            vals = []
            at = 0
            for ln in lengths:
                if ln < 0 or at + ln > len(blob):
                    raise ValueError("orc: string data overrun")
                vals.append(blob[at:at + ln].decode("utf-8", "replace"))
                at += ln
        elif enc_kind in (3, 1):  # DICTIONARY(_V2)
            if 1 not in streams or 2 not in streams or 3 not in streams:
                raise ValueError("orc: dictionary streams missing")
            lens = rlev2_decode(streams[2], dict_size, signed=False)
            blob = streams[3]
            dic = []
            at = 0
            for ln in lens:
                if ln < 0 or at + ln > len(blob):
                    raise ValueError("orc: dictionary data overrun")
                dic.append(blob[at:at + ln].decode("utf-8", "replace"))
                at += ln
            idx = rlev2_decode(streams[1], nvals, signed=False)
            try:
                vals = [dic[i] for i in idx]
            except IndexError:
                raise ValueError("orc: dictionary index out of range") \
                    from None
        else:
            raise ValueError(f"orc: string encoding {enc_kind} gated")
        it = iter(vals)
        out.extend(next(it) if p else None for p in present)
    return out


ORC_STRSUM_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("n_values", LongType()),
    StructField("n_distinct", LongType()),
    StructField("char_sum", LongType()),
    StructField("decode_error", StringType()),
])


def decode_orc_string_sum(
    df: DataFrame, column: str,
    id_col: str = "doc_id", payload_col: str = "payload",
) -> DataFrame:
    """Arrow ``mapInPandas`` wrapper over
    :func:`orc_read_string_column` — count/distinct/char tally from
    the raw LENGTH/DATA/DICTIONARY streams."""

    def _parse(payload) -> dict:
        vals = orc_read_string_column(bytes(payload), column)
        present = [v for v in vals if v is not None]
        return {"n_values": len(vals), "n_distinct": len(set(present)),
                "char_sum": sum(len(v) for v in present)}

    return decode_map(df, _parse, ORC_STRSUM_SCHEMA, _ORC_ERRORS,
                      id_col, payload_col)


# --------------------------------------------------------------------------
# Timestamp and decimal columns (r12) — the two most common types not
# yet scanned (orc-format spec: TIMESTAMP/TIMESTAMP_INSTANT store
# seconds-from-2015 in DATA + scaled nanoseconds in SECONDARY; DECIMAL
# stores unbounded zigzag-varint significands in DATA + per-value
# scales in SECONDARY).

_ORC_EPOCH = 1420070400  # 2015-01-01T00:00:00Z, the spec's base


def _resolve_column(meta: dict, column: str, kinds: tuple) -> int:
    types = meta["types"]
    if not types or types[0]["kind"] != 12:
        raise ValueError("orc: root is not a struct")
    try:
        field_ix = types[0]["field_names"].index(column)
    except ValueError:
        raise ValueError(f"orc: no column {column!r}") from None
    col_id = types[0]["subtypes"][field_ix]
    if types[col_id]["kind"] not in kinds:
        raise ValueError("orc: column kind "
                         f"{types[col_id]['kind']} gated here")
    return col_id


@_functools.lru_cache(maxsize=64)
def _writer_tz(tzname: str):
    """(base_seconds, ZoneInfo) for a writer timezone: base = the ORC
    epoch 2015-01-01 00:00:00 parsed IN the writer zone (the Java
    reader's base_timestamp)."""
    from datetime import datetime
    from zoneinfo import ZoneInfo, ZoneInfoNotFoundError

    try:
        tz = ZoneInfo(tzname)
    except (ZoneInfoNotFoundError, ValueError, KeyError):
        raise ValueError(
            f"orc: writer timezone {tzname!r} unknown") from None
    base = int(datetime(2015, 1, 1, tzinfo=tz).timestamp())
    return base, tz


def orc_read_timestamp_column(data: bytes, column: str) -> list:
    """Materialize one top-level TIMESTAMP / TIMESTAMP_INSTANT column
    from raw ORC bytes as int64 NANOSECONDS since the Unix epoch:
    DATA = signed RLEv2 seconds relative to 2015-01-01, SECONDARY =
    unsigned RLEv2 nanoseconds whose low 3 bits z (when non-zero)
    mean the value was divided by 10^(z+1) — the reference readers'
    ``parseNanos`` rule — plus the spec's negative-second borrow when
    sub-second digits are present.

    TIMESTAMP (kind 9) is writer-timezone-relative: the stripe
    footer's writerTimezone resolves through the IANA database and
    values convert by the Java ORC reader's rule — with base =
    2015-01-01 00:00:00 parsed in the writer zone,
    ``utc = m + writer_offset(m)`` for ``m = stored + base`` — so a
    constant-offset zone reads back unchanged and a DST zone shifts
    by the DST delta, pinned against Spark's own JVM ORC reader
    (tests/test_orc_meta.py).  TIMESTAMP_INSTANT (18) is always
    UTC."""
    from datetime import datetime, timezone as _tzu

    meta = parse_orc_meta(data)
    col_id = _resolve_column(meta, column, (9, 18))
    is_local = meta["types"][col_id]["kind"] == 9
    comp = meta["compression"]
    out: list = []
    for st in meta["stripes"]:
        off = st["offset"]
        ilen = st["index_length"] or 0
        dlen = st["data_length"] or 0
        flen = st["footer_length"] or 0
        sf = pb_message(_decompress_section(
            data[off + ilen + dlen:off + ilen + dlen + flen], comp))
        base = _ORC_EPOCH
        conv = None
        if is_local:
            tz = sf.get(3, [b"GMT"])
            tzname = tz[0] if tz and isinstance(tz[0], bytes) else b"GMT"
            if tzname not in (b"GMT", b"UTC", b"Etc/UTC", b"Etc/GMT"):
                base, zone = _writer_tz(
                    tzname.decode("utf-8", "replace"))

                def conv(m, _zone=zone):
                    offs = datetime.fromtimestamp(
                        m, _tzu.utc).astimezone(_zone).utcoffset()
                    return m + int(offs.total_seconds())
        streams, _enc, _ds = _stripe_column_streams(data, comp, st,
                                                    col_id)
        nrows = st["num_rows"] or 0
        present = (_bool_rle(streams[0], nrows) if 0 in streams
                   else [1] * nrows)
        nvals = sum(present)
        if nvals and (1 not in streams or 5 not in streams):
            raise ValueError("orc: timestamp streams missing")
        secs = rlev2_decode(streams.get(1, b""), nvals, signed=True)
        nenc = rlev2_decode(streams.get(5, b""), nvals, signed=False)
        vals = []
        for s, ne in zip(secs, nenc):
            # the ORC C++ writer stores TRUNCATED seconds + SIGNED
            # nanoseconds (negative for pre-1970 sub-second parts,
            # two's complement in the unsigned stream) — verified
            # against its own read-back; the scale bits survive the
            # sign because Python's & and >> are arithmetic
            if ne >= 1 << 63:
                ne -= 1 << 64
            z = ne & 7
            n = ne >> 3
            if z:
                n *= 10 ** (z + 1)
            if abs(n) > 999_999_999:
                raise ValueError("orc: nanoseconds out of range")
            sec = s + base
            if conv is not None:
                sec = conv(sec)
            vals.append(sec * 1_000_000_000 + n)
        it = iter(vals)
        out.extend(next(it) if p else None for p in present)
    return out


def _orc_decimal_varints(blob: bytes, n: int) -> list[int]:
    """n base-128 zigzag varints of up to 21 bytes (the DECIMAL
    significand stream; 21 bytes hold a decimal128)."""
    out = []
    pos = 0
    for _ in range(n):
        v, pos = uvarint(blob, pos, 21, "orc")
        out.append(zigzag(v))
    return out


def orc_read_decimal_column(data: bytes, column: str) -> list:
    """Materialize one top-level DECIMAL column from raw ORC bytes as
    UNSCALED int64 at the column's declared scale (e.g. 12.34 at
    scale 2 → 1234): DATA = unbounded zigzag varint significands,
    SECONDARY = signed RLEv2 per-value scales, rescaled to the
    declared scale (a value whose rescale would truncate is a named
    error, not a silent rounding)."""
    meta = parse_orc_meta(data)
    col_id = _resolve_column(meta, column, (14,))
    decl_scale = meta["types"][col_id]["scale"] or 0
    comp = meta["compression"]
    out: list = []
    for st in meta["stripes"]:
        streams, _enc, _ds = _stripe_column_streams(data, comp, st,
                                                    col_id)
        nrows = st["num_rows"] or 0
        present = (_bool_rle(streams[0], nrows) if 0 in streams
                   else [1] * nrows)
        nvals = sum(present)
        if nvals and (1 not in streams or 5 not in streams):
            raise ValueError("orc: decimal streams missing")
        sigs = _orc_decimal_varints(streams.get(1, b""), nvals)
        scales = rlev2_decode(streams.get(5, b""), nvals, signed=True)
        vals = []
        for sig, sc in zip(sigs, scales):
            d = decl_scale - sc
            if d >= 0:
                vals.append(sig * 10 ** d)
            else:
                q, r = divmod(sig, 10 ** (-d))
                if r:
                    raise ValueError("orc: decimal rescale truncates")
                vals.append(q)
        it = iter(vals)
        out.extend(next(it) if p else None for p in present)
    return out


ORC_TSDEC_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("n_values", LongType()),
    StructField("n_nulls", LongType()),
    StructField("ts_min_ns", LongType()),
    StructField("ts_max_ns", LongType()),
    StructField("ts_subsec", LongType()),
    StructField("subsec_sum", LongType()),
    StructField("dec_sum", LongType()),
    StructField("decode_error", StringType()),
])


def decode_orc_ts_dec(
    df: DataFrame, ts_column: str, dec_column: str,
    id_col: str = "doc_id", payload_col: str = "payload",
) -> DataFrame:
    """Arrow ``mapInPandas`` wrapper over
    :func:`orc_read_timestamp_column` + :func:`orc_read_decimal_column`
    — timestamp range, sub-second tallies (int64-safe: min/max and
    the sum of sub-second nanosecond parts, never a sum of full
    epoch-nanos) and unscaled decimal sums straight from the
    DATA/SECONDARY streams."""

    def _parse(payload) -> dict:
        blob = bytes(payload)
        ts = orc_read_timestamp_column(blob, ts_column)
        dec = orc_read_decimal_column(blob, dec_column)
        pts = [v for v in ts if v is not None]
        pdc = [v for v in dec if v is not None]
        subs = [v % 1_000_000_000 for v in pts]
        return {"n_values": len(ts),
                "n_nulls": len(ts) - len(pts) + len(dec) - len(pdc),
                "ts_min_ns": min(pts) if pts else None,
                "ts_max_ns": max(pts) if pts else None,
                "ts_subsec": sum(1 for v in subs if v),
                "subsec_sum": sum(subs), "dec_sum": sum(pdc)}

    return decode_map(df, _parse, ORC_TSDEC_SCHEMA, _ORC_ERRORS,
                      id_col, payload_col)


# --------------------------------------------------------------------------
# Nested columns (r12): struct / list / map composed over the same
# stream decoders.  ORC nests by COLUMN TREE (each child is its own
# column id): a STRUCT child carries one slot per present struct, a
# LIST/MAP column adds a LENGTH stream (unsigned RLEv2) and its
# children carry the flattened elements (orc-format spec §Column
# Encodings).


def _stripe_nested_value(data: bytes, meta: dict, st: dict,
                         col_id: int, count: int) -> list:
    """Materialize ``count`` slots of column ``col_id`` within one
    stripe, recursing into children for compound kinds."""
    import struct as _struct

    types = meta["types"]
    kind = types[col_id]["kind"]
    comp = meta["compression"]
    streams, enc_kind, dict_size = _stripe_column_streams(
        data, comp, st, col_id)
    present = (_bool_rle(streams[0], count) if 0 in streams
               else [1] * count)
    nvals = sum(present)

    def weave(vals: list) -> list:
        it = iter(vals)
        return [next(it) if p else None for p in present]

    if kind == 12:  # STRUCT
        names = types[col_id]["field_names"]
        kids = [
            _stripe_nested_value(data, meta, st, child, nvals)
            for child in types[col_id]["subtypes"]]
        vals = [dict(zip(names, row)) for row in zip(*kids)] \
            if kids else [{} for _ in range(nvals)]
        return weave(vals)
    if kind in (10, 11):  # LIST / MAP
        lengths = rlev2_decode(streams.get(2, b""), nvals,
                               signed=False)
        total = sum(lengths)
        subs = types[col_id]["subtypes"]
        if kind == 10:
            if len(subs) != 1:
                raise ValueError("orc: malformed list type")
            elems = _stripe_nested_value(data, meta, st, subs[0],
                                         total)
            vals = []
            at = 0
            for ln in lengths:
                vals.append(elems[at:at + ln])
                at += ln
            return weave(vals)
        if len(subs) != 2:
            raise ValueError("orc: malformed map type")
        keys = _stripe_nested_value(data, meta, st, subs[0], total)
        mvals = _stripe_nested_value(data, meta, st, subs[1], total)
        vals = []
        at = 0
        for ln in lengths:
            vals.append(dict(zip(keys[at:at + ln],
                                 mvals[at:at + ln])))
            at += ln
        return weave(vals)
    if kind == 0:  # BOOLEAN
        return weave([bool(b) for b in _bool_rle(streams.get(1, b""),
                                                 nvals)])
    if kind in (2, 3, 4, 15):  # SHORT/INT/LONG/DATE
        return weave(rlev2_decode(streams.get(1, b""), nvals,
                                  signed=True))
    if kind in (5, 6):  # FLOAT/DOUBLE
        width, fmt = (4, "f") if kind == 5 else (8, "d")
        blob = streams.get(1, b"")
        if len(blob) < nvals * width:
            raise ValueError("orc: floating DATA stream short")
        return weave(list(_struct.unpack_from(f"<{nvals}{fmt}",
                                              blob, 0)))
    if kind in (7, 16, 17, 8):  # STRING/VARCHAR/CHAR/BINARY
        as_bytes = kind == 8
        if enc_kind in (2, 0):  # DIRECT(_V2)
            lens = rlev2_decode(streams.get(2, b""), nvals,
                                signed=False)
            blob = streams.get(1, b"")
            vals = []
            at = 0
            for ln in lens:
                if ln < 0 or at + ln > len(blob):
                    raise ValueError("orc: string data overrun")
                seg = blob[at:at + ln]
                vals.append(bytes(seg) if as_bytes
                            else seg.decode("utf-8", "replace"))
                at += ln
            return weave(vals)
        if enc_kind in (3, 1):  # DICTIONARY(_V2)
            lens = rlev2_decode(streams.get(2, b""), dict_size,
                                signed=False)
            blob = streams.get(3, b"")
            dic = []
            at = 0
            for ln in lens:
                if ln < 0 or at + ln > len(blob):
                    raise ValueError("orc: dictionary data overrun")
                seg = blob[at:at + ln]
                dic.append(bytes(seg) if as_bytes
                           else seg.decode("utf-8", "replace"))
                at += ln
            idx = rlev2_decode(streams.get(1, b""), nvals,
                               signed=False)
            try:
                return weave([dic[i] for i in idx])
            except IndexError:
                raise ValueError(
                    "orc: dictionary index out of range") from None
        raise ValueError(f"orc: string encoding {enc_kind} gated")
    if kind == 13:  # UNION (r13): DATA = byte-RLE tag stream
        subs = types[col_id]["subtypes"]
        tags = _byte_rle(streams.get(1, b""), nvals)
        if any(t >= len(subs) for t in tags):
            raise ValueError("orc: union tag out of range")
        counts = [sum(1 for t in tags if t == b)
                  for b in range(len(subs))]
        kids = [_stripe_nested_value(data, meta, st, child, cnt)
                for child, cnt in zip(subs, counts)]
        its = [iter(k) for k in kids]
        # the reader surfaces (tag, value) so callers can distinguish
        # branches whose value spaces overlap
        vals = [(t, next(its[t])) for t in tags]
        return weave(vals)
    raise ValueError(f"orc: nested column kind {kind} gated")


def orc_read_nested_column(data: bytes, column: str) -> list:
    """Materialize an arbitrarily nested top-level ``column`` from raw
    ORC bytes — struct → dict, list → list, map → dict, across all
    chunk codecs and multi-stripe layouts.  TIMESTAMP/DECIMAL inside
    nesting and BYTE/UNION remain named gates (use the flat readers
    for top-level timestamp/decimal)."""
    meta = parse_orc_meta(data)
    types = meta["types"]
    if not types or types[0]["kind"] != 12:
        raise ValueError("orc: root is not a struct")
    try:
        field_ix = types[0]["field_names"].index(column)
    except ValueError:
        raise ValueError(f"orc: no column {column!r}") from None
    col_id = types[0]["subtypes"][field_ix]
    out: list = []
    for st in meta["stripes"]:
        out.extend(_stripe_nested_value(data, meta, st, col_id,
                                        st["num_rows"] or 0))
    return out


ORC_NESTED_SCHEMA = StructType([
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


def decode_orc_nested_stats(
    df: DataFrame, column: str = "v",
    id_col: str = "doc_id", payload_col: str = "payload",
) -> DataFrame:
    """Arrow ``mapInPandas`` wrapper over
    :func:`orc_read_nested_column` for the shared struct{a, tags,
    pts, m} nested-fixture shape (same tallies as the parquet twin —
    both readers materialize the identical representation)."""
    from .parquet_raw import nested_struct_tallies

    def _parse(payload) -> dict:
        return nested_struct_tallies(
            orc_read_nested_column(bytes(payload), column))

    return decode_map(df, _parse, ORC_NESTED_SCHEMA, _ORC_ERRORS,
                      id_col, payload_col)


ORC_TS_UTC_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("n_values", LongType()),
    StructField("n_nulls", LongType()),
    StructField("ts_min_ns", LongType()),
    StructField("ts_max_ns", LongType()),
    StructField("sec_sum", LongType()),
    StructField("subsec_sum", LongType()),
    StructField("decode_error", StringType()),
])


def decode_orc_ts_utc(
    df: DataFrame, ts_column: str,
    id_col: str = "doc_id", payload_col: str = "payload",
) -> DataFrame:
    """Arrow ``mapInPandas`` wrapper over
    :func:`orc_read_timestamp_column` alone — the writer-timezone
    path (r13): per-payload UTC-instant tallies (count/nulls/min/max
    ns, int64-safe sum of epoch SECONDS + sum of sub-second ns)."""

    def _parse(payload) -> dict:
        ts = orc_read_timestamp_column(bytes(payload), ts_column)
        pts = [v for v in ts if v is not None]
        return {"n_values": len(ts), "n_nulls": len(ts) - len(pts),
                "ts_min_ns": min(pts) if pts else None,
                "ts_max_ns": max(pts) if pts else None,
                "sec_sum": sum(v // 1_000_000_000 for v in pts),
                "subsec_sum": sum(v % 1_000_000_000 for v in pts)}

    return decode_map(df, _parse, ORC_TS_UTC_SCHEMA, _ORC_ERRORS,
                      id_col, payload_col)


ORC_UNION_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("n_rows", LongType()),
    StructField("n_tag0", LongType()),
    StructField("long_sum", LongType()),
    StructField("str_chars", LongType()),
    StructField("decode_error", StringType()),
])


def decode_orc_union_stats(
    df: DataFrame, column: str,
    id_col: str = "doc_id", payload_col: str = "payload",
) -> DataFrame:
    """Arrow ``mapInPandas`` wrapper over UNION columns (r13): the
    tag stream routes each row to its branch — tallies of the long
    branch's sum and the string branch's chars catch tag or slot
    misrouting; per-payload quarantine, no shuffle."""

    def _parse(payload) -> dict:
        vals = orc_read_nested_column(bytes(payload), column)
        n_tag0 = lsum = chars = 0
        for v in vals:
            if v is None:
                raise ValueError("orc: unexpected null union slot")
            tag, inner = v
            if tag == 0:
                n_tag0 += 1
                lsum += inner
            else:
                chars += len(inner)
        return {"n_rows": len(vals), "n_tag0": n_tag0, "long_sum": lsum,
                "str_chars": chars}

    return decode_map(df, _parse, ORC_UNION_SCHEMA, _ORC_ERRORS,
                      id_col, payload_col)


# --------------------------------------------------------------------------
# Row-index (row-group) pruning (r13) — ORC's analog of the parquet
# page index: each stripe's ROW_INDEX stream (kind 6) carries one
# entry per rowIndexStride rows with POSITIONS (for an uncompressed
# RLEv2 data stream: [byte offset into the stream, values to skip
# inside the run starting there]) and per-group Integer min/max
# (sint64 → zigzag).  A range scan decodes ONLY the surviving row
# groups, seeking straight to each group's run boundary — bytes of
# pruned groups are never RLE-decoded.

def orc_read_int_range(data: bytes, column: str,
                       lo: int, hi: int) -> dict:
    """Row-group-pruned range scan of a NULL-free int64 column:
    returns groups_total / groups_read and the matched row count /
    sum, with values_decoded as evidence that pruned groups' values
    were never materialized.  Uncompressed streams seek via
    [byte, run-skip] positions; compressed streams (zlib / snappy /
    lz4 / zstd chunks) via the spec's [chunk byte, decompressed
    byte, run-skip] triple."""
    meta = parse_orc_meta(data)
    comp = meta["compression"]
    stride = meta.get("row_index_stride") or 0
    if stride <= 0:
        raise ValueError("orc: no row index stride")
    types = meta["types"]
    if not types or types[0]["kind"] != 12:
        raise ValueError("orc: root is not a struct")
    names = types[0]["field_names"]
    if column not in names:
        raise ValueError(f"orc: no column {column!r}")
    col_id = types[0]["subtypes"][names.index(column)]
    if types[col_id]["kind"] not in (2, 3, 4):
        raise ValueError("orc: non-integer column gated")
    groups_total = groups_read = 0
    matched_rows = 0
    matched_sum = 0
    values_decoded = 0
    for st in meta["stripes"]:
        # stripe footer: stream directory
        foot_off = st["offset"] + st["index_length"] \
            + st["data_length"]
        sf = pb_message(_decompress_section(
            data[foot_off:foot_off + st["footer_length"]], comp))
        at = st["offset"]
        ri_raw = None
        data_stream = None
        for srec_raw in sf.get(1, []):
            srec = pb_message(srec_raw)
            s_kind = _pb_one(srec, 1, 0)
            s_col = _pb_one(srec, 2, 0)
            s_len = _pb_one(srec, 3, 0)
            if s_col == col_id and s_kind == 6:
                ri_raw = data[at:at + s_len]
            if s_col == col_id and s_kind == 0:
                raise ValueError("orc: PRESENT stream gated here "
                                 "(null-free columns only)")
            if s_col == col_id and s_kind == 1:
                data_stream = data[at:at + s_len]
            at += s_len
        if ri_raw is None or data_stream is None:
            raise ValueError("orc: row index or data stream missing")
        ri = pb_message(_decompress_section(ri_raw, comp))
        entries = []
        for e_raw in ri.get(1, []):
            e = pb_message(e_raw)
            positions = _pb_packed_varints(e, 1)
            mn = mx = None
            if e.get(2):
                cstat = pb_message(e[2][0])
                if cstat.get(2):
                    istat = pb_message(cstat[2][0])
                    raw_mn = _pb_one(istat, 1)
                    raw_mx = _pb_one(istat, 2)
                    mn = zigzag(raw_mn) if raw_mn is not None \
                        else None
                    mx = zigzag(raw_mx) if raw_mx is not None \
                        else None
            entries.append((positions, mn, mx))
        n_rows = st["num_rows"] or 0
        for g, (positions, mn, mx) in enumerate(entries):
            rows_here = min(stride, n_rows - g * stride)
            if rows_here <= 0:
                continue
            groups_total += 1
            if mn is not None and mx is not None \
                    and (mx < lo or mn > hi):
                continue  # pruned: group bytes never RLE-decoded
            groups_read += 1
            # positions: uncompressed = [stream byte, run skip];
            # compressed = [chunk byte, byte inside the chunk's
            # decompressed form, run skip] (the spec's seek triple)
            if comp == 0:
                if len(positions) < 2:
                    raise ValueError("orc: short position list")
                run_bytes = data_stream[positions[0]:]
                skip = positions[1]
            else:
                if len(positions) < 3:
                    raise ValueError("orc: short position list")
                run_bytes = _decompress_section(
                    data_stream[positions[0]:],
                    comp)[positions[1]:]
                skip = positions[2]
            vals = rlev2_decode(run_bytes,
                               skip + rows_here, signed=True,
                               exact=False)
            window = vals[skip:skip + rows_here]
            values_decoded += len(window)
            for v in window:
                if lo <= v <= hi:
                    matched_rows += 1
                    matched_sum += v
    return {
        "groups_total": groups_total,
        "groups_read": groups_read,
        "values_decoded": values_decoded,
        "matched_rows": matched_rows,
        "matched_sum": matched_sum,
    }


ORC_RI_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("groups_total", IntegerType()),
    StructField("groups_read", IntegerType()),
    StructField("values_decoded", LongType()),
    StructField("matched_rows", LongType()),
    StructField("matched_sum", LongType()),
    StructField("decode_error", StringType()),
])


def decode_orc_row_prune(
    df: DataFrame, column: str, n_groups: int, group_span: int,
    id_col: str = "doc_id", payload_col: str = "payload",
) -> DataFrame:
    """Arrow ``mapInPandas`` wrapper over :func:`orc_read_int_range`
    with the per-document window ``lo = (doc_id % n_groups) *
    group_span + 10, hi = lo + group_span // 2``; per-payload
    quarantine, no shuffle."""

    def _parse(payload, g: int) -> dict:
        lo = g * group_span + 10
        return orc_read_int_range(bytes(payload), column, lo,
                                  lo + group_span // 2)

    return decode_map(df, _parse, ORC_RI_SCHEMA, _ORC_ERRORS, id_col,
                      payload_col, key_of_id=lambda i: i % n_groups)
