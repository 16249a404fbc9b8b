"""Avro object container files — public Apache Avro 1.11 spec
(binary encoding + object container file format).

Avro is the row-major interchange format of the lake stack (Kafka
payloads, Iceberg manifests, Hive exports); the engine reads it from
bytes:

- **Container**: ``Obj\\x01`` magic, file-metadata map
  (``avro.schema`` JSON, ``avro.codec``), 16-byte sync marker, then
  blocks of (record count, byte size, data, sync) with sync markers
  verified; codecs ``null`` and ``deflate`` (raw DEFLATE, stdlib
  zlib) — ``snappy`` blocks (CRC-32 suffixed) via
  operators/snappy.py, and (r13) ``bzip2`` / ``xz`` / ``zstandard``
  through the engine's own from-scratch decoders
  (operators/bzip2.py, operators/xz.py, operators/zstd.py), so one
  Avro block exercises the full dump-codec family; unknown codec
  names remain named gates.
- **Binary encoding**: zigzag-varint int/long, little-endian
  float/double, length-prefixed bytes/string, 1-byte boolean,
  unions (varint branch index), records (field order), enums
  (varint symbol index), fixed, and block-encoded arrays/maps
  (negative counts carry a byte size per the spec).
- **Schema**: the JSON declaration is parsed into a resolver tree
  (records/enums/fixed by name, nullable unions, nested arrays and
  maps).  Recursive named-type references resolve through the
  parse-time registry; unsupported logical shapes fail as named
  gates, never mis-decode.

Validation honesty: no independent Avro implementation ships in this
environment (no fastavro/avro, and pyarrow carries no Avro codec),
so unlike parquet/ORC/zstd these tests validate against hand-pinned
golden byte sequences derived from the public spec plus planted-rule
fixtures (the same discipline as the tar path before CPython
cross-validation was added).  The spec's worked examples — e.g.
``long(1) == 0x02``, ``long(-2) == 0x03``, the two-entry array
``[3, 27] == 0x04 0x06 0x36 0x00`` — are pinned directly.
"""

from __future__ import annotations

import json
import struct
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

__all__ = ["avro_decode_container", "decode_avro_meta",
           "decode_avro_evolution"]

_MAX_ITEMS = 10_000_000
_MAX_DEPTH = 32


# --------------------------------------------------------------------------
# Binary primitives.


class _Reader:
    __slots__ = ("data", "pos")

    def __init__(self, data: bytes, pos: int = 0) -> None:
        self.data = data
        self.pos = pos

    def long(self) -> int:
        v, self.pos = uvarint(self.data, self.pos, 11, "avro")
        return zigzag(v)

    def raw(self, n: int) -> bytes:
        if n < 0 or self.pos + n > len(self.data):
            raise ValueError("avro: truncated bytes")
        v = self.data[self.pos:self.pos + n]
        self.pos += n
        return bytes(v)


# --------------------------------------------------------------------------
# Schema resolution.


_PRIMITIVES = {"null", "boolean", "int", "long", "float", "double",
               "bytes", "string"}


def _resolve_schema(sch, named: dict, depth: int = 0):
    """Normalize a parsed-JSON Avro schema into a tuple tree the
    decoder walks.  Named types register in ``named`` so later
    references (including recursive ones) resolve."""
    if depth > _MAX_DEPTH:
        raise ValueError("avro: schema nesting too deep")
    if isinstance(sch, str):
        if sch in _PRIMITIVES:
            return ("prim", sch)
        if sch in named:
            return ("ref", sch)
        raise ValueError(f"avro: unknown type name {sch!r}")
    if isinstance(sch, list):
        return ("union", [_resolve_schema(s, named, depth + 1)
                          for s in sch])
    if not isinstance(sch, dict):
        raise ValueError("avro: malformed schema node")
    t = sch.get("type")
    if t in _PRIMITIVES:
        lt = sch.get("logicalType")
        if lt is None:
            return ("prim", t)
        return ("prim", t, {"logicalType": lt,
                            "precision": sch.get("precision"),
                            "scale": sch.get("scale", 0)})
    if t == "record":
        name = sch.get("name")
        if not name:
            raise ValueError("avro: record without a name")
        named[name] = None  # placeholder enables recursive refs
        fields = [(f.get("name"),
                   _resolve_schema(f.get("type"), named, depth + 1))
                  for f in sch.get("fields", [])]
        defaults = {f.get("name"): f["default"]
                    for f in sch.get("fields", []) if "default" in f}
        node = ("record", name, fields, defaults)
        named[name] = node
        return node
    if t == "enum":
        node = ("enum", sch.get("name"), list(sch.get("symbols", [])),
                sch.get("default"))
        named[sch.get("name")] = node
        return node
    if t == "fixed":
        node = ("fixed", sch.get("name"), int(sch.get("size", 0)),
                ({"logicalType": "decimal",
                  "precision": sch.get("precision"),
                  "scale": sch.get("scale", 0)}
                 if sch.get("logicalType") == "decimal" else None))
        named[sch.get("name")] = node
        return node
    if t == "array":
        return ("array", _resolve_schema(sch.get("items"), named,
                                         depth + 1))
    if t == "map":
        return ("map", _resolve_schema(sch.get("values"), named,
                                       depth + 1))
    raise ValueError(f"avro: unsupported schema type {t!r}")


def _logical_int(v: int, logical: dict):
    """Materialize the spec's int/long logical types (Avro 1.11
    §Logical Types): date (epoch days), time-millis/micros,
    timestamp-millis/micros (UTC).  Unknown names fall back to the
    raw value, as the spec requires."""
    import datetime as _dt

    lt = logical.get("logicalType")
    if lt == "date":
        return _dt.date(1970, 1, 1) + _dt.timedelta(days=v)
    if lt == "time-millis":
        return (_dt.datetime(1970, 1, 1, tzinfo=_dt.timezone.utc)
                + _dt.timedelta(milliseconds=v)).timetz()
    if lt == "time-micros":
        return (_dt.datetime(1970, 1, 1, tzinfo=_dt.timezone.utc)
                + _dt.timedelta(microseconds=v)).timetz()
    if lt == "timestamp-millis":
        return _dt.datetime.fromtimestamp(v / 1000,
                                          tz=_dt.timezone.utc)
    if lt == "timestamp-micros":
        return (_dt.datetime(1970, 1, 1, tzinfo=_dt.timezone.utc)
                + _dt.timedelta(microseconds=v))
    return v


def _logical_bytes(raw: bytes, logical: dict):
    """decimal over bytes/fixed: big-endian two's-complement
    unscaled value at the declared scale."""
    import decimal as _decimal

    if logical.get("logicalType") == "decimal":
        unscaled = int.from_bytes(raw, "big", signed=True)
        return _decimal.Decimal(unscaled).scaleb(
            -int(logical.get("scale") or 0))
    return raw


def _logical_str(v: str, logical: dict):
    import uuid as _uuid

    if logical.get("logicalType") == "uuid":
        try:
            return _uuid.UUID(v)
        except ValueError:
            raise ValueError("avro: malformed uuid literal") \
                from None
    return v


def _decode(r: _Reader, node, named: dict, depth: int = 0):
    if depth > _MAX_DEPTH:
        raise ValueError("avro: value nesting too deep")
    kind = node[0]
    if kind == "ref":
        target = named.get(node[1])
        if target is None:
            raise ValueError(f"avro: unresolved type {node[1]!r}")
        return _decode(r, target, named, depth + 1)
    if kind == "prim":
        t = node[1]
        logical = node[2] if len(node) > 2 else None
        if t == "null":
            return None
        if t == "boolean":
            return r.raw(1) == b"\x01"
        if t in ("int", "long"):
            v = r.long()
            return _logical_int(v, logical) if logical else v
        if t == "float":
            return struct.unpack("<f", r.raw(4))[0]
        if t == "double":
            return struct.unpack("<d", r.raw(8))[0]
        if t == "bytes":
            raw = r.raw(r.long())
            return _logical_bytes(raw, logical) if logical else raw
        # string
        sv = r.raw(r.long()).decode("utf-8", "replace")
        return _logical_str(sv, logical) if logical else sv
    if kind == "union":
        idx = r.long()
        branches = node[1]
        if not 0 <= idx < len(branches):
            raise ValueError("avro: union branch out of range")
        return _decode(r, branches[idx], named, depth + 1)
    if kind == "record":
        return {fname: _decode(r, fnode, named, depth + 1)
                for fname, fnode in node[2]}
    if kind == "enum":
        idx = r.long()
        syms = node[2]
        if not 0 <= idx < len(syms):
            raise ValueError("avro: enum index out of range")
        return syms[idx]
    if kind == "fixed":
        raw = r.raw(node[2])
        logical = node[3] if len(node) > 3 else None
        return _logical_bytes(raw, logical) if logical else raw
    if kind in ("array", "map"):
        out_l: list = []
        out_m: dict = {}
        total = 0
        while True:
            n = r.long()
            if n == 0:
                break
            if n < 0:
                n = -n
                r.long()  # byte size of the block — skippable hint
            total += n
            if total > _MAX_ITEMS:
                raise ValueError("avro: collection too large")
            for _ in range(n):
                if kind == "map":
                    k = r.raw(r.long()).decode("utf-8", "replace")
                    out_m[k] = _decode(r, node[1], named, depth + 1)
                else:
                    out_l.append(_decode(r, node[1], named, depth + 1))
        return out_m if kind == "map" else out_l
    raise ValueError(f"avro: undecodable node {kind!r}")


# --------------------------------------------------------------------------
# Schema resolution (r13) — the spec's "Schema Resolution" section.
#
# A consumer reads data written under an OLD schema with its own NEW
# one: fields match by name (writer order drives the byte walk),
# writer-only fields are decoded-and-discarded, reader-only fields
# take their declared default (error if none), and the spec's
# promotions apply (int→long/float/double, long→float/double,
# float→double, string↔bytes).  Unions resolve by actual branch;
# a non-union writer against a reader union takes the first
# matching reader branch; enums fall back to the reader's enum
# ``default`` symbol (Avro 1.9+) when the writer symbol is gone.
# This is the RESOLVED-DECODING algorithm (branch identity is known
# during the byte walk), not a decode-then-coerce approximation.

_PROMOTIONS = {
    ("int", "long"), ("int", "float"), ("int", "double"),
    ("long", "float"), ("long", "double"), ("float", "double"),
    ("string", "bytes"), ("bytes", "string"),
}


def _deref(node, named: dict):
    while node[0] == "ref":
        target = named.get(node[1])
        if target is None:
            raise ValueError(f"avro: unresolved type {node[1]!r}")
        node = target
    return node


def _schema_match(w, r, w_named: dict, r_named: dict) -> bool:
    """Can writer node ``w`` resolve against reader node ``r``?
    (The spec's compatibility test used for reader-union branch
    selection.)"""
    w = _deref(w, w_named)
    r = _deref(r, r_named)
    if w[0] == "union" or r[0] == "union":
        return True  # branch-level checks happen during decode
    if w[0] != r[0]:
        return (w[0] == "prim" and r[0] == "prim"
                and (w[1], r[1]) in _PROMOTIONS)
    if w[0] == "prim":
        return w[1] == r[1] or (w[1], r[1]) in _PROMOTIONS
    if w[0] in ("record", "enum"):
        return w[1] == r[1]  # full-name match per the spec
    if w[0] == "fixed":
        return w[1] == r[1] and w[2] == r[2]
    return True  # array/map: item compatibility checked recursively


def _default_value(node, named: dict, dflt, depth: int = 0):
    """Materialize a reader field's JSON default per its type
    (bytes/fixed defaults are JSON strings of codepoints 0-255)."""
    if depth > _MAX_DEPTH:
        raise ValueError("avro: default nesting too deep")
    node = _deref(node, named)
    kind = node[0]
    if kind == "union":
        # the default matches the FIRST branch, per the spec
        return _default_value(node[1][0], named, dflt, depth + 1)
    if kind == "prim":
        t = node[1]
        if t == "null":
            return None
        if t in ("bytes",):
            return str(dflt).encode("latin-1")
        if t == "string":
            return str(dflt)
        if t in ("float", "double"):
            return float(dflt)
        if t == "boolean":
            return bool(dflt)
        return int(dflt)
    if kind == "fixed":
        return str(dflt).encode("latin-1")
    if kind == "enum":
        return str(dflt)
    if kind == "array":
        return [_default_value(node[1], named, v, depth + 1)
                for v in (dflt or [])]
    if kind == "map":
        return {k: _default_value(node[1], named, v, depth + 1)
                for k, v in (dflt or {}).items()}
    if kind == "record":
        out = {}
        defaults = node[3] if len(node) > 3 else {}
        for fname, fnode in node[2]:
            if fname not in (dflt or {}) and fname not in defaults:
                raise ValueError(
                    f"avro: record default missing field {fname!r}")
            v = (dflt or {}).get(fname, defaults.get(fname))
            out[fname] = _default_value(fnode, named, v, depth + 1)
        return out
    raise ValueError(f"avro: undecodable default {kind!r}")


def _promote(value, wt: str, rt: str):
    if wt == rt:
        return value
    if (wt, rt) not in _PROMOTIONS:
        raise ValueError(f"avro: cannot resolve writer {wt!r} "
                         f"against reader {rt!r}")
    if rt in ("float", "double"):
        return float(value)
    if rt == "bytes":
        return value.encode("utf-8")
    if rt == "string":
        return value.decode("utf-8", "replace")
    return value  # int -> long


def _decode_resolved(r: _Reader, w, rd, w_named: dict, r_named: dict,
                     depth: int = 0):
    """Decode bytes written under writer node ``w``, shaped by
    reader node ``rd``."""
    if depth > _MAX_DEPTH:
        raise ValueError("avro: value nesting too deep")
    w = _deref(w, w_named)
    rd = _deref(rd, r_named)
    if w[0] == "union":
        idx = r.long()
        branches = w[1]
        if not 0 <= idx < len(branches):
            raise ValueError("avro: union branch out of range")
        return _decode_resolved(r, branches[idx], rd, w_named,
                                r_named, depth + 1)
    if rd[0] == "union":
        for branch in rd[1]:
            if _schema_match(w, branch, w_named, r_named):
                return _decode_resolved(r, w, branch, w_named,
                                        r_named, depth + 1)
        raise ValueError("avro: no matching reader union branch")
    if w[0] == "prim" and rd[0] == "prim":
        return _promote(_decode(r, w, w_named, depth + 1), w[1],
                        rd[1])
    if w[0] != rd[0]:
        raise ValueError(f"avro: cannot resolve writer {w[0]!r} "
                         f"against reader {rd[0]!r}")
    if w[0] == "record":
        if w[1] != rd[1]:
            raise ValueError(f"avro: record name {w[1]!r} does not "
                             f"match reader {rd[1]!r}")
        r_fields = dict(rd[2])
        out: dict = {}
        for fname, fnode in w[2]:
            if fname in r_fields:
                out[fname] = _decode_resolved(
                    r, fnode, r_fields[fname], w_named, r_named,
                    depth + 1)
            else:
                _decode(r, fnode, w_named, depth + 1)  # skip
        defaults = rd[3] if len(rd) > 3 else {}
        w_names = {fname for fname, _ in w[2]}
        for fname, fnode in rd[2]:
            if fname in w_names:
                continue
            if fname not in defaults:
                raise ValueError(f"avro: reader field {fname!r} "
                                 "missing and has no default")
            out[fname] = _default_value(fnode, r_named,
                                        defaults[fname], depth + 1)
        return out
    if w[0] == "enum":
        if w[1] != rd[1]:
            raise ValueError(f"avro: enum name {w[1]!r} does not "
                             f"match reader {rd[1]!r}")
        idx = r.long()
        syms = w[2]
        if not 0 <= idx < len(syms):
            raise ValueError("avro: enum index out of range")
        sym = syms[idx]
        if sym in rd[2]:
            return sym
        edflt = rd[3] if len(rd) > 3 else None
        if edflt is not None:
            return edflt
        raise ValueError(f"avro: enum symbol {sym!r} unknown to "
                         "reader and no default")
    if w[0] == "fixed":
        if w[1] != rd[1] or w[2] != rd[2]:
            raise ValueError("avro: fixed name/size mismatch")
        return r.raw(w[2])
    if w[0] in ("array", "map"):
        out_l: list = []
        out_m: dict = {}
        total = 0
        while True:
            n = r.long()
            if n == 0:
                break
            if n < 0:
                n = -n
                r.long()
            total += n
            if total > _MAX_ITEMS:
                raise ValueError("avro: collection too large")
            for _ in range(n):
                if w[0] == "map":
                    k = r.raw(r.long()).decode("utf-8", "replace")
                    out_m[k] = _decode_resolved(
                        r, w[1], rd[1], w_named, r_named, depth + 1)
                else:
                    out_l.append(_decode_resolved(
                        r, w[1], rd[1], w_named, r_named, depth + 1))
        return out_m if w[0] == "map" else out_l
    raise ValueError(f"avro: undecodable node {w[0]!r}")


# --------------------------------------------------------------------------
# Container.


def avro_decode_container(
        data: bytes,
        reader_schema: str | None = None) -> tuple[dict, list]:
    """Decode an Avro object container → (info, records).  ``info``
    carries the schema JSON, codec name and block count; ``records``
    are plain Python trees (dicts/lists/primitives).  With
    ``reader_schema`` (a JSON schema string), records are decoded
    under the spec's SCHEMA RESOLUTION rules — written bytes walk
    the embedded writer schema, values take the reader's shape
    (promotions, dropped writer fields, reader defaults)."""
    r = _Reader(data)
    if r.raw(4) != b"Obj\x01":
        raise ValueError("avro: missing Obj1 magic")
    meta: dict[str, bytes] = {}
    while True:
        n = r.long()
        if n == 0:
            break
        if n < 0:
            n = -n
            r.long()
        for _ in range(n):
            if len(meta) > 1000:
                raise ValueError("avro: oversized metadata map")
            k = r.raw(r.long()).decode("utf-8", "replace")
            meta[k] = r.raw(r.long())
    sync = r.raw(16)
    schema_json = meta.get("avro.schema")
    if not schema_json:
        raise ValueError("avro: missing avro.schema")
    try:
        schema = json.loads(schema_json)
    except json.JSONDecodeError as e:
        raise ValueError(f"avro: bad schema JSON ({e})") from None
    codec = (meta.get("avro.codec") or b"null").decode("ascii", "replace")
    named: dict = {}
    root = _resolve_schema(schema, named)
    r_named: dict = {}
    r_root = None
    if reader_schema is not None:
        try:
            r_schema = json.loads(reader_schema)
        except json.JSONDecodeError as e:
            raise ValueError(
                f"avro: bad reader schema JSON ({e})") from None
        r_root = _resolve_schema(r_schema, r_named)
    records: list = []
    n_blocks = 0
    while r.pos < len(r.data):
        count = r.long()
        size = r.long()
        if count < 0 or size < 0:
            raise ValueError("avro: negative block header")
        block = r.raw(size)
        if r.raw(16) != sync:
            raise ValueError("avro: sync marker mismatch")
        if codec == "null":
            payload = block
        elif codec == "deflate":
            try:
                payload = zlib.decompress(block, -15)
            except zlib.error as e:
                raise ValueError(f"avro: corrupt deflate block ({e})") \
                    from None
        elif codec == "snappy":
            from .snappy import snappy_uncompress

            if len(block) < 4:
                raise ValueError("avro: snappy block too short")
            payload = snappy_uncompress(block[:-4])
            want = int.from_bytes(block[-4:], "big")
            if zlib.crc32(payload) & 0xFFFFFFFF != want:
                raise ValueError("avro: snappy block CRC mismatch")
        elif codec == "bzip2":
            from .bzip2 import bzip2_decompress

            payload = bzip2_decompress(block)[0]
        elif codec == "xz":
            from .xz import xz_decompress

            payload = xz_decompress(block)[0]
        elif codec == "zstandard":
            from .zstd import decompress_zstd

            payload = decompress_zstd(block)
        else:
            raise ValueError(f"avro: codec {codec!r} gated")
        br = _Reader(payload)
        for _ in range(count):
            if r_root is None:
                records.append(_decode(br, root, named))
            else:
                records.append(_decode_resolved(
                    br, root, r_root, named, r_named))
            if len(records) > _MAX_ITEMS:
                raise ValueError("avro: too many records")
        if br.pos != len(payload):
            raise ValueError("avro: trailing bytes in block")
        n_blocks += 1
    info = {"codec": codec, "n_blocks": n_blocks,
            "schema": schema, "sync": sync}
    return info, records


# --------------------------------------------------------------------------
# Spark surface.

AVRO_META_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("n_records", LongType()),
    StructField("n_blocks", IntegerType()),
    StructField("codec_id", IntegerType()),
    StructField("long_sum", LongType()),
    StructField("str_bytes", LongType()),
    StructField("n_nulls", LongType()),
    StructField("decode_error", StringType()),
])

_CODEC_IDS = {"null": 0, "deflate": 1, "snappy": 2,
              "bzip2": 3, "xz": 4, "zstandard": 5}


def decode_avro_meta(
    df: DataFrame, long_field: str, str_field: str,
    id_col: str = "doc_id", payload_col: str = "payload",
) -> DataFrame:
    """Arrow ``mapInPandas`` wrapper over
    :func:`avro_decode_container` for flat record schemas: record/
    block counts, the sum of a long field (None-skipping, so
    nullable unions tally into ``n_nulls``), and the UTF-8 byte
    tally of a string field."""

    def _parse(payload) -> dict:
        info, recs = avro_decode_container(bytes(payload))
        longs = [rec.get(long_field) for rec in recs]
        strs = [rec.get(str_field) or "" for rec in recs]
        return {"n_records": len(recs), "n_blocks": info["n_blocks"],
                "codec_id": _CODEC_IDS.get(info["codec"], -1),
                "long_sum": sum(v for v in longs if v is not None),
                "str_bytes": sum(len(s.encode("utf-8")) for s in strs),
                "n_nulls": sum(1 for v in longs if v is None)}

    return decode_map(df, _parse, AVRO_META_SCHEMA,
                      (ValueError, IndexError, TypeError, AttributeError),
                      id_col, payload_col)


AVRO_EVO_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("n_records", LongType()),
    StructField("id_sum", LongType()),
    StructField("x4_sum", LongType()),
    StructField("tag_bytes", LongType()),
    StructField("bonus_sum", LongType()),
    StructField("u_sum", LongType()),
    StructField("n_nulls", LongType()),
    StructField("decode_error", StringType()),
])


def decode_avro_evolution(
    df: DataFrame, reader_schema: str,
    id_col: str = "doc_id", payload_col: str = "payload",
) -> DataFrame:
    """Arrow ``mapInPandas`` wrapper over schema-resolved container
    decoding: each payload's embedded WRITER schema walks the bytes,
    ``reader_schema`` shapes the records (promotions int→long /
    float→double / string→bytes, a dropped writer field, a
    defaulted reader field, union member promotion)."""

    def _parse(payload) -> dict:
        _info, recs = avro_decode_container(
            bytes(payload), reader_schema=reader_schema)
        us = [rec.get("u") for rec in recs]
        return {"n_records": len(recs),
                "id_sum": sum(rec["id"] for rec in recs),
                "x4_sum": sum(int(round(rec["x"] * 4)) for rec in recs),
                "tag_bytes": sum(len(rec["tag"]) for rec in recs),
                "bonus_sum": sum(rec["bonus"] for rec in recs),
                "u_sum": sum(v for v in us if v is not None),
                "n_nulls": sum(1 for v in us if v is None)}

    return decode_map(df, _parse, AVRO_EVO_SCHEMA,
                      (ValueError, IndexError, TypeError, KeyError,
                       AttributeError), id_col, payload_col)


AVRO_LOGICAL_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("n_records", LongType()),
    StructField("day_sum", LongType()),
    StructField("ts_us_sum", LongType()),
    StructField("dec_unscaled_sum", LongType()),
    StructField("fx_unscaled_sum", LongType()),
    StructField("uuid_tl_sum", LongType()),
    StructField("decode_error", StringType()),
])


def decode_avro_logical(
    df: DataFrame,
    id_col: str = "doc_id", payload_col: str = "payload",
) -> DataFrame:
    """Arrow ``mapInPandas`` wrapper tallying LOGICAL-typed fields
    (date / timestamp-micros / decimal over bytes and fixed / uuid)
    as exact integers — the materialized Python types
    (datetime.date/datetime/Decimal/UUID) are converted back, so a
    reader that skips materialization or mis-scales fails."""
    import datetime as _dt

    _EPOCH_D = _dt.date(1970, 1, 1)
    _EPOCH_TS = _dt.datetime(1970, 1, 1, tzinfo=_dt.timezone.utc)

    def _parse(payload) -> dict:
        _info, recs = avro_decode_container(bytes(payload))
        day = tsu = dec = fx = tl = 0
        for rec in recs:
            day += (rec["d"] - _EPOCH_D).days
            td = rec["ts"] - _EPOCH_TS
            tsu += (td.days * 86_400_000_000 + td.seconds * 1_000_000
                    + td.microseconds)
            dec += int(rec["dec"].scaleb(2))
            fx += int(rec["fx"].scaleb(3))
            tl += rec["u"].time_low
        return {"n_records": len(recs), "day_sum": day, "ts_us_sum": tsu,
                "dec_unscaled_sum": dec, "fx_unscaled_sum": fx,
                "uuid_tl_sum": tl}

    return decode_map(df, _parse, AVRO_LOGICAL_SCHEMA,
                      (ValueError, IndexError, TypeError, KeyError,
                       AttributeError), id_col, payload_col)
