"""Schema-less protobuf wire-format walking — public spec (Protocol
Buffers encoding documentation: varints, wire types 0/1/2/5, the
``(field_no << 3) | wire_type`` key).

Telemetry and API payloads in crawls are often protobuf without the
``.proto``; a schema-less walk still yields structure features
(field numbers, wire-type mix, nesting depth, varint magnitudes)
good enough for clustering/filtering. Implemented:

- **varints**: 7-bit little-endian groups, 10-byte bound;
- **fields**: wire types 0 (varint), 1 (fixed64), 2 (length-
  delimited), 5 (fixed32); the deprecated group types 3/4 make a
  candidate parse INVALID (the standard schema-less heuristic);
- **submessage heuristic**: a length-delimited value is treated as a
  nested message iff its bytes parse EXACTLY as one (all bytes
  consumed, bounded depth) — deterministic, and the fixture plants
  both outcomes (text payloads whose first byte forms a group-type
  key can never false-positive).

Untrusted-input discipline matches the other byte paths. No protobuf
surface exists in the reference repo
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
from .bitio import uvarint
from .payload_memo import decode_map

_MAX_DEPTH = 8
_MAX_FIELDS = 1_000_000


def _try_walk(data: bytes, depth: int) -> "list[tuple] | None":
    """Parse ``data`` as one complete message; None if invalid.
    Fields come back as (field_no, wire_type, value_or_subfields)."""
    if depth > _MAX_DEPTH:
        return None
    fields: list[tuple] = []
    pos = 0
    n = len(data)
    if n == 0:
        return None  # empty bytes: call it a string, not a message
    while pos < n:
        try:
            key, pos = uvarint(data, pos, 10, "protobuf")
        except ValueError:
            return None
        field_no = key >> 3
        wtype = key & 7
        if field_no == 0 or field_no > 536_870_911:
            return None
        if wtype == 0:
            try:
                val, pos = uvarint(data, pos, 10, "protobuf")
            except ValueError:
                return None
            fields.append((field_no, 0, val))
        elif wtype == 1:
            if pos + 8 > n:
                return None
            fields.append((field_no, 1,
                           int.from_bytes(data[pos:pos + 8],
                                          "little")))
            pos += 8
        elif wtype == 5:
            if pos + 4 > n:
                return None
            fields.append((field_no, 5,
                           int.from_bytes(data[pos:pos + 4],
                                          "little")))
            pos += 4
        elif wtype == 2:
            try:
                ln, pos = uvarint(data, pos, 10, "protobuf")
            except ValueError:
                return None
            if ln > n - pos:
                return None
            body = data[pos:pos + ln]
            pos += ln
            sub = _try_walk(body, depth + 1)
            fields.append((field_no, 2, sub if sub is not None
                           else body))
        else:
            return None  # group types 3/4: invalid under proto3
        if len(fields) > _MAX_FIELDS:
            return None
    return fields


def walk_protobuf(raw: bytes) -> "list[tuple]":
    fields = _try_walk(raw, 0)
    if fields is None:
        raise ValueError("payload is not a valid protobuf message")
    return fields


def _stats(fields: "list[tuple]", depth: int = 1) -> dict:
    s = {"n_fields": 0, "max_field": 0, "n_varint": 0, "n_len": 0,
         "n_sub": 0, "varint_sum": 0, "len_bytes": 0,
         "depth_max": depth}
    for field_no, wtype, val in fields:
        s["n_fields"] += 1 if depth == 1 else 0
        s["max_field"] = max(s["max_field"], field_no)
        if wtype == 0:
            s["n_varint"] += 1 if depth == 1 else 0
            if depth == 1:
                s["varint_sum"] += val
        elif wtype == 2:
            if isinstance(val, list):
                s["n_sub"] += 1 if depth == 1 else 0
                sub = _stats(val, depth + 1)
                s["depth_max"] = max(s["depth_max"],
                                     sub["depth_max"])
                s["max_field"] = max(s["max_field"],
                                     sub["max_field"])
            else:
                s["n_len"] += 1 if depth == 1 else 0
                if depth == 1:
                    s["len_bytes"] += len(val)
    return s


PROTO_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("n_fields", IntegerType()),
    StructField("max_field", IntegerType()),
    StructField("n_varint", IntegerType()),
    StructField("n_len", IntegerType()),
    StructField("n_sub", IntegerType()),
    StructField("varint_sum", LongType()),
    StructField("len_bytes", LongType()),
    StructField("depth_max", IntegerType()),
    StructField("extract_error", StringType()),
])


def extract_protobuf_features(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """Arrow ``mapInPandas`` over :func:`walk_protobuf` +
    :func:`_stats`; top-level tallies plus global max field/depth."""
    return decode_map(df, lambda p: _stats(walk_protobuf(bytes(p))),
                      PROTO_SCHEMA, (ValueError, IndexError),
                      id_col, payload_col)
