"""MessagePack decoding — public msgpack specification
(msgpack/msgpack spec.md): the compact big-endian tag space.

The third schema-less serialization of the crawl/API world next to
CBOR (operators/cbor.py) and protobuf (operators/protowire.py);
telemetry dumps and Redis/RPC payloads ship it constantly.

Implemented: the COMPLETE definite tag space — positive/negative
fixints, fixmap/fixarray/fixstr, nil/false/true, bin 8/16/32,
ext 8/16/32 + fixext 1/2/4/8/16, float 32/64, uint 8/16/32/64,
int 8/16/32/64, str 8/16/32, array 16/32, map 16/32.  Non-canonical
(over-wide) encodings are accepted, as the spec requires of readers.
0xC1 (never used) and truncated payloads raise named ``ValueError``s;
depth and item caps bound adversarial nesting.

Feature extraction mirrors the CBOR surface: integer sum, text
chars (map keys included), structure tallies, ext/bin accounting,
max depth — enough signal to cluster/filter undocumented payloads.
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)
from .payload_memo import decode_map

__all__ = ["msgpack_decode", "extract_msgpack_features"]

_MAX_DEPTH = 32
_MAX_ITEMS = 1_000_000


class _Stats:
    __slots__ = ("int_sum", "text_chars", "n_arrays", "n_maps",
                 "n_exts", "n_true", "bin_bytes", "n_floats",
                 "depth_max", "items")

    def __init__(self) -> None:
        self.int_sum = 0
        self.text_chars = 0
        self.n_arrays = 0
        self.n_maps = 0
        self.n_exts = 0
        self.n_true = 0
        self.bin_bytes = 0
        self.n_floats = 0
        self.depth_max = 0
        self.items = 0


def _decode(data: bytes, pos: int, depth: int,
            st: _Stats) -> tuple[object, int]:
    if depth > _MAX_DEPTH:
        raise ValueError("msgpack: nesting too deep")
    st.items += 1
    if st.items > _MAX_ITEMS:
        raise ValueError("msgpack: too many items")
    if depth > st.depth_max:
        st.depth_max = depth
    if pos >= len(data):
        raise ValueError("msgpack: truncated value")
    b = data[pos]
    pos += 1

    def need(n: int) -> None:
        if pos + n > len(data):
            raise ValueError("msgpack: truncated payload")

    if b <= 0x7F:  # positive fixint
        st.int_sum += b
        return b, pos
    if b >= 0xE0:  # negative fixint
        v = b - 256
        st.int_sum += v
        return v, pos
    if 0x80 <= b <= 0x8F:
        return _map(data, pos, b & 0x0F, depth, st)
    if 0x90 <= b <= 0x9F:
        return _array(data, pos, b & 0x0F, depth, st)
    if 0xA0 <= b <= 0xBF:
        return _text(data, pos, b & 0x1F, st)
    if b == 0xC0:
        return None, pos
    if b == 0xC1:
        raise ValueError("msgpack: reserved tag 0xC1")
    if b == 0xC2:
        return False, pos
    if b == 0xC3:
        st.n_true += 1
        return True, pos
    if b in (0xC4, 0xC5, 0xC6):  # bin 8/16/32
        w = 1 << (b - 0xC4)
        need(w)
        n = int.from_bytes(data[pos:pos + w], "big")
        pos += w
        need(n)
        st.bin_bytes += n
        return bytes(data[pos:pos + n]), pos + n
    if b in (0xC7, 0xC8, 0xC9):  # ext 8/16/32
        w = 1 << (b - 0xC7)
        need(w + 1)
        n = int.from_bytes(data[pos:pos + w], "big")
        pos += w
        etype = data[pos]
        pos += 1
        need(n)
        st.n_exts += 1
        return ("ext", etype, bytes(data[pos:pos + n])), pos + n
    if b == 0xCA:
        need(4)
        st.n_floats += 1
        return struct.unpack_from(">f", data, pos)[0], pos + 4
    if b == 0xCB:
        need(8)
        st.n_floats += 1
        return struct.unpack_from(">d", data, pos)[0], pos + 8
    if 0xCC <= b <= 0xCF:  # uint 8/16/32/64
        w = 1 << (b - 0xCC)
        need(w)
        v = int.from_bytes(data[pos:pos + w], "big")
        st.int_sum += v
        return v, pos + w
    if 0xD0 <= b <= 0xD3:  # int 8/16/32/64
        w = 1 << (b - 0xD0)
        need(w)
        v = int.from_bytes(data[pos:pos + w], "big", signed=True)
        st.int_sum += v
        return v, pos + w
    if 0xD4 <= b <= 0xD8:  # fixext 1/2/4/8/16
        n = 1 << (b - 0xD4)
        need(n + 1)
        etype = data[pos]
        pos += 1
        st.n_exts += 1
        return ("ext", etype, bytes(data[pos:pos + n])), pos + n
    if 0xD9 <= b <= 0xDB:  # str 8/16/32
        w = 1 << (b - 0xD9)
        need(w)
        n = int.from_bytes(data[pos:pos + w], "big")
        return _text(data, pos + w, n, st)
    if b in (0xDC, 0xDD):  # array 16/32
        w = 2 << (b - 0xDC)
        need(w)
        n = int.from_bytes(data[pos:pos + w], "big")
        return _array(data, pos + w, n, depth, st)
    # map 16/32
    w = 2 << (b - 0xDE)
    need(w)
    n = int.from_bytes(data[pos:pos + w], "big")
    return _map(data, pos + w, n, depth, st)


def _text(data: bytes, pos: int, n: int, st: _Stats) -> tuple[str, int]:
    if pos + n > len(data):
        raise ValueError("msgpack: truncated string")
    s = data[pos:pos + n].decode("utf-8", "replace")
    st.text_chars += len(s)
    return s, pos + n


def _array(data: bytes, pos: int, n: int, depth: int,
           st: _Stats) -> tuple[list, int]:
    if n > _MAX_ITEMS:
        raise ValueError("msgpack: array too large")
    st.n_arrays += 1
    out = []
    for _ in range(n):
        v, pos = _decode(data, pos, depth + 1, st)
        out.append(v)
    return out, pos


def _map(data: bytes, pos: int, n: int, depth: int,
         st: _Stats) -> tuple[dict, int]:
    if n > _MAX_ITEMS:
        raise ValueError("msgpack: map too large")
    st.n_maps += 1
    out = {}
    for _ in range(n):
        k, pos = _decode(data, pos, depth + 1, st)
        v, pos = _decode(data, pos, depth + 1, st)
        try:
            out[k] = v
        except TypeError:
            out[repr(k)] = v
    return out, pos


def msgpack_decode(data: bytes) -> tuple[object, _Stats]:
    """Decode one top-level MessagePack value → (value, stats).
    Trailing bytes are an error (one document per payload)."""
    st = _Stats()
    v, pos = _decode(data, 0, 1, st)
    if pos != len(data):
        raise ValueError("msgpack: trailing bytes after document")
    return v, st


MSGPACK_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("int_sum", LongType()),
    StructField("text_chars", LongType()),
    StructField("n_arrays", IntegerType()),
    StructField("n_maps", IntegerType()),
    StructField("n_exts", IntegerType()),
    StructField("n_true", IntegerType()),
    StructField("bin_bytes", LongType()),
    StructField("n_floats", IntegerType()),
    StructField("depth_max", IntegerType()),
    StructField("extract_error", StringType()),
])


def extract_msgpack_features(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """Arrow ``mapInPandas`` wrapper over :func:`msgpack_decode`;
    per-payload quarantine, no shuffle."""
    cols = MSGPACK_SCHEMA.fieldNames()[1:-1]

    def _parse(payload) -> dict:
        _v, st = msgpack_decode(bytes(payload))
        return {k: getattr(st, k) for k in cols}

    return decode_map(df, _parse, MSGPACK_SCHEMA, (ValueError, IndexError),
                      id_col, payload_col)
