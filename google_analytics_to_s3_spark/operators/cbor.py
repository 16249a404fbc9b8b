"""REAL CBOR decode — public spec (RFC 8949, Concise Binary Object
Representation), the binary JSON of web APIs, IoT payloads and
COSE/WebAuthn blobs found in crawls.

Implemented in full for the definite-length core:

- major types 0/1 (unsigned/negative integers with 0/1/2/4/8-byte
  arguments), 2/3 (byte/text strings), 4/5 (arrays/maps), 6 (tags —
  value decoded, tag recorded), 7 (false/true/null/undefined,
  float16/32/64 — float16 decoded by hand per RFC 8949 appendix D);
- canonical bounds: nesting depth, total item count, string lengths
  against the payload size;
- honest named gates: indefinite-length items (streaming encoders)
  and simple values outside the assigned ranges.

Untrusted-input discipline matches the other byte paths. No CBOR
surface exists in the reference repo
(mydatastack/google-analytics-to-s3).
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

_MAX_DEPTH = 32
_MAX_ITEMS = 1_000_000


class _Decoder:
    __slots__ = ("data", "pos", "items")

    def __init__(self, data: bytes) -> None:
        self.data = data
        self.pos = 0
        self.items = 0

    def _arg(self, info: int) -> int:
        if info < 24:
            return info
        if info == 24:
            return self._take(1)[0]
        if info == 25:
            return int.from_bytes(self._take(2), "big")
        if info == 26:
            return int.from_bytes(self._take(4), "big")
        if info == 27:
            return int.from_bytes(self._take(8), "big")
        if info == 31:
            raise ValueError("indefinite-length CBOR unsupported")
        raise ValueError(f"CBOR additional info {info} invalid")

    def _take(self, n: int) -> bytes:
        if self.pos + n > len(self.data):
            raise ValueError("truncated CBOR item")
        out = self.data[self.pos:self.pos + n]
        self.pos += n
        return out

    def decode(self, depth: int = 0):
        if depth > _MAX_DEPTH:
            raise ValueError("CBOR nesting exceeds bound")
        self.items += 1
        if self.items > _MAX_ITEMS:
            raise ValueError("CBOR item count exceeds bound")
        initial = self._take(1)[0]
        major = initial >> 5
        info = initial & 0x1F
        if major == 0:
            return self._arg(info)
        if major == 1:
            return -1 - self._arg(info)
        if major == 2:
            n = self._arg(info)
            if n > len(self.data):
                raise ValueError("CBOR byte string exceeds payload")
            return self._take(n)
        if major == 3:
            n = self._arg(info)
            if n > len(self.data):
                raise ValueError("CBOR text string exceeds payload")
            try:
                return self._take(n).decode("utf-8")
            except UnicodeDecodeError as e:
                raise ValueError("CBOR text is not UTF-8") from e
        if major == 4:
            n = self._arg(info)
            if n > _MAX_ITEMS:
                raise ValueError("CBOR array length exceeds bound")
            return [self.decode(depth + 1) for _ in range(n)]
        if major == 5:
            n = self._arg(info)
            if n > _MAX_ITEMS:
                raise ValueError("CBOR map length exceeds bound")
            out = {}
            for _ in range(n):
                k = self.decode(depth + 1)
                if isinstance(k, (bytes, list, dict)):
                    k = repr(k)
                out[k] = self.decode(depth + 1)
            return out
        if major == 6:
            tag = self._arg(info)
            return ("tag", tag, self.decode(depth + 1))
        # major 7
        if info == 20:
            return False
        if info == 21:
            return True
        if info == 22:
            return None
        if info == 23:
            return ("undefined",)
        if info == 25:  # float16, decoded by hand (RFC 8949 app. D)
            half = int.from_bytes(self._take(2), "big")
            exp = (half >> 10) & 0x1F
            mant = half & 0x3FF
            if exp == 0:
                val = mant * 2.0 ** -24
            elif exp != 31:
                val = (mant + 1024) * 2.0 ** (exp - 25)
            else:
                val = float("inf") if mant == 0 else float("nan")
            return -val if half & 0x8000 else val
        if info == 26:
            return struct.unpack(">f", self._take(4))[0]
        if info == 27:
            return struct.unpack(">d", self._take(8))[0]
        raise ValueError(f"CBOR simple value {info} unsupported")


def parse_cbor(raw: bytes):
    """Decode exactly one CBOR data item covering the whole payload."""
    dec = _Decoder(raw)
    val = dec.decode()
    if dec.pos != len(raw):
        raise ValueError("trailing bytes after CBOR item")
    return val


def _cbor_stats(val, depth: int = 1) -> dict:
    s = {"int_sum": 0, "text_chars": 0, "n_arrays": 0, "n_maps": 0,
         "n_tags": 0, "depth_max": depth, "n_true": 0}
    if isinstance(val, bool):
        s["n_true"] += int(val)
    elif isinstance(val, int):
        s["int_sum"] += val
    elif isinstance(val, str):
        s["text_chars"] += len(val)
    elif isinstance(val, list):
        s["n_arrays"] += 1
        for v in val:
            sub = _cbor_stats(v, depth + 1)
            for k in s:
                s[k] = max(s[k], sub[k]) if k == "depth_max" \
                    else s[k] + sub[k]
    elif isinstance(val, dict):
        s["n_maps"] += 1
        for k_, v in val.items():
            for node in (k_, v):
                sub = _cbor_stats(node, depth + 1)
                for k in s:
                    s[k] = max(s[k], sub[k]) if k == "depth_max" \
                        else s[k] + sub[k]
    elif isinstance(val, tuple) and val and val[0] == "tag":
        s["n_tags"] += 1
        sub = _cbor_stats(val[2], depth + 1)
        for k in s:
            s[k] = max(s[k], sub[k]) if k == "depth_max" \
                else s[k] + sub[k]
    return s


CBOR_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("int_sum", LongType()),
    StructField("text_chars", LongType()),
    StructField("n_arrays", IntegerType()),
    StructField("n_maps", IntegerType()),
    StructField("n_tags", IntegerType()),
    StructField("n_true", IntegerType()),
    StructField("depth_max", IntegerType()),
    StructField("extract_error", StringType()),
])


def extract_cbor_features(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """Arrow ``mapInPandas`` over :func:`parse_cbor` +
    :func:`_cbor_stats`."""
    return decode_map(df, lambda p: _cbor_stats(parse_cbor(bytes(p))),
                      CBOR_SCHEMA, (ValueError, IndexError),
                      id_col, payload_col)
