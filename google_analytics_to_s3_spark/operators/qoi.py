"""REAL QOI (Quite OK Image) decode — public spec (qoiformat.org,
`qoi-specification.pdf`, 2022-01-05).

QOI is a single-pass byte-oriented lossless image codec used by ML
dataset tooling as a cheap PNG alternative; a crawl-scale multimodal
pipeline meets it alongside PNG/GIF/BMP. This module implements the
FULL decode path — there is nothing to gate, the spec has exactly six
chunk ops:

- ``QOI_OP_RGB``  (0xFE) / ``QOI_OP_RGBA`` (0xFF) literal pixels,
- ``QOI_OP_INDEX`` (0b00xxxxxx) into the 64-slot running hash array
  ``(3r + 5g + 7b + 11a) % 64``,
- ``QOI_OP_DIFF``  (0b01drdgdb) 2-bit channel deltas, bias 2,
  wraparound arithmetic,
- ``QOI_OP_LUMA``  (0b10dddddd + byte) 6-bit green delta (bias 32)
  with 4-bit red/blue deltas relative to it (bias 8),
- ``QOI_OP_RUN``   (0b11rrrrrr) run of the previous pixel, bias -1,
  lengths 1..62 (63/64 are the RGB/RGBA tags).

The running index is updated after every decoded chunk (matching the
reference ``qoi.h`` decoder); the stream must end with the 8-byte
marker ``00*7 || 01``. Untrusted-input discipline follows the other
image decoders (multimodal.py): explicit resource bound on ``w*h``,
truncation checks on every read, ValueError (never a crash) on any
malformed input, and per-payload quarantine in the Arrow wrapper.

No QOI surface exists in the reference repo
(mydatastack/google-analytics-to-s3); this is beyond-reference
LLM-pipeline surface like the PNG/JPEG/FLAC byte paths.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)
from .payload_memo import decode_map

_END_MARKER = b"\x00" * 7 + b"\x01"


def _parse_qoi(raw: bytes) -> "tuple[int, int, int, np.ndarray, dict]":
    """Decode a QOI payload; returns (width, height, channels,
    HxWxC uint8 raster, per-op chunk counts)."""
    if len(raw) < 14 + 8:
        raise ValueError("truncated QOI header")
    if raw[:4] != b"qoif":
        raise ValueError("QOI magic missing")
    w = int.from_bytes(raw[4:8], "big")
    h = int.from_bytes(raw[8:12], "big")
    channels = raw[12]
    colorspace = raw[13]
    if channels not in (3, 4):
        raise ValueError(f"QOI channels {channels} invalid (3 or 4)")
    if colorspace not in (0, 1):
        raise ValueError(f"QOI colorspace {colorspace} invalid")
    if w <= 0 or h <= 0 or w * h > 50_000_000:
        raise ValueError("QOI dimensions invalid or exceed bound")
    if raw[-8:] != _END_MARKER:
        raise ValueError("QOI end marker missing")
    data = raw[14:-8]
    n_px = w * h
    out = np.empty((n_px, channels), dtype=np.uint8)
    index = [(0, 0, 0, 0)] * 64
    px = (0, 0, 0, 255)
    pos = 0
    i = 0
    ops = {"rgb": 0, "rgba": 0, "index": 0, "diff": 0, "luma": 0,
           "run": 0}
    run = 0
    while i < n_px:
        if run > 0:
            run -= 1
        else:
            if pos >= len(data):
                raise ValueError("QOI chunk stream shorter than image")
            b1 = data[pos]
            pos += 1
            if b1 == 0xFE:
                if pos + 3 > len(data):
                    raise ValueError("truncated QOI_OP_RGB")
                px = (data[pos], data[pos + 1], data[pos + 2], px[3])
                pos += 3
                ops["rgb"] += 1
            elif b1 == 0xFF:
                if pos + 4 > len(data):
                    raise ValueError("truncated QOI_OP_RGBA")
                px = (data[pos], data[pos + 1], data[pos + 2],
                      data[pos + 3])
                pos += 4
                ops["rgba"] += 1
            elif b1 >> 6 == 0:
                px = index[b1 & 0x3F]
                ops["index"] += 1
            elif b1 >> 6 == 1:
                px = (
                    (px[0] + ((b1 >> 4) & 3) - 2) % 256,
                    (px[1] + ((b1 >> 2) & 3) - 2) % 256,
                    (px[2] + (b1 & 3) - 2) % 256,
                    px[3],
                )
                ops["diff"] += 1
            elif b1 >> 6 == 2:
                if pos >= len(data):
                    raise ValueError("truncated QOI_OP_LUMA")
                dg = (b1 & 0x3F) - 32
                b2 = data[pos]
                pos += 1
                px = (
                    (px[0] + dg + ((b2 >> 4) & 0xF) - 8) % 256,
                    (px[1] + dg) % 256,
                    (px[2] + dg + (b2 & 0xF) - 8) % 256,
                    px[3],
                )
                ops["luma"] += 1
            else:  # QOI_OP_RUN
                run = b1 & 0x3F
                if run >= 62:
                    raise ValueError("QOI run tag collides with RGB(A)")
                ops["run"] += 1
            index[(px[0] * 3 + px[1] * 5 + px[2] * 7 + px[3] * 11)
                  % 64] = px
        out[i] = px[:channels]
        i += 1
    if run != 0:
        raise ValueError("QOI run overruns the image")
    if pos != len(data):
        raise ValueError("QOI trailing bytes before end marker")
    return w, h, channels, out.reshape(h, w, channels), ops


QOI_META_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("width", IntegerType()),
    StructField("height", IntegerType()),
    StructField("channels", IntegerType()),
    StructField("px_sum", LongType()),
    StructField("decode_error", StringType()),
])


def decode_qoi_meta(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """Arrow ``mapInPandas`` wrapper over :func:`_parse_qoi` — exact
    integer pixel sum (alpha plane included for 4-channel files);
    per-payload quarantine so one bad payload never fails the batch.
    Embarrassingly parallel: per-payload cost, no shuffle."""

    def _parse(payload) -> dict:
        w, h, c, px, _ = _parse_qoi(bytes(payload))
        return {"width": w, "height": h, "channels": c,
                "px_sum": int(px.sum(dtype=np.int64))}

    return decode_map(df, _parse, QOI_META_SCHEMA, (ValueError, IndexError),
                      id_col, payload_col)
