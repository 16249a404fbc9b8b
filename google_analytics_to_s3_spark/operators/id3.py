"""REAL ID3v2 tag extraction — public spec (id3.org: ID3v2.3.0 and
ID3v2.4.0 informal standards).

Audio crawled from the web almost always leads with an ID3v2 tag;
title/artist/date drive dedup keys and provenance in audio training
pipelines. The MP3 decoder (operators/mp3.py) SKIPS the tag; this
module reads it:

- **header**: ``ID3`` magic, major version 3/4, flags (the
  unsynchronisation and extended-header bits are honest named
  gates), 28-bit SYNCSAFE tag size;
- **frames**: 4-char ids; v2.3 plain big-endian frame sizes vs
  v2.4 syncsafe sizes (the classic cross-version bug, handled per
  version); text frames (``T***``) decoded per their encoding byte —
  0 latin-1, 1 UTF-16 with BOM, 2 UTF-16BE, 3 UTF-8 — with NUL
  stripping; padding run terminates the walk;
- **date**: TYER (v2.3) / TDRC (v2.4) reduce to a year.

Untrusted-input discipline matches the other byte paths. No ID3
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
from .payload_memo import decode_map


def _syncsafe(data: bytes) -> int:
    if any(b & 0x80 for b in data):
        raise ValueError("ID3 syncsafe byte has bit 7 set")
    out = 0
    for b in data:
        out = (out << 7) | b
    return out


def _decode_text(data: bytes) -> str:
    if not data:
        return ""
    enc = data[0]
    body = data[1:]
    if enc == 0:
        text = body.decode("latin-1")
    elif enc == 1:
        text = body.decode("utf-16")  # BOM-led
    elif enc == 2:
        text = body.decode("utf-16-be")
    elif enc == 3:
        text = body.decode("utf-8")
    else:
        raise ValueError(f"ID3 text encoding {enc} invalid")
    return text.rstrip("\x00")


def parse_id3(raw: bytes) -> dict:
    """Returns version (3/4), n_frames, and {frame_id: text} for the
    text frames."""
    if len(raw) < 10 or raw[:3] != b"ID3":
        raise ValueError("ID3v2 header missing")
    version = raw[3]
    if version not in (3, 4):
        raise ValueError(f"ID3v2.{version} unsupported")
    flags = raw[5]
    if flags & 0x80:
        raise ValueError("ID3 unsynchronisation unsupported")
    if flags & 0x40:
        raise ValueError("ID3 extended header unsupported")
    size = _syncsafe(raw[6:10])
    if 10 + size > len(raw):
        raise ValueError("ID3 tag overruns file")
    pos = 10
    end = 10 + size
    frames: dict[str, str] = {}
    n_frames = 0
    while pos + 10 <= end:
        if raw[pos] == 0:
            break  # padding
        fid = raw[pos:pos + 4]
        if not all(65 <= b <= 90 or 48 <= b <= 57 for b in fid):
            raise ValueError("ID3 frame id invalid")
        if version == 4:
            fsize = _syncsafe(raw[pos + 4:pos + 8])
        else:
            fsize = int.from_bytes(raw[pos + 4:pos + 8], "big")
        if pos + 10 + fsize > end:
            raise ValueError("ID3 frame overruns tag")
        body = raw[pos + 10:pos + 10 + fsize]
        n_frames += 1
        if n_frames > 10_000:
            raise ValueError("ID3 frame count exceeds bound")
        if fid[0:1] == b"T":
            frames[fid.decode("ascii")] = _decode_text(body)
        pos += 10 + fsize
    return {"version": version, "n_frames": n_frames,
            "frames": frames}


ID3_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("version", IntegerType()),
    StructField("n_frames", IntegerType()),
    StructField("title", StringType()),
    StructField("artist", StringType()),
    StructField("year", IntegerType()),
    StructField("text_chars", LongType()),
    StructField("extract_error", StringType()),
])


def extract_id3(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """Arrow ``mapInPandas`` over :func:`parse_id3`; year comes from
    TYER (v2.3) or TDRC (v2.4). Per-payload quarantine, no shuffle."""

    def _parse(payload) -> dict:
        m = parse_id3(bytes(payload))
        fr = m["frames"]
        date = fr.get("TDRC") or fr.get("TYER") or ""
        return {"version": m["version"], "n_frames": m["n_frames"],
                "title": fr.get("TIT2"), "artist": fr.get("TPE1"),
                "year": int(date[:4]) if date[:4].isdigit() else None,
                "text_chars": sum(len(v) for v in fr.values())}

    return decode_map(df, _parse, ID3_SCHEMA,
                      (ValueError, IndexError, UnicodeDecodeError),
                      id_col, payload_col)
