"""PNG metadata chunks — public spec (PNG Third Edition / W3C):
``tEXt``, ``zTXt``, ``iTXt`` textual metadata and the ``eXIf`` chunk.

Provenance, captions and copyright live in PNG text chunks; training
pipelines harvest them for filtering and attribution. The raster
decoder (multimodal._parse_png) ignores ancillary chunks; this module
reads them:

- **chunk walk** with real CRC-32 verification on every chunk
  (zlib.crc32 over type+data, per spec);
- **tEXt**: ``keyword\\0text`` latin-1;
- **zTXt**: ``keyword\\0`` + compression method 0 + zlib-deflated
  latin-1 text;
- **iTXt**: ``keyword\\0`` + compressed flag/method + language tag
  ``\\0`` + translated keyword ``\\0`` + UTF-8 text, optionally
  deflated;
- **eXIf**: a raw EXIF TIFF tree, walked by the shared
  operators/exif.parse_exif_tiff.

Untrusted-input discipline matches the other byte paths (bounds,
truncation checks, decompression caps, quarantine). No PNG-metadata
surface exists in the reference repo
(mydatastack/google-analytics-to-s3).
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

from .exif import parse_exif_tiff
from .payload_memo import decode_map

_MAGIC = b"\x89PNG\r\n\x1a\n"
_MAX_TEXT = 16 * 1024 * 1024


def _inflate(data: bytes) -> bytes:
    try:
        d = zlib.decompressobj()
        out = d.decompress(data, _MAX_TEXT)
        if d.unconsumed_tail:
            raise ValueError("PNG text exceeds decompression bound")
        return out
    except zlib.error as e:
        raise ValueError(f"PNG text inflate error: {e}") from e


def parse_png_metadata(raw: bytes) -> dict:
    """Walk all chunks (CRCs verified); returns texts
    ([(keyword, text)]) and exif (dict or None)."""
    if raw[:8] != _MAGIC:
        raise ValueError("PNG signature missing")
    pos = 8
    texts: list[tuple[str, str]] = []
    exif = None
    seen_iend = False
    while pos + 8 <= len(raw):
        length = int.from_bytes(raw[pos:pos + 4], "big")
        ctype = raw[pos + 4:pos + 8]
        if length > len(raw):
            raise ValueError("PNG chunk length overruns file")
        data = raw[pos + 8:pos + 8 + length]
        if len(data) < length or pos + 12 + length > len(raw):
            raise ValueError("truncated PNG chunk")
        crc = int.from_bytes(raw[pos + 8 + length:pos + 12 + length],
                             "big")
        if zlib.crc32(ctype + data) & 0xFFFFFFFF != crc:
            raise ValueError(
                f"PNG {ctype.decode('latin-1')} chunk CRC mismatch")
        if ctype == b"tEXt":
            kw, _, text = data.partition(b"\x00")
            texts.append((kw.decode("latin-1"),
                          text.decode("latin-1")))
        elif ctype == b"zTXt":
            kw, _, rest = data.partition(b"\x00")
            if not rest or rest[0] != 0:
                raise ValueError("zTXt compression method invalid")
            texts.append((kw.decode("latin-1"),
                          _inflate(rest[1:]).decode("latin-1")))
        elif ctype == b"iTXt":
            kw, _, rest = data.partition(b"\x00")
            if len(rest) < 2:
                raise ValueError("truncated iTXt header")
            comp_flag, comp_method = rest[0], rest[1]
            if comp_flag not in (0, 1) or comp_method != 0:
                raise ValueError("iTXt compression fields invalid")
            _lang, _, rest2 = rest[2:].partition(b"\x00")
            _trans, _, body = rest2.partition(b"\x00")
            if comp_flag:
                body = _inflate(body)
            texts.append((kw.decode("latin-1"), body.decode("utf-8")))
        elif ctype == b"eXIf":
            exif = parse_exif_tiff(data)
        elif ctype == b"IEND":
            seen_iend = True
            break
        pos += 12 + length
        if len(texts) > 10_000:
            raise ValueError("PNG text chunk count exceeds bound")
    if not seen_iend:
        raise ValueError("PNG IEND missing")
    return {"texts": texts, "exif": exif}


PNG_META_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("n_texts", IntegerType()),
    StructField("title", StringType()),
    StructField("desc_chars", LongType()),
    StructField("comment_chars", LongType()),
    StructField("exif_orientation", IntegerType()),
    StructField("exif_iso", IntegerType()),
    StructField("extract_error", StringType()),
])


def extract_png_metadata(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """Arrow ``mapInPandas`` over :func:`parse_png_metadata`: keyed
    Title/Description/Comment text stats + the eXIf orientation/ISO.
    Per-payload quarantine, no shuffle."""

    def _parse(payload) -> dict:
        m = parse_png_metadata(bytes(payload))
        kv = dict(m["texts"])
        ex = m["exif"] or {}
        return {"n_texts": len(m["texts"]), "title": kv.get("Title"),
                "desc_chars": len(kv.get("Description", "")),
                "comment_chars": len(kv.get("Comment", "")),
                "exif_orientation": ex.get("orientation"),
                "exif_iso": ex.get("iso")}

    return decode_map(df, _parse, PNG_META_SCHEMA,
                      (ValueError, IndexError, UnicodeDecodeError),
                      id_col, payload_col)
