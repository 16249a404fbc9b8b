"""Content-type sniffing by magic bytes — the dispatcher in front of
every decoder this engine ships.

A 100 TB crawl arrives as undifferentiated payload bytes; the first
operator routes each payload to its byte path. This sniffer covers
every format family the engine reads (images, audio, video
containers, archives, documents, binary serializations), using only
public magic signatures; ambiguous container cases are resolved the
way real sniffers do (RIFF → WEBP/WAV/AVI by form type, ISO-BMFF by
the ``ftyp`` box, EBML by the DocType, MPEG-TS by repeated 0x47 sync
at packet stride, MP3 by frame-sync OR an ID3v2 tag, QOI/LZ4/FLV by
fixed magics, PDF by the header comment anywhere in the first 1 KB).

Returns a stable label or 'unknown' — never raises: unknown inputs
are data, not errors. Arrow ``mapInPandas``, no shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)
from .payload_memo import decode_map


def detect_format(raw: bytes) -> str:
    if len(raw) < 4:
        return "unknown"
    if raw[:8] == b"\x89PNG\r\n\x1a\n":
        # APNG is a PNG with an acTL chunk before IDAT
        idat = raw.find(b"IDAT")
        actl = raw.find(b"acTL")
        return "apng" if 0 <= actl < (idat if idat >= 0 else
                                      len(raw)) else "png"
    if raw[:3] == b"\xff\xd8\xff":
        return "jpeg"
    if raw[:6] in (b"GIF87a", b"GIF89a"):
        return "gif"
    if raw[:4] == b"qoif":
        return "qoi"
    if raw[:4] == b"RIFF" and len(raw) >= 12:
        form = raw[8:12]
        return {b"WEBP": "webp", b"WAVE": "wav",
                b"AVI ": "avi"}.get(form, "riff")
    if raw[:4] == b"\x1a\x45\xdf\xa3":
        return "webm" if b"webm" in raw[:64] else "matroska"
    if raw[4:8] == b"ftyp":
        return "mp4"
    if raw[:4] == b"fLaC":
        return "flac"
    if raw[:4] == b"OggS":
        return "ogg"
    if raw[:3] == b"ID3" or (raw[0] == 0xFF and (raw[1] & 0xE0)
                             == 0xE0):
        return "mp3"
    if raw[:5] == b"%PDF-" or b"%PDF-" in raw[:1024]:
        return "pdf"
    if raw[:4] == b"PK\x03\x04":
        return "zip"
    if raw[:2] == b"\x1f\x8b":
        return "gzip"
    if raw[:4] == (0x184D2204).to_bytes(4, "little"):
        return "lz4"
    if raw[:3] == b"FLV":
        return "flv"
    if raw[:4] == b"\x00\x00\x01\x00":
        return "ico"
    if raw[:2] == b"BM":
        return "bmp"
    if raw[:4] in (b"II*\x00", b"MM\x00*"):
        return "tiff"
    if raw[:5] == b"WARC/":
        return "warc"
    if raw[:2] in (b"P5", b"P6") and raw[2:3] in b" \t\n\r":
        return "netpbm"
    if raw[:9] == b"YUV4MPEG2":
        return "y4m"
    if len(raw) >= 512 and raw[257:262] == b"ustar":
        return "tar"
    # MPEG-TS: 0x47 sync at 188-byte stride, >= 3 packets
    if raw[0] == 0x47 and len(raw) >= 3 * 188 \
            and raw[188] == 0x47 and raw[376] == 0x47:
        return "mpegts"
    head = raw[:256].lstrip(b"\xef\xbb\xbf \t\r\n")
    if head[:6] == b"WEBVTT":
        return "webvtt"
    if head[:5] == b"<svg " or (head[:5] == b"<?xml"
                                and b"<svg" in raw[:1024]):
        return "svg"
    if head[:5] == b"<?xml":
        if b"<urlset" in raw[:1024] or b"<sitemapindex" in raw[:1024]:
            return "sitemap"
        if b"<rss" in raw[:1024] or b"<feed" in raw[:1024]:
            return "feed"
        return "xml"
    if head[:9].lower() == b"<!doctype" or head[:5].lower() == b"<html":
        return "html"
    if raw[:5] == b"From ":
        return "mbox"
    return "unknown"


SNIFF_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("format", StringType()),
])


def sniff_formats(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """(doc_id, payload) -> (doc_id, format): the routing column the
    per-format decode stages filter on. Never raises; unknown is a
    value."""
    return decode_map(df, lambda p: {"format": detect_format(bytes(p))},
                      SNIFF_SCHEMA, (), id_col, payload_col)


ROUTE_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("format", StringType()),
    StructField("px_sum", LongType()),
    StructField("decode_error", StringType()),
])


def route_and_decode_images(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """The dispatcher integration: sniff each payload and route it to
    its REAL decoder in the same Arrow pass (PNG / QOI / BMP here —
    the shape a 100 TB mixed-image corpus runs: one scan, per-payload
    dispatch, no per-format re-reads). Unknown or unsupported formats
    pass through with a NULL sum; decoder failures quarantine per
    payload."""
    import numpy as np

    from .multimodal import _parse_bmp, _parse_png
    from .qoi import _parse_qoi

    def _parse(payload) -> dict:
        raw = bytes(payload)
        fmt = detect_format(raw)
        # the sniffed format is reported for quarantined payloads too
        try:
            if fmt == "png":
                _w, _h, _c, px = _parse_png(raw)
                s = int(np.asarray(px, dtype=np.int64).sum())
            elif fmt == "qoi":
                _w, _h, _c, px, _ops = _parse_qoi(raw)
                s = int(px.sum(dtype=np.int64))
            elif fmt == "bmp":
                _w, _h, _c, px = _parse_bmp(raw)
                s = int(px.sum(dtype=np.int64))
            else:
                s = None
        except (ValueError, IndexError) as e:
            return {"format": fmt, "decode_error": str(e)}
        return {"format": fmt, "px_sum": s}

    return decode_map(df, _parse, ROUTE_SCHEMA, (), id_col, payload_col)
