"""REAL JPEG EXIF extraction — public specs: JPEG (ITU-T T.81)
marker structure and EXIF 2.3 (CIPA DC-008, a TIFF 6.0 IFD tree
embedded in APP1).

Image metadata (orientation, capture time, camera model, true pixel
dimensions) drives dedup keys, PII review and layout decisions in
multimodal training pipelines. Implemented for real:

- **marker walk**: SOI, then length-prefixed segments until SOS
  (EXIF must precede the scan), tolerant of APP0/JFIF, padding
  0xFF fill bytes, and multiple APPn segments;
- **APP1/Exif**: the ``Exif\\0\\0`` preamble, then a full TIFF IFD
  walk in EITHER byte order — IFD0 tags (Make 0x010F ASCII,
  Orientation 0x0112 SHORT, DateTime 0x0132 ASCII) and the Exif
  sub-IFD pointer (0x8769) with PixelXDimension 0xA002 /
  PixelYDimension 0xA003 / ISO 0x8827; inline-vs-offset value
  resolution per TIFF 6.0 §2 (values <= 4 bytes live in the field).

The IFD walk is independent of operators/multimodal._parse_tiff
(which is raster-oriented); this one resolves ASCII + sub-IFD
pointers and never touches strips. Untrusted-input discipline
matches the other byte paths. No EXIF surface exists in the
reference repo (mydatastack/google-analytics-to-s3).
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

_TYPE_SIZE = {1: 1, 2: 1, 3: 2, 4: 4}


def _find_app1_exif(raw: bytes) -> bytes:
    """Walk JPEG markers to the Exif APP1 payload (TIFF bytes)."""
    if len(raw) < 4 or raw[:2] != b"\xff\xd8":
        raise ValueError("JPEG SOI missing")
    pos = 2
    while pos + 4 <= len(raw):
        if raw[pos] != 0xFF:
            raise ValueError("JPEG marker alignment lost")
        while pos < len(raw) and raw[pos] == 0xFF:
            pos += 1  # fill bytes
        if pos >= len(raw):
            break
        marker = raw[pos]
        pos += 1
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            continue  # no-payload markers
        if marker == 0xD9:
            break  # EOI
        if pos + 2 > len(raw):
            raise ValueError("truncated JPEG segment length")
        seg_len = int.from_bytes(raw[pos:pos + 2], "big")
        if seg_len < 2 or pos + seg_len > len(raw):
            raise ValueError("JPEG segment overruns file")
        body = raw[pos + 2:pos + seg_len]
        if marker == 0xE1 and body[:6] == b"Exif\x00\x00":
            return body[6:]
        if marker == 0xDA:
            break  # entropy-coded data follows; EXIF must precede
        pos += seg_len
    raise ValueError("no Exif APP1 segment present")


def _walk_ifd(tiff: bytes, bo: str, ifd_off: int) -> "dict[int, object]":
    def u(pos: int, n: int) -> int:
        if pos + n > len(tiff):
            raise ValueError("EXIF field beyond end of segment")
        return int.from_bytes(tiff[pos:pos + n], bo)

    n_entries = u(ifd_off, 2)
    if n_entries > 512:
        raise ValueError("EXIF IFD entry count exceeds bound")
    tags: dict[int, object] = {}
    for i in range(n_entries):
        ep = ifd_off + 2 + 12 * i
        tag = u(ep, 2)
        typ = u(ep + 2, 2)
        count = u(ep + 4, 4)
        size = _TYPE_SIZE.get(typ)
        if size is None:
            continue  # RATIONAL etc.: not needed here
        if count > 65_536:
            raise ValueError("EXIF tag count exceeds bound")
        total = count * size
        vpos = ep + 8 if total <= 4 else u(ep + 8, 4)
        if typ == 2:  # ASCII (NUL-terminated)
            if vpos + count > len(tiff):
                raise ValueError("EXIF ASCII beyond end of segment")
            tags[tag] = tiff[vpos:vpos + count].split(b"\x00")[0] \
                .decode("latin-1")
        else:
            tags[tag] = [u(vpos + j * size, size)
                         for j in range(count)]
    return tags


def parse_exif(raw: bytes) -> dict:
    """Returns make, orientation, datetime_str, pixel_x, pixel_y,
    iso (missing tags -> None) from a JPEG's APP1."""
    return parse_exif_tiff(_find_app1_exif(raw))


def parse_exif_tiff(tiff: bytes) -> dict:
    """The container-independent EXIF TIFF walk (JPEG APP1 strips the
    ``Exif\\0\\0`` preamble first; PNG ``eXIf`` chunks carry these
    bytes directly)."""
    if len(tiff) < 8:
        raise ValueError("truncated EXIF TIFF header")
    if tiff[:2] == b"II":
        bo = "little"
    elif tiff[:2] == b"MM":
        bo = "big"
    else:
        raise ValueError("EXIF byte-order mark missing")
    if int.from_bytes(tiff[2:4], bo) != 42:
        raise ValueError("EXIF TIFF magic 42 missing")
    ifd0 = _walk_ifd(tiff, bo, int.from_bytes(tiff[4:8], bo))
    out = {
        "make": ifd0.get(0x010F),
        "orientation": (ifd0.get(0x0112) or [None])[0],
        "datetime_str": ifd0.get(0x0132),
        "pixel_x": None, "pixel_y": None, "iso": None,
    }
    exif_ptr = ifd0.get(0x8769)
    if exif_ptr:
        sub = _walk_ifd(tiff, bo, exif_ptr[0])
        out["pixel_x"] = (sub.get(0xA002) or [None])[0]
        out["pixel_y"] = (sub.get(0xA003) or [None])[0]
        out["iso"] = (sub.get(0x8827) or [None])[0]
    return out


EXIF_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("make", StringType()),
    StructField("orientation", IntegerType()),
    StructField("year", IntegerType()),
    StructField("pixel_x", IntegerType()),
    StructField("pixel_y", IntegerType()),
    StructField("iso", IntegerType()),
    StructField("extract_error", StringType()),
])


def extract_exif(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """Arrow ``mapInPandas`` over :func:`parse_exif`; the EXIF
    DateTime string reduces to its year. Per-payload quarantine, no
    shuffle."""

    def _parse(payload) -> dict:
        m = parse_exif(bytes(payload))
        dt = m["datetime_str"] or ""
        return {"make": m["make"], "orientation": m["orientation"],
                "year": int(dt[:4]) if dt[:4].isdigit() else None,
                "pixel_x": m["pixel_x"], "pixel_y": m["pixel_y"],
                "iso": m["iso"]}

    return decode_map(df, _parse, EXIF_SCHEMA, (ValueError, IndexError),
                      id_col, payload_col)
