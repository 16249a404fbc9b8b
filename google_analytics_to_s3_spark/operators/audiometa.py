"""Audio metadata extraction: OggOpus headers/tags (RFC 7845) and
FLAC metadata blocks (the public FLAC format spec) — the provenance
layer of every audio-crawl pipeline (titles, artists, seek maps,
cover art).

- **OggOpus**: the real Ogg page walk with CRC verification
  (operators/vorbis._ogg_packets) feeds the ``OpusHead`` parse
  (version, channel count, pre-skip, input sample rate, Q7.8 output
  gain, channel-mapping families 0 and 1 with stream/coupled counts)
  and ``OpusTags`` — the VorbisComment structure (LE lengths, UTF-8
  ``KEY=value`` pairs). SILK/CELT audio decode is an honest named
  gate; every byte of the metadata layer is real.
- **FLAC metadata blocks**: the header walk (last-flag, type, 24-bit
  length) with per-type tallies; ``VORBIS_COMMENT`` (same structure,
  no framing bit), ``SEEKTABLE`` (18-byte seek points, placeholder
  points counted separately), ``PADDING`` byte totals, and
  ``PICTURE`` (type, MIME, description, dims, the embedded image —
  which chains through the real PNG decoder when it is a PNG).

Arrow ``mapInPandas`` with per-payload quarantine, no shuffle. No
audio-metadata surface exists in the reference repo
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

from .vorbis import _ogg_packets
from .payload_memo import decode_map


def parse_vorbis_comment(data: bytes) -> "tuple[str, list[tuple[str, str]]]":
    """The VorbisComment structure shared by OpusTags, FLAC and
    Vorbis: LE-length vendor string + LE count + ``KEY=value``
    UTF-8 entries."""
    if len(data) < 8:
        raise ValueError("truncated VorbisComment")
    vlen = int.from_bytes(data[0:4], "little")
    pos = 4 + vlen
    if pos + 4 > len(data):
        raise ValueError("VorbisComment vendor overruns data")
    vendor = data[4:pos].decode("utf-8", "replace")
    count = int.from_bytes(data[pos:pos + 4], "little")
    pos += 4
    if count > 100_000:
        raise ValueError("VorbisComment count exceeds bound")
    comments: list[tuple[str, str]] = []
    for _ in range(count):
        if pos + 4 > len(data):
            raise ValueError("truncated VorbisComment entry length")
        ln = int.from_bytes(data[pos:pos + 4], "little")
        pos += 4
        if pos + ln > len(data):
            raise ValueError("VorbisComment entry overruns data")
        entry = data[pos:pos + ln].decode("utf-8", "replace")
        pos += ln
        key, _, value = entry.partition("=")
        comments.append((key.upper(), value))
    return vendor, comments


def parse_oggopus(raw: bytes) -> dict:
    packets = _ogg_packets(raw)
    if len(packets) < 2:
        raise ValueError("OggOpus needs OpusHead + OpusTags")
    head = packets[0]
    if head[:8] != b"OpusHead":
        raise ValueError("OpusHead magic missing")
    if len(head) < 19:
        raise ValueError("truncated OpusHead")
    if head[8] >> 4 != 0:
        raise ValueError(f"Opus version {head[8]} unsupported")
    out = {
        "channels": head[9],
        "pre_skip": int.from_bytes(head[10:12], "little"),
        "input_rate": int.from_bytes(head[12:16], "little"),
        "output_gain_q8": int.from_bytes(head[16:18], "little",
                                         signed=True),
        "mapping_family": head[18],
    }
    if out["mapping_family"] == 0:
        if out["channels"] > 2:
            raise ValueError("mapping family 0 allows <= 2 channels")
        out["stream_count"] = 1
        out["coupled_count"] = out["channels"] - 1
    elif out["mapping_family"] == 1:
        if len(head) < 21 + out["channels"]:
            raise ValueError("truncated Opus channel mapping")
        out["stream_count"] = head[19]
        out["coupled_count"] = head[20]
    else:
        raise ValueError(
            f"Opus mapping family {out['mapping_family']} unsupported")
    tags = packets[1]
    if tags[:8] != b"OpusTags":
        raise ValueError("OpusTags magic missing")
    vendor, comments = parse_vorbis_comment(tags[8:])
    out["vendor"] = vendor
    out["comments"] = comments
    out["n_audio_packets"] = len(packets) - 2
    return out


def parse_flac_blocks(raw: bytes) -> dict:
    """Walk all FLAC metadata blocks; audio frames are not decoded
    here (operators/multimodal._parse_flac owns that path)."""
    if raw[:4] != b"fLaC":
        raise ValueError("FLAC magic missing")
    pos = 4
    out = {"n_blocks": 0, "padding_bytes": 0, "seekpoints": 0,
           "placeholder_points": 0, "comments": [], "vendor": None,
           "picture_mime": None, "picture_bytes": 0,
           "picture_data": None}
    while True:
        if pos + 4 > len(raw):
            raise ValueError("truncated FLAC metadata header")
        hdr = raw[pos]
        last = bool(hdr & 0x80)
        btype = hdr & 0x7F
        blen = int.from_bytes(raw[pos + 1:pos + 4], "big")
        body = raw[pos + 4:pos + 4 + blen]
        if len(body) != blen:
            raise ValueError("truncated FLAC metadata block")
        out["n_blocks"] += 1
        if out["n_blocks"] > 10_000:
            raise ValueError("FLAC block count exceeds bound")
        if btype == 1:
            out["padding_bytes"] += blen
        elif btype == 3:
            if blen % 18:
                raise ValueError("SEEKTABLE length not a multiple of 18")
            for i in range(blen // 18):
                sample = int.from_bytes(body[18 * i:18 * i + 8], "big")
                if sample == (1 << 64) - 1:
                    out["placeholder_points"] += 1
                else:
                    out["seekpoints"] += 1
        elif btype == 4:
            vendor, comments = parse_vorbis_comment(body)
            out["vendor"] = vendor
            out["comments"] = comments
        elif btype == 6:
            p = 4  # picture type
            mlen = int.from_bytes(body[p:p + 4], "big")
            p += 4
            out["picture_mime"] = body[p:p + mlen].decode(
                "ascii", "replace")
            p += mlen
            dlen = int.from_bytes(body[p:p + 4], "big")
            p += 4 + dlen + 16  # description + w/h/depth/colors
            plen = int.from_bytes(body[p:p + 4], "big")
            p += 4
            if p + plen > len(body):
                raise ValueError("PICTURE data overruns block")
            out["picture_bytes"] = plen
            out["picture_data"] = body[p:p + plen]
        pos += 4 + blen
        if last:
            break
    return out


AUDIO_TAGS_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("channels", IntegerType()),
    StructField("pre_skip", IntegerType()),
    StructField("input_rate", IntegerType()),
    StructField("n_comments", IntegerType()),
    StructField("title", StringType()),
    StructField("comment_chars", LongType()),
    StructField("n_audio_packets", IntegerType()),
    StructField("extract_error", StringType()),
])


def extract_opus_meta(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """Arrow ``mapInPandas`` over :func:`parse_oggopus`."""

    def _parse(payload) -> dict:
        m = parse_oggopus(bytes(payload))
        return {"channels": m["channels"], "pre_skip": m["pre_skip"],
                "input_rate": m["input_rate"],
                "n_comments": len(m["comments"]),
                "title": dict(m["comments"]).get("TITLE"),
                "comment_chars": sum(len(k) + 1 + len(v)
                                     for k, v in m["comments"]),
                "n_audio_packets": m["n_audio_packets"]}

    return decode_map(df, _parse, AUDIO_TAGS_SCHEMA,
                      (ValueError, IndexError), id_col, payload_col)


FLAC_TAGS_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("n_blocks", IntegerType()),
    StructField("n_comments", IntegerType()),
    StructField("title", StringType()),
    StructField("seekpoints", IntegerType()),
    StructField("placeholder_points", IntegerType()),
    StructField("padding_bytes", LongType()),
    StructField("picture_mime", StringType()),
    StructField("picture_rgb_sum", LongType()),
    StructField("extract_error", StringType()),
])


def extract_flac_tags(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """Arrow ``mapInPandas`` over :func:`parse_flac_blocks`; an
    embedded PNG cover decodes through the REAL raster path and
    reports its exact pixel sum."""
    import numpy as np

    from .multimodal import _parse_png

    def _parse(payload) -> dict:
        m = parse_flac_blocks(bytes(payload))
        px_sum = None
        if m["picture_mime"] == "image/png" and m["picture_data"]:
            _w, _h, _c, px = _parse_png(m["picture_data"])
            px_sum = int(np.asarray(px, dtype=np.int64).sum())
        return {"n_blocks": m["n_blocks"],
                "n_comments": len(m["comments"]),
                "title": dict(m["comments"]).get("TITLE"),
                "seekpoints": m["seekpoints"],
                "placeholder_points": m["placeholder_points"],
                "padding_bytes": m["padding_bytes"],
                "picture_mime": m["picture_mime"],
                "picture_rgb_sum": px_sum}

    return decode_map(df, _parse, FLAC_TAGS_SCHEMA,
                      (ValueError, IndexError), id_col, payload_col)
