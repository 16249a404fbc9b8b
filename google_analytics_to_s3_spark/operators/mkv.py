"""REAL Matroska / WebM demux — public spec (IETF RFC 8794 EBML +
the Matroska element registry, matroska.org).

WebM is the dominant open web video container; crawl pipelines meet
``.webm``/``.mkv`` constantly. This module implements the real EBML
byte path:

- **vints**: variable-length integers for element IDs (marker bits
  kept, per spec) and sizes (marker stripped), 1-8 bytes;
- **element walk**: EBML header (DocType), Segment → Info
  (TimecodeScale/Duration), Tracks → TrackEntry (TrackNumber,
  TrackType, CodecID, Audio/Video sub-elements), Cluster → Timecode
  + SimpleBlock / BlockGroup>Block;
- **blocks**: track-number vint, signed 16-bit relative timecode,
  flags; frame bytes extracted per track and reassembled in stream
  order, so a contained codec stream (e.g. ``A_MPEG/L3``) can be
  chain-decoded by the real MP3 path (operators/mp3.py) — the same
  discipline as the MP4/AVI chains.

Honest named gates: unknown-size elements (0xFF..FF sizes, used by
live streams), block LACING (flag bits 0x06 — Xiph/EBML/fixed
lacing), and SeekHead-based random access (the walk is linear).

Untrusted-input discipline matches the other byte paths: recursion
and element-count bounds, truncation checks, ValueError on malformed
input, per-payload quarantine in the Arrow wrapper. No Matroska
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

_EBML = 0x1A45DFA3
_SEGMENT = 0x18538067
_INFO = 0x1549A966
_TIMECODE_SCALE = 0x2AD7B1
_DURATION = 0x4489
_TRACKS = 0x1654AE6B
_TRACK_ENTRY = 0xAE
_TRACK_NUMBER = 0xD7
_TRACK_TYPE = 0x83
_CODEC_ID = 0x86
_CLUSTER = 0x1F43B675
_CLUSTER_TIMECODE = 0xE7
_SIMPLE_BLOCK = 0xA3
_BLOCK_GROUP = 0xA0
_BLOCK = 0xA1
_DOCTYPE = 0x4282

_MAX_ELEMENTS = 1_000_000


def _read_vint(data: bytes, pos: int,
               keep_marker: bool) -> "tuple[int, int]":
    """EBML vint at ``pos``; returns (value, new_pos)."""
    if pos >= len(data):
        raise ValueError("truncated EBML vint")
    first = data[pos]
    if first == 0:
        raise ValueError("EBML vint length > 8 unsupported")
    length = 8 - first.bit_length() + 1
    if pos + length > len(data):
        raise ValueError("truncated EBML vint body")
    value = first if keep_marker else first & ((1 << (8 - length)) - 1)
    for i in range(1, length):
        value = (value << 8) | data[pos + i]
    if not keep_marker:
        all_ones = (1 << (7 * length)) - 1
        if value == all_ones:
            raise ValueError("EBML unknown-size element unsupported")
    return value, pos + length


def _walk(data: bytes, pos: int, end: int, budget: "list[int]"
          ) -> "Iterator[tuple[int, bytes]]":
    """Yield (element_id, payload) for the siblings in [pos, end)."""
    while pos < end:
        budget[0] -= 1
        if budget[0] <= 0:
            raise ValueError("EBML element count exceeds bound")
        eid, pos = _read_vint(data, pos, keep_marker=True)
        size, pos = _read_vint(data, pos, keep_marker=False)
        if pos + size > end:
            raise ValueError("EBML element overruns its parent")
        yield eid, data[pos:pos + size]
        pos += size


def _uint(payload: bytes) -> int:
    if len(payload) > 8:
        raise ValueError("EBML uint too wide")
    return int.from_bytes(payload, "big")


def _parse_block(payload: bytes) -> "tuple[int, int, bytes]":
    """(track_number, relative_timecode, frame bytes)."""
    track, pos = _read_vint(payload, 0, keep_marker=False)
    if pos + 3 > len(payload):
        raise ValueError("truncated Matroska block header")
    rel = int.from_bytes(payload[pos:pos + 2], "big", signed=True)
    flags = payload[pos + 2]
    if flags & 0x06:
        raise ValueError("Matroska block lacing unsupported")
    return track, rel, payload[pos + 3:]


def parse_mkv(raw: bytes) -> dict:
    """Linear demux; returns doc_type, timecode_scale, tracks
    ([{number, type, codec_id}]), clusters ([{timecode, blocks:
    [(track, rel_time, bytes)]}])."""
    budget = [_MAX_ELEMENTS]
    out = {"doc_type": None, "timecode_scale": 1_000_000,
           "tracks": [], "clusters": []}
    top = _walk(raw, 0, len(raw), budget)
    for eid, payload in top:
        if eid == _EBML:
            for sid, sp in _walk(payload, 0, len(payload), budget):
                if sid == _DOCTYPE:
                    out["doc_type"] = sp.decode("ascii",
                                                "replace").rstrip("\x00")
        elif eid == _SEGMENT:
            for sid, sp in _walk(payload, 0, len(payload), budget):
                if sid == _INFO:
                    for iid, ip in _walk(sp, 0, len(sp), budget):
                        if iid == _TIMECODE_SCALE:
                            out["timecode_scale"] = _uint(ip)
                elif sid == _TRACKS:
                    for tid, tp in _walk(sp, 0, len(sp), budget):
                        if tid != _TRACK_ENTRY:
                            continue
                        tr = {"number": None, "type": None,
                              "codec_id": None, "codec_private": None}
                        for fid, fp in _walk(tp, 0, len(tp), budget):
                            if fid == _TRACK_NUMBER:
                                tr["number"] = _uint(fp)
                            elif fid == _TRACK_TYPE:
                                tr["type"] = _uint(fp)
                            elif fid == _CODEC_ID:
                                tr["codec_id"] = fp.decode(
                                    "ascii", "replace")
                            elif fid == 0x63A2:  # CodecPrivate
                                tr["codec_private"] = bytes(fp)
                        out["tracks"].append(tr)
                elif sid == _CLUSTER:
                    cl = {"timecode": 0, "blocks": []}
                    for cid, cp in _walk(sp, 0, len(sp), budget):
                        if cid == _CLUSTER_TIMECODE:
                            cl["timecode"] = _uint(cp)
                        elif cid == _SIMPLE_BLOCK:
                            cl["blocks"].append(_parse_block(cp))
                        elif cid == _BLOCK_GROUP:
                            for gid, gp in _walk(cp, 0, len(cp),
                                                 budget):
                                if gid == _BLOCK:
                                    cl["blocks"].append(
                                        _parse_block(gp))
                    out["clusters"].append(cl)
    if out["doc_type"] is None:
        raise ValueError("EBML header / DocType missing")
    return out


def extract_mkv_track(raw: bytes, codec_prefix: str) -> bytes:
    """Concatenate, in stream order, the frames of the first track
    whose CodecID starts with ``codec_prefix``."""
    m = parse_mkv(raw)
    want = None
    for tr in m["tracks"]:
        if (tr["codec_id"] or "").startswith(codec_prefix):
            want = tr["number"]
            break
    if want is None:
        raise ValueError(f"no {codec_prefix} track present")
    return b"".join(
        frame
        for cl in m["clusters"]
        for track, _, frame in cl["blocks"]
        if track == want
    )


MKV_DEMUX_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("timecode_scale", IntegerType()),
    StructField("n_tracks", IntegerType()),
    StructField("n_clusters", IntegerType()),
    StructField("n_blocks", IntegerType()),
    StructField("video_bytes", LongType()),
    StructField("audio_bytes", LongType()),
    StructField("decode_error", StringType()),
])


def demux_mkv_features(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """Arrow ``mapInPandas`` wrapper over :func:`parse_mkv`: counts
    plus per-track-type byte totals (type 1 = video, 2 = audio);
    per-payload quarantine, no shuffle."""

    def _parse(payload) -> dict:
        m = parse_mkv(bytes(payload))
        ttype = {t["number"]: t["type"] for t in m["tracks"]}
        vb = ab = nb = 0
        for cl in m["clusters"]:
            for track, _, frame in cl["blocks"]:
                nb += 1
                if ttype.get(track) == 1:
                    vb += len(frame)
                elif ttype.get(track) == 2:
                    ab += len(frame)
        return {"timecode_scale": m["timecode_scale"],
                "n_tracks": len(m["tracks"]),
                "n_clusters": len(m["clusters"]), "n_blocks": nb,
                "video_bytes": vb, "audio_bytes": ab}

    return decode_map(df, _parse, MKV_DEMUX_SCHEMA,
                      (ValueError, IndexError), id_col, payload_col)


def extract_mkv_track_df(
    df: DataFrame, codec_prefix: str,
    id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """(doc_id, payload=container) -> (doc_id, payload=codec stream):
    Arrow ``mapInPandas`` over :func:`extract_mkv_track` so a chained
    decoder (e.g. operators/mp3.decode_mp3_features) can run on the
    reassembled elementary stream. Failed payloads are dropped (the
    chain decoder records its own quarantine)."""
    return decode_map(
        df,
        lambda p: {"payload": extract_mkv_track(bytes(p), codec_prefix)},
        PAYLOAD_SCHEMA, (ValueError, IndexError), id_col, payload_col)


def extract_mkv_avc_annexb(raw: bytes) -> bytes:
    """Matroska AVC chain: the V_MPEG4/ISO/AVC track's avcC
    CodecPrivate (out-of-band SPS/PPS) plus its length-prefixed
    SimpleBlock frames, rewrapped as one Annex B stream for the real
    H.264 path (operators/h264.py) — the MP4/MKV convention."""
    from .h264 import avcc_to_annexb, parse_avcc

    m = parse_mkv(raw)
    track = None
    for tr in m["tracks"]:
        if (tr["codec_id"] or "").startswith("V_MPEG4/ISO/AVC"):
            track = tr
            break
    if track is None or track.get("codec_private") is None:
        raise ValueError("no AVC track with CodecPrivate present")
    avcc = parse_avcc(track["codec_private"])
    samples = [
        frame
        for cl in m["clusters"]
        for tnum, _, frame in cl["blocks"]
        if tnum == track["number"]
    ]
    return avcc_to_annexb(avcc, samples)


def extract_mkv_avc_df(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """(doc_id, container) -> (doc_id, Annex B stream); failed
    payloads are dropped."""
    return decode_map(
        df, lambda p: {"payload": extract_mkv_avc_annexb(bytes(p))},
        PAYLOAD_SCHEMA, (ValueError, IndexError), id_col, payload_col)
