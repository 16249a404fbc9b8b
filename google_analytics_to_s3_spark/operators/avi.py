"""AVI (RIFF) demux — the classic interleaved A/V container, still
ubiquitous in web crawls. Real byte path from the PUBLIC RIFF/AVI
layout only:

- RIFF('AVI ') chunk walk with word (2-byte) alignment, LIST
  recursion ('hdrl', 'strl', 'movi', 'rec ');
- 'avih' main header (microseconds/frame, total frames, stream
  count, width/height), per-stream 'strh' (fccType 'vids'/'auds',
  handler fourcc, scale/rate/length) and 'strf' presence;
- 'movi' data chunks '##dc'/'##db'/'##wb' routed to their stream by
  the two-digit prefix; 'rec ' groups recursed into;
- 'idx1' entries (ckid, flags, offset, size) VALIDATED against the
  actual chunk layout: each entry's offset (relative to the 'movi'
  list data, the common convention) must point at its chunk header;
- chained REAL decode (``avi_decode_av``): 'MJPG' video chunks run
  the T.81 baseline pipeline, audio chunks of a 0x0055 (MP3)
  WAVEFORMATEX stream run the Layer III path.

Honest gates (named ValueError, per-payload quarantine in the Spark
wrappers): ODML extended indexes (indx), streams beyond 'vids'/
'auds', and codec payloads other than MJPG / MP3 in the decode path
(they still demux, counted as gated). No AVI surface exists in the
reference repo (beyond-reference LLM-pipeline surface, SURVEY §2.12).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from .mp4 import _MEDIA_ERRORS
from .payload_memo import decode_map, tally_schema

__all__ = ["parse_avi", "avi_features", "demux_avi_features",
           "avi_decode_av", "decode_avi_av_features"]


def _u32(raw: bytes, pos: int) -> int:
    if pos + 4 > len(raw):
        raise ValueError("AVI field beyond end of file")
    return int.from_bytes(raw[pos:pos + 4], "little")


def _fcc(raw: bytes, pos: int) -> str:
    if pos + 4 > len(raw):
        raise ValueError("AVI fourcc beyond end of file")
    try:
        return raw[pos:pos + 4].decode("ascii")
    except UnicodeDecodeError as e:
        raise ValueError("non-ASCII fourcc") from e


def _iter_chunks(raw: bytes, start: int, end: int):
    """Yield (fourcc, data_start, data_end) with RIFF word padding."""
    pos = start
    while pos + 8 <= end:
        fcc = _fcc(raw, pos)
        size = _u32(raw, pos + 4)
        data = pos + 8
        if data + size > end:
            raise ValueError(f"chunk '{fcc}' overruns its container")
        yield fcc, data, data + size
        pos = data + size + (size & 1)
    if pos != end and end - pos not in (0,):
        # trailing bytes shorter than a chunk header
        if end - pos >= 8:
            raise ValueError("misaligned RIFF chunk walk")


def parse_avi(raw: bytes) -> dict:
    if len(raw) < 12 or raw[:4] != b"RIFF":
        raise ValueError("RIFF magic missing")
    total = _u32(raw, 4)
    if 8 + total > len(raw):
        raise ValueError("RIFF size overruns the file")
    if raw[8:12] != b"AVI ":
        raise ValueError("RIFF form is not 'AVI '")
    avih = None
    streams: list[dict] = []
    movi_start = None
    chunks: list[tuple[int, int, int]] = []  # (stream, start, size)
    idx1: list[tuple[str, int, int]] = []

    def walk_movi(s: int, e: int):
        for fcc, ds, de in _iter_chunks(raw, s, e):
            if fcc == "LIST" and raw[ds:ds + 4] == b"rec ":
                walk_movi(ds + 4, de)
            elif len(fcc) == 4 and fcc[:2].isdigit() and \
                    fcc[2:] in ("dc", "db", "wb"):
                chunks.append((int(fcc[:2]), ds, de - ds))
            elif fcc == "JUNK":
                continue
            else:
                raise ValueError(f"unexpected movi chunk '{fcc}'")

    for fcc, ds, de in _iter_chunks(raw, 12, 8 + total):
        if fcc == "LIST":
            kind = _fcc(raw, ds)
            if kind == "hdrl":
                for f2, s2, e2 in _iter_chunks(raw, ds + 4, de):
                    if f2 == "avih":
                        avih = {
                            "us_per_frame": _u32(raw, s2),
                            "total_frames": _u32(raw, s2 + 16),
                            "n_streams": _u32(raw, s2 + 24),
                            "width": _u32(raw, s2 + 32),
                            "height": _u32(raw, s2 + 36),
                        }
                    elif f2 == "LIST" and raw[s2:s2 + 4] == b"strl":
                        st: dict = {}
                        for f3, s3, e3 in _iter_chunks(raw, s2 + 4, e2):
                            if f3 == "strh":
                                st["type"] = _fcc(raw, s3)
                                st["handler"] = _fcc(raw, s3 + 4)
                                st["scale"] = _u32(raw, s3 + 20)
                                st["rate"] = _u32(raw, s3 + 24)
                                st["length"] = _u32(raw, s3 + 32)
                            elif f3 == "strf":
                                if st.get("type") == "auds":
                                    st["wformat"] = int.from_bytes(
                                        raw[s3:s3 + 2], "little")
                                st["has_strf"] = True
                            elif f3 == "indx":
                                raise ValueError(
                                    "ODML extended index unsupported"
                                )
                        if st.get("type") not in ("vids", "auds"):
                            raise ValueError(
                                f"stream type {st.get('type')!r} "
                                "unsupported"
                            )
                        if not st.get("has_strf"):
                            raise ValueError("strl missing strf")
                        streams.append(st)
            elif kind == "movi":
                movi_start = ds + 4
                walk_movi(ds + 4, de)
        elif fcc == "idx1":
            pos = ds
            while pos + 16 <= de:
                idx1.append((_fcc(raw, pos), _u32(raw, pos + 8),
                             _u32(raw, pos + 12)))
                pos += 16
    if avih is None or movi_start is None:
        raise ValueError("missing avih or movi")
    if avih["n_streams"] != len(streams):
        raise ValueError("avih stream count != strl count")
    for sid, _ds, _sz in chunks:
        if sid >= len(streams):
            raise ValueError(f"movi chunk for unknown stream {sid}")
    # validate idx1 against the actual layout: entry offset is
    # relative to the movi DATA (the common convention), pointing at
    # the chunk header (8 bytes before its data)
    if idx1:
        if len(idx1) != len(chunks):
            raise ValueError("idx1 entry count != movi chunk count")
        for (ckid, off, size), (sid, ds, sz) in zip(idx1, chunks):
            if int(ckid[:2]) != sid or size != sz:
                raise ValueError("idx1 entry does not match its chunk")
            if movi_start + off != ds - 8:
                raise ValueError("idx1 offset does not hit its chunk")
    return {"avih": avih, "streams": streams, "chunks": chunks,
            "n_idx": len(idx1), "movi_start": movi_start}


def avi_features(raw: bytes) -> dict:
    d = parse_avi(raw)
    per = [{"n": 0, "bytes": 0} for _ in d["streams"]]
    for sid, _ds, sz in d["chunks"]:
        per[sid]["n"] += 1
        per[sid]["bytes"] += sz
    off0 = d["movi_start"]
    return {
        "n_streams": len(d["streams"]),
        "total_frames": d["avih"]["total_frames"],
        "us_per_frame": d["avih"]["us_per_frame"],
        "width": d["avih"]["width"],
        "height": d["avih"]["height"],
        "n_chunks": len(d["chunks"]),
        "n_idx": d["n_idx"],
        "chunk_bytes": sum(sz for _s, _d2, sz in d["chunks"]),
        "chunk_rel_offset_sum": sum(
            ds - 8 - off0 for _s, ds, _sz in d["chunks"]),
        "rate_sum": sum(s["rate"] for s in d["streams"]),
        "scale_sum": sum(s["scale"] for s in d["streams"]),
        "length_sum": sum(s["length"] for s in d["streams"]),
        "handlers": "+".join(sorted(s["handler"]
                                    for s in d["streams"])),
    }


def avi_decode_av(raw: bytes) -> dict:
    """Chained real decode: MJPG video chunks through the T.81
    pipeline, MP3 (wFormatTag 0x0055) audio chunks through the
    Layer III path; other codecs demux but count as gated."""
    import numpy as np

    from .mp3 import parse_mp3
    from .multimodal import _parse_jpeg

    d = parse_avi(raw)
    out = {"n_video_chunks": 0, "n_audio_chunks": 0,
           "gated_streams": 0, "jpeg_y_sum": 0, "jpeg_px": 0,
           "mp3_abs_sum": 0, "mp3_part23_bits": 0}
    decodable = []
    for st in d["streams"]:
        if st["type"] == "vids" and st["handler"] == "MJPG":
            decodable.append("jpeg")
        elif st["type"] == "auds" and st.get("wformat") == 0x0055:
            decodable.append("mp3")
        else:
            decodable.append(None)
            out["gated_streams"] += 1
    for sid, ds, sz in d["chunks"]:
        kind = decodable[sid]
        payload = raw[ds:ds + sz]
        if kind == "jpeg":
            _w, _h, _c, px = _parse_jpeg(payload)
            out["jpeg_y_sum"] += int(px.sum(dtype=np.int64))
            out["jpeg_px"] += int(px.size)
            out["n_video_chunks"] += 1
        elif kind == "mp3":
            m = parse_mp3(payload)
            out["mp3_abs_sum"] += m["spectral_abs_sum"]
            out["mp3_part23_bits"] += m["part23_bits"]
            out["n_audio_chunks"] += 1
    return out


_AVI_INT = ("n_streams", "total_frames", "us_per_frame", "width",
            "height", "n_chunks", "n_idx", "chunk_bytes",
            "chunk_rel_offset_sum", "rate_sum", "scale_sum",
            "length_sum")

_AVI_AV_INT = ("n_video_chunks", "n_audio_chunks", "gated_streams",
               "jpeg_y_sum", "jpeg_px", "mp3_abs_sum",
               "mp3_part23_bits")


def demux_avi_features(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload",
) -> DataFrame:
    """Arrow `mapInPandas` wrapper over :func:`avi_features`."""
    return decode_map(df, lambda p: avi_features(bytes(p)),
                      tally_schema(_AVI_INT, ("handlers",)), _MEDIA_ERRORS,
                      id_col, payload_col)


def decode_avi_av_features(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload",
) -> DataFrame:
    """Arrow `mapInPandas` wrapper over :func:`avi_decode_av`."""
    return decode_map(df, lambda p: avi_decode_av(bytes(p)),
                      tally_schema(_AVI_AV_INT, ()), _MEDIA_ERRORS,
                      id_col, payload_col)
