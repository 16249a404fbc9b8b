"""ISO Base Media File Format (MP4/MOV) demux — ISO/IEC 14496-12.

Real container byte path, built from the PUBLIC spec only:

- box walk: 32-bit sizes, ``size == 1`` 64-bit largesize, ``size == 0``
  box-extends-to-EOF, unknown boxes skipped (the format's own
  forward-compat rule), bounds-checked at every level;
- ``ftyp`` (major/compatible brands), ``moov``/``mvhd`` (versions 0
  and 1), ``trak``/``tkhd`` (v0/v1, 16.16 fixed-point width/height),
  ``mdia``/``mdhd``/``hdlr``, and the full ``stbl`` sample-table
  stack: ``stsd`` (sample-entry fourccs), ``stts`` (run-length decode
  deltas), ``stsc`` (sample-to-chunk runs), ``stsz`` (constant OR
  per-sample sizes), ``stco``/``co64`` (32/64-bit chunk offsets);
- full per-sample ``(file_offset, size)`` resolution: stsc runs ×
  chunk offsets × size prefix sums — the algorithm every demuxer
  implements from §8.7 of the spec — validated against the file
  bounds and the enclosing ``mdat`` payload;
- chained REAL decode of supported track payloads (``decode_mp4_av``):
  ``jpeg`` video sample entries run the T.81 baseline pipeline
  (``multimodal._parse_jpeg``) per sample and ``.mp3`` audio sample
  entries run the MPEG-1 Layer III path (``mp3.parse_mp3``) per
  sample, so the container gate narrows to codec payloads we cannot
  legally synthesize oracles for.

FRAGMENTED files (DASH/CMAF: ``mvex``/``trex`` defaults, ``moof``/
``mfhd``/``traf``/``tfhd``/``tfdt``/``trun`` with the full
trun -> tfhd -> trex default cascade and moof-relative or explicit
base data offsets) demux for real as of r10.

Honestly gated with named errors (quarantined per payload by the
Spark wrappers — one bad file never fails a batch): implicit
base-data-offset chaining, compressed movies (``cmov``), protected tracks
(``sinf``), edit lists (``elst``), compact sizes (``stz2``),
sample_description_index != 1 runs, and sample-entry formats other
than ``jpeg``/``.mp3`` in the DECODE path (they still demux —
structure, sizes, offsets — and are counted in ``gated_tracks``).

No MP4 surface exists in the reference repo (beyond-reference
LLM-pipeline surface, cf. SURVEY §2.12); same fixture-plants-rules /
oracle-replays-rules discipline as the FLAC/Vorbis/MP3 byte paths.
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame
from .payload_memo import PAYLOAD_SCHEMA, decode_map, tally_schema

__all__ = ["parse_mp4", "mp4_features", "mp4_decode_av",
           "mp4_frag_features", "demux_mp4_features",
           "demux_mp4_frag_features",
           "decode_mp4_av_features"]

def _u(raw: bytes, pos: int, n: int) -> int:
    if pos + n > len(raw):
        raise ValueError("MP4 field beyond end of file")
    return int.from_bytes(raw[pos:pos + n], "big")


def _fourcc(raw: bytes, pos: int) -> str:
    if pos + 4 > len(raw):
        raise ValueError("MP4 box type beyond end of file")
    try:
        return raw[pos:pos + 4].decode("ascii")
    except UnicodeDecodeError as e:
        raise ValueError("non-ASCII box type") from e


def _iter_boxes(raw: bytes, start: int, end: int):
    """Yield (type, body_start, body_end) for each box in [start, end).
    §4.2: size==0 means to-end-of-enclosing (last box only); size==1
    means a 64-bit largesize follows the type."""
    pos = start
    while pos < end:
        if end - pos < 8:
            raise ValueError("truncated MP4 box header")
        size = _u(raw, pos, 4)
        typ = _fourcc(raw, pos + 4)
        body = pos + 8
        if size == 1:
            size = _u(raw, pos + 8, 8)
            body = pos + 16
            if size < 16:
                raise ValueError("invalid MP4 largesize")
        elif size == 0:
            size = end - pos
        elif size < 8:
            raise ValueError(f"invalid MP4 box size {size}")
        if pos + size > end:
            raise ValueError(f"MP4 box '{typ}' overruns its container")
        yield typ, body, pos + size
        pos += size


def _fullbox(raw: bytes, pos: int) -> tuple[int, int, int]:
    v = _u(raw, pos, 1)
    flags = _u(raw, pos + 1, 3)
    return v, flags, pos + 4


def _parse_mvhd(raw: bytes, s: int, e: int) -> dict:
    v, _fl, p = _fullbox(raw, s)
    if v == 1:
        timescale = _u(raw, p + 16, 4)
        duration = _u(raw, p + 20, 8)
    elif v == 0:
        timescale = _u(raw, p + 8, 4)
        duration = _u(raw, p + 12, 4)
    else:
        raise ValueError(f"mvhd version {v} unsupported")
    return {"timescale": timescale, "duration": duration}


def _parse_tkhd(raw: bytes, s: int, e: int) -> dict:
    v, _fl, p = _fullbox(raw, s)
    if v == 1:
        track_id = _u(raw, p + 16, 4)
        p_end = p + 32  # past duration
    elif v == 0:
        # creation(4) modification(4) track_ID(4) reserved(4) duration(4)
        track_id = _u(raw, p + 8, 4)
        p_end = p + 20
    else:
        raise ValueError(f"tkhd version {v} unsupported")
    # ... reserved(8) layer(2) alt(2) volume(2) reserved(2) matrix(36)
    wpos = p_end + 8 + 2 + 2 + 2 + 2 + 36
    width = _u(raw, wpos, 4)
    height = _u(raw, wpos + 4, 4)
    return {"track_id": track_id, "width": width >> 16,
            "height": height >> 16}


def _parse_mdhd(raw: bytes, s: int, e: int) -> dict:
    v, _fl, p = _fullbox(raw, s)
    if v == 1:
        timescale = _u(raw, p + 16, 4)
        duration = _u(raw, p + 20, 8)
    elif v == 0:
        timescale = _u(raw, p + 8, 4)
        duration = _u(raw, p + 12, 4)
    else:
        raise ValueError(f"mdhd version {v} unsupported")
    return {"timescale": timescale, "duration": duration}


def _parse_hdlr(raw: bytes, s: int, e: int) -> str:
    _v, _fl, p = _fullbox(raw, s)
    return _fourcc(raw, p + 4)


def _parse_stsd(raw: bytes, s: int, e: int) -> list[str]:
    _v, _fl, p = _fullbox(raw, s)
    count = _u(raw, p, 4)
    p += 4
    formats = []
    for _ in range(count):
        if e - p < 8:
            raise ValueError("truncated stsd entry")
        esize = _u(raw, p, 4)
        if esize < 8 or p + esize > e:
            raise ValueError("invalid stsd entry size")
        formats.append(_fourcc(raw, p + 4))
        p += esize
    return formats


def _parse_stsd_avcc(raw: bytes, s: int, e: int) -> "bytes | None":
    """Extract the avcC AVCDecoderConfigurationRecord from an avc1
    VisualSampleEntry (ISO 14496-15 §5.4.2.1.2: the config box
    follows the 78-byte visual sample-entry fields)."""
    _v, _fl, p = _fullbox(raw, s)
    count = _u(raw, p, 4)
    p += 4
    for _ in range(count):
        if e - p < 8:
            raise ValueError("truncated stsd entry")
        esize = _u(raw, p, 4)
        if esize < 8 or p + esize > e:
            raise ValueError("invalid stsd entry size")
        if _fourcc(raw, p + 4) == "avc1" and esize >= 86:
            q = p + 8 + 78
            entry_end = p + esize
            while q + 8 <= entry_end:
                bsize = _u(raw, q, 4)
                if bsize < 8 or q + bsize > entry_end:
                    break
                if _fourcc(raw, q + 4) == "avcC":
                    return raw[q + 8:q + bsize]
                q += bsize
        p += esize
    return None


def _parse_stts(raw: bytes, s: int, e: int) -> list[tuple[int, int]]:
    _v, _fl, p = _fullbox(raw, s)
    count = _u(raw, p, 4)
    p += 4
    if p + 8 * count > e:
        raise ValueError("truncated stts")
    return [(_u(raw, p + 8 * i, 4), _u(raw, p + 8 * i + 4, 4))
            for i in range(count)]


def _parse_stsc(raw: bytes, s: int, e: int) -> list[tuple[int, int]]:
    _v, _fl, p = _fullbox(raw, s)
    count = _u(raw, p, 4)
    p += 4
    if p + 12 * count > e:
        raise ValueError("truncated stsc")
    runs = []
    for i in range(count):
        first = _u(raw, p + 12 * i, 4)
        spc = _u(raw, p + 12 * i + 4, 4)
        sdi = _u(raw, p + 12 * i + 8, 4)
        if sdi != 1:
            raise ValueError("sample_description_index != 1 unsupported")
        if first < 1 or (runs and first <= runs[-1][0]):
            raise ValueError("stsc first_chunk not strictly increasing")
        runs.append((first, spc))
    if count == 0:
        return []
    if not runs or runs[0][0] != 1:
        raise ValueError("stsc must start at chunk 1")
    return runs


def _parse_stsz(raw: bytes, s: int, e: int) -> tuple[int, list[int] | None]:
    _v, _fl, p = _fullbox(raw, s)
    fixed = _u(raw, p, 4)
    count = _u(raw, p + 4, 4)
    p += 8
    if fixed != 0:
        return count, [fixed] * count
    if p + 4 * count > e:
        raise ValueError("truncated stsz")
    return count, [_u(raw, p + 4 * i, 4) for i in range(count)]


def _parse_stco(raw: bytes, s: int, e: int, wide: bool) -> list[int]:
    _v, _fl, p = _fullbox(raw, s)
    count = _u(raw, p, 4)
    p += 4
    w = 8 if wide else 4
    if p + w * count > e:
        raise ValueError("truncated stco/co64")
    return [_u(raw, p + w * i, w) for i in range(count)]


def _resolve_samples(
    stsc: list[tuple[int, int]], sizes: list[int], chunk_offs: list[int]
) -> list[tuple[int, int]]:
    """§8.7 sample resolution: expand stsc runs over the chunk list,
    lay samples consecutively inside each chunk via the stsz prefix
    sums. Returns [(absolute_offset, size)] in sample order."""
    n_chunks = len(chunk_offs)
    if n_chunks == 0 and not sizes:
        return []  # fragmented track: samples live in moof fragments
    spc_by_chunk = []
    for i, (first, spc) in enumerate(stsc):
        last = stsc[i + 1][0] - 1 if i + 1 < len(stsc) else n_chunks
        if last > n_chunks:
            raise ValueError("stsc run beyond the chunk table")
        spc_by_chunk.extend([spc] * (last - first + 1))
    if len(spc_by_chunk) != n_chunks:
        raise ValueError("stsc runs do not cover the chunk table")
    out: list[tuple[int, int]] = []
    si = 0
    for ci, coff in enumerate(chunk_offs):
        off = coff
        for _ in range(spc_by_chunk[ci]):
            if si >= len(sizes):
                raise ValueError("stsc maps more samples than stsz holds")
            out.append((off, sizes[si]))
            off += sizes[si]
            si += 1
    if si != len(sizes):
        raise ValueError("stsc maps fewer samples than stsz holds")
    return out


def _parse_trex(raw: bytes, s: int, e: int) -> dict:
    """§8.8.3 track extends box: per-track fragment defaults."""
    _v, _fl, p = _fullbox(raw, s)
    return {"track_id": _u(raw, p, 4),
            "default_sdi": _u(raw, p + 4, 4),
            "default_duration": _u(raw, p + 8, 4),
            "default_size": _u(raw, p + 12, 4)}


def _parse_tfhd(raw: bytes, s: int, e: int) -> dict:
    """§8.8.7 track fragment header: track_ID + optional per-fragment
    defaults; flag 0x020000 = base-data-offset is the moof start."""
    _v, flags, p = _fullbox(raw, s)
    out = {"flags": flags, "track_id": _u(raw, p, 4),
           "base_data_offset": None, "default_duration": None,
           "default_size": None,
           "base_is_moof": bool(flags & 0x020000)}
    p += 4
    if flags & 0x000001:
        out["base_data_offset"] = _u(raw, p, 8)
        p += 8
    if flags & 0x000002:
        sdi = _u(raw, p, 4)
        if sdi != 1:
            raise ValueError("sample_description_index != 1 unsupported")
        p += 4
    if flags & 0x000008:
        out["default_duration"] = _u(raw, p, 4)
        p += 4
    if flags & 0x000010:
        out["default_size"] = _u(raw, p, 4)
        p += 4
    return out


def _parse_tfdt(raw: bytes, s: int, e: int) -> int:
    v, _fl, p = _fullbox(raw, s)
    return _u(raw, p, 8 if v == 1 else 4)


def _parse_trun(raw: bytes, s: int, e: int) -> dict:
    """§8.8.8 track run: sample_count + optional data_offset and
    per-sample duration/size/flags/cts fields."""
    _v, flags, p = _fullbox(raw, s)
    count = _u(raw, p, 4)
    p += 4
    data_offset = None
    if flags & 0x000001:
        data_offset = int.from_bytes(raw[p:p + 4], "big", signed=True)
        p += 4
    if flags & 0x000004:
        p += 4  # first_sample_flags
    # resource bound (untrusted input): a crafted count with no
    # per-sample fields would loop for free — bound it by the box
    # size when fields are present, by a hard cap otherwise
    field_bytes = 4 * (bool(flags & 0x000100) + bool(flags & 0x000200)
                       + bool(flags & 0x000400) + bool(flags & 0x000800))
    if field_bytes:
        if count * field_bytes > e - p:
            raise ValueError("trun sample_count exceeds its box")
    elif count > 1_000_000:
        raise ValueError("trun sample_count exceeds resource bound")
    per = []
    for _ in range(count):
        dur = size = None
        if flags & 0x000100:
            dur = _u(raw, p, 4)
            p += 4
        if flags & 0x000200:
            size = _u(raw, p, 4)
            p += 4
        if flags & 0x000400:
            p += 4  # sample_flags
        if flags & 0x000800:
            p += 4  # composition time offset
        if p > e:
            raise ValueError("trun overruns its box")
        per.append((dur, size))
    return {"count": count, "data_offset": data_offset, "samples": per}


def _parse_moof(raw: bytes, s: int, e: int, moof_start: int,
                trex: dict) -> dict:
    """One movie fragment: mfhd sequence number + per-traf sample
    runs fully resolved to absolute (offset, size) with defaults
    cascading trun -> tfhd -> trex (§8.8)."""
    seq = None
    trafs = []
    for typ, bs, be in _iter_boxes(raw, s, e):
        if typ == "mfhd":
            _v, _fl, p = _fullbox(raw, bs)
            seq = _u(raw, p, 4)
        elif typ == "traf":
            tfhd = None
            tfdt = None
            truns = []
            for t2, s2, e2 in _iter_boxes(raw, bs, be):
                if t2 == "tfhd":
                    tfhd = _parse_tfhd(raw, s2, e2)
                elif t2 == "tfdt":
                    tfdt = _parse_tfdt(raw, s2, e2)
                elif t2 == "trun":
                    truns.append(_parse_trun(raw, s2, e2))
            if tfhd is None:
                raise ValueError("traf missing tfhd")
            tx = trex.get(tfhd["track_id"])
            if tx is None:
                raise ValueError("traf track_ID has no trex defaults")
            if tfhd["base_data_offset"] is not None:
                base = tfhd["base_data_offset"]
            elif tfhd["base_is_moof"]:
                base = moof_start
            else:
                raise ValueError(
                    "implicit base-data-offset chaining unsupported"
                )
            samples = []
            dur_sum = 0
            run_off = 0
            for tr in truns:
                if tr["data_offset"] is None:
                    raise ValueError(
                        "trun without data_offset unsupported"
                    )
                off = base + tr["data_offset"] + run_off
                for dur, size in tr["samples"]:
                    if size is None:
                        size = tfhd["default_size"]
                    if size is None:
                        size = tx["default_size"]
                    if size is None or size == 0:
                        raise ValueError("sample size unresolved")
                    if dur is None:
                        dur = tfhd["default_duration"]
                    if dur is None:
                        dur = tx["default_duration"]
                    samples.append((off, size))
                    off += size
                    dur_sum += dur or 0
                run_off = off - base - tr["data_offset"]
            trafs.append({"track_id": tfhd["track_id"], "tfdt": tfdt,
                          "samples": samples, "dur_sum": dur_sum})
    if seq is None:
        raise ValueError("moof missing mfhd")
    return {"seq": seq, "trafs": trafs}


def _parse_trak(raw: bytes, s: int, e: int) -> dict:
    tkhd = mdhd = None
    handler = None
    stbl_span = None
    for typ, bs, be in _iter_boxes(raw, s, e):
        if typ == "tkhd":
            tkhd = _parse_tkhd(raw, bs, be)
        elif typ == "edts":
            for t2, _s2, _e2 in _iter_boxes(raw, bs, be):
                if t2 == "elst":
                    raise ValueError("edit lists (elst) unsupported")
        elif typ == "mdia":
            for t2, s2, e2 in _iter_boxes(raw, bs, be):
                if t2 == "mdhd":
                    mdhd = _parse_mdhd(raw, s2, e2)
                elif t2 == "hdlr":
                    handler = _parse_hdlr(raw, s2, e2)
                elif t2 == "minf":
                    for t3, s3, e3 in _iter_boxes(raw, s2, e2):
                        if t3 == "stbl":
                            stbl_span = (s3, e3)
    if tkhd is None or mdhd is None or handler is None or stbl_span is None:
        raise ValueError("trak missing tkhd/mdhd/hdlr/stbl")
    stsd = stts = stsc = None
    stsz = None
    chunk_offs = None
    used_co64 = False
    avcc = None
    for typ, bs, be in _iter_boxes(raw, *stbl_span):
        if typ == "stsd":
            stsd = _parse_stsd(raw, bs, be)
            avcc = _parse_stsd_avcc(raw, bs, be)
        elif typ == "stts":
            stts = _parse_stts(raw, bs, be)
        elif typ == "stsc":
            stsc = _parse_stsc(raw, bs, be)
        elif typ == "stsz":
            stsz = _parse_stsz(raw, bs, be)
        elif typ == "stz2":
            raise ValueError("compact sample sizes (stz2) unsupported")
        elif typ == "stco":
            chunk_offs = _parse_stco(raw, bs, be, wide=False)
        elif typ == "co64":
            chunk_offs = _parse_stco(raw, bs, be, wide=True)
            used_co64 = True
        elif typ == "sinf":
            raise ValueError("protected tracks (sinf) unsupported")
    if stsd is None or stts is None or stsc is None or stsz is None \
            or chunk_offs is None:
        raise ValueError("stbl missing stsd/stts/stsc/stsz/stco")
    count, sizes = stsz
    if sizes is None or len(sizes) != count:
        raise ValueError("inconsistent stsz")
    stts_total = sum(c for c, _d in stts)
    if stts_total != count:
        raise ValueError("stts sample count != stsz sample count")
    samples = _resolve_samples(stsc, sizes, chunk_offs)
    return {
        "track_id": tkhd["track_id"], "width": tkhd["width"],
        "height": tkhd["height"], "timescale": mdhd["timescale"],
        "duration": mdhd["duration"], "handler": handler,
        "format": stsd[0] if stsd else "",
        "avcc": avcc,
        "n_chunks": len(chunk_offs), "used_co64": used_co64,
        "samples": samples,
        "stts_time": sum(c * d for c, d in stts),
    }


def parse_mp4(raw: bytes) -> dict:
    """Full container parse. Returns ftyp/mvhd fields, per-track
    metadata with fully resolved (offset, size) sample lists, and the
    mdat payload spans (for relative-offset validation)."""
    brand = None
    mvhd = None
    tracks: list[dict] = []
    mdats: list[tuple[int, int]] = []
    trex: dict = {}
    fragments: list[dict] = []
    n_top = 0
    for typ, bs, be in _iter_boxes(raw, 0, len(raw)):
        n_top += 1
        if typ == "mfra":
            continue  # random-access index: optional, skippable
        if typ == "ftyp" and brand is None:
            brand = _fourcc(raw, bs)
        elif typ == "mdat":
            mdats.append((bs, be))
        elif typ == "moof":
            if not trex:
                raise ValueError("moof before moov/mvex defaults")
            fragments.append(_parse_moof(raw, bs, be, bs - 8, trex))
        elif typ == "moov":
            if mvhd is not None:
                raise ValueError("multiple moov boxes")
            for t2, s2, e2 in _iter_boxes(raw, bs, be):
                if t2 == "mvhd":
                    mvhd = _parse_mvhd(raw, s2, e2)
                elif t2 == "trak":
                    tracks.append(_parse_trak(raw, s2, e2))
                elif t2 == "cmov":
                    raise ValueError("compressed moov (cmov) unsupported")
                elif t2 == "mvex":
                    for t3, s3, e3 in _iter_boxes(raw, s2, e2):
                        if t3 == "trex":
                            tx = _parse_trex(raw, s3, e3)
                            trex[tx["track_id"]] = tx
    if brand is None:
        raise ValueError("missing ftyp box")
    if mvhd is None:
        raise ValueError("missing moov/mvhd")
    if not tracks:
        raise ValueError("no tracks")
    if not mdats:
        raise ValueError("missing mdat box")
    # merge fragment runs into their tracks (fragmented files carry
    # empty sample tables in stbl; §8.8)
    by_id = {t["track_id"]: t for t in tracks}
    for fr in fragments:
        for tf in fr["trafs"]:
            t = by_id.get(tf["track_id"])
            if t is None:
                raise ValueError("traf references unknown track_ID")
            t["samples"] = t["samples"] + tf["samples"]
            t["stts_time"] += tf["dur_sum"]
    # validate every sample against the mdat payload spans and compute
    # mdat-relative offsets (layout-independent: moov-first and
    # mdat-first files agree)
    for tr in tracks:
        rel = []
        for off, size in tr["samples"]:
            span = next(((s, e) for s, e in mdats
                         if s <= off and off + size <= e), None)
            if span is None:
                raise ValueError("sample outside any mdat payload")
            rel.append((off - span[0], size))
        tr["samples_rel"] = rel
    return {
        "brand": brand, "movie_timescale": mvhd["timescale"],
        "movie_duration": mvhd["duration"], "tracks": tracks,
        "n_top_boxes": n_top,
        "mdat_bytes": sum(e - s for s, e in mdats),
        "fragments": fragments,
    }


def mp4_frag_features(raw: bytes) -> dict:
    """Structural readout for FRAGMENTED files: fragment count and
    sequence sum, per-run sample counts/bytes, mdat-relative offset
    sum, tfdt and duration sums — all resolved through the
    trun -> tfhd -> trex default cascade."""
    d = parse_mp4(raw)
    frs = d["fragments"]
    if not frs:
        raise ValueError("not a fragmented MP4 (no moof boxes)")
    f = mp4_features(raw)
    return {
        "brand": f["brand"],
        "n_tracks": f["n_tracks"],
        "n_fragments": len(frs),
        "seq_sum": sum(fr["seq"] for fr in frs),
        "n_samples": f["n_samples"],
        "sample_bytes": f["sample_bytes"],
        "sample_rel_offset_sum": f["sample_rel_offset_sum"],
        "tfdt_sum": sum(tf["tfdt"] or 0 for fr in frs
                        for tf in fr["trafs"]),
        "duration_sum": f["stts_time_sum"],
        "track_id_sum": f["track_id_sum"],
    }


def mp4_features(raw: bytes) -> dict:
    """Flat structural readout for the demux driver oracle — every
    column integer (or a deterministic short string)."""
    d = parse_mp4(raw)
    tracks = d["tracks"]
    return {
        "brand": d["brand"],
        "movie_timescale": d["movie_timescale"],
        "movie_duration": d["movie_duration"],
        "n_top_boxes": d["n_top_boxes"],
        "n_tracks": len(tracks),
        "n_samples": sum(len(t["samples"]) for t in tracks),
        "n_chunks": sum(t["n_chunks"] for t in tracks),
        "sample_bytes": sum(sz for t in tracks for _o, sz in t["samples"]),
        "sample_rel_offset_sum": sum(
            o for t in tracks for o, _sz in t["samples_rel"]),
        "track_id_sum": sum(t["track_id"] for t in tracks),
        "width_sum": sum(t["width"] for t in tracks),
        "height_sum": sum(t["height"] for t in tracks),
        "timescale_sum": sum(t["timescale"] for t in tracks),
        "stts_time_sum": sum(t["stts_time"] for t in tracks),
        "n_co64_tracks": sum(1 for t in tracks if t["used_co64"]),
        "handlers": "+".join(sorted(t["handler"] for t in tracks)),
    }


def mp4_decode_av(raw: bytes) -> dict:
    """Demux + chained REAL per-sample decode: 'jpeg' video samples
    through the baseline T.81 pipeline, '.mp3' audio samples through
    the Layer III path. Other sample formats demux but count as
    gated_tracks (never silently decoded)."""
    import numpy as np

    from .mp3 import parse_mp3
    from .multimodal import _parse_jpeg

    d = parse_mp4(raw)
    out = {
        "n_video_samples": 0, "n_audio_samples": 0, "gated_tracks": 0,
        "jpeg_y_sum": 0, "jpeg_px": 0,
        "mp3_abs_sum": 0, "mp3_exp_sum": 0, "mp3_nonzero": 0,
        "mp3_part23_bits": 0,
    }
    for tr in d["tracks"]:
        fmt = tr["format"]
        if fmt == "jpeg":
            for off, size in tr["samples"]:
                _w, _h, _c, px = _parse_jpeg(raw[off:off + size])
                out["jpeg_y_sum"] += int(px.sum(dtype=np.int64))
                out["jpeg_px"] += int(px.size)
                out["n_video_samples"] += 1
        elif fmt == ".mp3":
            for off, size in tr["samples"]:
                m = parse_mp3(raw[off:off + size])
                out["mp3_abs_sum"] += m["spectral_abs_sum"]
                out["mp3_exp_sum"] += m["requant_exp_sum"]
                out["mp3_nonzero"] += m["nonzero_lines"]
                out["mp3_part23_bits"] += m["part23_bits"]
                out["n_audio_samples"] += 1
        else:
            out["gated_tracks"] += 1
    return out


_DEMUX_INT = ("movie_timescale", "movie_duration", "n_top_boxes",
              "n_tracks", "n_samples", "n_chunks", "sample_bytes",
              "sample_rel_offset_sum", "track_id_sum", "width_sum",
              "height_sum", "timescale_sum", "stts_time_sum",
              "n_co64_tracks")

_FRAG_INT = ("n_tracks", "n_fragments", "seq_sum", "n_samples",
             "sample_bytes", "sample_rel_offset_sum", "tfdt_sum",
             "duration_sum", "track_id_sum")

_AV_INT = ("n_video_samples", "n_audio_samples", "gated_tracks",
           "jpeg_y_sum", "jpeg_px", "mp3_abs_sum", "mp3_exp_sum",
           "mp3_nonzero", "mp3_part23_bits")


# the container demuxers' exception tuple (avi.py uses it too)
_MEDIA_ERRORS = (ValueError, IndexError, struct.error, OverflowError,
                 ZeroDivisionError)


def demux_mp4_features(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload",
) -> DataFrame:
    """Arrow `mapInPandas` wrapper over :func:`mp4_features` —
    per-payload cost, embarrassingly parallel, no shuffle. Malformed
    or gated payloads quarantine into `decode_error` (named message)."""
    return decode_map(df, lambda p: mp4_features(bytes(p)),
                      tally_schema(_DEMUX_INT, ("brand", "handlers")),
                      _MEDIA_ERRORS, id_col, payload_col)


def demux_mp4_frag_features(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload",
) -> DataFrame:
    """Arrow `mapInPandas` wrapper over :func:`mp4_frag_features` —
    same per-payload quarantine contract as demux_mp4_features."""
    return decode_map(df, lambda p: mp4_frag_features(bytes(p)),
                      tally_schema(_FRAG_INT, ("brand",)),
                      _MEDIA_ERRORS, id_col, payload_col)


def decode_mp4_av_features(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload",
) -> DataFrame:
    """Arrow `mapInPandas` wrapper over :func:`mp4_decode_av` (demux +
    chained real JPEG / MP3 sample decode). Same quarantine contract."""
    return decode_map(df, lambda p: mp4_decode_av(bytes(p)),
                      tally_schema(_AV_INT, ()), _MEDIA_ERRORS,
                      id_col, payload_col)


def extract_mp4_avc_annexb(raw: bytes) -> bytes:
    """MP4 AVC chain: the avc1 track's avcC record (out-of-band
    SPS/PPS from the VisualSampleEntry) plus its length-prefixed
    samples, rewrapped as Annex B for the real H.264 path
    (operators/h264.py) — the same convention as the Matroska
    chain."""
    from .h264 import avcc_to_annexb, parse_avcc

    m = parse_mp4(raw)
    for tr in m["tracks"]:
        if tr.get("format") == "avc1" and tr.get("avcc"):
            avcc = parse_avcc(tr["avcc"])
            samples = [raw[off:off + size]
                       for off, size in tr["samples"]]
            return avcc_to_annexb(avcc, samples)
    raise ValueError("no avc1 track with an avcC record present")


def extract_mp4_avc_df(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """(doc_id, container) -> (doc_id, Annex B stream); failed
    payloads are dropped."""
    return decode_map(
        df, lambda p: {"payload": extract_mp4_avc_annexb(bytes(p))},
        PAYLOAD_SCHEMA, (ValueError, IndexError), id_col, payload_col)
