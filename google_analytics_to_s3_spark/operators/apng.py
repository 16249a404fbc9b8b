"""REAL APNG (animated PNG) decode — public spec (the APNG
specification, now folded into W3C PNG Third Edition): ``acTL`` /
``fcTL`` / ``fdAT`` chunks over the base PNG grammar.

Animated PNGs are the GIF successor all over the modern web; frame
compositing (offsets, dispose, blend) is where naive decoders go
wrong, so it is driver-checked the same way the GIF animation path
was (r9/r10):

- **chunk walk** with CRC-32 verification on the animation chunks;
- **acTL** (num_frames/num_plays, must precede IDAT), **fcTL**
  (sequence number, frame rect, delay fraction, dispose_op 0/1/2,
  blend_op 0/1), **fdAT** (sequence number + IDAT-equivalent data,
  multiple chunks per frame concatenate);
- **sequence validation**: fcTL/fdAT sequence numbers must be
  consecutive from 0 in stream order (per spec);
- **frame decode by reconstruction**: each frame's data is wrapped
  back into a standalone PNG (IHDR with the fcTL rect dims + PLTE +
  IDAT + IEND, real CRCs) and decoded by the FULL raster path
  (multimodal._parse_png — all filters, depths, palettes), so the
  animation layer adds no second unfilter implementation;
- **compositing**: frame rects must fit the canvas;
  ``APNG_BLEND_OP_SOURCE`` replaces, ``OVER`` alpha-blends (equal to
  replace for opaque sources); ``DISPOSE_OP_BACKGROUND`` zeroes the
  frame rect after display, ``DISPOSE_OP_PREVIOUS`` restores the
  canvas as before the frame rendered;
- the default image (IDAT without a preceding fcTL) is correctly
  EXCLUDED from the animation.

Untrusted-input discipline matches the other byte paths. No APNG
surface exists in the reference repo
(mydatastack/google-analytics-to-s3).
"""

from __future__ import annotations

import struct
import zlib

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from .multimodal import _parse_png
from .payload_memo import decode_map

_SIG = b"\x89PNG\r\n\x1a\n"


def _chunk(ctype: bytes, data: bytes) -> bytes:
    return (struct.pack(">I", len(data)) + ctype + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF))


def parse_apng(raw: bytes) -> dict:
    """Decode an APNG; returns canvas dims, num_plays, per-frame
    delays (numerator, denominator) and the COMPOSITED canvas at
    each display time as flat numpy arrays."""
    if raw[:8] != _SIG:
        raise ValueError("PNG signature missing")
    pos = 8
    ihdr = None
    plte = b""
    actl = None
    idat = bytearray()
    idat_fctl = None
    frames: list[dict] = []
    seqs: list[int] = []
    pending_fctl = None
    saw_idat = False
    while pos + 8 <= len(raw):
        length = int.from_bytes(raw[pos:pos + 4], "big")
        ctype = raw[pos + 4:pos + 8]
        data = raw[pos + 8:pos + 8 + length]
        if len(data) < length or pos + 12 + length > len(raw):
            raise ValueError("truncated PNG chunk")
        crc = int.from_bytes(raw[pos + 8 + length:pos + 12 + length],
                             "big")
        if ctype in (b"acTL", b"fcTL", b"fdAT") and \
                zlib.crc32(ctype + data) & 0xFFFFFFFF != crc:
            raise ValueError(
                f"APNG {ctype.decode('latin-1')} CRC mismatch")
        if ctype == b"IHDR":
            ihdr = data
        elif ctype == b"PLTE":
            plte = data
        elif ctype == b"acTL":
            if saw_idat:
                raise ValueError("acTL after IDAT")
            if len(data) != 8:
                raise ValueError("acTL length invalid")
            actl = struct.unpack(">II", data)
        elif ctype == b"fcTL":
            if len(data) != 26:
                raise ValueError("fcTL length invalid")
            seq, fw, fh, xo, yo, dnum, dden, dispose, blend = \
                struct.unpack(">IIIIIHHBB", data)
            seqs.append(seq)
            if dispose > 2 or blend > 1:
                raise ValueError("fcTL dispose/blend op invalid")
            pending_fctl = {"w": fw, "h": fh, "x": xo, "y": yo,
                            "delay": (dnum, dden), "dispose": dispose,
                            "blend": blend, "data": bytearray()}
            if not saw_idat:
                idat_fctl = pending_fctl
            else:
                frames.append(pending_fctl)
        elif ctype == b"IDAT":
            saw_idat = True
            idat.extend(data)
        elif ctype == b"fdAT":
            if len(data) < 4:
                raise ValueError("fdAT missing sequence number")
            seqs.append(int.from_bytes(data[:4], "big"))
            if pending_fctl is None or pending_fctl is idat_fctl:
                raise ValueError("fdAT without a preceding fcTL")
            pending_fctl["data"].extend(data[4:])
        elif ctype == b"IEND":
            break
        pos += 12 + length
        if len(frames) > 10_000:
            raise ValueError("APNG frame count exceeds bound")
    if ihdr is None or actl is None:
        raise ValueError("APNG missing IHDR/acTL")
    if seqs != list(range(len(seqs))):
        raise ValueError("APNG sequence numbers not consecutive")
    w, h, depth, colortype, comp, filt, interlace = struct.unpack(
        ">IIBBBBB", ihdr)
    if idat_fctl is not None:
        idat_fctl["data"] = idat
        frames.insert(0, idat_fctl)
    if actl[0] != len(frames):
        raise ValueError("acTL num_frames mismatch")
    if not frames:
        raise ValueError("APNG has no animation frames")

    def _decode_frame(fr: dict) -> np.ndarray:
        sub = (_SIG
               + _chunk(b"IHDR", struct.pack(
                   ">IIBBBBB", fr["w"], fr["h"], depth, colortype,
                   comp, filt, 0))
               + (_chunk(b"PLTE", plte) if plte else b"")
               + _chunk(b"IDAT", bytes(fr["data"]))
               + _chunk(b"IEND", b""))
        fw, fh, c, px = _parse_png(sub)
        return px.reshape(fh, fw, c)

    canvas = None
    out_frames: list[np.ndarray] = []
    delays: list[tuple[int, int]] = []
    for fr in frames:
        if fr["x"] + fr["w"] > w or fr["y"] + fr["h"] > h:
            raise ValueError("APNG frame rect outside canvas")
        px = _decode_frame(fr)
        if canvas is None:
            canvas = np.zeros((h, w, px.shape[2]), dtype=px.dtype)
        region = (slice(fr["y"], fr["y"] + fr["h"]),
                  slice(fr["x"], fr["x"] + fr["w"]))
        before = canvas[region].copy()
        if fr["blend"] == 1 and px.shape[2] in (2, 4):
            alpha = px[..., -1:].astype(np.float64) / (
                65535.0 if px.dtype == np.uint16 else 255.0)
            blended = (px[..., :].astype(np.float64) * alpha
                       + canvas[region].astype(np.float64)
                       * (1 - alpha))
            canvas[region] = blended.astype(canvas.dtype)
        else:  # SOURCE, or OVER with an opaque source
            canvas[region] = px
        out_frames.append(canvas.copy().reshape(-1))
        delays.append(fr["delay"])
        if fr["dispose"] == 1:
            canvas[region] = 0
        elif fr["dispose"] == 2:
            canvas[region] = before
    return {"width": w, "height": h, "n_plays": actl[1],
            "frames": out_frames, "delays": delays}


APNG_FRAMES_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("frame_idx", IntegerType()),
    StructField("width", IntegerType()),
    StructField("height", IntegerType()),
    StructField("n_frames", IntegerType()),
    StructField("n_plays", IntegerType()),
    StructField("delay_num", IntegerType()),
    StructField("rgb_sum", LongType()),
])


def decode_apng_frames(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """One row per (doc, display time) with the exact integer sum of
    the COMPOSITED canvas — the same check shape as the GIF animation
    path. Per-payload quarantine (bad payloads contribute zero
    rows)."""

    def _parse(payload) -> list[dict]:
        m = parse_apng(bytes(payload))
        return [{"frame_idx": f, "width": m["width"],
                 "height": m["height"], "n_frames": len(m["frames"]),
                 "n_plays": m["n_plays"], "delay_num": m["delays"][f][0],
                 "rgb_sum": int(px.sum(dtype=np.int64))}
                for f, px in enumerate(m["frames"])]

    return decode_map(df, _parse, APNG_FRAMES_SCHEMA,
                      (ValueError, IndexError), id_col, payload_col)
