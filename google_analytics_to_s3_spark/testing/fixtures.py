"""Synthetic GA enriched-hit day, per FIXTURES.md F2's synthesis knobs:

- ≥5 visitors with gaps both < 30 min and ≥ 30 min (incl. the exact
  60000*30 ms boundary)
- one visitor spanning two days (split-session case)
- purchase events carrying body_tr + enhanced-ecommerce pr-slots
- transaction + item hits, timing/adtiming hits (must be filtered)
- one bot UA row, UTM/gclid/referrer/direct traffic mix

Deterministic: fixed base epoch, no randomness.
"""

from __future__ import annotations

import base64
import functools as _functools
import json

BASE_MS = 1565251200000  # 2019-08-08 10:00:00 +02:00 (Europe/Berlin)
MIN_MS = 60 * 1000

_SEQ = 0


def _hit(cid: str, t_off_min: float, body_t: str, **kw) -> dict:
    global _SEQ
    _SEQ += 1
    hit = {
        "system_source": "ga",
        "system_version": "1",
        "message_id": f"m{_SEQ:04d}",
        "trace_id": f"Root=1-{_SEQ:08d}",
        "received_at_apig": str(int(BASE_MS + t_off_min * MIN_MS)),
        "ip": "203.0.113.0",
        "user_agent": "Mozilla/5.0",
        "body_cid": cid,
        "body_t": body_t,
        "body_v": "1",
        "body_tid": "UA-1-1",
        "body_dl": "http://shop.example/home",
        "geo_country": "Germany",
        "geo_continent": "Europe",
        "device_client_name": "Chrome",
        "device_device_type": "desktop",
        "device_is_mobile": False,
        "device_is_bot": False,
    }
    hit.update(kw)
    return hit


def enriched_hits_day() -> list[dict]:
    global _SEQ
    _SEQ = 0
    hits: list[dict] = []

    # v1: UTM-tagged entry, 3 hits, 45-min gap, then a direct session.
    utm_dl = (
        "http://shop.example/land?utm_source=newsletter&utm_medium=email"
        "&utm_campaign=sale&utm_term=shoes&utm_content=v1"
    )
    hits += [
        _hit("v1", 0, "pageview", body_dl=utm_dl),
        _hit("v1", 10, "pageview", body_dl="http://shop.example/products/shoes"),
        _hit("v1", 20, "event", body_ec="ui", body_ea="click", body_el="banner"),
        _hit("v1", 65, "pageview"),  # 45-min gap → session 2, direct
    ]

    # v2: google-organic entry; purchase with two ecommerce products.
    hits += [
        _hit("v2", 5, "pageview", body_dr="https://www.google.com/",
             body_dl="http://shop.example/land"),
        _hit("v2", 7, "event", body_pa="detail", body_pr0id="SKU-1",
             body_pr0nm="Shoes", body_pr0pr="20", body_pr0qt="1",
             body_pr0ca="Apparel"),
        _hit("v2", 12, "event", body_pa="purchase", body_tr="35.98",
             body_ti="T-100", body_cu="EUR",
             body_pr0id="SKU-1", body_pr0nm="Shoes", body_pr0pr="20",
             body_pr0qt="1", body_pr0ca="Apparel",
             body_pr1id="SKU-2", body_pr1nm="Socks", body_pr1pr="7.99",
             body_pr1qt="2", body_pr1ca="Apparel"),
    ]

    # v3: referral entry; classic transaction + item hits.
    hits += [
        _hit("v3", 3, "pageview", body_dr="https://partner.example/page?x=1",
             body_dl="http://shop.example/land"),
        _hit("v3", 8, "transaction", body_ti="T-200", body_tr="49.90",
             body_ts="4.90", body_tt="7.97", body_cu="EUR"),
        _hit("v3", 9, "item", body_ti="T-200", body_ic="DD443345-44",
             body_in="Shoes", body_iv="Apparel", body_ip="20", body_iq="1"),
        _hit("v3", 11, "timing"),    # must be dropped (P3)
        _hit("v3", 12, "adtiming"),  # must be dropped (P3)
    ]

    # v4: gclid entry; second hit at exactly the 30-min boundary → new
    # session (gap >= 60000*30 starts a session, main.py:417-419).
    hits += [
        _hit("v4", 2, "pageview",
             body_dl="http://shop.example/land?gclid=Cj0KCQ"),
        _hit("v4", 32, "pageview"),
    ]

    # v5: bot.
    hits += [
        _hit("v5", 6, "pageview", user_agent="Googlebot/2.1",
             device_is_bot=True, device_client_name="Googlebot",
             geo_country="(not set)", geo_continent="(not set)"),
    ]

    # v6: spans midnight Berlin (day job splits the session at the
    # partition boundary — reference SURVEY §2.10).
    hits += [
        _hit("v6", 13.9 * 60, "pageview"),   # 23:54 Berlin
        _hit("v6", 14.2 * 60, "pageview"),   # 00:12 next day
    ]
    return hits


def raw_envelope_records(hits: list[dict] | None = None) -> list[str]:
    """Collector-envelope records as the Firehose transformation Lambda
    sees them (L1): base64(JSON envelope) with the GA body re-encoded as
    a Measurement-Protocol querystring."""
    from urllib.parse import quote

    hits = hits if hits is not None else enriched_hits_day()
    out = []
    for h in hits:
        body = "&".join(
            f"{k.removeprefix('body_')}={quote(str(v), safe='')}"
            for k, v in h.items()
            if k.startswith("body_") and v is not None
        )
        env = {
            "system_source": h["system_source"],
            "system_version": h["system_version"],
            "message_id": h["message_id"],
            "trace_id": h["trace_id"],
            "received_at_apig": h["received_at_apig"],
            "ip": "203.0.113.7",
            "user_agent": h["user_agent"],
            "body": body,
        }
        out.append(base64.b64encode(json.dumps(env).encode()).decode())
    return out


def write_jsonl(hits: list[dict], path: str) -> None:
    with open(path, "w") as f:
        for h in hits:
            f.write(json.dumps(h) + "\n")


@_functools.lru_cache(maxsize=512)
def make_ppm(width: int, height: int, seed: int, channels: int = 3) -> bytes:
    """Deterministic binary NetPBM payload (P6 RGB / P5 gray): pixel
    (y, x, c) = (seed + y*31 + x*7 + c*13) % 256 — pure arithmetic, so
    tests can recompute any pixel or mean independently."""
    import numpy as np

    from ..operators.multimodal import encode_ppm

    y, x, c = np.meshgrid(
        np.arange(height), np.arange(width), np.arange(channels),
        indexing="ij",
    )
    px = ((seed + y * 31 + x * 7 + c * 13) % 256).astype(np.uint8)
    return encode_ppm(px.reshape(-1), width, height, channels)


@_functools.lru_cache(maxsize=512)
def make_wav_pcm16(
    n_samples: int, seed: int, sample_rate_hz: int = 16_000
) -> bytes:
    """Deterministic PCM16 mono RIFF/WAVE payload: sample i =
    ((seed + i * 257) % 2001) - 1000 — bounded, sign-varying, exactly
    recomputable."""
    import struct

    import numpy as np

    samples = (((seed + np.arange(n_samples) * 257) % 2001) - 1000).astype(
        "<i2"
    )
    data = samples.tobytes()
    fmt = struct.pack(
        "<HHIIHH", 1, 1, sample_rate_hz, sample_rate_hz * 2, 2, 16
    )
    chunks = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )
    return b"RIFF" + struct.pack("<I", len(chunks)) + chunks


@_functools.lru_cache(maxsize=512)
def make_wav(
    n_samples: int, seed: int, sample_rate_hz: int = 16_000,
    fmt: str = "pcm16", extensible: bool = False,
) -> bytes:
    """Deterministic mono RIFF/WAVE payload in any decoder-supported
    format. Planted rules (exactly recomputable, all integer):

    - ``pcm16``: sample i = ((seed + i*257) % 2001) - 1000 (the
      make_wav_pcm16 rule)
    - ``pcm8``: stored byte (seed + i*37) % 256, decoded value
      byte - 128
    - ``pcm24`` / ``pcm32``: the pcm16 rule scaled by 2**12 / 2**20
    - ``ulaw`` / ``alaw``: stored G.711 code (seed + i*57) % 256 /
      (seed*3 + i*91) % 256, decoded by the closed-form expansions
    """
    import struct

    import numpy as np

    i = np.arange(n_samples)
    base = ((seed + i * 257) % 2001) - 1000
    if fmt == "pcm16":
        tag, bits, data = 1, 16, base.astype("<i2").tobytes()
    elif fmt == "pcm8":
        tag, bits = 1, 8
        data = ((seed + i * 37) % 256).astype(np.uint8).tobytes()
    elif fmt == "pcm24":
        tag, bits = 1, 24
        v = (base * 4096).astype(np.int64) & 0xFFFFFF
        b = np.empty((n_samples, 3), dtype=np.uint8)
        b[:, 0] = v & 0xFF
        b[:, 1] = (v >> 8) & 0xFF
        b[:, 2] = (v >> 16) & 0xFF
        data = b.tobytes()
    elif fmt == "pcm32":
        tag, bits = 1, 32
        data = (base * 1048576).astype("<i4").tobytes()
    elif fmt == "ulaw":
        tag, bits = 7, 8
        data = ((seed + i * 57) % 256).astype(np.uint8).tobytes()
    elif fmt == "alaw":
        tag, bits = 6, 8
        data = ((seed * 3 + i * 91) % 256).astype(np.uint8).tobytes()
    elif fmt == "float32":
        # the pcm16 rule as exact float32 multiples of 2**-15 —
        # Q15 reconstruction is lossless
        tag, bits = 3, 32
        data = (base.astype(np.float64) / 32768.0).astype(
            "<f4"
        ).tobytes()
    elif fmt == "ima":
        # mono IMA ADPCM: n_samples means BLOCKS here (each block is
        # block_align bytes: int16 predictor + uint8 index + reserved
        # + (block_align-4)*2 nibbles, low nibble first). Planted
        # rules: header predictor ((seed*3 + 101*b) % 2001) - 1000,
        # index (seed + 7*b) % 89, nibble j of block b
        # (seed + 11*b + 13*j) % 16.
        tag, bits = 0x11, 4
        block_align = 8
        blocks = bytearray()
        for b in range(n_samples):
            pred = ((seed * 3 + 101 * b) % 2001) - 1000
            index = (seed + 7 * b) % 89
            blocks += struct.pack("<hBB", pred, index, 0)
            for jj in range(0, (block_align - 4) * 2, 2):
                lo = (seed + 11 * b + 13 * jj) % 16
                hi = (seed + 11 * b + 13 * (jj + 1)) % 16
                blocks.append(lo | (hi << 4))
        data = bytes(blocks)
        hdr = struct.pack(
            "<HHIIHHH", tag, 1, sample_rate_hz,
            sample_rate_hz * block_align // 8, block_align, bits, 2,
        )
        pad = b"\x00" if len(data) % 2 else b""
        chunks = (
            b"WAVE"
            + b"fmt " + struct.pack("<I", len(hdr)) + hdr
            + b"data" + struct.pack("<I", len(data)) + data + pad
        )
        return b"RIFF" + struct.pack("<I", len(chunks)) + chunks
    else:
        raise ValueError(f"unknown wav fixture format {fmt!r}")
    align = bits // 8
    if extensible:
        # WAVE_FORMAT_EXTENSIBLE wrapper: tag 0xFFFE + cbSize 22 +
        # valid bits + channel mask + SubFormat GUID (real tag in
        # the first uint16, ksmedia.h tail)
        hdr = struct.pack(
            "<HHIIHHHHI", 0xFFFE, 1, sample_rate_hz,
            sample_rate_hz * align, align, bits, 22, bits, 0x4,
        ) + struct.pack("<H", tag) + bytes.fromhex(
            # Data1 tail + Data2 + Data3 + Data4 of the ksmedia.h
            # media-subtype GUID {xxxx0000-0000-0010-8000-00AA00389B71}
            "0000" "0000" "1000" "800000aa00389b71"
        )
    else:
        hdr = struct.pack(
            "<HHIIHH", tag, 1, sample_rate_hz, sample_rate_hz * align,
            align, bits,
        )
    pad = b"\x00" if len(data) % 2 else b""
    chunks = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(hdr)) + hdr
        + b"data" + struct.pack("<I", len(data)) + data + pad
    )
    return b"RIFF" + struct.pack("<I", len(chunks)) + chunks


@_functools.lru_cache(maxsize=512)
def make_y4m(
    width: int, height: int, n_frames: int, seed: int,
    fps: tuple[int, int] = (25, 1),
) -> bytes:
    """Deterministic YUV4MPEG2 (C444) payload: pixel (f, p, i) =
    (seed + f * 17 + p * 31 + i) % 256 for plane p in Y/U/V — exactly
    recomputable per frame."""
    import numpy as np

    head = (
        f"YUV4MPEG2 W{width} H{height} F{fps[0]}:{fps[1]} C444\n"
    ).encode("ascii")
    out = [head]
    n = width * height
    for f in range(n_frames):
        body = np.concatenate([
            (seed + f * 17 + p * 31 + np.arange(n)) % 256
            for p in range(3)
        ]).astype(np.uint8)
        out.append(b"FRAME\n" + body.tobytes())
    return b"".join(out)


def make_mmdb(
    entries: list[tuple[str, dict]],
    ip_version: int = 6,
    database_type: str = "GeoLite2-City-Test",
) -> bytes:
    """Serialize a minimal, spec-conformant MaxMind DB file (the
    PUBLIC format: https://maxmind.github.io/MaxMind-DB/) from
    (cidr, record) pairs — the fixture behind the end-to-end
    mmdb_to_ranges tests, readable by both functions/mmdb_format.py
    and the real ``maxminddb`` package when present.

    record_size 32 (8-byte nodes), no pointer compression (records
    with identical content are still written once and shared by data
    offset). ip_version 6 mirrors how GeoLite2 actually ships
    (IPv4 content embedded as ::ffff:0:0/96-mapped networks)."""
    import ipaddress
    import struct

    depth = 32 if ip_version == 4 else 128
    # ---- binary search tree ------------------------------------------------
    # node = [left, right]; entries: None | ("node", i) | ("data", key)
    nodes: list[list] = [[None, None]]
    data_keys: dict[int, dict] = {}
    for cidr, record in entries:
        net = ipaddress.ip_network(cidr, strict=True)
        if (net.version == 4) != (ip_version == 4):
            raise ValueError(f"{cidr} does not match ip_version {ip_version}")
        addr = int(net.network_address)
        key = id(record)
        data_keys[key] = record
        cur = 0
        for i in range(net.prefixlen):
            bit = (addr >> (depth - 1 - i)) & 1
            slot = nodes[cur][bit]
            if i == net.prefixlen - 1:
                if slot is not None:
                    raise ValueError(f"{cidr} overlaps an existing entry")
                nodes[cur][bit] = ("data", key)
            else:
                if slot is None:
                    nodes.append([None, None])
                    slot = ("node", len(nodes) - 1)
                    nodes[cur][bit] = slot
                elif slot[0] != "node":
                    raise ValueError(f"{cidr} nests under an existing entry")
                cur = slot[1]

    # ---- data section ------------------------------------------------------
    def enc(value) -> bytes:
        if isinstance(value, bool):
            return bytes([(0 << 5) | (1 if value else 0), 14 - 7])
        if isinstance(value, str):
            raw = value.encode("utf-8")
            if len(raw) >= 29:
                raise ValueError("fixture strings must stay short")
            return bytes([(2 << 5) | len(raw)]) + raw
        if isinstance(value, float):
            return bytes([(3 << 5) | 8]) + struct.pack(">d", value)
        if isinstance(value, int):
            if value < 0:
                raise ValueError("negative ints not supported in fixture")
            raw = value.to_bytes((value.bit_length() + 7) // 8 or 1, "big")
            if value == 0:
                raw = b""
            if len(raw) <= 2:
                return bytes([(5 << 5) | len(raw)]) + raw  # uint16
            if len(raw) <= 4:
                return bytes([(6 << 5) | len(raw)]) + raw  # uint32
            return bytes([(0 << 5) | len(raw), 9 - 7]) + raw  # uint64
        if isinstance(value, dict):
            out = bytes([(7 << 5) | len(value)])
            for k, v in value.items():
                out += enc(k) + enc(v)
            return out
        if isinstance(value, list):
            out = bytes([(0 << 5) | len(value), 11 - 7])
            for v in value:
                out += enc(v)
            return out
        raise TypeError(f"unsupported fixture value {type(value).__name__}")

    data = b""
    offsets: dict[int, int] = {}
    for key, record in data_keys.items():
        offsets[key] = len(data)
        data += enc(record)

    # ---- serialize nodes ---------------------------------------------------
    node_count = len(nodes)

    def record_value(slot) -> int:
        if slot is None:
            return node_count
        if slot[0] == "node":
            return slot[1]
        return node_count + 16 + offsets[slot[1]]

    tree = b"".join(
        struct.pack(">II", record_value(left), record_value(right))
        for left, right in nodes
    )

    # ---- metadata ----------------------------------------------------------
    meta = {
        "binary_format_major_version": 2,
        "binary_format_minor_version": 0,
        "build_epoch": 1_700_000_000,
        "database_type": database_type,
        "description": {"en": "fixture"},
        "ip_version": ip_version,
        "languages": ["en"],
        "node_count": node_count,
        "record_size": 32,
    }
    return (
        tree + b"\x00" * 16 + data
        + b"\xab\xcd\xefMaxMind.com" + enc(meta)
    )


def _png_filter_row(
    ft: int, cur: "np.ndarray", prev: "np.ndarray", bpp: int
) -> bytes:
    """Apply one PNG filter (spec §9) to a reconstructed byte
    scanline; ``bpp`` is BYTES per pixel (left-neighbor offset)."""
    import numpy as np

    cur16 = cur.astype(np.int16)
    out = np.empty_like(cur)
    if ft == 0:
        out[:] = cur
    elif ft == 1:
        left = np.concatenate([np.zeros(bpp, np.int16), cur16[:-bpp]])
        out[:] = (cur16 - left) & 0xFF
    elif ft == 2:
        out[:] = (cur16 - prev.astype(np.int16)) & 0xFF
    elif ft == 3:
        left = np.concatenate([np.zeros(bpp, np.int16), cur16[:-bpp]])
        out[:] = (cur16 - ((left + prev.astype(np.int16)) >> 1)) & 0xFF
    elif ft == 4:
        prev16 = prev.astype(np.int16)
        n = cur.shape[0]
        ob = np.empty(n, dtype=np.uint8)
        for i in range(n):
            a = int(cur[i - bpp]) if i >= bpp else 0
            b = int(prev16[i])
            c = int(prev16[i - bpp]) if i >= bpp else 0
            p = a + b - c
            pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
            pred = a if (pa <= pb and pa <= pc) else (
                b if pb <= pc else c
            )
            ob[i] = (int(cur[i]) - pred) & 0xFF
        out = ob
    else:
        raise ValueError(f"bad filter {ft}")
    return bytes([ft]) + out.tobytes()


def make_png(
    w: int,
    h: int,
    seed: int,
    channels: int = 3,
    filters: list[int] | None = None,
) -> bytes:
    # Normalize the (possibly unhashable) filter list so the cached
    # implementation only ever sees hashable arguments.
    return _make_png_cached(
        w, h, seed, channels, None if filters is None else tuple(filters)
    )


@_functools.lru_cache(maxsize=512)
def _make_png_cached(
    w: int,
    h: int,
    seed: int,
    channels: int = 3,
    filters: tuple[int, ...] | None = None,
) -> bytes:
    """Serialize a REAL 8-bit PNG (stdlib zlib; correct CRCs) with the
    same deterministic pixel rule as make_ppm — pixel (y, x, c) =
    (seed + y*31 + x*7 + c*13) % 256 — so oracles recompute the
    raster arithmetically. ``filters`` picks the per-row filter type
    (0..4, cycling); defaults to cycling through all five so decoder
    tests exercise every reconstruction path."""
    import struct
    import zlib

    import numpy as np

    colortype = {1: 0, 2: 4, 3: 2, 4: 6}[channels]
    y_i, x_i, c_i = np.meshgrid(
        np.arange(h), np.arange(w), np.arange(channels), indexing="ij"
    )
    px = ((seed + y_i * 31 + x_i * 7 + c_i * 13) % 256).astype(np.uint8)
    rows = px.reshape(h, w * channels)
    filters = filters if filters is not None else [0, 1, 2, 3, 4]

    scan = b""
    prev = np.zeros(w * channels, dtype=np.uint8)
    for y in range(h):
        ft = filters[y % len(filters)]
        scan += _png_filter_row(ft, rows[y], prev, channels)
        prev = rows[y]

    def chunk(ctype: bytes, body: bytes) -> bytes:
        crc = zlib.crc32(ctype + body) & 0xFFFFFFFF
        return struct.pack(">I", len(body)) + ctype + body + struct.pack(
            ">I", crc
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, colortype, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(scan))
        + chunk(b"IEND", b"")
    )


@_functools.lru_cache(maxsize=512)
def make_gif(w: int, h: int, seed: int, n_frames: int = 3) -> bytes:
    """Serialize a REAL GIF89a animation (valid LZW per the public
    spec — clear-code-per-pixel streams, so no compressor dictionary
    is needed) with deterministic content the oracles can replay
    arithmetically: global palette[i] = (i, (3*i)%256, (7*i)%256),
    frame f pixel (y, x) index = (seed + f*17 + y*31 + x*7) % 256,
    frame delay = (4 + f) centiseconds."""
    import struct

    out = bytearray()
    out += b"GIF89a"
    out += struct.pack("<HH", w, h)
    out += bytes([0x80 | 0x07, 0, 0])  # GCT present, 256 entries
    for i in range(256):
        out += bytes([i, (3 * i) % 256, (7 * i) % 256])

    for f in range(n_frames):
        # graphic control extension: delay
        out += bytes([0x21, 0xF9, 4, 0])
        out += struct.pack("<H", 4 + f)
        out += bytes([0, 0])
        # image descriptor: full canvas
        out += bytes([0x2C])
        out += struct.pack("<HHHH", 0, 0, w, h)
        out += bytes([0])  # no LCT, no interlace
        out += bytes([8])  # LZW min code size
        # LZW: CLEAR before every pixel keeps the table empty and the
        # code width pinned at 9 bits
        acc = nbits = 0
        stream = bytearray()

        def emit(code: int):
            nonlocal acc, nbits
            acc |= code << nbits
            nbits += 9
            while nbits >= 8:
                stream.append(acc & 0xFF)
                acc >>= 8
                nbits -= 8

        emit(256)  # initial clear
        for y in range(h):
            for x in range(w):
                emit((seed + f * 17 + y * 31 + x * 7) % 256)
                emit(256)
        emit(257)  # EOI
        if nbits:
            stream.append(acc & 0xFF)
        for i in range(0, len(stream), 255):
            block = stream[i:i + 255]
            out += bytes([len(block)]) + block
        out += bytes([0])
    out += bytes([0x3B])
    return bytes(out)


# ---------------------------------------------------------------------------
# REAL baseline JPEG synthesis (ITU-T T.81 / ISO 10918-1, public spec):
# grayscale sequential-DCT files with PLANTED quantized coefficients,
# standard Annex-K-style Huffman tables carried in the file's own DHT
# (JPEG is self-describing — the embedded tables, not their provenance,
# define the entropy coding), a flat quant table of 8s so the DC term
# contributes exact integers, and AC templates whose reference-IDCT
# pixel contributions stay far from .5 rounding boundaries — which is
# what lets a SQL oracle replay the decoded pixel sums as pure integer
# arithmetic (per-template rounded-sum constants).
# ---------------------------------------------------------------------------

JPEG_Q = 8  # flat luminance quant value

# planted AC templates, {zigzag position: quantized coef}; T0 is
# DC-only, T4 exercises a >15 zero run (ZRL path)
JPEG_AC_TEMPLATES: list[dict[int, int]] = [
    {},
    {1: 4},
    {2: -3},
    {1: 2, 5: -2},
    {3: 5, 27: -4},
]

# standard-composition Huffman tables (BITS, HUFFVAL) for DC/AC
# luminance — Annex K shape; validity (canonical, prefix-free) is what
# the decoder needs, and both encoder and decoder read them from the
# file's DHT segment.
JPEG_DC_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
JPEG_DC_VALS = list(range(12))
# Progressive AC table: the baseline Annex-K table has no EOBn
# symbols (r<<4, r>=1) that progressive EOB-run coding needs, so the
# progressive fixture defines its own canonical table — every symbol
# it can emit (EOB0..EOB14, ZRL, all (r,s) pairs s=1..10) at a
# uniform 9 bits (176 of 512 slots; the all-ones code stays unused,
# as T.81 C.2 requires).
JPEG_PROG_AC_VALS = (
    [r << 4 for r in range(15)] + [0xF0]
    + [(r << 4) | s for r in range(16) for s in range(1, 11)]
)
JPEG_PROG_AC_BITS = [0] * 16
JPEG_PROG_AC_BITS[8] = len(JPEG_PROG_AC_VALS)  # all codes 9 bits

JPEG_AC_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 125]
JPEG_AC_VALS = (
    [0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
     0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
     0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
     0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
     0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
     0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
     0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
     0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
     0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
     0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
     0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
     0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
     0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
     0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
     0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
     0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
     0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
     0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
     0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
     0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
     0xF9, 0xFA]
)


def jpeg_zigzag() -> list[tuple[int, int]]:
    """Zigzag position -> (row, col), generated by the diagonal walk."""
    order = []
    for s in range(15):
        rows = range(min(s, 7), max(0, s - 7) - 1, -1)
        if s % 2:  # odd diagonals run the other way
            rows = reversed(list(rows))
        for r in rows:
            order.append((r, s - r))
    return order


def _huff_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """Canonical Huffman {symbol: (code, length)} per T.81 C.2."""
    codes = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            codes[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return codes


def ref_idct_block(coefs: "dict[int, int]", q: int = JPEG_Q):
    """Reference textbook IDCT (T.81 A.3.3 double loop) of a sparse
    quantized-coefficient block — the independent implementation the
    decoder's vectorized matrix IDCT is checked against. Returns the
    8x8 float contribution WITHOUT the +128 level shift."""
    import math

    import numpy as np

    zz = jpeg_zigzag()
    out = np.zeros((8, 8), dtype=np.float64)
    for pos, coef in coefs.items():
        u_r, v_c = zz[pos]
        cu = (1.0 / math.sqrt(2.0)) if u_r == 0 else 1.0
        cv = (1.0 / math.sqrt(2.0)) if v_c == 0 else 1.0
        f = float(coef * q)
        for x in range(8):
            for y in range(8):
                out[x, y] += (
                    0.25 * cu * cv * f
                    * math.cos((2 * x + 1) * u_r * math.pi / 16.0)
                    * math.cos((2 * y + 1) * v_c * math.pi / 16.0)
                )
    return out


def jpeg_template_round_sums() -> list[int]:
    """Per-template integer constants ``sum(rint(t_i))`` over the 64
    reference-IDCT AC pixel contributions — with a flat quant table
    the decoded block sum is ``64 * (128 + dc) + RS[template]``
    exactly (DC-only part is integer; AC fractions stay > 1e-6 away
    from .5, asserted in tests), so oracles replay pixel sums with no
    transcendentals."""
    import numpy as np

    return [
        int(np.rint(ref_idct_block(t)).sum(dtype=np.int64))
        for t in JPEG_AC_TEMPLATES
    ]


def jpeg_block_plan(seed: int, n_blocks: int) -> list[dict[int, int]]:
    """The planted quantized-coefficient blocks for ``seed``: block b
    gets DC ``((seed * 7 + b * 13) % 121) - 60`` and AC template
    ``(seed + b) % 5`` — integer-replayable in SQL."""
    blocks = []
    for b in range(n_blocks):
        coefs = dict(JPEG_AC_TEMPLATES[(seed + b) % len(JPEG_AC_TEMPLATES)])
        coefs[0] = ((seed * 7 + b * 13) % 121) - 60
        blocks.append(coefs)
    return blocks


class _JpegBitWriter:
    """Entropy bit writer with inline 0xFF byte stuffing — whole-field
    accumulate (the per-bit list version dominated decode-query
    synthesis time at sf0.1). Markers are appended to ``out``
    directly by the caller, so they bypass stuffing."""

    def __init__(self, out: bytearray) -> None:
        self.out = out
        self.acc = 0
        self.n = 0

    def put(self, code: int, length: int) -> None:
        acc = (self.acc << length) | (code & ((1 << length) - 1))
        n = self.n + length
        out = self.out
        while n >= 8:
            n -= 8
            b = (acc >> n) & 0xFF
            out.append(b)
            if b == 0xFF:
                out.append(0x00)
        self.acc = acc & ((1 << n) - 1)
        self.n = n

    def flush(self) -> None:
        """Pad the pending bits to a byte with 1s (stuffing applies
        to the padded byte too, per T.81 F.1.2.3)."""
        if self.n:
            pad = 8 - self.n
            self.put((1 << pad) - 1, pad)



@_functools.lru_cache(maxsize=512)
def make_jpeg_baseline(
    seed: int, w: int = 16, h: int = 16, channels: int = 1,
    subsampling: str = "444", chroma_dc: "tuple[int, int] | None" = None,
    restart_interval: int = 0, dqt_16bit: bool = False,
    precision: int = 8,
) -> bytes:
    """Serialize a REAL baseline JPEG (SOI/DQT/SOF0/DHT/SOS,
    huffman-entropy-coded MCUs with per-component DC prediction, 0xFF
    byte stuffing, EOI) whose quantized coefficients are
    :func:`jpeg_block_plan` (component c uses ``seed + 1000*c``).
    ``channels`` is 1 (grayscale) or 3 (interleaved YCbCr, all
    components sharing quant table 0 and the DC0/AC0 Huffman tables).
    ``subsampling`` is "444" (every component 1x1), "422" (Y 2x1) or
    "420" (Y 2x2) — T.81 A.2.3 interleaved MCU ordering, so a "420"
    MCU is 4 Y blocks then Cb then Cr. Component block plans index
    blocks in that component's OWN raster order (Y at w/8 grid,
    chroma at its subsampled grid), so oracles replay per component.
    ``chroma_dc``, if given, replaces the chroma plan with DC-only
    blocks of those constants (AC zero) — (0, 0) makes the decoded
    RGB exactly the replicated Y channel, keeping pixel sums on the
    integer oracle grid. ``restart_interval`` > 0 emits a DRI
    segment and genuine cycling RSTn markers every that many MCUs
    (byte-aligned, DC predictors reset — T.81 E.1.4), so decoders
    must implement the restart protocol, not skip it. ``w``/``h``
    must be multiples of the MCU span (8, or 16 on the subsampled
    axes)."""
    import struct as _struct

    factors = {
        "444": (1, 1), "422": (2, 1), "420": (2, 2),
    }.get(subsampling)
    if factors is None:
        raise ValueError(f"unknown subsampling {subsampling!r}")
    if channels not in (1, 3):
        raise ValueError("channels must be 1 or 3")
    if channels == 1:
        factors = (1, 1)
    hs, vs = factors
    if w % (8 * hs) or h % (8 * vs):
        raise ValueError("fixture dimensions must cover whole MCUs")
    dc_codes = _huff_codes(JPEG_DC_BITS, JPEG_DC_VALS)
    ac_codes = _huff_codes(JPEG_AC_BITS, JPEG_AC_VALS)

    out = bytearray(b"\xFF\xD8")  # SOI
    # DQT: table 0, zigzag order (flat, so order is moot); Pq=1
    # writes the same values as 16-bit entries (T.81 B.2.4.1)
    if dqt_16bit:
        out += b"\xFF\xDB" + _struct.pack(">H", 131) + b"\x10"
        for _ in range(64):
            out += _struct.pack(">H", JPEG_Q)
    else:
        out += b"\xFF\xDB" + _struct.pack(">H", 67) + b"\x00"
        out += bytes([JPEG_Q] * 64)
    if precision not in (8, 12):
        raise ValueError("fixture precision must be 8 or 12")
    # SOF0 (8-bit) or SOF1 extended sequential (12-bit — T.81 forbids
    # 12-bit in baseline); Y carries the sampling factors, chroma 1x1
    out += (b"\xFF\xC0" if precision == 8 else b"\xFF\xC1")
    out += _struct.pack(
        ">HBHHB", 8 + 3 * channels, precision, h, w, channels
    )
    for ci in range(channels):
        samp = (hs << 4) | vs if ci == 0 else 0x11
        out += bytes([ci + 1, samp, 0])
    # DHT: DC class 0 id 0, then AC class 1 id 0
    for cls, bits, vals in ((0, JPEG_DC_BITS, JPEG_DC_VALS),
                            (1, JPEG_AC_BITS, JPEG_AC_VALS)):
        out += b"\xFF\xC4" + _struct.pack(">H", 19 + len(vals))
        out += bytes([cls << 4]) + bytes(bits) + bytes(vals)
    if restart_interval:
        out += b"\xFF\xDD" + _struct.pack(">HH", 4, restart_interval)
    # SOS
    out += b"\xFF\xDA" + _struct.pack(">H", 6 + 2 * channels)
    out += bytes([channels])
    for ci in range(channels):
        out += bytes([ci + 1, 0x00])
    out += bytes([0, 63, 0])

    _w = _JpegBitWriter(out)
    put = _w.put
    # restart markers and EOI must land OUTSIDE the stuffed entropy
    # bytes: flush pads to a byte boundary first
    flush_entropy = _w.flush

    def size_of(v: int) -> int:
        return abs(v).bit_length()

    def value_bits(v: int, size: int) -> int:
        return v if v >= 0 else v + (1 << size) - 1

    def put_block(coefs: "dict[int, int]", ci: int) -> None:
        dc = coefs.get(0, 0)
        diff = dc - preds[ci]
        preds[ci] = dc
        s = size_of(diff)
        code, length = dc_codes[s]
        put(code, length)
        if s:
            put(value_bits(diff, s), s)
        acs = sorted((p, c) for p, c in coefs.items() if p > 0)
        k = 1
        for pos, coef in acs:
            run = pos - k
            while run > 15:
                zc, zl = ac_codes[0xF0]  # ZRL
                put(zc, zl)
                run -= 16
            s = size_of(coef)
            code, length = ac_codes[(run << 4) | s]
            put(code, length)
            put(value_bits(coef, s), s)
            k = pos + 1
        if k <= 63:
            ec, el = ac_codes[0x00]  # EOB
            put(ec, el)

    # Per-component block plans on each component's OWN raster grid:
    # Y at (w/8, h/8), chroma at the subsampled (w/(8*hs), h/(8*vs)).
    ybw, ybh = w // 8, h // 8
    cbw, cbh = w // (8 * hs), h // (8 * vs)
    y_plan = jpeg_block_plan(seed, ybw * ybh)
    if channels == 3:
        if chroma_dc is not None:
            c_plans = [
                [{0: chroma_dc[ci]} for _ in range(cbw * cbh)]
                for ci in range(2)
            ]
        else:
            c_plans = [
                jpeg_block_plan(seed + 1000 * (ci + 1), cbw * cbh)
                for ci in range(2)
            ]
    preds = [0] * channels
    mcu_no = 0
    rst_no = 0
    # T.81 A.2.3 interleaved ordering: per MCU, component 0's hs*vs
    # blocks row-major, then one block per chroma component.
    for my in range(cbh if channels == 3 else ybh):
        for mx in range(cbw if channels == 3 else ybw):
            if restart_interval and mcu_no and \
                    mcu_no % restart_interval == 0:
                flush_entropy()
                out += bytes([0xFF, 0xD0 + rst_no])
                rst_no = (rst_no + 1) % 8
                preds = [0] * channels
            mcu_no += 1
            if channels == 1:
                put_block(y_plan[my * ybw + mx], 0)
                continue
            for v in range(vs):
                for hsub in range(hs):
                    yy, yx = my * vs + v, mx * hs + hsub
                    put_block(y_plan[yy * ybw + yx], 0)
            put_block(c_plans[0][my * cbw + mx], 1)
            put_block(c_plans[1][my * cbw + mx], 2)
    flush_entropy()
    out += b"\xFF\xD9"  # EOI
    return bytes(out)


# ---------------------------------------------------------------------------
# REAL FLAC synthesis (the free public spec, xiph.org / RFC 9639):
# mono 16-bit streams whose frames carry CONSTANT, VERBATIM, and
# FIXED-predictor subframes with genuine Rice-coded residuals, correct
# UTF-8 frame numbers and CRC-8/CRC-16 — the deterministic sample rule
# matches make_wav_pcm16, and FLAC is lossless, so decode oracles are
# exact integer arithmetic by construction.
# ---------------------------------------------------------------------------


class _BitWriter:
    """MSB-first bit writer (FLAC, MP3, H.264 RBSP with exp-Golomb)."""

    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, value: int, bits: int) -> None:
        # whole-field accumulate (not per-bit): fixture synthesis sits
        # in the decode driver queries' hot path at sf0.1
        acc = (self.acc << bits) | (value & ((1 << bits) - 1))
        n = self.n + bits
        while n >= 8:
            n -= 8
            self.buf.append((acc >> n) & 0xFF)
        self.acc = acc & ((1 << n) - 1)
        self.n = n

    def write_unary(self, q: int) -> None:
        # q zero bits then a 1: value 1 in a (q+1)-bit field
        self.write(1, q + 1)

    def ue(self, v: int) -> None:
        zeros = (v + 1).bit_length() - 1
        self.write(0, zeros)
        self.write(v + 1, zeros + 1)

    def se(self, v: int) -> None:
        self.ue(2 * v - 1 if v > 0 else -2 * v)

    def align(self) -> None:
        """Pad to a byte boundary with 0 bits."""
        if self.n:
            self.write(0, 8 - self.n)

    def trailing(self) -> None:
        """rbsp_trailing_bits: a 1, then 0s to the byte boundary."""
        self.write(1, 1)
        self.align()

    def tobytes(self) -> bytes:
        self.align()
        return bytes(self.buf)


def _crc8(data: bytes) -> int:
    crc = 0
    for b in data:
        crc ^= b
        for _ in range(8):
            crc = ((crc << 1) ^ 0x07) & 0xFF if crc & 0x80 else (crc << 1) & 0xFF
    return crc


def _crc16(data: bytes) -> int:
    crc = 0
    for b in data:
        crc ^= b << 8
        for _ in range(8):
            crc = ((crc << 1) ^ 0x8005) & 0xFFFF if crc & 0x8000 \
                else (crc << 1) & 0xFFFF
    return crc


def _utf8_coded_number(n: int) -> bytes:
    # FLAC frame numbers use UTF-8-style coding (spec 9.1.5)
    if n < 0x80:
        return bytes([n])
    out = []
    if n < 0x800:
        out = [0xC0 | (n >> 6), 0x80 | (n & 0x3F)]
    elif n < 0x10000:
        out = [0xE0 | (n >> 12), 0x80 | ((n >> 6) & 0x3F),
               0x80 | (n & 0x3F)]
    else:
        out = [0xF0 | (n >> 18), 0x80 | ((n >> 12) & 0x3F),
               0x80 | ((n >> 6) & 0x3F), 0x80 | (n & 0x3F)]
    return bytes(out)


def _rice_encode(bw: "_BitWriter", residuals: "list[int]", param: int) -> None:
    for r in residuals:
        # standard zigzag: non-negative -> 2r, negative -> -2r - 1
        z = 2 * r if r >= 0 else -2 * r - 1
        bw.write_unary(z >> param)
        if param:
            bw.write(z & ((1 << param) - 1), param)


_FIXED_COEFS = {
    0: [],
    1: [1],
    2: [2, -1],
    3: [3, -3, 1],
    4: [4, -6, 4, -1],
}

# LPC subframe presets: (order, precision_bits, shift, qcoefs,
# rice_partition_order). lpc is the historical order-2 smooth
# predictor; lpc4/lpc8 use sign-varying coefficient histories in the
# shape a real `flac -8` analysis produces (|c| < 2**(prec-1)), and
# lpc8 also exercises Rice partition order 2 (4 partitions per
# block, each with its own parameter).
_LPC_PRESETS = {
    "lpc": (2, 5, 1, [3, -1], 0),
    "lpc4": (4, 6, 2, [7, -6, 2, -1], 1),
    "lpc8": (8, 7, 5, [26, -39, 42, -38, 28, -17, 8, -2], 2),
}


def _flac_write_subframe(
    body: "_BitWriter", samples: "list[int]", kind: str, bits: int = 16,
    wasted: int = 0,
) -> None:
    """Emit one subframe at ``bits`` bits/sample (side channels of
    decorrelated stereo carry bps+1, RFC 9639). ``wasted`` > 0 emits
    a REAL wasted-bits header (flag 1 + unary(k-1)) and codes
    ``samples >> wasted`` at ``bits - wasted`` — every sample must be
    divisible by 2**wasted (the fixture plants scaled rules)."""
    if wasted:
        assert all(s_ % (1 << wasted) == 0 for s_ in samples)
        samples = [s_ >> wasted for s_ in samples]
        bits -= wasted
    bs = len(samples)
    if kind in ("fixed2", "rice_escape", "escape0") and bs <= 2:
        # a predictor of order 2 is illegal when the (tail) block is
        # shorter than its warm-up — real encoders fall back too
        kind = "verbatim"
    mask = (1 << bits) - 1
    def wasted_header() -> None:
        if wasted:
            body.write(1, 1)
            body.write(1, wasted)  # unary(wasted - 1)
        else:
            body.write(0, 1)

    if kind == "constant":
        body.write(0, 1)  # zero bit
        body.write(0b000000, 6)  # constant subframe
        wasted_header()
        body.write(samples[0] & mask, bits)
    elif kind == "verbatim":
        body.write(0, 1)
        body.write(0b000001, 6)  # verbatim
        wasted_header()
        for s_ in samples:
            body.write(s_ & mask, bits)
    elif kind in _LPC_PRESETS:
        # REAL LPC subframe with quantized predictor coefficients —
        # residual = sample - (dot >> shift), the decoder must replay
        # the arithmetic floor shift exactly (RFC 9639 §9.2.5).
        # Presets: order-2 smooth, order-4 and order-8 with
        # SIGN-VARYING coefficient histories (the flac -8 shape),
        # optionally with Rice partition order > 0 so the
        # multi-partition residual path is exercised.
        order, prec, shift, qcoefs, part_order = _LPC_PRESETS[kind]
        if bs <= order:
            # tail block shorter than the warm-up: encode verbatim
            # (mirrors the fixed2 fallback above)
            body.write(0, 1)
            body.write(0b000001, 6)
            wasted_header()
            for s_ in samples:
                body.write(s_ & mask, bits)
            return
        body.write(0, 1)
        body.write(0b100000 | (order - 1), 6)
        wasted_header()
        for s_ in samples[:order]:
            body.write(s_ & mask, bits)
        body.write(prec - 1, 4)
        body.write(shift, 5)
        for c in qcoefs:
            body.write(c & ((1 << prec) - 1), prec)
        residuals = [
            samples[i] - (sum(
                qcoefs[j] * samples[i - j - 1] for j in range(order)
            ) >> shift)
            for i in range(order, bs)
        ]
        if bs % (1 << part_order) or bs // (1 << part_order) <= order:
            part_order = 0  # tail blocks fall back to one partition
        n_parts = 1 << part_order

        def _split():
            taken = 0
            for p in range(n_parts):
                cnt = bs // n_parts - (order if p == 0 else 0)
                yield residuals[taken:taken + cnt]
                taken += cnt

        def _param(part):
            zmax = max((2 * r if r >= 0 else -2 * r - 1)
                       for r in part) if part else 0
            return max(0, zmax.bit_length() - 1)

        # method 0 (4-bit rice) when every partition's parameter
        # fits, else method 1 (5-bit rice2 — 24-bit depths need it)
        method = 0 if max(
            (_param(p_) for p_ in _split()), default=0
        ) <= 14 else 1
        pbits = 4 if method == 0 else 5
        body.write(method, 2)
        body.write(part_order, 4)
        for part in _split():
            param = _param(part)
            if param > 30:
                raise ValueError("rice parameter overflow in fixture")
            body.write(param, pbits)
            _rice_encode(body, part, param)
    elif kind in ("fixed2", "rice_escape", "escape0"):  # fixed order 2
        order = 2
        body.write(0, 1)
        body.write(0b001000 | order, 6)  # fixed, order
        wasted_header()
        for s_ in samples[:order]:  # warm-up, unencoded
            body.write(s_ & mask, bits)
        coefs = _FIXED_COEFS[order]
        residuals = [
            samples[i] - sum(
                c * samples[i - j - 1] for j, c in enumerate(coefs)
            )
            for i in range(order, bs)
        ]
        # residual coding: method 0 (4-bit rice) when the parameter
        # fits, else method 1 (5-bit rice2 — needed at 24-bit depths)
        zmax0 = max((2 * r if r >= 0 else -2 * r - 1)
                    for r in residuals) if residuals else 0
        param0 = max(0, zmax0.bit_length() - 1)
        method = 0 if param0 <= 14 else 1
        pbits = 4 if method == 0 else 5
        body.write(method, 2)
        body.write(0, 4)  # partition order 0
        if kind in ("rice_escape", "escape0"):
            # escape code: raw two's-complement residuals at a
            # fixed width (exercises the decoder's escape branch);
            # all-zero residuals legally use width 0 and carry NO
            # payload bits (RFC 9639 §9.2.7.2 — real encoders emit
            # this for silent/linear partitions)
            body.write((1 << pbits) - 1, pbits)
            if kind == "escape0":
                assert all(r == 0 for r in residuals), (
                    "escape0 requires linear planted samples"
                )
                body.write(0, 5)
            else:
                width = max(
                    (abs(r) + (r >= 0)).bit_length() + 1
                    for r in residuals
                ) if residuals else 2
                body.write(width, 5)
                for r in residuals:
                    body.write(r & ((1 << width) - 1), width)
        else:
            if param0 > 30:
                raise ValueError("rice parameter overflow in fixture")
            body.write(param0, pbits)
            _rice_encode(body, residuals, param0)
    else:
        raise ValueError(f"unknown fixture subframe kind {kind!r}")


@_functools.lru_cache(maxsize=512)
def make_flac(
    seed: int,
    n_samples: int = 1200,
    sample_rate_hz: int = 16_000,
    block_size: int = 512,
    subframe_cycle: "tuple[str, ...]" = ("fixed2", "verbatim", "constant"),
    rice_escape: bool = False,
    channels: int = 1,
    stereo_mode: str = "independent",
    wasted_bits: int = 0,
    bps: int = 16,
) -> bytes:
    """Serialize a REAL 16-bit FLAC stream, mono or stereo. Left
    sample i = ``((seed + i*257) % 2001) - 1000`` for fixed/verbatim
    blocks (the make_wav_pcm16 rule; the right channel uses
    ``((seed*3 + i*181) % 1801) - 900``), and the constant
    ``seed % 512`` (right: ``(seed*3) % 512``) for blocks whose cycle
    slot is 'constant' — every subframe type the decoder supports
    appears, with genuine Rice-coded FIXED-predictor residuals, UTF-8
    frame numbers, and correct CRC-8/CRC-16. ``channels=2`` with
    ``stereo_mode`` in {"independent", "left_side", "right_side",
    "mid_side"} emits the matching channel assignment with REAL
    decorrelation (mid = (L+R)>>1 floor, side = L-R; side subframes
    at 17 bits per RFC 9639)."""
    import struct as _struct

    if not 1 <= channels <= 8:
        raise ValueError("channels must be 1..8")
    modes = {
        "independent": 0b0001, "left_side": 0b1000,
        "right_side": 0b1001, "mid_side": 0b1010,
    }
    if channels == 2 and stereo_mode not in modes:
        raise ValueError(f"unknown stereo_mode {stereo_mode!r}")
    if channels > 2 and stereo_mode != "independent":
        raise ValueError(">2 channels are independent-only (spec)")

    # per-channel planted rules: channel c uses seed*(2c+1) with its
    # own (prime, modulus) pair; c=0 is the WAV rule, c=1 matches the
    # historical stereo right-channel rule
    _PRIMES = (257, 181, 163, 149, 139, 127, 113, 109)
    _MODS = (2001, 1801, 1601, 1401, 1201, 1001, 801, 601)

    if bps not in (8, 16, 24, 32):
        raise ValueError("fixture bps must be 8, 16, 24 or 32")
    # depth scaling keeps planted values inside the sample range:
    # 24-bit scales the 16-bit rules x256; 32-bit x32768 (2^15, so
    # per-window sums of squares stay inside BIGINT for the oracle);
    # 8-bit divides the modulus
    bscale = {8: 1, 16: 1, 24: 256, 32: 32768}[bps]

    def chan_sample(c: int, i: int) -> int:
        m = _MODS[c] if bps != 8 else 201
        base = ((seed * (2 * c + 1) + i * _PRIMES[c]) % m) - (m - 1) // 2
        return base * bscale

    def sample(i: int) -> int:
        return chan_sample(0, i)

    def sample_r(i: int) -> int:
        return chan_sample(1, i)

    out = bytearray(b"fLaC")
    # STREAMINFO (34 bytes), last-metadata-block flag set
    si = _BitWriter()
    si.write(block_size, 16)  # min block size
    si.write(block_size, 16)  # max block size
    si.write(0, 24)  # min frame size unknown
    si.write(0, 24)  # max frame size unknown
    si.write(sample_rate_hz, 20)
    si.write(channels - 1, 3)
    si.write(bps - 1, 5)
    si.write(n_samples, 36)
    md5 = b"\x00" * 16  # unset (legal: 0 means unknown)
    out += bytes([0x80]) + (34).to_bytes(3, "big") + bytes(si.buf) + md5

    frame_no = 0
    pos = 0
    while pos < n_samples:
        bs = min(block_size, n_samples - pos)
        kind = subframe_cycle[frame_no % len(subframe_cycle)]
        if kind == "fixed2" and rice_escape:
            kind = "rice_escape"
        if kind == "constant":
            cmod = 512 if bps != 8 else 100
            chans = [
                [((seed * (2 * c + 1)) % cmod) * bscale] * bs
                for c in range(max(channels, 2))
            ]
        elif kind == "escape0":
            # linear-in-block ramp: order-2 fixed residuals are
            # exactly zero, encoded as a 0-width escape partition
            # (slope 0 at 8-bit to stay inside the sample range)
            slope = 0 if bps == 8 else bscale
            chans = [
                [(((seed * (2 * c + 1)) % 257) - 128) * bscale
                 + i * slope for i in range(bs)]
                for c in range(max(channels, 2))
            ]
        else:
            chans = [
                [chan_sample(c, pos + i) for i in range(bs)]
                for c in range(max(channels, 2))
            ]
        left, right = chans[0], chans[1]
        if wasted_bits:
            # plant pre-scaled samples so the wasted-bits contract
            # (divisible by 2**k) holds and decode returns the scaled
            # values exactly
            chans = [[s_ << wasted_bits for s_ in ch] for ch in chans]
            left, right = chans[0], chans[1]

        hdr = _BitWriter()
        hdr.write(0b11111111111110, 14)  # sync
        hdr.write(0, 1)  # reserved
        hdr.write(0, 1)  # fixed blocksize stream
        hdr.write(0b0111, 4)   # blocksize: 16 bit at end (bs - 1)
        hdr.write(0b0000, 4)   # sample rate: from STREAMINFO
        if channels == 1:
            hdr.write(0b0000, 4)
        elif channels == 2:
            hdr.write(modes[stereo_mode], 4)
        else:
            hdr.write(channels - 1, 4)  # N independent channels
        hdr.write({8: 0b001, 16: 0b100, 24: 0b110, 32: 0b111}[bps], 3)
        hdr.write(0, 1)        # reserved
        head = bytes(hdr.buf) + _utf8_coded_number(frame_no)
        head += _struct.pack(">H", bs - 1)
        head += bytes([_crc8(head)])

        body = _BitWriter()
        wb = wasted_bits
        if channels == 1:
            _flac_write_subframe(body, left, kind, bps, wb)
        elif channels > 2:
            for c in range(channels):
                _flac_write_subframe(body, chans[c], kind, bps, wb)
        else:
            side = [l_ - r_ for l_, r_ in zip(left, right)]
            mid = [(l_ + r_) >> 1 for l_, r_ in zip(left, right)]
            if stereo_mode == "independent":
                _flac_write_subframe(body, left, kind, bps, wb)
                _flac_write_subframe(body, right, kind, bps, wb)
            elif stereo_mode == "left_side":
                _flac_write_subframe(body, left, kind, bps, wb)
                _flac_write_subframe(body, side, kind, bps + 1, wb)
            elif stereo_mode == "right_side":
                _flac_write_subframe(body, side, kind, bps + 1, wb)
                _flac_write_subframe(body, right, kind, bps, wb)
            else:  # mid_side
                _flac_write_subframe(body, mid, kind, bps, wb)
                _flac_write_subframe(body, side, kind, bps + 1, wb)
        body.align()
        frame = head + bytes(body.buf)
        frame += _struct.pack(">H", _crc16(frame))
        out += frame
        pos += bs
        frame_no += 1
    return bytes(out)


@_functools.lru_cache(maxsize=512)
def make_jpeg_progressive(
    seed: int, w: int = 16, h: int = 16, channels: int = 1,
    subsampling: str = "444", chroma_dc: "tuple[int, int] | None" = None,
    al: int = 1, band_split: int = 5, precision: int = 8,
) -> bytes:
    """Serialize a REAL progressive JPEG (SOF2, T.81 annex G) carrying
    the SAME quantized coefficients as :func:`make_jpeg_baseline` for
    this seed/geometry — so ``_parse_jpeg(progressive) ==
    _parse_jpeg(baseline)`` pixel-for-pixel is the correctness oracle.

    Scan script (the libjpeg-style shape):
      1. DC first scan, interleaved, Ah=0 Al=``al``
      2. per component: AC first Ss=1..``band_split`` at Al=``al``,
         then Ss=``band_split``+1..63 at Al=``al`` (spectral selection
         + successive approximation; EOB-RUN coded)
      3. DC refinement, interleaved, Ah=``al`` Al=``al``-1 ... down
         to 0 (one bit per block per pass)
      4. per component: AC refinement scans over the same two bands,
         the G.1.2.3 correction-bit protocol with buffered bits and
         cross-block EOB runs
    """
    import struct as _struct

    factors = {
        "444": (1, 1), "422": (2, 1), "420": (2, 2),
    }.get(subsampling)
    if factors is None:
        raise ValueError(f"unknown subsampling {subsampling!r}")
    if channels not in (1, 3):
        raise ValueError("channels must be 1 or 3")
    if channels == 1:
        factors = (1, 1)
    hs, vs = factors
    if w % (8 * hs) or h % (8 * vs):
        raise ValueError("fixture dimensions must cover whole MCUs")
    if not (1 <= al <= 3):
        raise ValueError("al must be 1..3 for this fixture")
    dc_codes = _huff_codes(JPEG_DC_BITS, JPEG_DC_VALS)
    ac_codes = _huff_codes(JPEG_PROG_AC_BITS, JPEG_PROG_AC_VALS)

    out = bytearray(b"\xFF\xD8")  # SOI
    out += b"\xFF\xDB" + _struct.pack(">H", 67) + b"\x00"
    out += bytes([JPEG_Q] * 64)
    if precision not in (8, 12):
        raise ValueError("fixture precision must be 8 or 12")
    out += b"\xFF\xC2" + _struct.pack(  # SOF2: progressive
        ">HBHHB", 8 + 3 * channels, precision, h, w, channels
    )
    for ci in range(channels):
        samp = (hs << 4) | vs if ci == 0 else 0x11
        out += bytes([ci + 1, samp, 0])
    for cls, bits, vals in ((0, JPEG_DC_BITS, JPEG_DC_VALS),
                            (1, JPEG_PROG_AC_BITS, JPEG_PROG_AC_VALS)):
        out += b"\xFF\xC4" + _struct.pack(">H", 19 + len(vals))
        out += bytes([cls << 4]) + bytes(bits) + bytes(vals)

    # per-component block coefficient plans on each component's OWN
    # raster grid — same planting rule as make_jpeg_baseline
    ybw, ybh = w // 8, h // 8
    cbw, cbh = w // (8 * hs), h // (8 * vs)
    plans = [
        [jpeg_block_plan(seed, ybw * ybh), ybw, ybh],
    ]
    if channels == 3:
        for ci in range(2):
            if chroma_dc is not None:
                cplan = [{0: chroma_dc[ci]} for _ in range(cbw * cbh)]
            else:
                cplan = jpeg_block_plan(seed + 1000 * (ci + 1),
                                        cbw * cbh)
            plans.append([cplan, cbw, cbh])

    _w = _JpegBitWriter(out)
    put = _w.put
    flush_entropy = _w.flush

    def sos_header(comp_ids: "list[int]", ss: int, se: int,
                   ah: int, al_: int) -> None:
        out.extend(b"\xFF\xDA")
        out.extend(_struct.pack(">H", 6 + 2 * len(comp_ids)))
        out.append(len(comp_ids))
        for cid in comp_ids:
            out.append(cid)
            out.append(0x00)  # DC table 0 / AC table 0
        out.append(ss)
        out.append(se)
        out.append((ah << 4) | al_)

    def size_of(v: int) -> int:
        return abs(v).bit_length()

    def value_bits(v: int, size: int) -> int:
        return v if v >= 0 else v + (1 << size) - 1

    def tz(v: int, shift: int) -> int:
        """Toward-zero shift (T.81 G.1.2.2 AC point transform)."""
        return -((-v) >> shift) if v < 0 else v >> shift

    def coef_at(plan_blocks, b: int, k: int) -> int:
        return plan_blocks[b].get(k, 0)

    # ---- scan 1: DC first, interleaved, Al = al ----
    sos_header(list(range(1, channels + 1)), 0, 0, 0, al)
    preds = [0] * channels
    mcux, mcuy = cbw, cbh
    if channels == 1:
        mcux, mcuy = ybw, ybh
    for my in range(mcuy):
        for mx in range(mcux):
            for ci in range(channels):
                plan_blocks, bw_c, _bh_c = plans[ci]
                if ci == 0 and channels == 3:
                    blocks = [
                        (my * vs + v) * bw_c + (mx * hs + hh)
                        for v in range(vs) for hh in range(hs)
                    ]
                else:
                    blocks = [my * bw_c + mx]
                for b in blocks:
                    t = coef_at(plan_blocks, b, 0) >> al
                    diff = t - preds[ci]
                    preds[ci] = t
                    s = size_of(diff)
                    code, length = dc_codes[s]
                    put(code, length)
                    if s:
                        put(value_bits(diff, s), s)
    flush_entropy()

    # ---- AC first scans per component, two spectral bands ----
    bands = [(1, band_split), (band_split + 1, 63)]

    def ac_first_scan(ci: int, ss: int, se: int, al_: int) -> None:
        sos_header([ci + 1], ss, se, 0, al_)
        plan_blocks, bw_c, bh_c = plans[ci]
        eobrun = 0

        def emit_eobrun() -> None:
            nonlocal eobrun
            if eobrun == 0:
                return
            nbits = eobrun.bit_length() - 1
            code, length = ac_codes[nbits << 4]
            put(code, length)
            if nbits:
                put(eobrun & ((1 << nbits) - 1), nbits)
            eobrun = 0

        for b in range(bw_c * bh_c):
            r = 0
            for k in range(ss, se + 1):
                t = tz(coef_at(plan_blocks, b, k), al_)
                if t == 0:
                    r += 1
                    continue
                emit_eobrun()
                while r > 15:
                    zc, zl = ac_codes[0xF0]
                    put(zc, zl)
                    r -= 16
                s = size_of(t)
                code, length = ac_codes[(r << 4) | s]
                put(code, length)
                put(value_bits(t, s), s)
                r = 0
            if r > 0:
                eobrun += 1
                if eobrun == 0x7FFF:
                    emit_eobrun()
        emit_eobrun()
        flush_entropy()

    for ci in range(channels):
        for ss, se in bands:
            ac_first_scan(ci, ss, se, al)

    # ---- DC refinement passes: Ah = a, Al = a-1, down to 0 ----
    for a in range(al, 0, -1):
        sos_header(list(range(1, channels + 1)), 0, 0, a, a - 1)
        for my in range(mcuy):
            for mx in range(mcux):
                for ci in range(channels):
                    plan_blocks, bw_c, _bh_c = plans[ci]
                    if ci == 0 and channels == 3:
                        blocks = [
                            (my * vs + v) * bw_c + (mx * hs + hh)
                            for v in range(vs) for hh in range(hs)
                        ]
                    else:
                        blocks = [my * bw_c + mx]
                    for b in blocks:
                        put((coef_at(plan_blocks, b, 0) >> (a - 1)) & 1,
                            1)
        flush_entropy()

    # ---- AC refinement scans (G.1.2.3) per component, per band ----
    def ac_refine_scan(ci: int, ss: int, se: int, ah: int,
                       al_: int) -> None:
        sos_header([ci + 1], ss, se, ah, al_)
        plan_blocks, bw_c, bh_c = plans[ci]
        eobrun = 0
        pending: "list[int]" = []  # correction bits riding the EOB run

        def emit_eobrun() -> None:
            nonlocal eobrun
            if eobrun == 0:
                return
            nbits = eobrun.bit_length() - 1
            code, length = ac_codes[nbits << 4]
            put(code, length)
            if nbits:
                put(eobrun & ((1 << nbits) - 1), nbits)
            for bit in pending:
                put(bit, 1)
            pending.clear()
            eobrun = 0

        for b in range(bw_c * bh_c):
            absv = {}
            eob_k = ss - 1  # last newly-significant position
            for k in range(ss, se + 1):
                t = abs(coef_at(plan_blocks, b, k)) >> al_
                absv[k] = t
                if t == 1:
                    eob_k = k
            r = 0
            br: "list[int]" = []  # bits since last emitted symbol
            for k in range(ss, se + 1):
                t = absv[k]
                if t == 0:
                    r += 1
                    continue
                while r > 15 and k <= eob_k:
                    emit_eobrun()
                    zc, zl = ac_codes[0xF0]
                    put(zc, zl)
                    r -= 16
                    for bit in br:
                        put(bit, 1)
                    br = []
                if t > 1:
                    br.append(t & 1)
                    continue
                # newly significant: |coef| >> al_ == 1
                emit_eobrun()
                code, length = ac_codes[(r << 4) | 1]
                put(code, length)
                put(1 if coef_at(plan_blocks, b, k) >= 0 else 0, 1)
                for bit in br:
                    put(bit, 1)
                br = []
                r = 0
            if r > 0 or br:
                eobrun += 1
                pending.extend(br)
                if eobrun == 0x7FFF:
                    emit_eobrun()
        emit_eobrun()
        flush_entropy()

    for a in range(al, 0, -1):
        for ci in range(channels):
            for ss, se in bands:
                ac_refine_scan(ci, ss, se, a, a - 1)

    out += b"\xFF\xD9"  # EOI
    return bytes(out)


# ---------------------------------------------------------------------------
# Ogg/Vorbis fixture (Vorbis I spec + RFC 3533): a REAL minimal
# stream — id/comment/setup headers with three self-describing
# codebooks, floor1 and residue-type-2 configs, and audio packets
# whose floor posts and residue VQ entries follow seeded integer
# rules an oracle can replay exactly.
# ---------------------------------------------------------------------------


class _LsbBitWriter:
    """LSB-first bit writer (Vorbis bitpacking, VP8L) — whole-field
    accumulate, as :class:`_BitWriter`."""

    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, value: int, nbits: int) -> None:
        acc = self.acc | ((value & ((1 << nbits) - 1)) << self.n)
        n = self.n + nbits
        while n >= 8:
            self.buf.append(acc & 0xFF)
            acc >>= 8
            n -= 8
        self.acc = acc
        self.n = n

    def write_codeword(self, word: int, length: int) -> None:
        """Huffman codewords are walked root->leaf, MSB of the word
        first: the word's bits, reversed, through the LSB-first
        packer."""
        rev = 0
        for _ in range(length):
            rev = (rev << 1) | (word & 1)
            word >>= 1
        self.write(rev, length)

    def tobytes(self) -> bytes:
        """The bytes written, the last one padded with 0 bits."""
        return bytes(self.buf) + (bytes([self.acc]) if self.n else b"")

    bytes = tobytes  # the Vorbis tests' name


def _vorbis_pack_float(x: int, exp: int = 788) -> int:
    """Inverse of the spec's float32_unpack for small non-negative
    integers: value = mantissa * 2**(exp-788)."""
    return (exp << 21) | x


def _ogg_page(
    body_packets: "list[bytes]", seq: int, *, bos: bool = False,
    eos: bool = False, cont: bool = False, serial: int = 0x5041524B,
    granule: int = 0, open_tail: bool = False,
) -> bytes:
    """Serialize one Ogg page. ``open_tail`` leaves the final packet
    unterminated (its lacing ends on 255) — the caller continues it
    on the next page with ``cont=True``."""
    import struct as _struct

    from ..operators.vorbis import _ogg_crc32

    lacing = bytearray()
    body = bytearray()
    for i, pk in enumerate(body_packets):
        body += pk
        n = len(pk)
        while n >= 255:
            lacing.append(255)
            n -= 255
        is_last = i == len(body_packets) - 1
        if not (is_last and open_tail and len(pk) % 255 == 0):
            lacing.append(n)
    htype = (1 if cont else 0) | (2 if bos else 0) | (4 if eos else 0)
    head = bytearray(b"OggS")
    head += bytes([0, htype])
    head += _struct.pack("<q", granule)
    head += _struct.pack("<I", serial)
    head += _struct.pack("<I", seq)
    head += b"\x00\x00\x00\x00"  # CRC placeholder
    head += bytes([len(lacing)]) + lacing
    page = bytes(head) + bytes(body)
    crc = _ogg_crc32(page)
    return page[:22] + _struct.pack("<I", crc) + page[26:]


# packed floats for the floor0 coefficient book (value =
# mantissa * 2^(exponent - 788)): 33/64 and 3/64
_VORBIS_F0_MIN = ((788 - 6) << 21) | 33
_VORBIS_F0_DELTA = ((788 - 6) << 21) | 3


def _vorbis_headers(
    stereo: bool = False, residue_type: int = 2,
    long_blocks: bool = False, floor0: bool = False,
) -> "tuple[bytes, bytes, bytes]":
    import struct as _struct

    # --- identification header ---
    w = _LsbBitWriter()
    w.write(0, 32)          # version
    w.write(2 if stereo else 1, 8)  # channels
    w.write(16_000, 32)     # sample rate
    w.write(0, 32)          # bitrate max
    w.write(0, 32)          # bitrate nominal
    w.write(0, 32)          # bitrate min
    w.write(8, 4)           # blocksize0 = 256
    w.write(9 if long_blocks else 8, 4)  # blocksize1 = 512 / 256
    w.write(1, 1)           # framing
    ident = b"\x01vorbis" + w.tobytes()

    # --- comment header ---
    w = _LsbBitWriter()
    vendor = b"spark-fixture"
    w.write(len(vendor), 32)
    for b in vendor:
        w.write(b, 8)
    w.write(0, 32)          # zero user comments
    w.write(1, 1)           # framing
    comment = b"\x03vorbis" + w.tobytes()

    # --- setup header ---
    w = _LsbBitWriter()
    w.write(2, 8)  # codebook_count - 1 -> 3 codebooks

    def codebook(dim, lengths, lookup_tail=None):
        w.write(0x564342, 24)
        w.write(dim, 16)
        w.write(len(lengths), 24)
        w.write(0, 1)  # unordered
        w.write(0, 1)  # not sparse
        for ln in lengths:
            w.write(ln - 1, 5)
        if lookup_tail is None:
            w.write(0, 4)
        else:
            lookup_tail()

    if floor0:
        # book 0 (floor0 variant): LSP coefficient VQ, dim 1, 4
        # entries all length 2 (canonical identity words), lookup
        # type 1 with value_bits=2 multiplicands {0,1,2,3}: entry d
        # decodes to 33/64 + (3/64)*d — dyadic values sitting near
        # Bark-grid midpoints, which keeps the LSP products p+q
        # bounded BELOW 0.0325 over the whole planted grid (swept
        # exactly in tests), so exp() stays in a grid-safe range
        def lookup1_f0():
            w.write(1, 4)
            # minimum = 33/64, delta = 3/64 (packed floats)
            w.write(_VORBIS_F0_MIN, 32)
            w.write(_VORBIS_F0_DELTA, 32)
            w.write(1, 4)                        # value_bits - 1 -> 2
            w.write(0, 1)                        # sequence_p = 0
            for mv in range(4):                  # multiplicands 0..3
                w.write(mv, 2)

        codebook(1, [2] * 4, lookup1_f0)
    else:
        # book 0: floor post values, 64 entries all length 6, no lookup
        codebook(1, [6] * 64)
    # book 1: residue classbook, 2 entries length 1, no lookup
    codebook(1, [1, 1])

    # book 2: residue VQ, dim 4, 16 entries length 4, lookup type 1
    # with integer multiplicands {0,1}: entry e decodes to the bit
    # vector of e (lookup1_values(16, 4) = 2)
    def lookup1():
        w.write(1, 4)
        w.write(_vorbis_pack_float(0), 32)   # minimum = 0.0
        w.write(_vorbis_pack_float(1), 32)   # delta = 1.0
        w.write(0, 4)                        # value_bits - 1 -> 1
        w.write(0, 1)                        # sequence_p = 0
        w.write(0, 1)                        # multiplicand 0
        w.write(1, 1)                        # multiplicand 1

    codebook(4, [4] * 16, lookup1)

    w.write(0, 6)    # time_count - 1
    w.write(0, 16)   # time transform 0 placeholder
    w.write(0, 6)    # floor_count - 1
    if floor0:
        w.write(0, 16)      # floor type 0 (LSP)
        w.write(2, 8)       # order
        w.write(16000, 16)  # floor0_rate
        w.write(64, 16)     # bark_map_size
        w.write(6, 6)       # amplitude bits
        w.write(10, 8)      # amplitude offset
        w.write(0, 4)       # number_of_books - 1
        w.write(0, 8)       # coefficient book -> book 0
    else:
        w.write(1, 16)   # floor type 1
        w.write(1, 5)    # partitions
        w.write(0, 4)    # partition class 0
        w.write(1, 3)    # class dim - 1 -> 2
        w.write(0, 2)    # subclasses -> direct book
        w.write(1, 8)    # subclass book + 1 -> book 0
        w.write(0, 2)    # multiplier - 1 -> range 256
        w.write(7, 4)    # rangebits -> X in [0, 128]
        w.write(40, 7)   # post X 2
        w.write(90, 7)   # post X 3
    w.write(0, 6)    # residue_count - 1
    w.write(residue_type, 16)  # residue type (0/1/2)
    w.write(0, 24)   # begin
    w.write(64, 24)  # end
    w.write(7, 24)   # partition_size - 1 -> 8
    w.write(1, 6)    # classifications - 1 -> 2
    w.write(1, 8)    # classbook -> book 1
    w.write(0, 3)    # class 0 cascade low bits (no passes)
    w.write(0, 1)    # no high bits
    w.write(1, 3)    # class 1 cascade low bits (pass 0)
    w.write(0, 1)    # no high bits
    w.write(2, 8)    # class 1 pass-0 book -> book 2
    w.write(0, 6)    # mapping_count - 1
    w.write(0, 16)   # mapping type 0
    w.write(0, 1)    # one submap
    if stereo:
        # square-polar coupling: one step, magnitude ch0 / angle ch1
        # (ilog(channels-1) = 1 bit per channel number)
        w.write(1, 1)
        w.write(0, 8)    # coupling_steps - 1
        w.write(0, 1)    # magnitude = 0
        w.write(1, 1)    # angle = 1
    else:
        w.write(0, 1)    # no coupling
    w.write(0, 2)    # reserved
    w.write(0, 8)    # time config (unused)
    w.write(0, 8)    # floor 0
    w.write(0, 8)    # residue 0
    if long_blocks:
        # two modes: short (blockflag 0) and long (blockflag 1),
        # both over the same mapping — packets then spend
        # ilog(1) = 1 bit on mode select
        w.write(1, 6)    # mode_count - 1
        for bf in (0, 1):
            w.write(bf, 1)   # blockflag
            w.write(0, 16)   # window type
            w.write(0, 16)   # transform type
            w.write(0, 8)    # mapping 0
    else:
        w.write(0, 6)    # mode_count - 1
        w.write(0, 1)    # blockflag 0
        w.write(0, 16)   # window type
        w.write(0, 16)   # transform type
        w.write(0, 8)    # mapping 0
    w.write(1, 1)    # framing
    setup = b"\x05vorbis" + w.tobytes()
    return ident, comment, setup


def vorbis_packet_rules(seed: int, k: int) -> "dict":
    """The planted integer rules for audio packet k — shared by the
    encoder, the tests and the SQL oracle."""
    return {
        "y0": (seed + 11 * k) % 256,
        "y1": (seed * 3 + 17 * k) % 256,
        "y2": (seed + 29 * k) % 64,
        "y3": (seed * 5 + 13 * k) % 64,
        "classes": [(seed + k + p) % 2 for p in range(8)],
        "entries": [
            ((seed + 3 * k + 5 * p) % 16, (seed * 7 + k + p) % 16)
            for p in range(8)
        ],
    }


VORBIS_STEREO_SEED_SHIFT = 499  # channel-1 floor rule: seed + 499


def vorbis_pcm_rules(seed: int, k: int) -> "dict":
    """Planted rules for the pcm_tone packets (r10): a FLAT floor at
    dB index Y (both transmitted posts equal, the two interior posts
    sent as 0 so they take the flat prediction) and a SINGLE residue
    tone at coded slot k0 with VQ amplitude 1 — so the synthesized
    PCM is one windowed IMDCT basis vector per packet, replayable in
    closed form (amplitude 10^(-7(255-Y)/256), cosine argument
    pi/(2n) * (2j+1+n/2) * (2*k0+1))."""
    return {
        "Y": 180 + (seed + 11 * k) % 76,
        "k0": (seed + 7 * k) % 64,
    }


def vorbis_pcm_stereo_rules(seed: int, k: int) -> "dict":
    """Planted rules for STEREO pcm_tone packets (r10): flat floors
    per channel (dB indices Y0/Y1) and one tone per channel in
    DISJOINT coefficient ranges (ch0 in [0,16), ch1 in [16,32)),
    planted PRE-coupling so the decoder's inverse square-polar
    transform must run to recover them: coefficient k0 carries
    (M,A) = (1,1) -> (ch0,ch1) = (1,0) and k1 carries (0,1) ->
    (0,1). A coupling-order bug shows up as a wrong tone."""
    return {
        "Y0": 180 + (seed + 11 * k) % 76,
        "Y1": 180 + (seed + VORBIS_STEREO_SEED_SHIFT + 11 * k) % 76,
        "k0": (seed + 7 * k) % 16,
        "k1": 16 + (seed * 5 + 13 * k) % 16,
    }


def _vorbis_pcm_packet_stereo(seed: int, k: int) -> bytes:
    r = vorbis_pcm_stereo_rules(seed, k)
    w = _LsbBitWriter()
    w.write(0, 1)                # audio packet type
    for y in (r["Y0"], r["Y1"]):
        w.write(1, 1)            # floor nonzero
        w.write(y, 8)
        w.write(y, 8)
        w.write_codeword(0, 6)
        w.write_codeword(0, 6)
    # interleaved type-2 slots: ch = slot % 2, coefficient = slot // 2
    slots = {2 * r["k0"], 2 * r["k0"] + 1, 2 * r["k1"] + 1}
    for p in range(8):
        part = sorted(s_ for s_ in slots if 8 * p <= s_ < 8 * (p + 1))
        cls = 1 if part else 0
        w.write_codeword(cls, 1)
        if cls:
            e1 = sum(1 << (s_ - 8 * p) for s_ in part if s_ - 8 * p < 4)
            e2 = sum(1 << (s_ - 8 * p - 4) for s_ in part
                     if s_ - 8 * p >= 4)
            w.write_codeword(e1, 4)
            w.write_codeword(e2, 4)
    return w.tobytes()


def _vorbis_pcm_packet(seed: int, k: int) -> bytes:
    r = vorbis_pcm_rules(seed, k)
    w = _LsbBitWriter()
    w.write(0, 1)                # audio packet type
    # mode 0 of 1 -> ilog(0) = 0 bits
    w.write(1, 1)                # floor nonzero
    w.write(r["Y"], 8)           # post 0
    w.write(r["Y"], 8)           # post 1 (flat line)
    w.write_codeword(0, 6)       # post 2: val 0 -> predicted (= Y)
    w.write_codeword(0, 6)       # post 3: val 0 -> predicted (= Y)
    p0 = r["k0"] // 8
    pos = r["k0"] % 8
    for p in range(8):
        cls = 1 if p == p0 else 0
        w.write_codeword(cls, 1)
        if cls == 1:
            e1 = (1 << pos) if pos < 4 else 0
            e2 = (1 << (pos - 4)) if pos >= 4 else 0
            w.write_codeword(e1, 4)
            w.write_codeword(e2, 4)
    return w.tobytes()


def vorbis_pcm_floor0_rules(seed: int, k: int) -> "dict":
    """Planted rules for floor0 pcm_tone packets (r10): amplitude in
    [1, 15], two dim-1 VQ reads d0/d1 giving LSP coefficients
    c0 = 33/64 + (3/64)*d0 and (via the spec's 'last' accumulation)
    c1 = c0 + 33/64 + (3/64)*d1; single residue tone at k0 >= 1
    (Bark bin 0 maps to omega = 0, where the even-order p term
    vanishes identically — excluded to keep p+q bounded)."""
    return {
        "amp": 1 + (seed + 11 * k) % 15,
        "d0": (seed + 5 * k) % 4,
        "d1": (seed * 3 + 7 * k) % 4,
        "k0": 1 + (seed + 7 * k) % 63,
    }


def _vorbis_pcm_packet_floor0(seed: int, k: int) -> bytes:
    r = vorbis_pcm_floor0_rules(seed, k)
    w = _LsbBitWriter()
    w.write(0, 1)                # audio packet type
    # mode 0 of 1 -> 0 bits
    w.write(r["amp"], 6)         # floor0 amplitude (nonzero)
    w.write(0, 1)                # booknumber: ilog(1) = 1 bit
    w.write_codeword(r["d0"], 2)
    w.write_codeword(r["d1"], 2)
    p0 = r["k0"] // 8
    pos = r["k0"] % 8
    for p in range(8):
        cls = 1 if p == p0 else 0
        w.write_codeword(cls, 1)
        if cls == 1:
            e1 = (1 << pos) if pos < 4 else 0
            e2 = (1 << (pos - 4)) if pos >= 4 else 0
            w.write_codeword(e1, 4)
            w.write_codeword(e2, 4)
    return w.tobytes()


def _vorbis_pcm_packet_trans(seed: int, k: int) -> bytes:
    """pcm_tone packet for the long/short TRANSITION stream: same
    planted flat-floor/single-tone rules as the mono packet
    (vorbis_pcm_rules), but with the two-mode select bit (packet k
    takes mode k%2) and, on long blocks, the two window flags (0, 0 —
    both neighbors short, which is true in the alternating stream)."""
    r = vorbis_pcm_rules(seed, k)
    w = _LsbBitWriter()
    w.write(0, 1)                # audio packet type
    mode = k % 2
    w.write(mode, 1)             # mode select (two modes -> 1 bit)
    if mode:
        w.write(0, 1)            # previous-window flag: short
        w.write(0, 1)            # next-window flag: short
    w.write(1, 1)                # floor nonzero
    w.write(r["Y"], 8)
    w.write(r["Y"], 8)
    w.write_codeword(0, 6)
    w.write_codeword(0, 6)
    p0 = r["k0"] // 8
    pos = r["k0"] % 8
    for p in range(8):
        cls = 1 if p == p0 else 0
        w.write_codeword(cls, 1)
        if cls == 1:
            e1 = (1 << pos) if pos < 4 else 0
            e2 = (1 << (pos - 4)) if pos >= 4 else 0
            w.write_codeword(e1, 4)
            w.write_codeword(e2, 4)
    return w.tobytes()


def _vorbis_audio_packet(
    seed: int, k: int, stereo: bool = False, long_blocks: bool = False
) -> bytes:
    r = vorbis_packet_rules(seed, k)
    w = _LsbBitWriter()
    w.write(0, 1)            # audio packet type
    if long_blocks:
        # mode select (1 bit with two modes); odd packets take the
        # long-block mode, which then carries two window flags
        mode = k % 2
        w.write(mode, 1)
        if mode:
            w.write(0, 1)    # previous-window flag
            w.write(0, 1)    # next-window flag
    # else: mode number is ilog(0) = 0 bits

    def floor_posts(rr):
        w.write(1, 1)            # nonzero
        w.write(rr["y0"], 8)     # ilog(255) = 8 raw bits
        w.write(rr["y1"], 8)
        w.write_codeword(rr["y2"], 6)  # book 0: entry i <-> word i
        w.write_codeword(rr["y3"], 6)

    floor_posts(r)
    if stereo:
        floor_posts(vorbis_packet_rules(seed + VORBIS_STEREO_SEED_SHIFT, k))
    # residue type 2, 8 partitions of size 8, classbook dim 1:
    # decode order interleaves (classword p, vq partition p); in
    # stereo the SAME planted slots land on the interleaved 2-channel
    # vector (slot 2j -> magnitude ch, slot 2j+1 -> angle ch)
    for p in range(8):
        cls = r["classes"][p]
        w.write_codeword(cls, 1)   # book 1: entry i <-> 1-bit word i
        if cls == 1:
            e1, e2 = r["entries"][p]
            w.write_codeword(e1, 4)  # book 2: entry i <-> 4-bit word i
            w.write_codeword(e2, 4)
    return w.tobytes()


@_functools.lru_cache(maxsize=512)
def make_ogg_vorbis(
    seed: int, n_packets: int = 6, span_page: bool = False,
    stereo: bool = False, residue_type: int = 2,
    long_blocks: bool = False, pcm_tone: bool = False,
    floor0: bool = False,
) -> bytes:
    """Serialize a REAL minimal Ogg/Vorbis stream (module comment).
    ``span_page=True`` pads the first audio packet to 300 bytes so it
    spans two pages via a 255 lacing value and a continued page —
    exercising the packet-reassembly path (trailing padding bits in
    a packet are legal; the decoder reads only what the spec
    grammar consumes). ``pcm_tone=True`` (mono, short blocks only)
    plants the flat-floor single-tone packets of
    ``vorbis_pcm_rules`` for the PCM-synthesis driver oracle."""
    ident, comment, setup = _vorbis_headers(
        stereo=stereo, residue_type=residue_type,
        long_blocks=long_blocks, floor0=floor0,
    )
    pages = [
        _ogg_page([ident], 0, bos=True),
        _ogg_page([comment, setup], 1),
    ]
    if pcm_tone:
        if floor0 and (stereo or long_blocks):
            raise ValueError("floor0 pcm_tone is mono short-block")
        if stereo and long_blocks:
            raise ValueError("pcm_tone is stereo OR long_blocks")
        if floor0:
            packets = [
                _vorbis_pcm_packet_floor0(seed, k)
                for k in range(n_packets)
            ]
        elif stereo:
            packets = [
                _vorbis_pcm_packet_stereo(seed, k)
                for k in range(n_packets)
            ]
        elif long_blocks:
            packets = [
                _vorbis_pcm_packet_trans(seed, k)
                for k in range(n_packets)
            ]
        else:
            packets = [
                _vorbis_pcm_packet(seed, k) for k in range(n_packets)
            ]
    else:
        packets = [
            _vorbis_audio_packet(seed, k, stereo=stereo,
                                 long_blocks=long_blocks)
            for k in range(n_packets)
        ]
    seq = 2
    if span_page and packets:
        first = packets[0] + b"\x00" * (300 - len(packets[0]))
        head, tail = first[:255], first[255:]
        pages.append(_ogg_page([head], seq, open_tail=True))
        seq += 1
        pages.append(_ogg_page([tail], seq, cont=True))
        seq += 1
        packets = packets[1:]
    for k, pk in enumerate(packets):
        pages.append(
            _ogg_page([pk], seq, eos=(k == len(packets) - 1),
                      granule=256 * (k + 1))
        )
        seq += 1
    return b"".join(pages)


def png_palette_rules(seed: int, depth: int) -> "tuple":
    """Planted palette rules shared by the encoder, tests and SQL
    oracles: palette size 2**depth (<=256); entry i =
    ((i*17 + seed) % 256, (i*29 + seed*3) % 256, (i*53 + seed*7)
    % 256); pixel (y, x) index = (seed + y*31 + x*7) % size."""
    size = 1 << depth
    pal = [((i * 17 + seed) % 256, (i * 29 + seed * 3) % 256,
            (i * 53 + seed * 7) % 256) for i in range(size)]
    return size, pal


def make_png_ext(
    w: int,
    h: int,
    seed: int,
    mode: str = "rgb16",
    channels: int = 3,
    filters: "list[int] | None" = None,
) -> bytes:
    # Normalize the (possibly unhashable) filter list so the cached
    # implementation only ever sees hashable arguments.
    return _make_png_ext_cached(
        w, h, seed, mode, channels,
        None if filters is None else tuple(filters),
    )


@_functools.lru_cache(maxsize=512)
def _make_png_ext_cached(
    w: int,
    h: int,
    seed: int,
    mode: str = "rgb16",
    channels: int = 3,
    filters: "tuple[int, ...] | None" = None,
) -> bytes:
    """Serialize a REAL PNG exercising the r9-widened decoder paths.

    Modes:
    - ``gray16`` / ``rgb16``: 16-bit samples, value (y, x, c) =
      ((seed + y*31 + x*7 + c*13) % 256) * 257 (big-endian pairs)
    - ``palette1/2/4/8``: colortype 3 at that index depth with the
      ``png_palette_rules`` palette, indices packed MSB-first
    - ``adam7``: 8-bit ``channels``-channel image with the make_png
      pixel rule, Adam7-interlaced (each pass filtered on its own)
    - ``adam7_rgb16``: both at once
    """
    import struct
    import zlib

    import numpy as np

    filters = filters if filters is not None else [0, 1, 2, 3, 4]
    interlace = mode.startswith("adam7")
    if mode.startswith("palette"):
        depth = int(mode[len("palette"):])
        colortype, c_raw = 3, 1
        size, pal = png_palette_rules(seed, depth)
        y_i, x_i = np.meshgrid(np.arange(h), np.arange(w),
                               indexing="ij")
        vals = ((seed + y_i * 31 + x_i * 7) % size).reshape(h, w, 1)
    elif mode in ("gray16", "rgb16", "adam7_rgb16"):
        depth = 16
        c_raw = 1 if mode == "gray16" else 3
        colortype = {1: 0, 3: 2}[c_raw]
        y_i, x_i, c_i = np.meshgrid(
            np.arange(h), np.arange(w), np.arange(c_raw), indexing="ij"
        )
        vals = ((seed + y_i * 31 + x_i * 7 + c_i * 13) % 256) * 257
    elif mode == "adam7":
        depth = 8
        c_raw = channels
        colortype = {1: 0, 2: 4, 3: 2, 4: 6}[c_raw]
        y_i, x_i, c_i = np.meshgrid(
            np.arange(h), np.arange(w), np.arange(c_raw), indexing="ij"
        )
        vals = (seed + y_i * 31 + x_i * 7 + c_i * 13) % 256
    else:
        raise ValueError(f"unknown make_png_ext mode {mode!r}")

    def pack_rows(sub: "np.ndarray") -> "np.ndarray":
        """(ph, pw, c_raw) values -> (ph, stride) bytes."""
        ph, pw = sub.shape[0], sub.shape[1]
        if depth == 8:
            return sub.reshape(ph, pw * c_raw).astype(np.uint8)
        if depth == 16:
            flat = sub.reshape(ph, pw * c_raw).astype(np.uint16)
            out = np.empty((ph, pw * c_raw * 2), dtype=np.uint8)
            out[:, 0::2] = flat >> 8
            out[:, 1::2] = flat & 0xFF
            return out
        idx = sub.reshape(ph, pw).astype(np.uint8)
        bits = np.unpackbits(
            idx.reshape(ph, pw, 1), axis=2
        )[:, :, 8 - depth:]
        flat = bits.reshape(ph, pw * depth)
        pad = (-flat.shape[1]) % 8
        if pad:
            flat = np.concatenate(
                [flat, np.zeros((ph, pad), dtype=np.uint8)], axis=1
            )
        return np.packbits(flat, axis=1)

    bpp = max(1, c_raw * depth // 8)
    passes = (
        ((0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
         (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))
        if interlace else ((0, 0, 1, 1),)
    )
    scan = b""
    for x0, y0, dx, dy in passes:
        sub = vals[y0::dy, x0::dx, :]
        if sub.shape[0] == 0 or sub.shape[1] == 0:
            continue
        rows = pack_rows(sub)
        prev = np.zeros(rows.shape[1], dtype=np.uint8)
        for y in range(rows.shape[0]):
            ft = filters[y % len(filters)]
            scan += _png_filter_row(ft, rows[y], prev, bpp)
            prev = rows[y]

    def chunk(ctype: bytes, body: bytes) -> bytes:
        crc = zlib.crc32(ctype + body) & 0xFFFFFFFF
        return struct.pack(">I", len(body)) + ctype + body + struct.pack(
            ">I", crc
        )

    ihdr = struct.pack(
        ">IIBBBBB", w, h, depth, colortype, 0, 0, 1 if interlace else 0
    )
    out = b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
    if colortype == 3:
        out += chunk(b"PLTE", bytes(b for rgb in pal for b in rgb))
    return out + chunk(b"IDAT", zlib.compress(scan)) + chunk(b"IEND", b"")


def gif_ext_frame_geom(w: int, h: int, f: int) -> "tuple[int, int, int, int]":
    """Planted frame-f rect for make_gif_ext: nested shrinking rects
    so the 'last writer' of any canvas pixel is the largest frame
    index whose rect covers it — SQL-oracle friendly."""
    left = min(2 * f, w - 1)
    top = min(f, h - 1)
    return left, top, w - left, h - top


def gif_ext_palette(seed: int, f: int, local: bool) -> "list[tuple]":
    """Planted palettes for make_gif_ext: the global table reuses the
    make_gif rule; local tables (odd frames) perturb it by frame."""
    if not local:
        return [(i, (3 * i) % 256, (7 * i) % 256) for i in range(256)]
    return [((i * 11 + seed + f) % 256, (i * 23 + seed * 3 + f) % 256,
             (i * 41 + seed * 7 + f) % 256) for i in range(256)]


@_functools.lru_cache(maxsize=512)
def make_gif_ext(
    w: int,
    h: int,
    seed: int,
    n_frames: int = 3,
    transparent: bool = False,
    disposal2_last: bool = False,
    disposal3_last: bool = False,
) -> bytes:
    """Serialize a REAL GIF89a exercising the r9-widened decoder
    paths: frame 0 is full-canvas and INTERLACED (4-pass row
    transmission order); frames f >= 1 are PARTIAL-canvas at
    ``gif_ext_frame_geom`` rects, odd frames carry a LOCAL color
    table (``gif_ext_palette``), even frames > 0 are interlaced.
    Frame-f pixel at CANVAS coords (y, x) has index
    ``(seed + f*17 + y*31 + x*7) % 256`` (canvas coords, so oracles
    need no rect-relative translation). ``transparent=True`` marks
    index ``seed % 256`` transparent on frames >= 1;
    ``disposal2_last=True`` sets disposal 2 on the second-to-last
    frame (the next frame then composites over restored
    background); ``disposal3_last=True`` sets disposal 3 instead
    (the next frame composites over the PRE-render canvas, i.e. the
    second-to-last frame's write is reverted, r10)."""
    import struct

    out = bytearray()
    out += b"GIF89a"
    out += struct.pack("<HH", w, h)
    out += bytes([0x80 | 0x07, 1, 0])  # GCT, 256 entries, bg index 1
    for rgb in gif_ext_palette(seed, 0, False):
        out += bytes(rgb)

    for f in range(n_frames):
        left, top, fw, fh = (
            (0, 0, w, h) if f == 0 else gif_ext_frame_geom(w, h, f)
        )
        local = f % 2 == 1
        interlaced = f % 2 == 0
        gpacked = 0
        if transparent and f >= 1:
            gpacked |= 0x01
        if disposal2_last and f == n_frames - 2:
            gpacked |= 2 << 2
        if disposal3_last and f == n_frames - 2:
            gpacked |= 3 << 2
        out += bytes([0x21, 0xF9, 4, gpacked])
        out += struct.pack("<H", 4 + f)
        out += bytes([seed % 256 if transparent and f >= 1 else 0, 0])
        out += bytes([0x2C])
        out += struct.pack("<HHHH", left, top, fw, fh)
        ipacked = (0x80 | 0x07 if local else 0) | (0x40 if interlaced
                                                   else 0)
        out += bytes([ipacked])
        if local:
            for rgb in gif_ext_palette(seed, f, True):
                out += bytes(rgb)
        out += bytes([8])  # LZW min code size
        acc = nbits = 0
        stream = bytearray()

        def emit(code: int):
            nonlocal acc, nbits
            acc |= code << nbits
            nbits += 9
            while nbits >= 8:
                stream.append(acc & 0xFF)
                acc >>= 8
                nbits -= 8

        # row transmission order: interlaced frames send the 4-pass
        # permutation of the frame-local rows
        if interlaced:
            row_order = []
            for start, step in ((0, 8), (4, 8), (2, 4), (1, 2)):
                row_order.extend(range(start, fh, step))
        else:
            row_order = list(range(fh))
        emit(256)
        for ry in row_order:
            y = top + ry
            for rx in range(fw):
                x = left + rx
                emit((seed + f * 17 + y * 31 + x * 7) % 256)
                emit(256)
        emit(257)
        if nbits:
            stream.append(acc & 0xFF)
        for i in range(0, len(stream), 255):
            block = stream[i:i + 255]
            out += bytes([len(block)]) + block
        out += bytes([0])
    out += bytes([0x3B])
    return bytes(out)


# ---------------------------------------------------------------------------
# MP3 (MPEG-1 Layer III) fixture encoder — r10
# ---------------------------------------------------------------------------

def mp3_granule_rules(seed: int, f: int, gr: int, ch: int) -> dict:
    """Planted per-granule parameters for make_mp3. Shared by the
    fixture encoder, the unit tests' independent recomputation and
    the driver oracle's closed-form replay (operators/mp3.py decodes
    these back out of the real bitstream).

    Spectrum: lines i in [0, 90) carry v(i) = ((seed + 5f + 3gr +
    7i + 11ch) % 3) - 1 via Huffman table 1 (regions 0/1); lines
    [90, 2*big_values) are zero via table 0 (region 2); the count1
    region appends nq quadruples at lines [2bv, 2bv + 4nq) with
    w(i) = ((seed + 11f + 7gr + 3i + 5ch) % 3) - 1.
    Scalefactors (scalefac_compress 9 -> slen 2,2): sf(b) = (seed +
    3b + 17gr + 5f + 7ch) % 4, with granule 1 reusing granule 0's
    values for scfsi-shared band groups."""
    return {
        "big_values": 48 + (seed * 3 + f * 7 + gr * 11 + ch * 5) % 16,
        "global_gain": 120 + (seed * 7 + f * 13 + gr * 29 + ch * 3) % 100,
        "scalefac_compress": 9,
        "table_select": [1, 1, 0],
        "region0_count": 8,
        "region1_count": 3,
        "preflag": 0,
        "scalefac_scale": (seed + f + gr + ch) % 2,
        "nq": 4 + (seed + f + gr + ch) % 4,
    }


def mp3_scfsi(seed: int, f: int, ch: int) -> "list[int]":
    """Planted per-frame scfsi group bits (group 0 = MSB)."""
    word = (seed + f * 3 + ch) % 16
    return [(word >> (3 - i)) & 1 for i in range(4)]


def mp3_sf_rule(seed: int, f: int, gr: int, ch: int, band: int) -> int:
    return (seed + 3 * band + 17 * gr + 5 * f + 7 * ch) % 4


def mp3_spec_rule(seed: int, f: int, gr: int, ch: int, i: int) -> int:
    return ((seed + 5 * f + 3 * gr + 7 * i + 11 * ch) % 3) - 1


def mp3_count1_rule(seed: int, f: int, gr: int, ch: int, i: int) -> int:
    return ((seed + 11 * f + 7 * gr + 3 * i + 5 * ch) % 3) - 1


def mp3_short_block_type(f: int, gr: int) -> int:
    """Planted window sequence: frames alternate (long, start) and
    (short, stop) — the real encoder attack sequence
    long -> start -> short -> stop -> long."""
    return (2 * f + gr) % 4


def mp3_short_granule_rules(seed: int, f: int, gr: int) -> dict:
    """Planted per-granule parameters for make_mp3(short=True) —
    window-switching streams (mono). Granule G = 2f+gr has
    block_type G % 4 (0 long / 1 start / 2 short / 3 stop);
    short granules are MIXED when (seed + f) % 2 == 1.
    Spectrum: lines i in [0, 2*big_values) carry
    mp3_spec_rule(seed, f, gr, 0, i) via Huffman table 1 (both
    regions), then nq count1-B quadruples. Scalefactors
    (scalefac_compress 9 -> slen 2,2): long bands use mp3_sf_rule,
    short (band, window) use mp3_sf_short_rule; subblock_gain[w] =
    (seed + f + 2gr + 3w) % 8. preflag 0 on every granule; scfsi 0
    on frames containing a short granule."""
    bt = mp3_short_block_type(f, gr)
    return {
        "block_type": bt,
        "window_switching": 1 if bt else 0,
        "mixed": 1 if bt == 2 and (seed + f) % 2 == 1 else 0,
        "big_values": 40 + (seed * 3 + f * 7 + gr * 11) % 16,
        "global_gain": 120 + (seed * 7 + f * 13 + gr * 29) % 100,
        "scalefac_compress": 9,
        "table_select": [1, 1, 0] if bt == 0 else [1, 1],
        "region0_count": 8,
        "region1_count": 3,
        "preflag": 0,
        "scalefac_scale": (seed + f + gr) % 2,
        "subblock_gain": [(seed + f + 2 * gr + 3 * w) % 8
                          for w in range(3)],
        "nq": 2 + (seed + f + gr) % 3,
    }


def mp3_sf_short_rule(seed: int, f: int, gr: int, band: int,
                      w: int) -> int:
    return (seed + 3 * band + 5 * w + 17 * gr + 7 * f) % 4


def mp3_synth_granule_rules(seed: int, f: int, gr: int) -> dict:
    """SPARSE planted granule for the synthesis driver query
    (mono): big_values = 18 so lines [0, 36) are table-1 coded, the
    only nonzero lines are i in {0, 9, 18, 27} with value
    ±1 (sign rule (seed + f + gr + i/9) % 2), and no count1 region —
    so after alias reduction at the sb0|sb1 boundary the granule has
    exactly FIVE nonzero IMDCT inputs, each a pure 2^(E/4), and the
    DuckDB oracle can replay every output sample with its own trig.
    global_gain is pinned near 210 so |xr| lands in [2^-6, 1]."""
    return {
        "big_values": 18,
        "global_gain": 198 + (seed * 7 + f * 13 + gr * 29) % 12,
        "scalefac_compress": 9,
        "table_select": [1, 1, 0],
        "region0_count": 8,
        "region1_count": 3,
        "preflag": 0,
        "scalefac_scale": (seed + f + gr) % 2,
        "nq": 0,
    }


def mp3_synth_spec_rule(seed: int, f: int, gr: int, i: int) -> int:
    if i >= 36 or i % 9:
        return 0
    return 1 if (seed + f + gr + i // 9) % 2 == 0 else -1


def mp3_synth_short_granule_rules(seed: int, f: int, gr: int) -> dict:
    """SPARSE pure-short granule for the short-synthesis driver
    query (mono): every granule is block_type 2 (no start/stop mix —
    the windows are pinned separately by mp3_decode_short), the only
    nonzero lines are i in {0, 5, 9} — transmitted (band 0, window
    w, position p) slots (w0 p0), (w1 p1), (w2 p1), which reorder to
    subband-0 inputs (m=0 w=0), (m=1 w=1), (m=1 w=2) — so each of
    the three IMDCT-12s has exactly ONE input, a pure ±2^(E/4), and
    the DuckDB oracle replays every output subband sample with its
    own trig. global_gain pinned near 210; subblock gains %4 keep
    |xr| well above the 1e-4 readout lattice."""
    return {
        "block_type": 2,
        "window_switching": 1,
        "mixed": 0,
        "big_values": 6,
        "global_gain": 198 + (seed * 7 + f * 13 + gr * 29) % 12,
        "scalefac_compress": 9,
        "table_select": [1, 1],
        "region0_count": 8,
        "region1_count": 3,
        "preflag": 0,
        "scalefac_scale": (seed + f + gr) % 2,
        "subblock_gain": [(seed + f + 2 * gr + 3 * w) % 4
                          for w in range(3)],
        "nq": 0,
    }


def mp3_synth_short_spec_rule(seed: int, f: int, gr: int,
                              i: int) -> int:
    if i not in (0, 5, 9):
        return 0
    return 1 if (seed + f + gr + i) % 2 == 0 else -1


_MP3_HUFF1 = {(0, 0): "1", (1, 0): "01", (0, 1): "001", (1, 1): "000"}
_MP3_SCFSI_GROUPS = [range(0, 6), range(6, 11), range(11, 16),
                     range(16, 21)]


def _mp3_write_granule(w: "_BitWriter", seed: int, f: int, gr: int,
                       ch: int, scfsi: "list[int]",
                       synth: bool = False,
                       short: bool = False,
                       synth_short: bool = False) -> int:
    """Write one granule's main data (scalefactors + Huffman
    spectrum), returning the exact bit count (= part2_3_length)."""
    if synth_short:
        r = mp3_synth_short_granule_rules(seed, f, gr)
    elif short:
        r = mp3_short_granule_rules(seed, f, gr)
    elif synth:
        r = mp3_synth_granule_rules(seed, f, gr)
    else:
        r = mp3_granule_rules(seed, f, gr, ch)
    bits = 0
    if (short or synth_short) and r["block_type"] == 2:
        # window-switching scalefactor layout (§2.4.2.7): mixed
        # granules send long bands 0-7 then short (band, window)
        # pairs from band 3; pure short sends bands 0-11 x3
        if r["mixed"]:
            for b in range(8):
                w.write(mp3_sf_rule(seed, f, gr, ch, b), 2)
                bits += 2
            first = 3
        else:
            first = 0
        for b in range(first, 12):
            for win in range(3):
                w.write(mp3_sf_short_rule(seed, f, gr, b, win), 2)
                bits += 2
    else:
        for group_i, bands in enumerate(_MP3_SCFSI_GROUPS):
            if gr == 1 and scfsi[group_i]:
                continue  # shared with granule 0: not transmitted
            for b in bands:
                w.write(mp3_sf_rule(seed, f, gr, ch, b), 2)
                bits += 2
    bv = r["big_values"]
    # long planted rules code lines >= 90 with table 0 (region 2);
    # window-switching granules keep table 1 through big_values
    cutoff = 576 if ((short or synth_short)
                     and r["window_switching"]) else 90
    for k in range(bv):
        i0, i1 = 2 * k, 2 * k + 1
        if i0 >= cutoff:
            break  # region 2 is Huffman table 0: zero pairs, no bits
        if synth_short:
            x = mp3_synth_short_spec_rule(seed, f, gr, i0)
            y = mp3_synth_short_spec_rule(seed, f, gr, i1)
        elif synth:
            x = mp3_synth_spec_rule(seed, f, gr, i0)
            y = mp3_synth_spec_rule(seed, f, gr, i1)
        else:
            x = mp3_spec_rule(seed, f, gr, ch, i0)
            y = mp3_spec_rule(seed, f, gr, ch, i1)
        code = _MP3_HUFF1[(abs(x), abs(y))]
        for c in code:
            w.write(int(c), 1)
        bits += len(code)
        for v in (x, y):
            if v:
                w.write(1 if v < 0 else 0, 1)
                bits += 1
    line = 2 * bv
    for q in range(r["nq"]):
        vals = [mp3_count1_rule(seed, f, gr, ch, line + j)
                for j in range(4)]
        quad = sum(abs(v) << (3 - j) for j, v in enumerate(vals))
        w.write((~quad) & 0xF, 4)  # count1 table B: complement code
        bits += 4
        for v in vals:
            if v:
                w.write(1 if v < 0 else 0, 1)
                bits += 1
        line += 4
    return bits


@_functools.lru_cache(maxsize=512)
def make_mp3(
    seed: int,
    n_frames: int = 3,
    stereo: bool = False,
    reservoir: bool = True,
    id3: bool = False,
    synth: bool = False,
    ms_stereo: bool = False,
    short: bool = False,
    synth_short: bool = False,
) -> bytes:
    """Serialize a REAL MPEG-1 Layer III stream (ISO/IEC 11172-3):
    44.1 kHz, 160 kbit/s, mono (or LR stereo), long blocks, Huffman
    tables 1/0 + count1 table B, planted integer spectra and
    scalefactors per ``mp3_granule_rules``. ``reservoir=True``
    exercises the bit reservoir: frame f >= 1 places the first
    min(blob_len, 64 + (seed + 37f) % 128) bytes of its main data at
    the END of frame f-1's main-data region and points back at them
    with main_data_begin. ``id3=True`` prepends a 42-byte ID3v2.3
    tag the decoder must skip."""
    if synth and stereo:
        raise ValueError("synth fixtures are mono")
    if (short or synth_short) and (stereo or synth):
        raise ValueError("short-block fixtures are mono, non-synth")
    if ms_stereo and not stereo:
        raise ValueError("ms_stereo requires stereo=True")
    nch = 2 if stereo else 1
    side_bytes = 32 if stereo else 17
    # per-frame main-data blobs + the exact part2_3_length values
    blobs: "list[bytes]" = []
    part23: "list[list[list[int]]]" = []
    for f in range(n_frames):
        w = _BitWriter()
        p_f = []
        # scfsi must be 0 on frames containing a short-block granule
        if synth_short or (short and f % 2 == 1):
            scfsi_f = [[0, 0, 0, 0] for _ in range(nch)]
        else:
            scfsi_f = [mp3_scfsi(seed, f, ch) for ch in range(nch)]
        for gr in range(2):
            p_g = []
            for ch in range(nch):
                p_g.append(
                    _mp3_write_granule(w, seed, f, gr, ch, scfsi_f[ch],
                                       synth=synth, short=short,
                                       synth_short=synth_short)
                )
            p_f.append(p_g)
        part23.append(p_f)
        w.align()
        blobs.append(bytes(w.buf))
    # reservoir layout
    mdb = [0] * n_frames
    if reservoir:
        for f in range(1, n_frames):
            mdb[f] = min(len(blobs[f]), 64 + (seed + 37 * f) % 128)
    out = bytearray()
    if id3:
        body = bytes((seed + 7 * j) % 256 for j in range(32))
        out += b"ID3\x03\x00\x00" + bytes([0, 0, 0, 32]) + body
    regions: "list[bytearray]" = []
    caps: "list[int]" = []
    for f in range(n_frames):
        pad = (seed + f) % 2
        frame_len = (144 * 160000) // 44100 + pad
        cap = frame_len - 4 - side_bytes
        rest = blobs[f][mdb[f]:]
        if len(rest) > cap:
            raise ValueError("fixture main data exceeds frame capacity")
        region = bytearray(cap)
        region[:len(rest)] = rest
        if f >= 1 and mdb[f]:
            tail = blobs[f][:mdb[f]]
            prev_used = len(blobs[f - 1]) - mdb[f - 1]
            if prev_used + len(tail) > caps[f - 1]:
                raise ValueError("fixture reservoir tail does not fit")
            regions[f - 1][caps[f - 1] - len(tail):] = tail
        regions.append(region)
        caps.append(cap)
    for f in range(n_frames):
        pad = (seed + f) % 2
        mode = 0b11 if nch == 1 else (0b01 if ms_stereo else 0b00)
        mode_ext = 0b10 if ms_stereo else 0b00  # MS on, intensity off
        hdr = bytes([
            0xFF, 0xFB,
            (10 << 4) | (0 << 2) | (pad << 1),
            (mode << 6) | (mode_ext << 4) | 0b100,
        ])
        w = _BitWriter()
        w.write(mdb[f], 9)
        w.write(0, 5 if nch == 1 else 3)  # private bits
        for ch in range(nch):
            bits = ([0, 0, 0, 0]
                    if synth_short or (short and f % 2 == 1)
                    else mp3_scfsi(seed, f, ch))
            for bit in bits:
                w.write(bit, 1)
        for gr in range(2):
            for ch in range(nch):
                if synth_short:
                    r = mp3_synth_short_granule_rules(seed, f, gr)
                elif short:
                    r = mp3_short_granule_rules(seed, f, gr)
                elif synth:
                    r = mp3_synth_granule_rules(seed, f, gr)
                else:
                    r = mp3_granule_rules(seed, f, gr, ch)
                w.write(part23[f][gr][ch], 12)
                w.write(r["big_values"], 9)
                w.write(r["global_gain"], 8)
                w.write(r["scalefac_compress"], 4)
                if (short or synth_short) and r["window_switching"]:
                    w.write(1, 1)  # window_switching
                    w.write(r["block_type"], 2)
                    w.write(r["mixed"], 1)
                    for t in r["table_select"][:2]:
                        w.write(t, 5)
                    for sb_g in r["subblock_gain"]:
                        w.write(sb_g, 3)
                else:
                    w.write(0, 1)  # window_switching: long blocks
                    for t in r["table_select"]:
                        w.write(t, 5)
                    w.write(r["region0_count"], 4)
                    w.write(r["region1_count"], 3)
                w.write(r["preflag"], 1)
                w.write(r["scalefac_scale"], 1)
                w.write(1, 1)  # count1 table B
        w.align()
        side = bytes(w.buf)
        assert len(side) == side_bytes
        out += hdr + side + regions[f]
    return bytes(out)


# ---------------------------------------------------------------------------
# MP4 / ISO-BMFF fixtures (ISO/IEC 14496-12, public spec).
# mp4_rules is the single source of truth for the planted container
# geometry — shared by the fixture serializer, the unit tests and the
# driver oracle's closed-form SQL replay (operators/mp4.py demuxes
# these back out of the real box structure).
# ---------------------------------------------------------------------------

import struct as _struct


def _mbox(typ: str, payload: bytes) -> bytes:
    return _struct.pack(">I", 8 + len(payload)) + typ.encode("ascii") + payload


def _mfull(typ: str, version: int, payload: bytes) -> bytes:
    return _mbox(typ, bytes([version, 0, 0, 0]) + payload)


_MP4_MATRIX = _struct.pack(">9I", 0x00010000, 0, 0, 0, 0x00010000, 0,
                           0, 0, 0x40000000)


def mp4_rules(seed: int) -> dict:
    """Planted container geometry for make_mp4: 1-3 tracks, 3-6
    samples each, chunk 0 holds two samples and later chunks one
    (a real two-run stsc), one constant-size stsz track on
    seed % 4 == 0, co64 on seed % 5 == 0, version-1 mvhd/tkhd/mdhd on
    seed % 3 == 0, moov-before-mdat on even seeds. All closed-form."""
    ntr = 1 + seed % 3
    tracks = []
    for t in range(ntr):
        ns = 3 + (seed + t) % 4
        const = t == 0 and seed % 4 == 0
        if const:
            sizes = [64 + seed % 32] * ns
        else:
            sizes = [40 + (seed * 7 + 97 * t + 13 * s) % 200
                     for s in range(ns)]
        delta1 = 100 + (seed + t) % 50
        delta2 = 7 + seed % 9
        vide = t % 2 == 0
        tracks.append({
            "ns": ns, "sizes": sizes, "const": const,
            "stts": [(ns - 1, delta1), (1, delta2)],
            "handler": "vide" if vide else "soun",
            "track_id": t + 1, "timescale": 1000 + t,
            "duration": (ns - 1) * delta1 + delta2,
            "width": 16 + t if vide else 0,
            "height": 9 + t if vide else 0,
            "format": "rawb",
        })
    return {"ntr": ntr, "tracks": tracks, "co64": seed % 5 == 0,
            "v1": seed % 3 == 0, "moov_first": seed % 2 == 0,
            "movie_timescale": 600, "movie_duration": 90000 + seed}


def _mp4_chunks(tr: dict) -> "list[list[int]]":
    """Sample indices per chunk: chunk 0 = samples 0,1; chunk c>=1 =
    sample c+1 (the fixture's fixed two-run stsc shape)."""
    ns = tr["ns"]
    return [[0, 1]] + [[s] for s in range(2, ns)]


def _mp4_layout(tracks: "list[dict]") -> "tuple[list[list[int]], int]":
    """mdat-relative chunk offsets per track: chunk instances ordered
    by (chunk_index, track_index) — a real interleaved layout."""
    per_track: "list[list[int]]" = [
        [0] * len(_mp4_chunks(tr)) for tr in tracks
    ]
    rel = 0
    max_c = max(len(_mp4_chunks(tr)) for tr in tracks)
    for c in range(max_c):
        for t, tr in enumerate(tracks):
            chunks = _mp4_chunks(tr)
            if c < len(chunks):
                per_track[t][c] = rel
                rel += sum(tr["sizes"][s] for s in chunks[c])
    return per_track, rel


def _mp4_moov(rules: dict, tracks: "list[dict]",
              chunk_abs: "list[list[int]]") -> bytes:
    v1 = rules["v1"]
    tdur_w = 8 if v1 else 4
    mvhd = _mfull(
        "mvhd", 1 if v1 else 0,
        b"\x00" * (16 if v1 else 8)
        + _struct.pack(">I", rules["movie_timescale"])
        + rules["movie_duration"].to_bytes(tdur_w, "big")
        + _struct.pack(">I", 0x00010000) + _struct.pack(">H", 0x0100)
        + b"\x00" * 10 + _MP4_MATRIX + b"\x00" * 24
        + _struct.pack(">I", len(tracks) + 1),
    )
    traks = []
    for t, tr in enumerate(tracks):
        tkhd = _mfull(
            "tkhd", 1 if v1 else 0,
            b"\x00" * (16 if v1 else 8)
            + _struct.pack(">I", tr["track_id"]) + b"\x00" * 4
            + tr["duration"].to_bytes(tdur_w, "big")
            + b"\x00" * 8 + _struct.pack(">hhhh", 0, 0, 0, 0)
            + _MP4_MATRIX
            + _struct.pack(">II", tr["width"] << 16, tr["height"] << 16),
        )
        mdhd = _mfull(
            "mdhd", 1 if v1 else 0,
            b"\x00" * (16 if v1 else 8)
            + _struct.pack(">I", tr["timescale"])
            + tr["duration"].to_bytes(tdur_w, "big")
            + _struct.pack(">HH", 0x55C4, 0),  # language 'und'
        )
        hdlr = _mfull("hdlr", 0, b"\x00" * 4
                      + tr["handler"].encode("ascii") + b"\x00" * 12
                      + b"fixture\x00")
        if tr.get("avcc") is not None:
            # real VisualSampleEntry (78 fixed bytes) + avcC box
            avcc_box = (_struct.pack(">I", 8 + len(tr["avcc"]))
                        + b"avcC" + tr["avcc"])
            visual = (b"\x00" * 6 + _struct.pack(">H", 1)
                      + b"\x00" * 16
                      + _struct.pack(">HH", tr["width"], tr["height"])
                      + _struct.pack(">II", 0x00480000, 0x00480000)
                      + b"\x00" * 4 + _struct.pack(">H", 1)
                      + b"\x00" * 32
                      + _struct.pack(">Hh", 24, -1))
            entry = (_struct.pack(
                ">I", 8 + len(visual) + len(avcc_box))
                + tr["format"].encode("ascii") + visual + avcc_box)
        else:
            entry = (_struct.pack(">I", 16)
                     + tr["format"].encode("ascii")
                     + b"\x00" * 6 + _struct.pack(">H", 1))
        stsd = _mfull("stsd", 0, _struct.pack(">I", 1) + entry)
        stts = _mfull("stts", 0, _struct.pack(">I", len(tr["stts"]))
                      + b"".join(_struct.pack(">II", c, d)
                                 for c, d in tr["stts"]))
        chunks = _mp4_chunks(tr)
        if len(chunks) > 1:
            runs = [(1, len(chunks[0])), (2, 1)]
        else:
            runs = [(1, len(chunks[0]))]
        stsc = _mfull("stsc", 0, _struct.pack(">I", len(runs))
                      + b"".join(_struct.pack(">III", f, n, 1)
                                 for f, n in runs))
        if tr["const"]:
            stsz = _mfull("stsz", 0,
                          _struct.pack(">II", tr["sizes"][0], tr["ns"]))
        else:
            stsz = _mfull("stsz", 0, _struct.pack(">II", 0, tr["ns"])
                          + b"".join(_struct.pack(">I", sz)
                                     for sz in tr["sizes"]))
        if rules["co64"]:
            stco = _mfull("co64", 0, _struct.pack(">I", len(chunk_abs[t]))
                          + b"".join(_struct.pack(">Q", o)
                                     for o in chunk_abs[t]))
        else:
            stco = _mfull("stco", 0, _struct.pack(">I", len(chunk_abs[t]))
                          + b"".join(_struct.pack(">I", o)
                                     for o in chunk_abs[t]))
        stbl = _mbox("stbl", stsd + stts + stsc + stsz + stco)
        minf = _mbox("minf", stbl)
        mdia = _mbox("mdia", mdhd + hdlr + minf)
        traks.append(_mbox("trak", tkhd + mdia))
    return _mbox("moov", mvhd + b"".join(traks))


def _mp4_assemble(rules: dict, tracks: "list[dict]",
                  payloads: "list[list[bytes]]") -> bytes:
    """Serialize ftyp / free / unknown / moov / mdat in the layout the
    rules pick; two-pass so stco holds ABSOLUTE file offsets."""
    chunk_rel, mdat_len = _mp4_layout(tracks)
    mdat_body = bytearray(mdat_len)
    for t, tr in enumerate(tracks):
        for c, samples in enumerate(_mp4_chunks(tr)):
            off = chunk_rel[t][c]
            for s in samples:
                mdat_body[off:off + tr["sizes"][s]] = payloads[t][s]
                off += tr["sizes"][s]
    ftyp = _mbox("ftyp", b"isom" + _struct.pack(">I", 0x200)
                 + b"isom" + b"mp42")
    free = _mbox("free", b"\x00" * 16)
    unk = _mbox("xyz ", bytes(12))  # unknown box: must be skipped
    mdat = _mbox("mdat", bytes(mdat_body))
    # moov size does not depend on the offset VALUES (fixed widths),
    # so measure with relative offsets, then rebuild with absolute.
    probe = _mp4_moov(rules, tracks, chunk_rel)
    if rules["moov_first"]:
        mdat_start = len(ftyp) + len(free) + len(probe) + len(unk) + 8
    else:
        mdat_start = len(ftyp) + len(unk) + 8
    chunk_abs = [[o + mdat_start for o in offs] for offs in chunk_rel]
    moov = _mp4_moov(rules, tracks, chunk_abs)
    assert len(moov) == len(probe)
    if rules["moov_first"]:
        return ftyp + free + moov + unk + mdat
    return ftyp + unk + mdat + free + moov


@_functools.lru_cache(maxsize=512)
def make_mp4(seed: int) -> bytes:
    """Serialize a REAL ISO-BMFF container per :func:`mp4_rules`,
    with deterministic filler sample payloads (content is irrelevant
    to the structural demux; sizes/offsets are the planted truth)."""
    rules = mp4_rules(seed)
    payloads = [
        [bytes((seed + 31 * t + 7 * s + j) % 256
               for j in range(tr["sizes"][s]))
         for s in range(tr["ns"])]
        for t, tr in enumerate(rules["tracks"])
    ]
    return _mp4_assemble(rules, rules["tracks"], payloads)


def mp4_av_rules(seed: int) -> dict:
    """Planted A/V geometry for make_mp4_av: one 'jpeg' video track
    (samples are REAL baseline JPEGs, per-sample seed
    (seed*31 + 7*s) % 1000), one '.mp3' audio track (samples are REAL
    single-frame MPEG-1 Layer III streams, per-sample seed
    (seed*17 + 5*s) % 1000), plus a gated 'avc1' track on
    seed % 3 == 0 (demuxes, never decodes)."""
    return {
        "ns_v": 2 + seed % 2,
        "ns_a": 2 + seed % 3,
        "gated": seed % 3 == 0,
        "v_seed": [(seed * 31 + 7 * s) % 1000 for s in range(2 + seed % 2)],
        "a_seed": [(seed * 17 + 5 * s) % 1000 for s in range(2 + seed % 3)],
    }


@_functools.lru_cache(maxsize=512)
def make_mp4_av(seed: int) -> bytes:
    """A REAL MP4 whose video samples are real baseline JPEGs and
    audio samples are real single-frame MP3s (reservoir off — each
    sample is self-contained, as MP4 audio samples must be)."""
    r = mp4_av_rules(seed)
    v_payloads = [make_jpeg_baseline(sj) for sj in r["v_seed"]]
    a_payloads = [make_mp3(sa, n_frames=1, reservoir=False)
                  for sa in r["a_seed"]]
    tracks = [
        {"ns": r["ns_v"], "sizes": [len(p) for p in v_payloads],
         "const": False, "stts": [(r["ns_v"], 3000)], "handler": "vide",
         "track_id": 1, "timescale": 90000,
         "duration": 3000 * r["ns_v"], "width": 16, "height": 16,
         "format": "jpeg"},
        {"ns": r["ns_a"], "sizes": [len(p) for p in a_payloads],
         "const": False, "stts": [(r["ns_a"], 1152)], "handler": "soun",
         "track_id": 2, "timescale": 44100,
         "duration": 1152 * r["ns_a"], "width": 0, "height": 0,
         "format": ".mp3"},
    ]
    payloads = [v_payloads, a_payloads]
    if r["gated"]:
        g_payloads = [bytes((seed + j) % 256 for j in range(50 + seed % 20))
                      for _ in range(2)]
        tracks.append(
            {"ns": 2, "sizes": [len(p) for p in g_payloads],
             "const": False, "stts": [(2, 1000)], "handler": "vide",
             "track_id": 3, "timescale": 600, "duration": 2000,
             "width": 32, "height": 32, "format": "avc1"})
        payloads.append(g_payloads)
    rules = {"ntr": len(tracks), "tracks": tracks, "co64": False,
             "v1": False, "moov_first": seed % 2 == 0,
             "movie_timescale": 600, "movie_duration": 1000 + seed}
    return _mp4_assemble(rules, tracks, payloads)


def mp4_frag_rules(seed: int) -> dict:
    """Planted geometry for make_mp4_frag (fragmented/DASH shape):
    1-2 tracks, 2-4 moof+mdat fragments; per (fragment f, track t)
    run of 2-4 samples whose SIZES come from trun per-sample fields
    (mode 0), the tfhd default (mode 1) or the trex default (mode 2),
    with mode = (seed+f+t) % 3 — exercising the full default cascade;
    durations come from trun (even seed+f+t) or trex (odd). Track 0
    uses an explicit tfhd base_data_offset on seed % 4 == 0 files,
    everything else uses default-base-is-moof."""
    ntr = 1 + seed % 2
    nfrag = 2 + seed % 3
    tracks = []
    for t in range(ntr):
        tracks.append({
            "track_id": t + 1,
            "trex_duration": 500 + t,
            "trex_size": 64 + seed % 32 + t,
            "handler": "vide" if t % 2 == 0 else "soun",
        })
    frags = []
    for f in range(nfrag):
        trafs = []
        for t in range(ntr):
            ns = 2 + (seed + f + t) % 3
            size_mode = (seed + f + t) % 3
            dur_mode = (seed + f + t) % 2
            if size_mode == 0:
                sizes = [50 + (seed * 3 + 13 * s2 + 7 * f + 97 * t) % 150
                         for s2 in range(ns)]
            elif size_mode == 1:
                sizes = [70 + (seed + 11 * f + 5 * t) % 100] * ns
            else:
                sizes = [tracks[t]["trex_size"]] * ns
            if dur_mode == 0:
                durs = [30 + (seed + s2 + f) % 20 for s2 in range(ns)]
            else:
                durs = [tracks[t]["trex_duration"]] * ns
            trafs.append({
                "ns": ns, "sizes": sizes, "durs": durs,
                "size_mode": size_mode, "dur_mode": dur_mode,
                "tfdt": 1000 * f + 37 * t + seed % 100,
            })
        frags.append({"seq": f + 1, "trafs": trafs})
    return {"ntr": ntr, "nfrag": nfrag, "tracks": tracks,
            "frags": frags, "explicit_base": seed % 4 == 0,
            "tfdt_v1": seed % 3 == 0}


@_functools.lru_cache(maxsize=512)
def make_mp4_frag(seed: int) -> bytes:
    """Serialize a REAL fragmented MP4 per :func:`mp4_frag_rules`:
    ftyp, moov (empty sample tables + mvex/trex defaults), then
    moof+mdat pairs whose truns resolve through the default cascade."""
    r = mp4_frag_rules(seed)
    ftyp = _mbox("ftyp", b"isom" + _struct.pack(">I", 0x200)
                 + b"iso6" + b"msdh")
    traks = []
    for t in r["tracks"]:
        tkhd = _mfull(
            "tkhd", 0,
            b"\x00" * 8 + _struct.pack(">I", t["track_id"])
            + b"\x00" * 4 + _struct.pack(">I", 0)
            + b"\x00" * 8 + _struct.pack(">hhhh", 0, 0, 0, 0)
            + _MP4_MATRIX + _struct.pack(">II", 0, 0))
        mdhd = _mfull("mdhd", 0, b"\x00" * 8
                      + _struct.pack(">I", 1000)
                      + _struct.pack(">I", 0)
                      + _struct.pack(">HH", 0x55C4, 0))
        hdlr = _mfull("hdlr", 0, b"\x00" * 4
                      + t["handler"].encode("ascii") + b"\x00" * 12
                      + b"fixture\x00")
        entry = (_struct.pack(">I", 16) + b"rawb"
                 + b"\x00" * 6 + _struct.pack(">H", 1))
        stbl = _mbox(
            "stbl",
            _mfull("stsd", 0, _struct.pack(">I", 1) + entry)
            + _mfull("stts", 0, _struct.pack(">I", 0))
            + _mfull("stsc", 0, _struct.pack(">I", 0))
            + _mfull("stsz", 0, _struct.pack(">II", 0, 0))
            + _mfull("stco", 0, _struct.pack(">I", 0)))
        traks.append(_mbox("trak", tkhd + _mbox(
            "mdia", mdhd + hdlr + _mbox("minf", stbl))))
    trexes = b"".join(
        _mfull("trex", 0, _struct.pack(
            ">IIIII", t["track_id"], 1, t["trex_duration"],
            t["trex_size"], 0))
        for t in r["tracks"]
    )
    mvhd = _mfull("mvhd", 0, b"\x00" * 8 + _struct.pack(">I", 600)
                  + _struct.pack(">I", 0)
                  + _struct.pack(">I", 0x00010000)
                  + _struct.pack(">H", 0x0100) + b"\x00" * 10
                  + _MP4_MATRIX + b"\x00" * 24
                  + _struct.pack(">I", len(r["tracks"]) + 1))
    moov = _mbox("moov", mvhd + b"".join(traks) + _mbox("mvex", trexes))
    out = bytearray(ftyp + moov)
    for fr in r["frags"]:
        moof_start = len(out)
        # traf payload layout inside the fragment's mdat: track order
        rel = 0
        traf_boxes = []
        mdat_body = bytearray()
        for t, tf in enumerate(fr["trafs"]):
            track = r["tracks"][t]
            tfhd_flags = 0x020000
            tfhd_body = _struct.pack(">I", track["track_id"])
            if r["explicit_base"] and t == 0:
                tfhd_flags = 0x000001  # explicit base_data_offset
                tfhd_body += _struct.pack(">Q", moof_start)
            if tf["size_mode"] == 1:
                tfhd_flags |= 0x000010
                tfhd_body += _struct.pack(">I", tf["sizes"][0])
            tfhd = _mbox("tfhd", bytes([0]) + tfhd_flags.to_bytes(3, "big")
                         + tfhd_body)
            tv = 1 if r["tfdt_v1"] else 0
            tfdt = _mfull("tfdt", tv,
                          tf["tfdt"].to_bytes(8 if tv else 4, "big"))
            trun_flags = 0x000001
            per = b""
            if tf["dur_mode"] == 0:
                trun_flags |= 0x000100
            if tf["size_mode"] == 0:
                trun_flags |= 0x000200
            for s2 in range(tf["ns"]):
                if tf["dur_mode"] == 0:
                    per += _struct.pack(">I", tf["durs"][s2])
                if tf["size_mode"] == 0:
                    per += _struct.pack(">I", tf["sizes"][s2])
            # data_offset patched below once moof size is known
            trun = _mbox("trun", bytes([0])
                         + trun_flags.to_bytes(3, "big")
                         + _struct.pack(">I", tf["ns"])
                         + _struct.pack(">i", 0) + per)
            traf_boxes.append((tfhd + tfdt, trun, rel))
            for s2 in range(tf["ns"]):
                sz = tf["sizes"][s2]
                mdat_body += bytes((seed + rel + j) % 256
                                   for j in range(sz))
                rel += sz
        # assemble moof twice: sizes don't depend on the offset VALUES
        def build(offsets):
            trafs = b""
            for (head, trun, _rel), off in zip(traf_boxes, offsets):
                patched = bytearray(trun)
                # box hdr(8) + version/flags(4) + sample_count(4)
                _struct.pack_into(">i", patched, 16, off)
                trafs += _mbox("traf", head + bytes(patched))
            return _mbox("moof", _mfull(
                "mfhd", 0, _struct.pack(">I", fr["seq"])) + trafs)
        probe = build([0] * len(traf_boxes))
        # data_offset is relative to the traf's base: moof start for
        # default-base-is-moof, or the explicit base (= moof start in
        # this fixture) — either way mdat body begins at moof_len + 8
        offsets = [len(probe) + 8 + rel0
                   for (_h, _t, rel0) in traf_boxes]
        moof = build(offsets)
        assert len(moof) == len(probe)
        out += moof + _mbox("mdat", bytes(mdat_body))
    return bytes(out)


def mp4_av_frag_rules(seed: int) -> dict:
    """Planted A/V geometry for make_mp4_av_frag: a fragmented MP4
    whose video track carries REAL baseline JPEGs and audio track
    REAL single-frame MP3s, split across 2-3 moof fragments with 1-2
    samples per track per fragment. Global sample j of a track uses
    the same per-sample seed rules as make_mp4_av."""
    nfrag = 2 + seed % 2
    nv = [1 + (seed + f) % 2 for f in range(nfrag)]
    na = [1 + (seed + 3 * f + 1) % 2 for f in range(nfrag)]
    tot_v, tot_a = sum(nv), sum(na)
    return {
        "nfrag": nfrag, "nv": nv, "na": na,
        "v_seed": [(seed * 31 + 7 * j) % 1000 for j in range(tot_v)],
        "a_seed": [(seed * 17 + 5 * j) % 1000 for j in range(tot_a)],
    }


@_functools.lru_cache(maxsize=512)
def make_mp4_av_frag(seed: int) -> bytes:
    r = mp4_av_frag_rules(seed)
    v_payloads = [make_jpeg_baseline(sj) for sj in r["v_seed"]]
    a_payloads = [make_mp3(sa, n_frames=1, reservoir=False)
                  for sa in r["a_seed"]]
    ftyp = _mbox("ftyp", b"isom" + _struct.pack(">I", 0x200)
                 + b"iso6" + b"msdh")
    traks = []
    for track_id, handler, fmt, ts in ((1, "vide", "jpeg", 90000),
                                       (2, "soun", ".mp3", 44100)):
        tkhd = _mfull(
            "tkhd", 0,
            b"\x00" * 8 + _struct.pack(">I", track_id) + b"\x00" * 4
            + _struct.pack(">I", 0) + b"\x00" * 8
            + _struct.pack(">hhhh", 0, 0, 0, 0) + _MP4_MATRIX
            + _struct.pack(">II", 16 << 16 if fmt == "jpeg" else 0,
                           16 << 16 if fmt == "jpeg" else 0))
        mdhd = _mfull("mdhd", 0, b"\x00" * 8 + _struct.pack(">I", ts)
                      + _struct.pack(">I", 0)
                      + _struct.pack(">HH", 0x55C4, 0))
        hdlr = _mfull("hdlr", 0, b"\x00" * 4 + handler.encode("ascii")
                      + b"\x00" * 12 + b"fixture\x00")
        entry = (_struct.pack(">I", 16) + fmt.encode("ascii")
                 + b"\x00" * 6 + _struct.pack(">H", 1))
        stbl = _mbox(
            "stbl",
            _mfull("stsd", 0, _struct.pack(">I", 1) + entry)
            + _mfull("stts", 0, _struct.pack(">I", 0))
            + _mfull("stsc", 0, _struct.pack(">I", 0))
            + _mfull("stsz", 0, _struct.pack(">II", 0, 0))
            + _mfull("stco", 0, _struct.pack(">I", 0)))
        traks.append(_mbox("trak", tkhd + _mbox(
            "mdia", mdhd + hdlr + _mbox("minf", stbl))))
    trexes = b"".join(
        _mfull("trex", 0, _struct.pack(">IIIII", tid, 1, dur, 0, 0))
        for tid, dur in ((1, 3000), (2, 1152)))
    mvhd = _mfull("mvhd", 0, b"\x00" * 8 + _struct.pack(">I", 600)
                  + _struct.pack(">I", 0)
                  + _struct.pack(">I", 0x00010000)
                  + _struct.pack(">H", 0x0100) + b"\x00" * 10
                  + _MP4_MATRIX + b"\x00" * 24 + _struct.pack(">I", 3))
    out = bytearray(ftyp + _mbox(
        "moov", mvhd + b"".join(traks) + _mbox("mvex", trexes)))
    vi = ai = 0
    for f in range(r["nfrag"]):
        runs = [(1, [v_payloads[vi + i] for i in range(r["nv"][f])]),
                (2, [a_payloads[ai + i] for i in range(r["na"][f])])]
        vi += r["nv"][f]
        ai += r["na"][f]
        mdat_body = bytearray()
        trafs = []
        rel = 0
        for tid, payloads in runs:
            sizes = [len(p) for p in payloads]
            tfhd = _mbox("tfhd", bytes([0])
                         + (0x020000).to_bytes(3, "big")
                         + _struct.pack(">I", tid))
            trun = _mbox("trun", bytes([0])
                         + (0x000201).to_bytes(3, "big")
                         + _struct.pack(">I", len(payloads))
                         + _struct.pack(">i", 0)
                         + b"".join(_struct.pack(">I", sz)
                                    for sz in sizes))
            trafs.append((tfhd, trun, rel))
            for pl in payloads:
                mdat_body += pl
                rel += len(pl)

        def build(offsets):
            bs = b""
            for (tfhd, trun, _r0), off in zip(trafs, offsets):
                patched = bytearray(trun)
                _struct.pack_into(">i", patched, 16, off)
                bs += _mbox("traf", tfhd + bytes(patched))
            return _mbox("moof", _mfull(
                "mfhd", 0, _struct.pack(">I", f + 1)) + bs)

        probe = build([0] * len(trafs))
        moof = build([len(probe) + 8 + r0 for (_a, _b, r0) in trafs])
        assert len(moof) == len(probe)
        out += moof + _mbox("mdat", bytes(mdat_body))
    return bytes(out)


def mp3_lsf_granule_rules(seed: int, f: int) -> dict:
    """Planted per-frame (ONE granule) parameters for LSF (MPEG-2)
    make_mp3 streams: 9-bit scalefac_compress < 400 (the first LSF
    class), big_values pairs ALL table-1 coded (the 22.05 kHz region
    bounds put every planted line inside regions 0/1), nq count1
    quads. Scalefactor band b transmits
    ((seed + 3b + 5f) % 16) % 2^slen(group(b))."""
    return {
        "scalefac_compress": (seed * 7 + f * 3) % 400,
        "big_values": 48 + (seed * 3 + f * 7) % 16,
        "global_gain": 120 + (seed * 7 + f * 13) % 100,
        "scalefac_scale": (seed + f) % 2,
        "nq": 4 + (seed + f) % 4,
        "table_select": [1, 1, 0],
        "region0_count": 8,
        "region1_count": 3,
    }


def mp3_lsf_slen(sc: int) -> "tuple[int, int, int, int]":
    return (sc // 16 // 5, (sc // 16) % 5, (sc % 16) // 4, sc % 4)


def mp3_lsf_sf_rule(seed: int, f: int, band: int) -> int:
    """Pre-truncation scalefactor value; the transmitted value is
    this mod 2^slen of the band's group."""
    return (seed + 3 * band + 5 * f) % 16


def mp3_lsf_spec_rule(seed: int, f: int, i: int) -> int:
    return ((seed + 5 * f + 7 * i) % 3) - 1


def mp3_lsf_count1_rule(seed: int, f: int, i: int) -> int:
    return ((seed + 11 * f + 3 * i) % 3) - 1


_MP3_LSF_GROUPS = (6, 5, 5, 5)


def _mp3_lsf_write_granule(w: "_BitWriter", seed: int, f: int) -> int:
    """Write one LSF granule's main data; returns part2_3_length."""
    r = mp3_lsf_granule_rules(seed, f)
    slen = mp3_lsf_slen(r["scalefac_compress"])
    bits = 0
    band = 0
    for n, sl in zip(_MP3_LSF_GROUPS, slen):
        for _ in range(n):
            if sl:
                w.write(mp3_lsf_sf_rule(seed, f, band) % (1 << sl), sl)
                bits += sl
            band += 1
    for k in range(r["big_values"]):
        x = mp3_lsf_spec_rule(seed, f, 2 * k)
        y = mp3_lsf_spec_rule(seed, f, 2 * k + 1)
        code = _MP3_HUFF1[(abs(x), abs(y))]
        for c in code:
            w.write(int(c), 1)
        bits += len(code)
        for v in (x, y):
            if v:
                w.write(1 if v < 0 else 0, 1)
                bits += 1
    line = 2 * r["big_values"]
    for _q in range(r["nq"]):
        vals = [mp3_lsf_count1_rule(seed, f, line + j) for j in range(4)]
        quad = sum(abs(v) << (3 - j) for j, v in enumerate(vals))
        w.write((~quad) & 0xF, 4)
        bits += 4
        for v in vals:
            if v:
                w.write(1 if v < 0 else 0, 1)
                bits += 1
        line += 4
    return bits


@_functools.lru_cache(maxsize=512)
def make_mp3_lsf(seed: int, n_frames: int = 3,
                 reservoir: bool = True) -> bytes:
    """Serialize a REAL MPEG-2 (LSF) Layer III stream: 22.05 kHz,
    64 kbit/s, mono, ONE granule per frame, 9-byte side info with
    8-bit main_data_begin, 9-bit scalefac_compress (< 400 class, the
    four-slen derivation), no scfsi, no preflag. Same bit-reservoir
    exercise as make_mp3."""
    blobs: "list[bytes]" = []
    part23: "list[int]" = []
    for f in range(n_frames):
        w = _BitWriter()
        part23.append(_mp3_lsf_write_granule(w, seed, f))
        w.align()
        blobs.append(bytes(w.buf))
    mdb = [0] * n_frames
    if reservoir:
        for f in range(1, n_frames):
            mdb[f] = min(len(blobs[f]), 64 + (seed + 37 * f) % 128)
    out = bytearray()
    regions: "list[bytearray]" = []
    caps: "list[int]" = []
    frame_len = (72 * 64000) // 22050  # no padding (216 would recur)
    for f in range(n_frames):
        cap = frame_len - 4 - 9
        rest = blobs[f][mdb[f]:]
        if len(rest) > cap:
            raise ValueError("fixture main data exceeds frame capacity")
        region = bytearray(cap)
        region[:len(rest)] = rest
        if f >= 1 and mdb[f]:
            tail = blobs[f][:mdb[f]]
            prev_used = len(blobs[f - 1]) - mdb[f - 1]
            if prev_used + len(tail) > caps[f - 1]:
                raise ValueError("fixture reservoir tail does not fit")
            regions[f - 1][caps[f - 1] - len(tail):] = tail
        regions.append(region)
        caps.append(cap)
    for f in range(n_frames):
        # sync(11) version 10, layer 01, prot 1 -> 0xFF 0xF3; bitrate
        # index 8 (64 kbps LSF), rate index 0 (22050), no padding
        hdr = bytes([0xFF, 0xF3, (8 << 4) | (0 << 2) | (0 << 1),
                     (0b11 << 6) | 0b100])
        w = _BitWriter()
        w.write(mdb[f], 8)
        w.write(0, 1)            # private bit (mono)
        r = mp3_lsf_granule_rules(seed, f)
        w.write(part23[f], 12)
        w.write(r["big_values"], 9)
        w.write(r["global_gain"], 8)
        w.write(r["scalefac_compress"], 9)
        w.write(0, 1)            # window_switching: long blocks
        for t in r["table_select"]:
            w.write(t, 5)
        w.write(r["region0_count"], 4)
        w.write(r["region1_count"], 3)
        w.write(r["scalefac_scale"], 1)
        w.write(1, 1)            # count1 table B
        w.align()
        side = bytes(w.buf)
        assert len(side) == 9
        out += hdr + side + regions[f]
    return bytes(out)


def bmp_pixel_rule(seed: int, x: int, y: int, c: int) -> int:
    """Planted RGB value for 24/32-bit BMP fixtures (c: 0=R 1=G 2=B)."""
    return (seed + 7 * x + 13 * y + 5 * c) % 256


def bmp_index_rule(seed: int, x: int, y: int) -> int:
    return (seed + 3 * x + 11 * y) % 16


def bmp_palette_rule(seed: int, i: int) -> "tuple[int, int, int]":
    """Planted palette RGB for entry i."""
    return ((seed * 5 + 17 * i) % 256, (seed * 3 + 29 * i) % 256,
            (seed * 7 + 23 * i) % 256)


@_functools.lru_cache(maxsize=512)
def make_bmp(seed: int, variant: int, w: int = 13, h: int = 7) -> bytes:
    """Serialize a REAL BMP: variant 0 = 24-bit bottom-up, 1 = 24-bit
    TOP-DOWN (negative height), 2 = 8-bit paletted, 3 = RLE8 (rows
    y % 3 == 0 as one ABSOLUTE chunk, others as count-1 encoded runs
    — both RLE modes exercised). w defaults to 13 so the 4-byte row
    padding path is non-trivial."""
    if variant in (0, 1):
        bpp, comp, pal = 24, 0, b""
        stride = (w * 3 + 3) & ~3
        body = bytearray()
        ys = range(h) if variant == 1 else range(h - 1, -1, -1)
        for y in ys:
            row = bytearray()
            for x in range(w):
                r, g, b = (bmp_pixel_rule(seed, x, y, c) for c in range(3))
                row += bytes([b, g, r])
            row += b"\x00" * (stride - len(row))
            body += row
        height = -h if variant == 1 else h
    else:
        bpp = 8
        pal = bytearray()
        for i in range(16):
            r, g, b = bmp_palette_rule(seed, i)
            pal += bytes([b, g, r, 0])
        pal = bytes(pal)
        height = h
        if variant == 2:
            comp = 0
            stride = (w + 3) & ~3
            body = bytearray()
            for y in range(h - 1, -1, -1):
                row = bytes(bmp_index_rule(seed, x, y) for x in range(w))
                body = body + row + b"\x00" * (stride - w)
        else:
            comp = 1
            body = bytearray()
            for y in range(h - 1, -1, -1):  # RLE8 is bottom-up
                if y % 3 == 0:
                    chunk = bytes(bmp_index_rule(seed, x, y)
                                  for x in range(w))
                    body += bytes([0, len(chunk)]) + chunk
                    if len(chunk) & 1:
                        body += b"\x00"
                else:
                    for x in range(w):
                        body += bytes([1, bmp_index_rule(seed, x, y)])
                body += b"\x00\x00"  # end of line
            body += b"\x00\x01"      # end of bitmap
    data_off = 14 + 40 + len(pal)
    info = (_struct.pack("<IiihhIIiiII", 40, w, height, 1, bpp, comp,
                         len(body), 2835, 2835,
                         16 if bpp == 8 else 0, 0))
    filehdr = (b"BM" + _struct.pack("<IHHI", data_off + len(body),
                                    0, 0, data_off))
    return bytes(filehdr + info + pal + body)


def tiff_pixel_rule(seed: int, x: int, y: int, c: int) -> int:
    """Planted sample value for TIFF fixtures (c < channels)."""
    return (seed + 11 * x + 17 * y + 7 * c) % 256


def _packbits_encode(row: bytes) -> bytes:
    """Real PackBits: repeat runs for >= 3 equal bytes, literal runs
    otherwise (TIFF 6.0 §9)."""
    out = bytearray()
    i = 0
    n = len(row)
    while i < n:
        run = 1
        while i + run < n and run < 128 and row[i + run] == row[i]:
            run += 1
        if run >= 3:
            out += bytes([257 - run, row[i]])
            i += run
        else:
            lit = i
            while (i < n and i - lit < 128
                   and not (i + 2 < n and row[i] == row[i + 1]
                            == row[i + 2])):
                i += 1
            out += bytes([i - lit - 1]) + row[lit:i]
    return bytes(out)


def _tiff_lzw_encode(data: bytes) -> bytes:
    """Real TIFF 6.0 §13 LZW encoder (fixture side): MSB-first code
    packing from 9 bits, clear=256/EOI=257, EARLY-CHANGE width bumps
    (switch after ADDING table entry 511/1023/2047 — TIFF spec: "you
    must increase the code size if the code value you just added is
    equal to 511, 1023 or 2047"), CLEAR re-emitted when the table
    fills to 4094."""
    out = bytearray()
    acc = 0
    nbits = 0
    width = 9

    def emit(code: int) -> None:
        nonlocal acc, nbits
        acc = (acc << width) | code
        nbits += width
        while nbits >= 8:
            out.append((acc >> (nbits - 8)) & 0xFF)
            nbits -= 8
        acc &= (1 << nbits) - 1

    table: dict[bytes, int] = {bytes([i]): i for i in range(256)}
    nxt = 258
    emit(256)
    omega = b""
    for b in data:
        cand = omega + bytes([b])
        if cand in table:
            omega = cand
            continue
        emit(table[omega])
        table[cand] = nxt
        if nxt in (511, 1023, 2047):
            width += 1
        nxt += 1
        omega = bytes([b])
        if nxt == 4094:
            emit(table[omega])
            emit(256)
            table = {bytes([i]): i for i in range(256)}
            nxt = 258
            width = 9
            omega = b""
    if omega:
        emit(table[omega])
    emit(257)
    if nbits:
        out.append((acc << (8 - nbits)) & 0xFF)
    return bytes(out)


@_functools.lru_cache(maxsize=512)
def make_tiff(seed: int, variant: int, w: int = 11, h: int = 7) -> bytes:
    """Serialize a REAL baseline TIFF per tiff_pixel_rule: variant 0 =
    grayscale uncompressed little-endian, 1 = RGB uncompressed
    BIG-endian, 2 = grayscale PackBits little-endian, 3 = RGB
    PackBits big-endian, 4 = grayscale LZW little-endian with
    Predictor 2 (horizontal differencing — the libtiff default
    pairing), 5 = RGB LZW BIG-endian without predictor, 6 = TILED
    grayscale LZW+Predictor 2 little-endian (16x16 tiles, edge
    tiles padded per TIFF 6.0 §15), 7 = TILED RGB PackBits
    BIG-endian. RowsPerStrip = 3 -> three strips, so strip assembly
    is exercised; the MM variants exercise endian-aware field reads
    throughout."""
    bo = "big" if variant in (1, 3, 5, 7) else "little"
    spp = 3 if variant in (1, 3, 5, 7) else 1
    packed = variant in (2, 3, 7)
    lzw = variant in (4, 5, 6)
    pred2 = variant in (4, 6)
    tiled = variant in (6, 7)
    rps = 3

    def b2(v):
        return v.to_bytes(2, bo)

    def b4(v):
        return v.to_bytes(4, bo)

    rows = [bytes(tiff_pixel_rule(seed, x, y, c)
                  for x in range(w) for c in range(spp))
            for y in range(h)]
    if tiled:
        tw = th = 16
        ta = (w + tw - 1) // tw
        td = (h + th - 1) // th
        strips = []
        for ty in range(td):
            for tx in range(ta):
                tile_rows = []
                for dy in range(th):
                    y = ty * th + dy
                    if y < h:
                        seg = rows[y][tx * tw * spp:
                                      (tx + 1) * tw * spp]
                        seg = seg + b"\x00" * (tw * spp - len(seg))
                    else:
                        seg = b"\x00" * (tw * spp)
                    if pred2:
                        seg = bytes(
                            (seg[i] - (seg[i - spp] if i >= spp
                                       else 0)) & 0xFF
                            for i in range(len(seg)))
                    tile_rows.append(seg)
                data = b"".join(tile_rows)
                if packed:
                    data = _packbits_encode(data)
                elif lzw:
                    data = _tiff_lzw_encode(data)
                strips.append(data)
        n_strips = len(strips)
    else:
        if pred2:
            rows = [bytes((r[i] - (r[i - spp] if i >= spp else 0))
                          & 0xFF for i in range(len(r)))
                    for r in rows]
        strips = []
        for y0 in range(0, h, rps):
            data = b"".join(rows[y0:y0 + rps])
            if packed:
                data = _packbits_encode(data)
            elif lzw:
                data = _tiff_lzw_encode(data)
            strips.append(data)
        n_strips = len(strips)

    def entry(tag, typ, count, value_bytes):
        pad = value_bytes + b"\x00" * (4 - len(value_bytes))
        return b2(tag) + b2(typ) + b4(count) + pad[:4]

    # layout: header(8) + IFD + [bits offset area][strip tables][strips]
    n_entries = 12 if tiled else 11
    ifd_off = 8
    ifd_size = 2 + 12 * n_entries + 4
    extra_off = ifd_off + ifd_size
    extra = bytearray()

    def alloc(data):
        nonlocal extra
        off = extra_off + len(extra)
        extra += data
        if len(extra) & 1:
            extra += b"\x00"
        return off

    if spp == 3:
        bits_off = alloc(b2(8) + b2(8) + b2(8))
        bits_entry = entry(258, 3, 3, b4(bits_off))
    else:
        bits_entry = entry(258, 3, 1, b2(8))
    strip_offsets = []
    pos_after_tables = None
    # strip offset/count tables (LONG arrays; >1 strip so always
    # out-of-line)
    counts_off = alloc(b"".join(b4(len(s)) for s in strips))
    offsets_off = alloc(b4(0) * n_strips)  # patched below
    data_start = extra_off + len(extra)
    run = data_start
    for s in strips:
        strip_offsets.append(run)
        run += len(s)
    # patch the offsets table
    table = b"".join(b4(o) for o in strip_offsets)
    extra[offsets_off - extra_off:offsets_off - extra_off + len(table)] \
        = table
    if tiled:
        entries = b"".join([
            entry(256, 3, 1, b2(w)),
            entry(257, 3, 1, b2(h)),
            bits_entry,
            entry(259, 3, 1,
                  b2(32773 if packed else (5 if lzw else 1))),
            entry(262, 3, 1, b2(2 if spp == 3 else 1)),
            entry(277, 3, 1, b2(spp)),
            entry(284, 3, 1, b2(1)),
            entry(317, 3, 1, b2(2 if pred2 else 1)),
            entry(322, 3, 1, b2(16)),
            entry(323, 3, 1, b2(16)),
            # LONG arrays inline when a single tile (count*4 <= 4)
            entry(324, 4, n_strips,
                  b4(strip_offsets[0] if n_strips == 1
                     else offsets_off)),
            entry(325, 4, n_strips,
                  b4(len(strips[0]) if n_strips == 1
                     else counts_off)),
        ])
    else:
        entries = b"".join([
            entry(256, 3, 1, b2(w)),
            entry(257, 3, 1, b2(h)),
            bits_entry,
            entry(259, 3, 1,
                  b2(32773 if packed else (5 if lzw else 1))),
            entry(262, 3, 1, b2(2 if spp == 3 else 1)),
            entry(273, 4, n_strips, b4(offsets_off)),
            entry(277, 3, 1, b2(spp)),
            entry(278, 3, 1, b2(rps)),
            entry(279, 4, n_strips, b4(counts_off)),
            entry(284, 3, 1, b2(1)),
            entry(317, 3, 1, b2(2 if pred2 else 1)),
        ])
    hdr = (b"II" if bo == "little" else b"MM") + b2(42) + b4(ifd_off)
    ifd = b2(n_entries) + entries + b4(0)
    return hdr + ifd + bytes(extra) + b"".join(strips)


def warc_rules(seed: int) -> dict:
    """Planted WARC geometry: 1 warcinfo + n request/response pairs;
    response i carries status by (seed+i) % 3 over (200, 404, 301), a
    body of 50 + (seed + 11i) % 100 bytes with byte j =
    (seed + 13i + j) % 256, and target URI
    'https://example.com/<seed>/<i>'. Even seeds gzip each record as
    its own member (the Common Crawl layout); odd seeds concatenate
    plain records."""
    n = 2 + seed % 3
    return {
        "n_pairs": n,
        "gzipped": seed % 2 == 0,
        "status": [(200, 404, 301)[(seed + i) % 3] for i in range(n)],
        "body_len": [50 + (seed + 11 * i) % 100 for i in range(n)],
    }


@_functools.lru_cache(maxsize=512)
def make_warc(seed: int) -> bytes:
    import gzip as _gzip
    import io as _io

    r = warc_rules(seed)

    def record(rtype: str, extra: "list[tuple[str, str]]",
               payload: bytes) -> bytes:
        head = [b"WARC/1.0",
                f"WARC-Type: {rtype}".encode(),
                f"WARC-Record-ID: <urn:uuid:{seed:08x}-{rtype}>".encode(),
                b"WARC-Date: 2026-08-15T00:00:00Z"]
        head += [f"{k}: {v}".encode() for k, v in extra]
        head.append(f"Content-Length: {len(payload)}".encode())
        return b"\r\n".join(head) + b"\r\n\r\n" + payload + b"\r\n\r\n"

    recs = [record("warcinfo", [("Content-Type",
                                 "application/warc-fields")],
                   b"software: fixture\r\n")]
    for i in range(r["n_pairs"]):
        uri = f"https://example.com/{seed}/{i}"
        recs.append(record(
            "request", [("WARC-Target-URI", uri),
                        ("Content-Type",
                         "application/http;msgtype=request")],
            f"GET /{seed}/{i} HTTP/1.1\r\nHost: example.com\r\n\r\n"
            .encode()))
        body = bytes((seed + 13 * i + j) % 256
                     for j in range(r["body_len"][i]))
        status = r["status"][i]
        if (seed + i) % 3 == 0:
            # chunked transfer framing (RFC 9112 §7.1): split the
            # planted body into 1-3 chunks (+ a chunk extension and a
            # trailer field on some) — the decoder must recover the
            # SAME bytes, so the oracle replay is unchanged
            nch = 1 + (seed + i) % 3
            cuts = sorted({(len(body) * k) // nch
                           for k in range(1, nch)} | {0, len(body)})
            wire = bytearray()
            for a, b in zip(cuts, cuts[1:]):
                ext = b";ext=1" if (seed + a) % 2 else b""
                wire += (b"%x" % (b - a)) + ext + b"\r\n" \
                    + body[a:b] + b"\r\n"
            wire += b"0\r\n"
            if i % 2:
                wire += b"X-Trailer: t\r\n"
            wire += b"\r\n"
            http = (f"HTTP/1.1 {status} X\r\n"
                    f"Content-Type: application/octet-stream\r\n"
                    f"Transfer-Encoding: chunked\r\n\r\n"
                    ).encode() + bytes(wire)
        else:
            http = (f"HTTP/1.1 {status} X\r\n"
                    f"Content-Type: application/octet-stream\r\n"
                    f"Content-Length: {len(body)}\r\n\r\n"
                    ).encode() + body
        recs.append(record(
            "response", [("WARC-Target-URI", uri),
                         ("Content-Type",
                          "application/http;msgtype=response")],
            http))
    if not r["gzipped"]:
        return b"".join(recs)
    out = bytearray()
    for rec in recs:
        buf = _io.BytesIO()
        with _gzip.GzipFile(fileobj=buf, mode="wb", mtime=0) as gz:
            gz.write(rec)
        out += buf.getvalue()
    return bytes(out)


def webdataset_rules(seed: int) -> dict:
    """Planted WebDataset shard: n samples, sample i = <key>.jpg (a
    REAL baseline JPEG with per-sample seed (seed*41 + 9i) % 1000) +
    <key>.cls (label (seed + 7i) % 1000) + <key>.txt of
    20 + (seed + 5i) % 60 bytes, byte j = (seed + 3i + j) % 256; keys
    'sample<i:04d>'."""
    n = 2 + seed % 3
    return {
        "n": n,
        "j_seed": [(seed * 41 + 9 * i) % 1000 for i in range(n)],
        "label": [(seed + 7 * i) % 1000 for i in range(n)],
        "txt_len": [20 + (seed + 5 * i) % 60 for i in range(n)],
    }



def _tar_member(name: str, data: bytes) -> bytes:
    hdr = bytearray(512)
    nb = name.encode()
    hdr[0:len(nb)] = nb
    hdr[100:108] = b"0000644\x00"
    hdr[108:116] = b"0000000\x00"
    hdr[116:124] = b"0000000\x00"
    hdr[124:136] = (f"{len(data):011o}\x00").encode()
    hdr[136:148] = b"00000000000\x00"
    hdr[148:156] = b" " * 8  # checksum placeholder
    hdr[156] = ord("0")
    hdr[257:263] = b"ustar\x00"
    hdr[263:265] = b"00"
    chk = sum(hdr)
    hdr[148:156] = (f"{chk:06o}\x00 ").encode()
    pad = (512 - len(data) % 512) % 512
    return bytes(hdr) + data + b"\x00" * pad


@_functools.lru_cache(maxsize=512)
def make_webdataset(seed: int) -> bytes:
    """A REAL ustar WebDataset shard per :func:`webdataset_rules`."""
    r = webdataset_rules(seed)
    out = bytearray()
    for i in range(r["n"]):
        key = f"sample{i:04d}"
        out += _tar_member(f"{key}.jpg",
                           make_jpeg_baseline(r["j_seed"][i]))
        out += _tar_member(f"{key}.cls",
                           str(r["label"][i]).encode())
        txt = bytes((seed + 3 * i + j) % 256
                    for j in range(r["txt_len"][i]))
        out += _tar_member(f"{key}.txt", txt)
    out += b"\x00" * 1024
    return bytes(out)


def avi_rules(seed: int) -> dict:
    """Planted AVI geometry (structural variant): a vids + an auds
    stream, 3-6 interleaved chunks per stream with closed-form sizes
    40 + (seed*3 + 13*c + 97*s) % 160, planted avih/strh fields, and
    an idx1 covering every chunk."""
    nv = 3 + seed % 2
    na = 3 + (seed + 1) % 2
    return {
        "nv": nv, "na": na,
        "v_sizes": [40 + (seed * 3 + 13 * c) % 160 for c in range(nv)],
        "a_sizes": [40 + (seed * 3 + 13 * c + 97) % 160
                    for c in range(na)],
        "us_per_frame": 33333 + seed % 1000,
        "width": 320 + seed % 16,
        "height": 240 + seed % 16,
        "v_rate": 30 + seed % 10,
        "a_rate": 44100,
    }


def _riff_chunk(fcc: bytes, data: bytes) -> bytes:
    pad = b"\x00" if len(data) & 1 else b""
    return fcc + _struct.pack("<I", len(data)) + data + pad


def _riff_list(kind: bytes, payload: bytes) -> bytes:
    return _riff_chunk(b"LIST", kind + payload)


def _make_avi_from(streams: "list[dict]", us_per_frame: int,
                   width: int, height: int,
                   payload_lists: "list[list[bytes]]") -> bytes:
    nstr = len(streams)
    total_frames = len(payload_lists[0])
    avih = _riff_chunk(b"avih", _struct.pack(
        "<14I", us_per_frame, 0, 0, 0x10, total_frames, 0, nstr,
        0x100000, width, height, 0, 0, 0, 0))
    strls = []
    for st in streams:
        strh = _riff_chunk(b"strh", _struct.pack(
            "<4s4sIHHIIIIIIIIhhhh",
            st["type"], st["handler"], 0, 0, 0, 0,
            st["scale"], st["rate"], 0, st["length"], 0x100000, 0, 0,
            0, 0, width if st["type"] == b"vids" else 0,
            height if st["type"] == b"vids" else 0))
        if st["type"] == b"auds":
            strf = _riff_chunk(b"strf", _struct.pack(
                "<HHIIHH", st["wformat"], 1, st["rate"], 16000, 1, 16))
        else:
            strf = _riff_chunk(b"strf", _struct.pack(
                "<IiihhIIiiII", 40, width, height, 1, 24,
                0x47504A4D, width * height * 3, 0, 0, 0, 0))
        strls.append(_riff_list(b"strl", strh + strf))
    hdrl = _riff_list(b"hdrl", avih + b"".join(strls))
    # interleave chunks round-robin; record layout for idx1
    movi_payload = bytearray()
    idx_entries = []
    order = []
    mx = max(len(p) for p in payload_lists)
    for c in range(mx):
        for sid, plist in enumerate(payload_lists):
            if c < len(plist):
                order.append((sid, plist[c]))
    for sid, data in order:
        fcc = (f"{sid:02d}" + ("dc" if streams[sid]["type"] == b"vids"
                               else "wb")).encode()
        off = len(movi_payload)
        movi_payload += _riff_chunk(fcc, data)
        idx_entries.append((fcc, off, len(data)))
    movi = _riff_list(b"movi", bytes(movi_payload))
    idx1 = _riff_chunk(b"idx1", b"".join(
        fcc + _struct.pack("<III", 0x10, off, size)
        for fcc, off, size in idx_entries))
    body = b"AVI " + hdrl + movi + idx1
    return _riff_chunk(b"RIFF", body)


@_functools.lru_cache(maxsize=512)
def make_avi(seed: int) -> bytes:
    """Structural AVI per :func:`avi_rules` (filler chunk payloads;
    sizes/offsets are the planted truth)."""
    r = avi_rules(seed)
    streams = [
        {"type": b"vids", "handler": b"rawv", "scale": 1,
         "rate": r["v_rate"], "length": r["nv"]},
        {"type": b"auds", "handler": b"\x00\x00\x00\x00",
         "wformat": 1, "scale": 1, "rate": r["a_rate"],
         "length": r["na"]},
    ]
    pv = [bytes((seed + 5 * c + j) % 256 for j in range(sz))
          for c, sz in enumerate(r["v_sizes"])]
    pa = [bytes((seed + 7 * c + j) % 256 for j in range(sz))
          for c, sz in enumerate(r["a_sizes"])]
    return _make_avi_from(streams, r["us_per_frame"], r["width"],
                          r["height"], [pv, pa])


def avi_av_rules(seed: int) -> dict:
    """Planted A/V AVI: MJPG chunks are REAL baseline JPEGs
    (per-chunk seed (seed*43 + 11*c) % 1000), audio chunks REAL
    single-frame MP3s (wFormatTag 0x0055, per-chunk seed
    (seed*19 + 3*c) % 1000)."""
    nv = 2 + seed % 2
    na = 2 + (seed + 1) % 2
    return {
        "nv": nv, "na": na,
        "v_seed": [(seed * 43 + 11 * c) % 1000 for c in range(nv)],
        "a_seed": [(seed * 19 + 3 * c) % 1000 for c in range(na)],
    }


@_functools.lru_cache(maxsize=512)
def make_avi_av(seed: int) -> bytes:
    r = avi_av_rules(seed)
    streams = [
        {"type": b"vids", "handler": b"MJPG", "scale": 1,
         "rate": 30, "length": r["nv"]},
        {"type": b"auds", "handler": b"\x00\x00\x00\x00",
         "wformat": 0x0055, "scale": 1, "rate": 44100,
         "length": r["na"]},
    ]
    pv = [make_jpeg_baseline(sj) for sj in r["v_seed"]]
    pa = [make_mp3(sa, n_frames=1, reservoir=False)
          for sa in r["a_seed"]]
    return _make_avi_from(streams, 33333, 16, 16, [pv, pa])


def zip_rules(seed: int) -> dict:
    """Planted ZIP: 3-5 members named doc<i:03d>.txt; member i has
    25 + (seed + 9i) % 120 bytes with byte j = (seed + 17i + j) % 251
    (a prime modulus so deflate sees non-trivial entropy), deflated
    when (seed + i) % 2 == 0 else stored."""
    n = 3 + seed % 3
    return {
        "n": n,
        "lens": [25 + (seed + 9 * i) % 120 for i in range(n)],
        "deflated": [(seed + i) % 2 == 0 for i in range(n)],
    }


@_functools.lru_cache(maxsize=512)
def make_zip(seed: int) -> bytes:
    import zlib as _zlib

    r = zip_rules(seed)
    out = bytearray()
    cd = bytearray()
    for i in range(r["n"]):
        name = f"doc{i:03d}.txt".encode()
        data = bytes((seed + 17 * i + j) % 251
                     for j in range(r["lens"][i]))
        crc = _zlib.crc32(data) & 0xFFFFFFFF
        if r["deflated"][i]:
            co = _zlib.compressobj(9, _zlib.DEFLATED, -_zlib.MAX_WBITS)
            blob = co.compress(data) + co.flush()
            method = 8
        else:
            blob = data
            method = 0
        lho = len(out)
        out += (b"PK\x03\x04" + _struct.pack(
            "<HHHHHIIIHH", 20, 0, method, 0, 0, crc, len(blob),
            len(data), len(name), 0) + name + blob)
        cd += (b"PK\x01\x02" + _struct.pack(
            "<HHHHHHIIIHHHHHII", 20, 20, 0, method, 0, 0, crc,
            len(blob), len(data), len(name), 0, 0, 0, 0, 0, lho)
            + name)
    cd_off = len(out)
    out += cd
    out += (b"PK\x05\x06" + _struct.pack(
        "<HHHHIIH", 0, 0, r["n"], r["n"], len(cd), cd_off, 0))
    return bytes(out)


@_functools.lru_cache(maxsize=512)
def make_warc_dedup(seed: int) -> bytes:
    """WARC variant with PLANTED CROSS-ARCHIVE DUPLICATES for the
    crawl-dedup integration query: response i's body depends only on
    k = (seed + 7*i) % 40 (length 60 + k, byte j = (k*3 + j) % 256),
    so archives sharing a k carry byte-identical documents. Plain
    (ungzipped) layout; 2-4 responses."""
    import gzip as _gzip  # noqa: F401  (parity with make_warc imports)

    n = 2 + seed % 3

    def record(rtype: str, extra: "list[tuple[str, str]]",
               payload: bytes) -> bytes:
        head = [b"WARC/1.0",
                f"WARC-Type: {rtype}".encode(),
                f"WARC-Record-ID: <urn:uuid:{seed:08x}-{rtype}>".encode(),
                b"WARC-Date: 2026-08-15T00:00:00Z"]
        head += [f"{k}: {v}".encode() for k, v in extra]
        head.append(f"Content-Length: {len(payload)}".encode())
        return b"\r\n".join(head) + b"\r\n\r\n" + payload + b"\r\n\r\n"

    recs = []
    for i in range(n):
        k = (seed + 7 * i) % 40
        body = bytes((k * 3 + j) % 256 for j in range(60 + k))
        uri = f"https://example.com/dup/{k}"
        http = (f"HTTP/1.1 200 X\r\nContent-Length: {len(body)}"
                "\r\n\r\n").encode() + body
        recs.append(record(
            "response", [("WARC-Target-URI", uri),
                         ("Content-Type",
                          "application/http;msgtype=response")], http))
    return b"".join(recs)


def ico_rules(seed: int) -> dict:
    """Planted ICO: 2-3 images; image i is a real PNG (make_png 8x8
    RGB, seed (seed*13 + 5i) % 1000) when (seed + i) % 2 == 0, else a
    24-bit doubled-height DIB whose RGB pixel (x, y, c) =
    (seed + 9x + 23y + 11c + 7i) % 256 and whose AND mask sets
    (x, y) transparent when (seed + x + y) % 5 == 0."""
    n = 2 + seed % 2
    return {
        "n": n,
        "kinds": [("png" if (seed + i) % 2 == 0 else "dib")
                  for i in range(n)],
        "png_seed": [(seed * 13 + 5 * i) % 1000 for i in range(n)],
    }


def ico_dib_pixel_rule(seed: int, i: int, x: int, y: int,
                       c: int) -> int:
    return (seed + 9 * x + 23 * y + 11 * c + 7 * i) % 256


@_functools.lru_cache(maxsize=512)
def make_ico(seed: int, w: int = 8, h: int = 8) -> bytes:
    r = ico_rules(seed)
    blobs = []
    for i in range(r["n"]):
        if r["kinds"][i] == "png":
            blobs.append(make_png(w, h, r["png_seed"][i], channels=3))
        else:
            xor_stride = (w * 3 + 3) & ~3
            and_stride = ((w + 31) // 32) * 4
            info = _struct.pack("<IiihhIIiiII", 40, w, 2 * h, 1, 24,
                                0, 0, 0, 0, 0, 0)
            body = bytearray(info)
            for y in range(h - 1, -1, -1):  # bottom-up XOR rows
                row = bytearray()
                for x in range(w):
                    rr, gg, bb = (ico_dib_pixel_rule(seed, i, x, y, c)
                                  for c in range(3))
                    row += bytes([bb, gg, rr])
                row += b"\x00" * (xor_stride - len(row))
                body += row
            for y in range(h - 1, -1, -1):  # bottom-up AND mask
                bits = 0
                for x in range(w):
                    bits <<= 1
                    if (seed + x + y) % 5 == 0:
                        bits |= 1
                bits <<= (and_stride * 8 - w)
                body += bits.to_bytes(and_stride, "big")
            blobs.append(bytes(body))
    out = bytearray(_struct.pack("<HHH", 0, 1, r["n"]))
    off = 6 + 16 * r["n"]
    for i, blob in enumerate(blobs):
        out += _struct.pack("<BBBBHHII", w % 256, h % 256, 0, 0, 1,
                            24, len(blob), off)
        off += len(blob)
    for blob in blobs:
        out += blob
    return bytes(out)


def qoi_pixel_rule(seed: int, x: int, y: int, c: int) -> int:
    """Planted RGBA value for QOI fixtures (c in 0..3, c == 3 alpha).

    Rows cycle through three regimes so one image exercises every
    QOI op family: y%3==0 rows use large per-pixel deltas (literal
    RGB/RGBA chunks), y%3==1 rows alternate two colors (INDEX hits
    after the first period), y%3==2 rows step by 0/+1 every 4 pixels
    (RUN chunks inside the plateau, DIFF at each step). Alpha is
    row-constant so DIFF/LUMA stay legal within a row while 4-channel
    files still need an RGBA chunk at each row boundary."""
    if c == 3:
        return (seed + 3 * y) % 256
    m = y % 3
    if m == 0:
        return (seed + 11 * x + 17 * y + 7 * c) % 256
    if m == 1:
        return (5 * seed + 29 * y + 7 * c + (77 if x % 2 else 0)) % 256
    return (seed + 13 * y + 7 * c + x // 4) % 256


@_functools.lru_cache(maxsize=512)
def make_qoi(seed: int, w: int = 13, h: int = 9,
             channels: int = 3) -> bytes:
    """Serialize a REAL QOI image of qoi_pixel_rule pixels with the
    reference encoder algorithm (greedy: RUN > INDEX > DIFF > LUMA >
    literal; index updated on every non-INDEX chunk) — qoiformat.org
    spec, same op-choice order as the published qoi.h encoder."""
    out = bytearray(b"qoif" + w.to_bytes(4, "big") + h.to_bytes(4, "big")
                    + bytes([channels, 0]))
    index = [(0, 0, 0, 0)] * 64
    prev = (0, 0, 0, 255)
    run = 0
    for y in range(h):
        for x in range(w):
            px = (
                qoi_pixel_rule(seed, x, y, 0),
                qoi_pixel_rule(seed, x, y, 1),
                qoi_pixel_rule(seed, x, y, 2),
                qoi_pixel_rule(seed, x, y, 3) if channels == 4 else 255,
            )
            if px == prev:
                run += 1
                if run == 62:
                    out.append(0xC0 | (run - 1))
                    run = 0
                continue
            if run:
                out.append(0xC0 | (run - 1))
                run = 0
            h64 = (px[0] * 3 + px[1] * 5 + px[2] * 7 + px[3] * 11) % 64
            if index[h64] == px:
                out.append(h64)
            else:
                index[h64] = px
                if px[3] == prev[3]:
                    dr = ((px[0] - prev[0] + 128) % 256) - 128
                    dg = ((px[1] - prev[1] + 128) % 256) - 128
                    db = ((px[2] - prev[2] + 128) % 256) - 128
                    if -2 <= dr <= 1 and -2 <= dg <= 1 and -2 <= db <= 1:
                        out.append(0x40 | ((dr + 2) << 4)
                                   | ((dg + 2) << 2) | (db + 2))
                    elif (-32 <= dg <= 31 and -8 <= dr - dg <= 7
                          and -8 <= db - dg <= 7):
                        out.append(0x80 | (dg + 32))
                        out.append(((dr - dg + 8) << 4) | (db - dg + 8))
                    else:
                        out += bytes([0xFE, px[0], px[1], px[2]])
                else:
                    out += bytes([0xFF, *px])
            prev = px
    if run:
        out.append(0xC0 | (run - 1))
    return bytes(out + b"\x00" * 7 + b"\x01")


def html_word_value(seed: int, p: int, i: int) -> int:
    """Planted word id for make_html paragraph p, word i (0..99);
    the token is 'w' + str(value), so token length = 2 or 3."""
    return (seed * 7 + p * 13 + i * 3) % 100


@_functools.lru_cache(maxsize=512)
def make_html(seed: int) -> str:
    """Serialize a deterministic HTML page with planted counts the
    DuckDB oracle can replay in closed form:

    - n_paras = 3 + seed % 5, paragraph p carrying 4 + (seed+p) % 6
      words 'w<html_word_value>', para 0 plus one ENTITY token
      ('A&amp;B' -> 'A&B' when seed even, 'X&#66;' -> 'XB' when odd);
    - n_headings = 1 + seed % 3 ('H<k>'), n_links = seed % 4 ('L<j>');
    - head (title 'Doc <seed>' + meta), script/style/noscript blocks
      and a comment whose words must NOT count, nested div/li markup,
      and an unclosed <b> to keep the tag-soup path honest."""
    n_paras = 3 + seed % 5
    n_headings = 1 + seed % 3
    n_links = seed % 4
    parts = [
        "<!DOCTYPE html><html><head>",
        f"<title>Doc {seed}</title>",
        '<meta charset="utf-8"><style>body { color: red }</style>',
        "</head><body>",
        "<script>var skip = 1 + 2; // not words</script>",
        "<!-- comment words do not count -->",
        "<noscript>skipped <b>words</b> here</noscript>",
    ]
    for k in range(n_headings):
        parts.append(f"<h{1 + k % 3}>H{k}</h{1 + k % 3}>")
    for p in range(n_paras):
        words = " ".join(
            f"w{html_word_value(seed, p, i)}"
            for i in range(4 + (seed + p) % 6)
        )
        if p == 0:
            words += " A&amp;B" if seed % 2 == 0 else " X&#66;"
            words = "<b>" + words  # unclosed: tag-soup tolerance
        parts.append(f"<p>{words}</p>")
    parts.append("<div><ul>")
    for j in range(n_links):
        parts.append(f'<li><a href="http://ex.test/{seed}/{j}">'
                     f"L{j}</a></li>")
    parts.append("</ul></div></body></html>")
    return "".join(parts)


def _lz4_compress_block(data: bytes) -> bytes:
    """Real greedy LZ4 block compressor (block-format spec): 4-byte
    hash-table matcher, 65535-offset window, spec end restrictions
    (last 5 bytes literal, no match starting past len-12)."""
    n = len(data)
    out = bytearray()
    table: dict[bytes, int] = {}
    anchor = 0
    i = 0

    def _emit(lit_end: int, match_len: int, offset: int) -> None:
        lit_len = lit_end - anchor
        tok_lit = min(lit_len, 15)
        tok_mat = min(match_len - 4, 15) if match_len else 0
        out.append((tok_lit << 4) | tok_mat)
        rem = lit_len - 15
        while rem >= 0:
            out.append(min(rem, 255))
            if rem < 255:
                break
            rem -= 255
        out.extend(data[anchor:lit_end])
        if match_len:
            out.extend(offset.to_bytes(2, "little"))
            rem = match_len - 4 - 15
            while rem >= 0:
                out.append(min(rem, 255))
                if rem < 255:
                    break
                rem -= 255

    while i <= n - 12:
        key = data[i:i + 4]
        cand = table.get(key)
        table[key] = i
        if cand is not None and i - cand <= 65535 \
                and data[cand:cand + 4] == key:
            mlen = 4
            limit = n - 5
            while i + mlen < limit \
                    and data[cand + mlen] == data[i + mlen]:
                mlen += 1
            _emit(i, mlen, i - cand)
            i += mlen
            anchor = i
        else:
            i += 1
    _emit(n, 0, 0)
    return bytes(out)


def lz4_content_rule(seed: int) -> bytes:
    """Planted frame content: a 200-299-byte segment repeated 3x
    (real LZ77 matches) plus a 50-69-byte incompressible-ish tail."""
    n_a = 200 + seed % 100
    n_t = 50 + seed % 20
    seg = bytes((seed + 7 * i) % 251 for i in range(n_a))
    tail = bytes((3 * seed + 11 * i) % 251 for i in range(n_t))
    return seg * 3 + tail


@_functools.lru_cache(maxsize=512)
def make_lz4(seed: int) -> bytes:
    """Serialize a REAL LZ4 frame of lz4_content_rule bytes: FLG with
    content-size + block-checksum + content-checksum + independent
    blocks, BD 64KB, xxh32 HC byte, 512-byte block segmentation with
    every 3rd block forced to the stored (uncompressed-bit) escape,
    per-block xxh32, end mark, content xxh32."""
    from google_analytics_to_s3_spark.operators.lz4 import xxh32

    content = lz4_content_rule(seed)
    flg = (0b01 << 6) | (1 << 5) | (1 << 4) | (1 << 3) | (1 << 2)
    bd = 4 << 4
    desc = bytes([flg, bd]) + len(content).to_bytes(8, "little")
    out = bytearray((0x184D2204).to_bytes(4, "little"))
    out += desc
    out.append((xxh32(desc) >> 8) & 0xFF)
    for bi, off in enumerate(range(0, len(content), 512)):
        raw = content[off:off + 512]
        comp = _lz4_compress_block(raw)
        if bi % 3 == 2 or len(comp) >= len(raw):
            out += (0x80000000 | len(raw)).to_bytes(4, "little")
            out += raw
            out += xxh32(raw).to_bytes(4, "little")
        else:
            out += len(comp).to_bytes(4, "little")
            out += comp
            out += xxh32(comp).to_bytes(4, "little")
    out += (0).to_bytes(4, "little")
    out += xxh32(content).to_bytes(4, "little")
    return bytes(out)


def pdf_word_value(seed: int, p: int, i: int) -> int:
    """Planted word id for make_pdf page p, word i (0..99); the token
    is 'w' + str(value) -> length 2 or 3."""
    return (seed * 7 + p * 13 + i * 3) % 100


@_functools.lru_cache(maxsize=512)
def make_pdf(seed: int) -> bytes:
    """Serialize a REAL PDF 1.4 with planted text the oracle can
    replay: n_pages = 2 + seed%3 pages, page p carrying 5+(seed+p)%7
    words 'w<pdf_word_value>' split across Tj, a kerned TJ array
    (one word split mid-token — concatenation is part of the spec
    being tested), and the ' (move-show) operator; page 0 adds an
    OCTAL-escape token (A\\051B -> 'A)B') and a HEX-string token
    (<4858> -> 'HX'). Content streams are zlib FlateDecode except
    seed%5==0 (raw), page 0's /Length is an INDIRECT reference, and
    seed%4==0 appends an incremental update (second xref + /Prev
    chain). Object count is 4 + 2*n_pages ('n' xref entries)."""
    import zlib as _zlib

    n_pages = 2 + seed % 3
    objs: dict[int, bytes] = {}
    kids = " ".join(f"{4 + 2*p} 0 R" for p in range(n_pages))
    objs[1] = b"<< /Type /Catalog /Pages 2 0 R >>"
    objs[2] = (f"<< /Type /Pages /Kids [{kids}] /Count {n_pages} >>"
               ).encode()
    objs[3] = (b"<< /Type /Font /Subtype /Type1 "
               b"/BaseFont /Helvetica >>")
    len_obj = 4 + 2 * n_pages
    for p in range(n_pages):
        nw = 5 + (seed + p) % 7
        words = [f"w{pdf_word_value(seed, p, i)}" for i in range(nw)]
        split = words[2]
        lines = [
            b"BT /F1 12 Tf 72 720 Td",
            b"(" + " ".join(words[:2]).encode() + b") Tj",
            b"0 -14 Td",
            b"[(" + split[:2].encode() + b") -250 ("
            + split[2:].encode() + b")] TJ",
            b"(" + " ".join(words[3:]).encode() + b") '",
        ]
        if p == 0:
            lines += [b"0 -14 Td", b"(A\\051B) Tj",
                      b"0 -14 Td", b"<4858> Tj"]
        lines.append(b"ET")
        content = b"\n".join(lines)
        if seed % 5 == 0:
            filt, data = b"", content
        else:
            filt, data = b" /Filter /FlateDecode", \
                _zlib.compress(content)
        if p == 0:
            objs[len_obj] = str(len(data)).encode()
            hdr = (f"<< /Length {len_obj} 0 R".encode() + filt
                   + b" >>")
        else:
            hdr = f"<< /Length {len(data)}".encode() + filt + b" >>"
        objs[5 + 2 * p] = (hdr + b"\nstream\n" + data
                           + b"\nendstream")
        objs[4 + 2 * p] = (
            f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            f"/Resources << /Font << /F1 3 0 R >> >> "
            f"/Contents {5 + 2*p} 0 R >>").encode()
    out = bytearray(b"%PDF-1.4\n%\xe2\xe3\xcf\xd3\n")
    offsets: dict[int, int] = {}
    for num in sorted(objs):
        offsets[num] = len(out)
        out += f"{num} 0 obj\n".encode() + objs[num] + b"\nendobj\n"
    xref1 = len(out)
    size = len_obj + 1
    out += f"xref\n0 {size}\n".encode()
    out += b"0000000000 65535 f \n"
    for num in range(1, size):
        out += f"{offsets[num]:010d} 00000 n \n".encode()
    out += (f"trailer\n<< /Size {size} /Root 1 0 R >>\n"
            f"startxref\n{xref1}\n%%EOF\n").encode()
    if seed % 4 == 0:  # incremental update: re-write the catalog
        newoff = len(out)
        out += b"1 0 obj\n" + objs[1] + b"\nendobj\n"
        xref2 = len(out)
        out += (b"xref\n0 2\n0000000000 65535 f \n"
                + f"{newoff:010d} 00000 n \n".encode())
        out += (f"trailer\n<< /Size {size} /Root 1 0 R "
                f"/Prev {xref1} >>\nstartxref\n{xref2}\n%%EOF\n"
                ).encode()
    return bytes(out)


@_functools.lru_cache(maxsize=512)
def charset_doc_text(seed: int) -> str:
    """Planted text for make_encoded_doc: nw = 10 + seed%10 tokens
    'w<(seed*7+3w)%100>', every third token (w%3==0) carrying one
    trailing non-ASCII char chr(0xE0 + (seed+w)%20) — valid in
    UTF-8/16/32 and windows-1252 alike. Variant 5 wraps the words in
    an HTML shell with a meta charset declaration."""
    nw = 10 + seed % 10
    toks = []
    for w in range(nw):
        t = f"w{(seed * 7 + 3 * w) % 100}"
        if w % 3 == 0:
            t += chr(0xE0 + (seed + w) % 20)
        toks.append(t)
    body = " ".join(toks)
    if seed % 6 == 5:
        return ("<html><head><meta charset=windows-1252></head>"
                "<body>" + body + "</body></html>")
    return body


@_functools.lru_cache(maxsize=512)
def make_encoded_doc(seed: int) -> bytes:
    """Serialize charset_doc_text(seed) in encoding variant seed%6:
    0 UTF-8 bare, 1 UTF-8 + BOM, 2 UTF-16-LE + BOM, 3 UTF-16-BE +
    BOM, 4 windows-1252 bare (heuristic fallback), 5 windows-1252
    with an HTML meta charset declaration (prescan)."""
    text = charset_doc_text(seed)
    v = seed % 6
    if v == 0:
        return text.encode("utf-8")
    if v == 1:
        return b"\xef\xbb\xbf" + text.encode("utf-8")
    if v == 2:
        return b"\xff\xfe" + text.encode("utf-16-le")
    if v == 3:
        return b"\xfe\xff" + text.encode("utf-16-be")
    return text.encode("cp1252")


# snappy_compress_block moved to operators/snappy.py (r13): the
# from-scratch parquet writer needs it production-side; fixtures
# keep using the same single implementation.
from ..operators.snappy import snappy_compress_block  # noqa: E402,F401


def snappy_payload_rule(seed: int, k: int) -> bytes:
    """Planted chunk payload k for make_snappy: regime by k%3 —
    repetitive (copy-heavy), pseudo-random bytes (literal-heavy),
    text-ish with planted token ids."""
    n = 200 + (seed * 13 + 29 * k) % 400
    if k % 3 == 0:
        unit = bytes((seed + k + j) % 256 for j in range(7))
        return (unit * (n // 7 + 1))[:n]
    if k % 3 == 1:
        return bytes((seed * 31 + k * 7 + j * 11 + (j * j) % 251) % 256
                     for j in range(n))
    words = [f"tok{(seed + k * 5 + w) % 50}" for w in range(n // 6)]
    return (" ".join(words)).encode()[:n]


@_functools.lru_cache(maxsize=512)
def make_snappy(seed: int) -> bytes:
    """Serialize a REAL snappy FRAMING-format stream: 2 + seed%4
    data chunks of snappy_payload_rule payloads (chunk k compressed
    when (seed + k) % 3 != 0, stored uncompressed otherwise — both
    carry the masked CRC-32C), a padding chunk after every 2nd data
    chunk, and a repeated stream identifier mid-stream on
    seed%5==0 (legal; readers skip it)."""
    from google_analytics_to_s3_spark.operators.snappy import crc32c

    def masked(b: bytes) -> int:
        c = crc32c(b)
        return (((c >> 15) | (c << 17)) + 0xA282EAD8) & 0xFFFFFFFF

    out = bytearray(b"\xff\x06\x00\x00sNaPpY")
    nk = 2 + seed % 4
    for k in range(nk):
        blob = snappy_payload_rule(seed, k)
        if (seed + k) % 3 != 0:
            body = masked(blob).to_bytes(4, "little") \
                + snappy_compress_block(blob)
            out += bytes([0x00]) + len(body).to_bytes(3, "little") \
                + body
        else:
            body = masked(blob).to_bytes(4, "little") + blob
            out += bytes([0x01]) + len(body).to_bytes(3, "little") \
                + body
        if k % 2 == 1:
            out += bytes([0xFE]) + (3).to_bytes(3, "little") \
                + b"\x00\x00\x00"
    if seed % 5 == 0:
        out += b"\xff\x06\x00\x00sNaPpY"
    return bytes(out)


def _pdf_rl_encode(data: bytes) -> bytes:
    """RunLengthDecode inverse (PDF §7.4.5): repeat runs for >= 3
    equal bytes, literal runs otherwise, 128 EOD."""
    out = bytearray()
    i = 0
    n = len(data)
    while i < n:
        run = 1
        while i + run < n and run < 128 and data[i + run] == data[i]:
            run += 1
        if run >= 3:
            out += bytes([257 - run, data[i]])
            i += run
        else:
            lit = i
            while (i < n and i - lit < 128
                   and not (i + 2 < n and data[i] == data[i + 1]
                            == data[i + 2])):
                i += 1
            out += bytes([i - lit - 1]) + data[lit:i]
    out.append(128)
    return bytes(out)


@_functools.lru_cache(maxsize=512)
def make_pdf_filters(seed: int) -> bytes:
    """A make_pdf-style PDF whose page content streams exercise the
    r11 filter set: page p uses filter p % 4 of [LZWDecode (the real
    early-change encoder), ASCIIHexDecode, ASCII85Decode (stdlib
    base64.a85encode — an INDEPENDENT encoder cross-validating the
    decoder), RunLengthDecode]; page 0 additionally chains
    [ASCII85Decode, FlateDecode] (decode order: A85 first). Same
    planted words as make_pdf, so extract_pdf_text output matches
    make_pdf's text exactly."""
    import base64 as _b64
    import zlib as _zlib

    n_pages = 2 + seed % 3
    objs: dict[int, bytes] = {}
    kids = " ".join(f"{4 + 2*p} 0 R" for p in range(n_pages))
    objs[1] = b"<< /Type /Catalog /Pages 2 0 R >>"
    objs[2] = (f"<< /Type /Pages /Kids [{kids}] /Count {n_pages} >>"
               ).encode()
    objs[3] = (b"<< /Type /Font /Subtype /Type1 "
               b"/BaseFont /Helvetica >>")
    for p in range(n_pages):
        nw = 5 + (seed + p) % 7
        words = [f"w{pdf_word_value(seed, p, i)}" for i in range(nw)]
        split = words[2]
        lines = [
            b"BT /F1 12 Tf 72 720 Td",
            b"(" + " ".join(words[:2]).encode() + b") Tj",
            b"0 -14 Td",
            b"[(" + split[:2].encode() + b") -250 ("
            + split[2:].encode() + b")] TJ",
            b"(" + " ".join(words[3:]).encode() + b") '",
        ]
        if p == 0:
            lines += [b"0 -14 Td", b"(A\\051B) Tj",
                      b"0 -14 Td", b"<4858> Tj"]
        lines.append(b"ET")
        content = b"\n".join(lines)
        if p == 0:
            # chained: written as Flate THEN a85 wrapping; decoder
            # applies /Filter [ASCII85Decode FlateDecode] in order
            data = _b64.a85encode(_zlib.compress(content)) + b"~>"
            filt = b" /Filter [/ASCII85Decode /FlateDecode]"
        elif p % 4 == 0:
            data = _tiff_lzw_encode(content)
            filt = b" /Filter /LZWDecode"
        elif p % 4 == 1:
            data = content.hex().encode() + b">"
            filt = b" /Filter /ASCIIHexDecode"
        elif p % 4 == 2:
            data = _b64.a85encode(content) + b"~>"
            filt = b" /Filter /ASCII85Decode"
        else:
            data = _pdf_rl_encode(content)
            filt = b" /Filter /RunLengthDecode"
        hdr = f"<< /Length {len(data)}".encode() + filt + b" >>"
        objs[5 + 2 * p] = (hdr + b"\nstream\n" + data
                           + b"\nendstream")
        objs[4 + 2 * p] = (
            f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            f"/Resources << /Font << /F1 3 0 R >> >> "
            f"/Contents {5 + 2*p} 0 R >>").encode()
    # page 0's indirect length object slot is unused here; keep the
    # object count at 3 + 2*n_pages
    out = bytearray(b"%PDF-1.4\n%\xe2\xe3\xcf\xd3\n")
    offsets: dict[int, int] = {}
    for num in sorted(objs):
        offsets[num] = len(out)
        out += f"{num} 0 obj\n".encode() + objs[num] + b"\nendobj\n"
    xref1 = len(out)
    size = max(objs) + 1
    out += f"xref\n0 {size}\n".encode()
    out += b"0000000000 65535 f \n"
    for num in range(1, size):
        out += f"{offsets[num]:010d} 00000 n \n".encode()
    out += (f"trailer\n<< /Size {size} /Root 1 0 R >>\n"
            f"startxref\n{xref1}\n%%EOF\n").encode()
    return bytes(out)


@_functools.lru_cache(maxsize=512)
def make_pdf_xrefstream(seed: int) -> bytes:
    """Serialize a REAL PDF 1.5 with the same planted text as
    :func:`make_pdf` (same pages/words, so the oracle replay is
    shared) but modern cross-reference plumbing: every non-stream
    object (catalog, page tree, font, page dicts, page 0's indirect
    /Length integer) is packed into a FlateDecode /ObjStm, the
    content streams stay top-level, and the file ends in a cross-
    reference STREAM (/Type /XRef) instead of a table. Variants:
    /W is [1 3 1] on even seeds and [1 2 1] on odd; the xref stream
    is raw on seed%3==0, PNG-Up-predicted (/Predictor 12) on
    seed%3==1, PNG-Paeth-predicted (/Predictor 14) on seed%3==2;
    /Index is split into two subsections on seed%5==0 (default [0
    Size] otherwise). Live object count = 6 + 2*n_pages (make_pdf's
    4+2n plus the /ObjStm container and the xref stream itself)."""
    import zlib as _zlib

    n_pages = 2 + seed % 3
    len_obj = 4 + 2 * n_pages
    stm_obj = len_obj + 1   # the /ObjStm container
    xref_obj = len_obj + 2  # the /XRef stream
    kids = " ".join(f"{4 + 2*p} 0 R" for p in range(n_pages))
    packed: "list[tuple[int, bytes]]" = [
        (1, b"<< /Type /Catalog /Pages 2 0 R >>"),
        (2, (f"<< /Type /Pages /Kids [{kids}] /Count {n_pages} >>"
             ).encode()),
        (3, b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"),
    ]
    streams: dict[int, bytes] = {}
    for p in range(n_pages):
        nw = 5 + (seed + p) % 7
        words = [f"w{pdf_word_value(seed, p, i)}" for i in range(nw)]
        split = words[2]
        lines = [
            b"BT /F1 12 Tf 72 720 Td",
            b"(" + " ".join(words[:2]).encode() + b") Tj",
            b"0 -14 Td",
            b"[(" + split[:2].encode() + b") -250 ("
            + split[2:].encode() + b")] TJ",
            b"(" + " ".join(words[3:]).encode() + b") '",
        ]
        if p == 0:
            lines += [b"0 -14 Td", b"(A\\051B) Tj",
                      b"0 -14 Td", b"<4858> Tj"]
        lines.append(b"ET")
        content = b"\n".join(lines)
        if seed % 5 == 0:
            filt, data = b"", content
        else:
            filt, data = b" /Filter /FlateDecode", \
                _zlib.compress(content)
        if p == 0:
            packed.append((len_obj, str(len(data)).encode()))
            hdr = (f"<< /Length {len_obj} 0 R".encode() + filt
                   + b" >>")
        else:
            hdr = f"<< /Length {len(data)}".encode() + filt + b" >>"
        streams[5 + 2 * p] = (hdr + b"\nstream\n" + data
                              + b"\nendstream")
        packed.append((4 + 2 * p, (
            f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            f"/Resources << /Font << /F1 3 0 R >> >> "
            f"/Contents {5 + 2*p} 0 R >>").encode()))
    packed.sort()
    bodies = [b for _, b in packed]
    rel = []
    at = 0
    for b in bodies:
        rel.append(at)
        at += len(b) + 1
    header = " ".join(f"{num} {off}"
                      for (num, _), off in zip(packed, rel)).encode()
    header += b"\n"
    objstm_payload = header + b"\n".join(bodies)
    objstm_z = _zlib.compress(objstm_payload)
    objstm = (
        f"<< /Type /ObjStm /N {len(packed)} /First {len(header)} "
        f"/Length {len(objstm_z)} /Filter /FlateDecode >>".encode()
        + b"\nstream\n" + objstm_z + b"\nendstream")

    out = bytearray(b"%PDF-1.5\n%\xe2\xe3\xcf\xd3\n")
    offsets: dict[int, int] = {}
    for num in sorted(streams):
        offsets[num] = len(out)
        out += f"{num} 0 obj\n".encode() + streams[num] + b"\nendobj\n"
    offsets[stm_obj] = len(out)
    out += f"{stm_obj} 0 obj\n".encode() + objstm + b"\nendobj\n"
    xref_off = len(out)
    offsets[xref_obj] = xref_off

    # xref entries for 0..xref_obj: [type, field2, field3]
    idx_of = {num: i for i, (num, _) in enumerate(packed)}
    entries: "list[tuple[int, int, int]]" = []
    for num in range(xref_obj + 1):
        if num == 0:
            # gen 255 fits the 1-byte field-3 width of /W [1 3 1]
            entries.append((0, 0, 255))
        elif num in idx_of:
            entries.append((2, stm_obj, idx_of[num]))
        else:
            entries.append((1, offsets[num], 0))
    w = (1, 3, 1) if seed % 2 == 0 else (1, 2, 1)
    rows = [b"".join(f.to_bytes(width, "big")
                     for f, width in zip(e, w)) for e in entries]
    size = xref_obj + 1
    if seed % 5 == 0:
        k = 2 + seed % 3
        index = f" /Index [0 {k} {k} {size - k}]"
    else:
        index = ""
    pred = seed % 3
    rowlen = sum(w)
    if pred == 0:
        body = b"".join(rows)
        parms = ""
    else:
        ft = 2 if pred == 1 else 4  # PNG Up / Paeth
        body = bytearray()
        prev = bytes(rowlen)
        for row in rows:
            enc = bytearray([ft])
            for i in range(rowlen):
                if ft == 2:
                    pr = prev[i]
                else:
                    a = row[i - 1] if i >= 1 else 0
                    b_ = prev[i]
                    c = prev[i - 1] if i >= 1 else 0
                    q = a + b_ - c
                    pa, pb, pc = abs(q - a), abs(q - b_), abs(q - c)
                    pr = a if pa <= pb and pa <= pc else \
                        (b_ if pb <= pc else c)
                enc.append((row[i] - pr) & 0xFF)
            body += enc
            prev = row
        body = bytes(body)
        parms = (f" /DecodeParms << /Predictor {10 + ft} "
                 f"/Columns {rowlen} >>")
    body_z = _zlib.compress(body)
    xref_dict = (
        f"<< /Type /XRef /Size {size} /Root 1 0 R{index} "
        f"/W [{w[0]} {w[1]} {w[2]}]{parms} "
        f"/Length {len(body_z)} /Filter /FlateDecode >>").encode()
    out += (f"{xref_obj} 0 obj\n".encode() + xref_dict
            + b"\nstream\n" + body_z + b"\nendstream\nendobj\n")
    out += f"startxref\n{xref_off}\n%%EOF\n".encode()
    return bytes(out)


_BitWriterLSB = _LsbBitWriter  # the VP8L tests' name


def _vp8l_complete_code(symbols: list[int]) -> dict[int, int]:
    """Complete canonical code lengths over k>=2 symbols: 2^L - k
    symbols at depth L-1, the rest at depth L (Kraft-exact)."""
    k = len(symbols)
    lg = (k - 1).bit_length()
    n_short = (1 << lg) - k
    return {s: (lg - 1 if i < n_short else lg)
            for i, s in enumerate(sorted(symbols))}


def _vp8l_canonical(lengths: dict[int, int]) -> dict[int, tuple]:
    """Symbol -> (code, length), canonical by (length, symbol)."""
    out = {}
    code = 0
    prev = 0
    for sym in sorted(lengths, key=lambda s: (lengths[s], s)):
        ln = lengths[sym]
        code <<= ln - prev
        prev = ln
        out[sym] = (code, ln)
        code += 1
    return out


_VP8L_CL_ORDER = [17, 18, 0, 1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12,
                  13, 14, 15, 16]


def _vp8l_write_code(bw: "_LsbBitWriter", lengths: dict[int, int],
                     alphabet_size: int) -> dict[int, tuple]:
    """Serialize one prefix-code definition; returns the canonical
    codebook for emission. Uses the SIMPLE form for 1-2 symbols <=
    255, else the NORMAL code-length-code form with 17/18 zero runs."""
    used = sorted(s for s, l in lengths.items() if l > 0)
    if 1 <= len(used) <= 2 and max(used) <= 255:
        bw.write(1, 1)  # simple
        bw.write(len(used) - 1, 1)
        first_8bit = 1 if used[0] > 1 else 0
        bw.write(first_8bit, 1)
        bw.write(used[0], 8 if first_8bit else 1)
        if len(used) == 2:
            bw.write(used[1], 8)
        if len(used) == 1:
            return {used[0]: (0, 0)}
        return {used[0]: (0, 1), used[1]: (1, 1)}
    bw.write(0, 1)  # normal
    # code-length symbol stream with zero runs
    stream: list[tuple[int, int, int]] = []  # (cl_sym, extra_n, extra_v)
    sym = 0
    while sym < alphabet_size:
        ln = lengths.get(sym, 0)
        if ln == 0:
            run = 0
            while sym + run < alphabet_size \
                    and lengths.get(sym + run, 0) == 0:
                run += 1
            left = run
            while left >= 11:
                take = min(left, 138)
                stream.append((18, 7, take - 11))
                left -= take
            while left >= 3:
                take = min(left, 10)
                stream.append((17, 3, take - 3))
                left -= take
            for _ in range(left):
                stream.append((0, 0, 0))
            sym += run
        else:
            stream.append((ln, 0, 0))
            sym += 1
    cl_used = sorted({s for s, _, _ in stream})
    if len(cl_used) == 1:
        cl_lengths = {cl_used[0]: 1}
    else:
        cl_lengths = _vp8l_complete_code(cl_used)
    max_pos = max(_VP8L_CL_ORDER.index(s) for s in cl_used)
    num_codes = max(4, max_pos + 1)
    bw.write(num_codes - 4, 4)
    for i in range(num_codes):
        bw.write(cl_lengths.get(_VP8L_CL_ORDER[i], 0), 3)
    bw.write(0, 1)  # use_max_symbol = 0
    cl_book = _vp8l_canonical(cl_lengths) if len(cl_used) > 1 else \
        {cl_used[0]: (0, 0)}
    for s, extra_n, extra_v in stream:
        code, ln = cl_book[s]
        bw.write_codeword(code, ln)
        if extra_n:
            bw.write(extra_v, extra_n)
    return _vp8l_canonical(lengths) if len(used) > 1 else \
        {used[0]: (0, 0)}


def _vp8l_prefix_encode(v: int) -> tuple[int, int, int]:
    """Inverse of the LZ77 length/distance prefix decode: value ->
    (code, extra_bits, extra_value)."""
    if v <= 4:
        return v - 1, 0, 0
    code = 4
    while code < 40:
        extra_bits = (code - 2) >> 1
        offset = (2 + (code & 1)) << extra_bits
        if offset + 1 <= v <= offset + (1 << extra_bits):
            return code, extra_bits, v - offset - 1
        code += 1
    raise ValueError("value out of prefix-code range")


def _vp8l_tokenize(pixels: list[int], w: int, h: int,
                   cache_bits: int, rowcopy: bool) -> list[tuple]:
    """Greedy literal/cache/row-copy tokenizer mirroring the decoder's
    cache-insertion semantics exactly (every emitted pixel inserts)."""
    cache = [0] * (1 << cache_bits) if cache_bits else []
    shift = 32 - cache_bits if cache_bits else 0
    toks: list[tuple] = []

    def _insert(px: int) -> None:
        if cache_bits:
            cache[(0x1E35A7BD * px & 0xFFFFFFFF) >> shift] = px

    i = 0
    n = w * h
    while i < n:
        y, x = divmod(i, w)
        if rowcopy and x == 0 and y > 0 \
                and pixels[i:i + w] == pixels[i - w:i]:
            toks.append(("copy", w, w))
            for j in range(w):
                _insert(pixels[i + j])
            i += w
            continue
        px = pixels[i]
        if cache_bits and cache[(0x1E35A7BD * px & 0xFFFFFFFF)
                                >> shift] == px:
            toks.append(("cache",
                         (0x1E35A7BD * px & 0xFFFFFFFF) >> shift))
        else:
            toks.append(("lit", px))
        _insert(px)
        i += 1
    return toks


def _vp8l_write_image(bw: "_LsbBitWriter", pixels: list[int], w: int,
                      h: int, level0: bool, cache_bits: int,
                      rowcopy: bool) -> None:
    """Serialize one entropy-coded ARGB image (single prefix-code
    group): cache info, meta bit (level 0), 5 code definitions, then
    the token stream."""
    if cache_bits:
        bw.write(1, 1)
        bw.write(cache_bits, 4)
    else:
        bw.write(0, 1)
    if level0:
        bw.write(0, 1)  # no meta prefix codes
    toks = _vp8l_tokenize(pixels, w, h, cache_bits, rowcopy)
    greens: set[int] = set()
    reds: set[int] = set()
    blues: set[int] = set()
    alphas: set[int] = set()
    dists: set[int] = set()
    for t in toks:
        if t[0] == "lit":
            px = t[1]
            greens.add((px >> 8) & 0xFF)
            reds.add((px >> 16) & 0xFF)
            blues.add(px & 0xFF)
            alphas.add((px >> 24) & 0xFF)
        elif t[0] == "copy":
            greens.add(256 + _vp8l_prefix_encode(t[1])[0])
            dists.add(_vp8l_prefix_encode(t[2] + 120)[0])
        else:
            greens.add(280 + t[1])
    cache_size = (1 << cache_bits) if cache_bits else 0

    def _code(symbols: set[int], alphabet: int) -> dict[int, tuple]:
        syms = sorted(symbols) if symbols else [0]
        lengths = {s: 1 for s in syms} if len(syms) == 1 \
            else _vp8l_complete_code(syms)
        return _vp8l_write_code(bw, lengths, alphabet)

    g_book = _code(greens, 256 + 24 + cache_size)
    r_book = _code(reds, 256)
    b_book = _code(blues, 256)
    a_book = _code(alphas, 256)
    d_book = _code(dists, 40)
    for t in toks:
        if t[0] == "lit":
            px = t[1]
            code, ln = g_book[(px >> 8) & 0xFF]
            bw.write_codeword(code, ln)
            code, ln = r_book[(px >> 16) & 0xFF]
            bw.write_codeword(code, ln)
            code, ln = b_book[px & 0xFF]
            bw.write_codeword(code, ln)
            code, ln = a_book[(px >> 24) & 0xFF]
            bw.write_codeword(code, ln)
        elif t[0] == "copy":
            lcode, lbits, lval = _vp8l_prefix_encode(t[1])
            code, ln = g_book[256 + lcode]
            bw.write_codeword(code, ln)
            bw.write(lval, lbits)
            dcode, dbits, dval = _vp8l_prefix_encode(t[2] + 120)
            code, ln = d_book[dcode]
            bw.write_codeword(code, ln)
            bw.write(dval, dbits)
        else:
            code, ln = g_book[280 + t[1]]
            bw.write_codeword(code, ln)


def _vp8l_write_image_meta(bw: "_LsbBitWriter", pixels: list[int],
                           w: int, h: int, cache_bits: int,
                           meta_bits: int) -> None:
    """Serialize a level-0 entropy-coded image with META PREFIX
    CODES: a 2-group entropy subimage (group = (bx + by) % 2), two
    full 5-code prefix groups, and a token stream that switches
    books by the block of each token's start position."""
    if cache_bits:
        bw.write(1, 1)
        bw.write(cache_bits, 4)
    else:
        bw.write(0, 1)
    bw.write(1, 1)  # meta prefix codes present
    bw.write(meta_bits - 2, 3)
    mw = (w + (1 << meta_bits) - 1) >> meta_bits
    mh = (h + (1 << meta_bits) - 1) >> meta_bits
    idx_px = [0xFF000000 | ((((bx + by) % 2) & 0xFF) << 8)
              for by in range(mh) for bx in range(mw)]
    _vp8l_write_image(bw, idx_px, mw, mh, False, 0, False)
    toks = _vp8l_tokenize(pixels, w, h, cache_bits, True)
    # assign each token to the prefix group of its START position
    grouped: "list[tuple[int, tuple]]" = []
    pos = 0
    for t in toks:
        y, x = divmod(pos, w)
        grouped.append((((x >> meta_bits) + (y >> meta_bits)) % 2, t))
        pos += t[1] if t[0] == "copy" else 1
    cache_size = (1 << cache_bits) if cache_bits else 0
    books = []
    for gi in range(2):
        greens: set[int] = set()
        reds: set[int] = set()
        blues: set[int] = set()
        alphas: set[int] = set()
        dists: set[int] = set()
        for g, t in grouped:
            if g != gi:
                continue
            if t[0] == "lit":
                px = t[1]
                greens.add((px >> 8) & 0xFF)
                reds.add((px >> 16) & 0xFF)
                blues.add(px & 0xFF)
                alphas.add((px >> 24) & 0xFF)
            elif t[0] == "copy":
                greens.add(256 + _vp8l_prefix_encode(t[1])[0])
                dists.add(_vp8l_prefix_encode(t[2] + 120)[0])
            else:
                greens.add(280 + t[1])

        def _code(symbols: set[int], alphabet: int) -> dict[int, tuple]:
            syms = sorted(symbols) if symbols else [0]
            lengths = {s: 1 for s in syms} if len(syms) == 1 \
                else _vp8l_complete_code(syms)
            return _vp8l_write_code(bw, lengths, alphabet)

        books.append((
            _code(greens, 256 + 24 + cache_size),
            _code(reds, 256), _code(blues, 256), _code(alphas, 256),
            _code(dists, 40),
        ))
    for g, t in grouped:
        g_book, r_book, b_book, a_book, d_book = books[g]
        if t[0] == "lit":
            px = t[1]
            for book, val in ((g_book, (px >> 8) & 0xFF),
                              (r_book, (px >> 16) & 0xFF),
                              (b_book, px & 0xFF),
                              (a_book, (px >> 24) & 0xFF)):
                code, ln = book[val]
                bw.write_codeword(code, ln)
        elif t[0] == "copy":
            lcode, lbits, lval = _vp8l_prefix_encode(t[1])
            code, ln = g_book[256 + lcode]
            bw.write_codeword(code, ln)
            bw.write(lval, lbits)
            dcode, dbits, dval = _vp8l_prefix_encode(t[2] + 120)
            code, ln = d_book[dcode]
            bw.write_codeword(code, ln)
            bw.write(dval, dbits)
        else:
            code, ln = g_book[280 + t[1]]
            bw.write_codeword(code, ln)


def webp_cte_rule(seed: int, bx: int, by: int) -> tuple[int, int, int]:
    """Planted ColorTransformElement bytes (g2r, g2b, r2b) for
    make_webp_ext blocks — interpreted as int8 by the transform."""
    return ((seed + bx + 2 * by) % 256,
            (3 * seed + 5 * bx + by) % 256,
            (7 * seed + 3 * bx + 2 * by) % 256)


@_functools.lru_cache(maxsize=512)
def make_webp_ext(seed: int) -> bytes:
    """VP8L streams exercising the r11 gates: variant seed%3 = 0
    COLOR_TRANSFORM (4x4 blocks, planted webp_cte_rule elements), 1
    META PREFIX CODES (two prefix groups over 4x4 blocks, group =
    (bx+by)%2), 2 COLOR_TRANSFORM chained with SUBTRACT_GREEN
    (stream order [COLOR, SG]; the decoder inverts SG first). Same
    planted webp_pixel_rule raster as make_webp, so the oracle's
    rgb_sum replay is shared; 6-bit color cache + row copies
    throughout."""
    from google_analytics_to_s3_spark.operators.webp import _i8

    variant = seed % 3
    w = 10 + seed % 9
    h = 8 + seed % 7
    bw = _LsbBitWriter()
    bw.write(w - 1, 14)
    bw.write(h - 1, 14)
    bw.write(0, 1)
    bw.write(0, 3)
    argb = [0xFF000000 | (r << 16) | (g << 8) | b
            for y in range(h) for x in range(w)
            for r, g, b in (webp_pixel_rule(seed, x, y),)]
    coded = argb
    if variant in (0, 2):  # COLOR_TRANSFORM forward
        size_bits = 2
        bwb = (w + 3) >> 2
        bhb = (h + 3) >> 2
        ctes = [webp_cte_rule(seed, bx, by)
                for by in range(bhb) for bx in range(bwb)]
        out = []
        for i, p in enumerate(coded):
            y, x = divmod(i, w)
            g2r, g2b, r2b = ctes[(y >> 2) * bwb + (x >> 2)]
            g8 = _i8((p >> 8) & 0xFF)
            r = (p >> 16) & 0xFF
            b = p & 0xFF
            nr = (r - ((_i8(g2r) * g8) >> 5)) & 0xFF
            nb = (b - ((_i8(g2b) * g8) >> 5)
                  - ((_i8(r2b) * _i8(r)) >> 5)) & 0xFF
            out.append((p & 0xFF00FF00) | (nr << 16) | nb)
        coded = out
        bw.write(1, 1)
        bw.write(1, 2)  # COLOR_TRANSFORM
        bw.write(size_bits - 2, 3)
        cte_px = [0xFF000000 | (r2b << 16) | (g2b << 8) | g2r
                  for g2r, g2b, r2b in ctes]
        _vp8l_write_image(bw, cte_px, bwb, bhb, False, 0, False)
    if variant == 2:  # SUBTRACT_GREEN on top (read after COLOR)
        out = []
        for p in coded:
            g = (p >> 8) & 0xFF
            r = (((p >> 16) & 0xFF) - g) & 0xFF
            b = ((p & 0xFF) - g) & 0xFF
            out.append((p & 0xFF00FF00) | (r << 16) | b)
        coded = out
        bw.write(1, 1)
        bw.write(2, 2)  # SUBTRACT_GREEN
    bw.write(0, 1)  # end of transforms
    if variant == 1:
        _vp8l_write_image_meta(bw, coded, w, h, cache_bits=6,
                               meta_bits=2)
    else:
        _vp8l_write_image(bw, coded, w, h, True, 6, rowcopy=True)
    payload = b"\x2f" + bw.tobytes()
    chunks = bytearray(b"VP8L" + len(payload).to_bytes(4, "little")
                       + payload)
    if len(payload) & 1:
        chunks += b"\x00"
    return bytes(b"RIFF" + (4 + len(chunks)).to_bytes(4, "little")
                 + b"WEBP" + chunks)


def webp_pixel_rule(seed: int, x: int, y: int) -> tuple[int, int, int]:
    """Planted RGB for make_webp variants 0-2; rows with y%4==3
    duplicate the previous row (real LZ77 row copies)."""
    ye = y - 1 if y % 4 == 3 else y
    return ((seed + 11 * x + 17 * ye) % 256,
            (3 * seed + 7 * x + 5 * ye) % 256,
            (seed + 13 * ye + x // 3) % 256)


def webp_palette_rule(seed: int, i: int) -> tuple[int, int, int]:
    """Planted palette color i for make_webp variant 3."""
    return ((seed + 31 * i) % 256, (5 * seed + 13 * i) % 256,
            (seed + 7 * i) % 256)


@_functools.lru_cache(maxsize=512)
def make_webp(seed: int) -> bytes:
    """Serialize a REAL WebP (VP8L lossless) file: variant seed%4 =
    0 plain, 1 SUBTRACT_GREEN, 2 PREDICTOR (4x4 blocks, mode =
    (seed+bx+3*by)%14 — all 14 modes exercised across seeds), 3
    COLOR_INDEXING (17-24 entry delta-coded palette). All variants
    use a 6-bit color cache; variants 0-2 add LZ77 row copies via the
    y%4==3 duplicate rows. seed%5==0 wraps the stream in a VP8X
    extended header. The token stream mirrors the decoder's cache
    semantics exactly (operators/webp.py)."""
    from google_analytics_to_s3_spark.operators.webp import (
        _sub_px,
        predict_px,
    )

    variant = seed % 4
    w = 10 + seed % 9
    h = 8 + seed % 7
    bw = _LsbBitWriter()
    bw.write(w - 1, 14)
    bw.write(h - 1, 14)
    bw.write(0, 1)  # alpha hint
    bw.write(0, 3)  # version
    if variant == 3:
        pal_n = 17 + seed % 8
        palette = [(0xFF << 24) | (r << 16) | (g << 8) | b
                   for r, g, b in (webp_palette_rule(seed, i)
                                   for i in range(pal_n))]
        coded = [0xFF000000 | ((((x + 2 * y) % pal_n) & 0xFF) << 8)
                 for y in range(h) for x in range(w)]
        deltas = []
        prev = 0
        for p in palette:
            deltas.append(_sub_px(p, prev))
            prev = p
        bw.write(1, 1)
        bw.write(3, 2)
        bw.write(pal_n - 1, 8)
        _vp8l_write_image(bw, deltas, pal_n, 1, False, 0, False)
    else:
        argb = [0xFF000000 | (r << 16) | (g << 8) | b
                for y in range(h) for x in range(w)
                for r, g, b in (webp_pixel_rule(seed, x, y),)]
        if variant == 1:
            coded = []
            for p in argb:
                g = (p >> 8) & 0xFF
                r = (((p >> 16) & 0xFF) - g) & 0xFF
                b = ((p & 0xFF) - g) & 0xFF
                coded.append((p & 0xFF00FF00) | (r << 16) | b)
            bw.write(1, 1)
            bw.write(2, 2)
        elif variant == 2:
            size_bits = 2
            bw_blocks = (w + 3) >> 2
            bh_blocks = (h + 3) >> 2
            modes = [(seed + bx + 3 * by) % 14
                     for by in range(bh_blocks)
                     for bx in range(bw_blocks)]
            coded = []
            for y in range(h):
                for x in range(w):
                    i = y * w + x
                    if x == 0 and y == 0:
                        pred = 0xFF000000
                    elif y == 0:
                        pred = argb[i - 1]
                    elif x == 0:
                        pred = argb[i - w]
                    else:
                        mode = modes[(y >> size_bits) * bw_blocks
                                     + (x >> size_bits)]
                        tr = argb[i - w + 1] if x + 1 < w \
                            else argb[y * w]
                        pred = predict_px(mode, argb[i - 1],
                                          argb[i - w],
                                          argb[i - w - 1], tr)
                    coded.append(_sub_px(argb[i], pred))
            mode_px = [0xFF000000 | (m << 8) for m in modes]
            bw.write(1, 1)
            bw.write(0, 2)
            bw.write(size_bits - 2, 3)
            _vp8l_write_image(bw, mode_px, bw_blocks, bh_blocks,
                              False, 0, False)
        else:
            coded = argb
    bw.write(0, 1)  # end of transforms
    _vp8l_write_image(bw, coded, w, h, True, 6,
                      rowcopy=variant != 3)
    payload = b"\x2f" + bw.tobytes()
    chunks = bytearray()
    if seed % 5 == 0:
        body = (bytes([0]) + b"\x00\x00\x00"
                + (w - 1).to_bytes(3, "little")
                + (h - 1).to_bytes(3, "little"))
        chunks += b"VP8X" + len(body).to_bytes(4, "little") + body
    chunks += b"VP8L" + len(payload).to_bytes(4, "little") + payload
    if len(payload) & 1:
        chunks += b"\x00"
    return bytes(b"RIFF" + (4 + len(chunks)).to_bytes(4, "little")
                 + b"WEBP" + chunks)


def _ebml_id(eid: int) -> bytes:
    return eid.to_bytes((eid.bit_length() + 7) // 8, "big")


def _ebml_size(n: int) -> bytes:
    for length in range(1, 9):
        if n < (1 << (7 * length)) - 1:
            return ((1 << (7 * length)) | n).to_bytes(length, "big")
    raise ValueError("EBML size too large")


def _ebml(eid: int, payload: bytes) -> bytes:
    return _ebml_id(eid) + _ebml_size(len(payload)) + payload


def _ebml_uint(v: int) -> bytes:
    return v.to_bytes(max(1, (v.bit_length() + 7) // 8), "big")


def _mkv_simpleblock(track: int, rel: int, frame: bytes) -> bytes:
    return _ebml(0xA3, bytes([0x80 | track])
                 + rel.to_bytes(2, "big", signed=True) + b"\x80"
                 + frame)


def _mkv_blockgroup(track: int, rel: int, frame: bytes) -> bytes:
    inner = _ebml(0xA1, bytes([0x80 | track])
                  + rel.to_bytes(2, "big", signed=True) + b"\x00"
                  + frame)
    return _ebml(0xA0, inner)


def _mkv_header(doc_type: bytes, tracks: list[tuple]) -> bytes:
    """EBML header + the Segment prefix (Info + Tracks); ``tracks``
    is [(number, type, codec_id)]."""
    ebml_hdr = _ebml(0x1A45DFA3,
                     _ebml(0x4286, _ebml_uint(1))        # EBMLVersion
                     + _ebml(0x42F7, _ebml_uint(1))      # ReadVersion
                     + _ebml(0x4282, doc_type))          # DocType
    info = _ebml(0x1549A966, _ebml(0x2AD7B1,
                                   _ebml_uint(1_000_000)))
    entries = b"".join(
        _ebml(0xAE, _ebml(0xD7, _ebml_uint(num))
              + _ebml(0x83, _ebml_uint(ttype))
              + _ebml(0x86, codec.encode()))
        for num, ttype, codec in tracks
    )
    return ebml_hdr, info + _ebml(0x1654AE6B, entries)


@_functools.lru_cache(maxsize=512)
def make_mkv(seed: int) -> bytes:
    """Serialize a REAL Matroska file with planted demux counts: a
    video (1, V_UNCOMPRESSED) and an audio (2, A_PCM/INT/LIT) track,
    2+seed%2 clusters; cluster c carries 3+(seed+c)%3 video frames of
    40+(seed+7c+3j)%13 bytes and 2+(seed+c)%2 audio frames of
    30+(seed+5c+7j)%17 bytes, interleaved; every 3rd block overall is
    written as BlockGroup>Block instead of SimpleBlock."""
    hdr, seg_prefix = _mkv_header(
        b"matroska", [(1, 1, "V_UNCOMPRESSED"), (2, 2, "A_PCM/INT/LIT")])
    clusters = b""
    gidx = 0
    for c in range(2 + seed % 2):
        blocks = []
        nv = 3 + (seed + c) % 3
        na = 2 + (seed + c) % 2
        for j in range(max(nv, na)):
            if j < nv:
                lv = 40 + (seed + 7 * c + 3 * j) % 13
                frame = bytes((seed + 11 * c + 5 * j + 3 * k) % 256
                              for k in range(lv))
                blocks.append((1, j * 40, frame))
            if j < na:
                la = 30 + (seed + 5 * c + 7 * j) % 17
                frame = bytes((2 * seed + 7 * c + 3 * j + 5 * k) % 256
                              for k in range(la))
                blocks.append((2, j * 40 + 20, frame))
        body = _ebml(0xE7, _ebml_uint(c * 1000))
        for track, rel, frame in blocks:
            if gidx % 3 == 2:
                body += _mkv_blockgroup(track, rel, frame)
            else:
                body += _mkv_simpleblock(track, rel, frame)
            gidx += 1
        clusters += _ebml(0x1F43B675, body)
    return hdr + _ebml(0x18538067, seg_prefix + clusters)


@_functools.lru_cache(maxsize=512)
def make_mkv_mp3(seed: int, n_frames: int | None = None) -> bytes:
    """Serialize a REAL WebM-style container whose A_MPEG/L3 track
    carries a genuine MP3 stream (make_mp3) split into 150-byte
    SimpleBlocks — byte-exact reassembly feeds the real Layer III
    decoder (the MP4/AVI chain discipline)."""
    if n_frames is None:
        n_frames = 2 + seed % 3
    hdr, seg_prefix = _mkv_header(b"matroska", [(1, 2, "A_MPEG/L3")])
    mp3 = make_mp3(seed % 1000, n_frames=n_frames, stereo=False,
                   id3=False)
    chunks = [mp3[i:i + 150] for i in range(0, len(mp3), 150)]
    clusters = b""
    for c in range(0, len(chunks), 2):
        body = _ebml(0xE7, _ebml_uint(c * 500))
        for j, frame in enumerate(chunks[c:c + 2]):
            body += _mkv_simpleblock(1, j * 26, frame)
        clusters += _ebml(0x1F43B675, body)
    return hdr + _ebml(0x18538067, seg_prefix + clusters)


def _ts_packets(pid: int, data: bytes, cc_start: int = 0) -> bytes:
    """Packetize one PES into 188-byte TS packets: PUSI on the first,
    adaptation-field stuffing on the last partial packet."""
    out = bytearray()
    cc = cc_start
    pos = 0
    first = True
    while pos < len(data):
        chunk = data[pos:pos + 184]
        pos += len(chunk)
        hdr = bytearray(4)
        hdr[0] = 0x47
        hdr[1] = (0x40 if first else 0x00) | (pid >> 8)
        hdr[2] = pid & 0xFF
        if len(chunk) == 184:
            hdr[3] = 0x10 | cc  # payload only
            out += hdr + chunk
        else:
            hdr[3] = 0x30 | cc  # adaptation + payload
            af_len = 184 - len(chunk) - 1
            af = bytes([af_len]) + (
                b"\x00" + b"\xff" * (af_len - 1) if af_len else b"")
            out += hdr + af + chunk
        cc = (cc + 1) % 16
        first = False
    return bytes(out)


def _psi_packet(pid: int, section: bytes) -> bytes:
    """One PSI TS packet: pointer field 0 + section + 0xFF padding."""
    from google_analytics_to_s3_spark.operators.mpegts import (
        crc32_mpeg,
    )

    body = section + crc32_mpeg(section).to_bytes(4, "big")
    payload = b"\x00" + body
    if len(payload) > 184:
        raise ValueError("PSI section too large for one packet")
    pkt = bytearray([0x47, 0x40 | (pid >> 8), pid & 0xFF, 0x10])
    return bytes(pkt) + payload + b"\xff" * (184 - len(payload))


def _pes(stream_id: int, es: bytes) -> bytes:
    """PES packet with an empty header extension (no PTS)."""
    return (b"\x00\x00\x01" + bytes([stream_id])
            + (len(es) + 3).to_bytes(2, "big")
            + b"\x80\x00\x00" + es)


@_functools.lru_cache(maxsize=512)
def make_mpegts(seed: int, n_frames: int | None = None) -> bytes:
    """Serialize a REAL MPEG-TS: PAT (program 1 -> PMT 0x100) and PMT
    (MP3 stream_type 0x03 on PID 0x101 + private data 0x06 on PID
    0x102), both with real CRC-32/MPEG-2; the MP3 elementary stream
    is a genuine make_mp3 stream split into 600-byte PES packets; the
    private stream is 400+seed%200 planted rule bytes in one PES.
    Adaptation-field stuffing closes every partial packet."""
    if n_frames is None:
        n_frames = 2 + seed % 3

    def _sec(table_id: int, body: bytes) -> bytes:
        # section_length counts bytes after it INCLUDING the CRC
        sec_len = len(body) + 5 + 4
        return (bytes([table_id]) + (0xB000 | sec_len).to_bytes(2, "big")
                + (1).to_bytes(2, "big") + b"\xc1\x00\x00" + body)

    pat = _sec(0x00, (1).to_bytes(2, "big")
               + (0xE000 | 0x100).to_bytes(2, "big"))
    pmt_body = ((0xE000 | 0x101).to_bytes(2, "big") + b"\xf0\x00"
                + bytes([0x03]) + (0xE000 | 0x101).to_bytes(2, "big")
                + b"\xf0\x00"
                + bytes([0x06]) + (0xE000 | 0x102).to_bytes(2, "big")
                + b"\xf0\x00")
    pmt = _sec(0x02, pmt_body)
    out = bytearray(_psi_packet(0, pat))
    out += _psi_packet(0x100, pmt)
    mp3 = make_mp3(seed % 1000, n_frames=n_frames, stereo=False,
                   id3=False)
    cc = 0
    for off in range(0, len(mp3), 600):
        pes = _pes(0xC0, mp3[off:off + 600])
        pkts = _ts_packets(0x101, pes, cc)
        cc = (cc + len(pkts) // 188) % 16
        out += pkts
    priv_len = 400 + seed % 200
    priv = bytes((3 * seed + 7 * k) % 256 for k in range(priv_len))
    out += _ts_packets(0x102, _pes(0xBD, priv))
    return bytes(out)


@_functools.lru_cache(maxsize=512)
def make_flv(seed: int, n_frames: int | None = None) -> bytes:
    """Serialize a REAL FLV: header (audio+video flags), MP3 audio
    tags (sound format 2, a genuine make_mp3 stream split into
    500-byte tags) interleaved with 4+seed%3 video tags (codec 2 =
    Sorenson header byte + planted rule bytes of 50+(seed+j)%23),
    video timestamps 1000+33j so max_ts is closed-form; every tag
    carries a correct PreviousTagSize back-pointer."""
    if n_frames is None:
        n_frames = 2 + seed % 3
    mp3 = make_mp3(seed % 1000, n_frames=n_frames, stereo=False,
                   id3=False)

    def _tag(tag_type: int, ts: int, data: bytes) -> bytes:
        return (bytes([tag_type]) + len(data).to_bytes(3, "big")
                + (ts & 0xFFFFFF).to_bytes(3, "big")
                + bytes([(ts >> 24) & 0xFF]) + b"\x00\x00\x00"
                + data + (11 + len(data)).to_bytes(4, "big"))

    out = bytearray(b"FLV\x01\x05" + (9).to_bytes(4, "big")
                    + (0).to_bytes(4, "big"))
    audio_chunks = [mp3[i:i + 500] for i in range(0, len(mp3), 500)]
    n_video = 4 + seed % 3
    for j in range(max(len(audio_chunks), n_video)):
        if j < len(audio_chunks):
            # sound header: format 2 (MP3), 44kHz (3), 16-bit, mono
            out += _tag(8, j * 26, bytes([0x2E]) + audio_chunks[j])
        if j < n_video:
            lv = 50 + (seed + j) % 23
            body = bytes([0x12]) + bytes(
                (seed + 9 * j + 5 * k) % 256 for k in range(lv))
            out += _tag(9, 1000 + 33 * j, body)
    return bytes(out)


def subtitle_word_value(seed: int, i: int, j: int) -> int:
    """Planted word id for subtitle cue i, word j (0..99)."""
    return (seed * 3 + i * 7 + j * 5) % 100


def _subtitle_cues(seed: int) -> list[tuple[int, int, list[str]]]:
    """Planted cues: 4+seed%5 cues, cue i at start i*2000+seed%1000
    for 500+(seed+i)%1500 ms carrying 3+(seed+i)%4 words."""
    cues = []
    for i in range(4 + seed % 5):
        start = i * 2000 + seed % 1000
        dur = 500 + (seed + i) % 1500
        words = [f"s{subtitle_word_value(seed, i, j)}"
                 for j in range(3 + (seed + i) % 4)]
        cues.append((start, start + dur, words))
    return cues


def _fmt_ts(ms: int, sep: str) -> str:
    h, rem = divmod(ms, 3600_000)
    m, rem = divmod(rem, 60_000)
    s, ms = divmod(rem, 1000)
    return f"{h:02d}:{m:02d}:{s:02d}{sep}{ms:03d}"


@_functools.lru_cache(maxsize=512)
def make_srt(seed: int) -> str:
    """Planted SubRip file: numbered cues, comma-millisecond timing
    lines, multi-line payloads (words split across two lines), CRLF
    endings, and a junk block the parser must tolerate."""
    blocks = []
    for n, (start, end, words) in enumerate(_subtitle_cues(seed), 1):
        half = max(1, len(words) // 2)
        body = " ".join(words[:half]) + "\r\n" + " ".join(words[half:])
        blocks.append(f"{n}\r\n{_fmt_ts(start, ',')} --> "
                      f"{_fmt_ts(end, ',')}\r\n{body}")
    blocks.append("this block has no timing line")
    return "\r\n\r\n".join(blocks) + "\r\n"


@_functools.lru_cache(maxsize=512)
def make_vtt(seed: int) -> str:
    """Planted WebVTT file: magic + NOTE/STYLE blocks, optional cue
    identifiers, dot-millisecond timings with cue settings, and
    inline <b>/<c.yellow>/<v Speaker>/karaoke markup wrapped around
    the SAME planted words as make_srt — the tag stripper must
    recover identical counts."""
    out = ["WEBVTT - planted fixture", "",
           "NOTE these words never count", "",
           "STYLE\n::cue { color: lime }", ""]
    for n, (start, end, words) in enumerate(_subtitle_cues(seed), 1):
        deco = list(words)
        deco[0] = f"<v Speaker{n}>{deco[0]}"
        if len(deco) > 1:
            deco[1] = f"<b>{deco[1]}</b>"
        if len(deco) > 2:
            deco[2] = f"<c.yellow>{deco[2]}</c>"
        body = f"<{_fmt_ts(start, '.')}>" + " ".join(deco)
        out.append(f"cue-{n}")
        out.append(f"{_fmt_ts(start, '.')} --> {_fmt_ts(end, '.')} "
                   f"align:start position:10%")
        out.append(body)
        out.append("")
    return "\n".join(out)


ROBOTS_PROBES = ["/p0/x", "/p1/x", "/p2/x", "/p3/x", "/p4/x",
                 "/p0/pub/page", "/other", "/doc.pdf", "/doc.pdfx"]


@_functools.lru_cache(maxsize=512)
def make_robots(seed: int) -> str:
    """Planted robots.txt: a bot-a group with nk = 2+seed%3 prefix
    Disallows (/p0/ .. /p{nk-1}/), one longer Allow (/p0/pub*), one
    wildcard+anchor Disallow (*.pdf$) and Crawl-delay 1+seed%5; a *
    fallback group; 1+seed%2 sitemaps; comments, junk lines, mixed
    field case and CRLF throughout. Against ROBOTS_PROBES and ua
    'bot-a': allowed = (5 - nk) + 3."""
    nk = 2 + seed % 3
    lines = ["# planted robots fixture", "",
             "Disallow: /ignored-before-any-group/",
             "User-Agent: bot-a"]
    for k in range(nk):
        lines.append(f"disallow: /p{k}/  # inline comment")
    lines.append("Allow: /p0/pub*")
    lines.append("DISALLOW: *.pdf$")
    lines.append(f"Crawl-Delay: {1 + seed % 5}")
    lines.append("")
    lines.append("User-agent: *")
    lines.append("Disallow: /tmp/")
    lines.append("")
    for s in range(1 + seed % 2):
        lines.append(f"Sitemap: https://ex.test/sitemap{s}.xml")
    lines.append("not a field line")
    return "\r\n".join(lines) + "\r\n"


def _exif_tiff(seed: int) -> bytes:
    """The planted EXIF TIFF tree shared by make_jpeg_exif (APP1) and
    make_png_meta (eXIf chunk): byte order II (even seeds) / MM
    (odd), IFD0 with Make 'Cam<seed%50>', Orientation 1+(seed%8),
    DateTime year 2010+seed%15, and an Exif sub-IFD with
    PixelXDimension 640+seed%100, PixelYDimension 480+seed%100,
    ISO 100*(1+seed%8)."""
    bo = "little" if seed % 2 == 0 else "big"
    make = f"Cam{seed % 50}".encode() + b"\x00"
    dt = f"{2010 + seed % 15}:06:15 12:30:45".encode() + b"\x00"

    def w(v: int, n: int) -> bytes:
        return v.to_bytes(n, bo)

    def entry(tag: int, typ: int, count: int, value: bytes) -> bytes:
        return w(tag, 2) + w(typ, 2) + w(count, 4) \
            + value.ljust(4, b"\x00")

    ifd0_off = 8
    data_off = ifd0_off + 2 + 4 * 12 + 4
    make_off = data_off
    dt_off = make_off + len(make)
    sub_off = dt_off + len(dt)
    ifd0 = w(4, 2)
    ifd0 += entry(0x010F, 2, len(make), w(make_off, 4))
    ifd0 += entry(0x0112, 3, 1, w(1 + seed % 8, 2))
    ifd0 += entry(0x0132, 2, len(dt), w(dt_off, 4))
    ifd0 += entry(0x8769, 4, 1, w(sub_off, 4))
    ifd0 += w(0, 4)
    sub = w(3, 2)
    sub += entry(0xA002, 4, 1, w(640 + seed % 100, 4))
    sub += entry(0xA003, 4, 1, w(480 + seed % 100, 4))
    sub += entry(0x8827, 3, 1, w(100 * (1 + seed % 8), 2))
    sub += w(0, 4)
    return ((b"II" if bo == "little" else b"MM") + w(42, 2)
            + w(ifd0_off, 4) + ifd0 + make + dt + sub)


@_functools.lru_cache(maxsize=512)
def make_jpeg_exif(seed: int) -> bytes:
    """A REAL JPEG marker stream whose APP1 carries the _exif_tiff
    planted tree; APP0/JFIF precedes APP1 and an SOS stub + EOI
    follow, so the marker walk is exercised for real."""
    app1 = b"Exif\x00\x00" + _exif_tiff(seed)
    jfif = b"JFIF\x00\x01\x02\x00\x00\x01\x00\x01\x00\x00"
    out = (b"\xff\xd8"
           + b"\xff\xe0" + (len(jfif) + 2).to_bytes(2, "big") + jfif
           + b"\xff\xe1" + (len(app1) + 2).to_bytes(2, "big") + app1
           + b"\xff\xda" + (8).to_bytes(2, "big") + b"\x01\x01\x00\x3f\x00\x00"
           + b"\x12\x34" + b"\xff\xd9")
    return out


@_functools.lru_cache(maxsize=512)
def make_id3_mp3(seed: int) -> bytes:
    """A REAL ID3v2 tag (v2.3 on even seeds — plain frame sizes —
    v2.4 on odd — syncsafe frame sizes) followed by a genuine MP3
    stream. Frames: TIT2 'Title <seed>' (latin-1), TPE1
    'Artist <seed%100>' (utf-8), TALB 'Album <seed%20>' (utf-16 with
    BOM), and TYER/TDRC year 1990+seed%35; 17 padding bytes."""
    v4 = seed % 2 == 1

    def frame(fid: bytes, body: bytes) -> bytes:
        if v4:
            n = len(body)
            size = bytes([(n >> 21) & 0x7F, (n >> 14) & 0x7F,
                          (n >> 7) & 0x7F, n & 0x7F])
        else:
            size = len(body).to_bytes(4, "big")
        return fid + size + b"\x00\x00" + body

    frames = frame(b"TIT2", b"\x00" + f"Title {seed}".encode("latin-1"))
    frames += frame(b"TPE1", b"\x03"
                    + f"Artist {seed % 100}".encode("utf-8"))
    frames += frame(b"TALB", b"\x01"
                    + f"Album {seed % 20}".encode("utf-16"))
    year = str(1990 + seed % 35).encode()
    frames += frame(b"TDRC" if v4 else b"TYER", b"\x00" + year)
    frames += b"\x00" * 17  # padding
    n = len(frames)
    tag_size = bytes([(n >> 21) & 0x7F, (n >> 14) & 0x7F,
                      (n >> 7) & 0x7F, n & 0x7F])
    tag = b"ID3" + bytes([4 if v4 else 3, 0, 0]) + tag_size + frames
    return tag + make_mp3(seed % 1000, n_frames=2, stereo=False,
                          id3=False)


@_functools.lru_cache(maxsize=512)
def make_warc_html(seed: int) -> bytes:
    """A REAL WARC whose responses carry text/html bodies: 2+seed%3
    HTML pages (make_html with page seed (seed*17 + 31*i) % 1000)
    plus one non-HTML response the pipeline must skip; gzip-member
    framing on odd seeds."""
    import gzip as _gzip
    import io as _io

    def record(rtype: str, extra: "list[tuple[str, str]]",
               payload: bytes) -> bytes:
        head = [b"WARC/1.0",
                f"WARC-Type: {rtype}".encode(),
                f"WARC-Record-ID: <urn:uuid:h{seed:08x}>".encode(),
                b"WARC-Date: 2026-08-16T00:00:00Z"]
        head += [f"{k}: {v}".encode() for k, v in extra]
        head.append(f"Content-Length: {len(payload)}".encode())
        return b"\r\n".join(head) + b"\r\n\r\n" + payload + b"\r\n\r\n"

    def response(uri: str, ctype: str, body: bytes) -> bytes:
        http = (f"HTTP/1.1 200 OK\r\nContent-Type: {ctype}\r\n"
                f"Content-Length: {len(body)}\r\n\r\n").encode() + body
        return record("response",
                      [("WARC-Target-URI", uri),
                       ("Content-Type",
                        "application/http;msgtype=response")], http)

    recs = [record("warcinfo",
                   [("Content-Type", "application/warc-fields")],
                   b"software: fixture\r\n")]
    for i in range(2 + seed % 3):
        page_seed = (seed * 17 + 31 * i) % 1000
        recs.append(response(f"https://ex.test/{seed}/{i}",
                             "text/html; charset=utf-8",
                             make_html(page_seed).encode()))
    recs.append(response(f"https://ex.test/{seed}/bin",
                         "application/octet-stream", b"\x00" * 32))
    if seed % 2 == 0:
        return b"".join(recs)
    out = bytearray()
    for rec in recs:
        buf = _io.BytesIO()
        with _gzip.GzipFile(fileobj=buf, mode="wb", mtime=0) as gz:
            gz.write(rec)
        out += buf.getvalue()
    return bytes(out)


def _lz4_frame(content: bytes) -> bytes:
    """Frame arbitrary content with the make_lz4 discipline (512-byte
    blocks, every 3rd stored, all checksums)."""
    from google_analytics_to_s3_spark.operators.lz4 import xxh32

    flg = (0b01 << 6) | (1 << 5) | (1 << 4) | (1 << 3) | (1 << 2)
    desc = bytes([flg, 4 << 4]) + len(content).to_bytes(8, "little")
    out = bytearray((0x184D2204).to_bytes(4, "little"))
    out += desc
    out.append((xxh32(desc) >> 8) & 0xFF)
    for bi, off in enumerate(range(0, len(content), 512)):
        raw = content[off:off + 512]
        comp = _lz4_compress_block(raw)
        if bi % 3 == 2 or len(comp) >= len(raw):
            out += (0x80000000 | len(raw)).to_bytes(4, "little") + raw
            out += xxh32(raw).to_bytes(4, "little")
        else:
            out += len(comp).to_bytes(4, "little") + comp
            out += xxh32(comp).to_bytes(4, "little")
    out += (0).to_bytes(4, "little")
    out += xxh32(content).to_bytes(4, "little")
    return bytes(out)


@_functools.lru_cache(maxsize=512)
def make_lz4_jsonl(seed: int) -> bytes:
    """An LZ4 frame wrapping planted JSONL: 5+seed%5 records, record
    r = {"id": r, "lang": one of en/de/fr/es by (seed+2r)%4,
    "tokens": 10+(seed+r)%90, "quality": (seed*7+r*13)%100}."""
    langs = ["en", "de", "fr", "es"]
    lines = []
    for r in range(5 + seed % 5):
        lines.append(
            '{"id": %d, "lang": "%s", "tokens": %d, "quality": %d}'
            % (r, langs[(seed + 2 * r) % 4], 10 + (seed + r) % 90,
               (seed * 7 + r * 13) % 100))
    return _lz4_frame("\n".join(lines).encode())


@_functools.lru_cache(maxsize=512)
def make_png_meta(seed: int) -> bytes:
    """A REAL PNG (make_png raster) with planted metadata spliced
    before IEND: tEXt Title 'Img <seed>', zTXt Description of
    30+seed%40 'd's (zlib), iTXt Comment of (5+seed%7) 'cé' pairs in
    UTF-8 (deflated on odd seeds), and an eXIf chunk carrying the
    shared _exif_tiff tree. All chunk CRCs are real."""
    import struct as _s
    import zlib as _z

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (_s.pack(">I", len(data)) + ctype + data
                + _s.pack(">I", _z.crc32(ctype + data) & 0xFFFFFFFF))

    png = make_png(6, 5, seed)
    iend = png.rindex(b"IEND") - 4
    desc = b"d" * (30 + seed % 40)
    comment = ("cé" * (5 + seed % 7)).encode("utf-8")
    extra = chunk(b"tEXt", b"Title\x00" + f"Img {seed}".encode())
    extra += chunk(b"zTXt", b"Description\x00\x00" + _z.compress(desc))
    if seed % 2 == 1:
        extra += chunk(b"iTXt", b"Comment\x00\x01\x00en\x00\x00"
                       + _z.compress(comment))
    else:
        extra += chunk(b"iTXt", b"Comment\x00\x00\x00en\x00\x00"
                       + comment)
    extra += chunk(b"eXIf", _exif_tiff(seed))
    return png[:iend] + extra + png[iend:]


@_functools.lru_cache(maxsize=512)
def make_svg(seed: int) -> str:
    """Planted SVG: width 100+seed%50, height 80+seed%40, 3+seed%4
    rects, 2+seed%3 paths, 1+seed%2 text nodes carrying words
    't<subtitle_word_value(seed, 9, j)>' (3 words each), a <script>
    element on seed%3==0, comments and nested <g> groups."""
    nr = 3 + seed % 4
    np_ = 2 + seed % 3
    nt = 1 + seed % 2
    parts = [f'<svg xmlns="http://www.w3.org/2000/svg" '
             f'width="{100 + seed % 50}px" height="{80 + seed % 40}">',
             "<!-- planted fixture -->", "<g>"]
    for r in range(nr):
        parts.append(f'<rect x="{r}" y="{r}" width="10" height="5"/>')
    parts.append("</g><g>")
    for p in range(np_):
        parts.append(f'<path d="M {p} 0 L 10 10 Z"/>')
    for t in range(nt):
        words = " ".join(f"t{subtitle_word_value(seed, 9, 3*t + j)}"
                         for j in range(3))
        parts.append(f'<text x="0" y="{t}">{words}</text>')
    if seed % 3 == 0:
        parts.append("<script>var x = 1;</script>")
    parts.append("</g></svg>")
    return "".join(parts)


@_functools.lru_cache(maxsize=512)
def make_html_jsonld(seed: int) -> str:
    """HTML with planted schema.org JSON-LD: 1+seed%3 valid blocks
    (block b @type cycles Article/Product/Person via (seed+b)%3, name
    'Item <seed>-<b>'), plus one BROKEN block on even seeds; a plain
    <script> that must not count."""
    types = ["Article", "Product", "Person"]
    parts = ["<html><head><title>x</title></head><body>",
             "<script>var notLd = 1;</script>"]
    for b in range(1 + seed % 3):
        t = types[(seed + b) % 3]
        parts.append(
            '<script type="application/ld+json">'
            '{"@context": "https://schema.org", "@type": "%s", '
            '"name": "Item %d-%d"}</script>' % (t, seed, b))
    if seed % 2 == 0:
        parts.append('<script type="application/ld+json">'
                     '{"broken": </script>')
    parts.append("<p>body text</p></body></html>")
    return "".join(parts)


def apng_rule(seed: int, g: int, x: int, y: int, c: int) -> int:
    """Planted RGB value for make_apng frame g at CANVAS coords."""
    return (seed + 17 * g + 31 * y + 7 * x + 13 * c) % 256


@_functools.lru_cache(maxsize=512)
def make_apng(seed: int) -> bytes:
    """Serialize a REAL APNG: canvas 8+seed%6 x 6+seed%5 RGB8, acTL
    (4 frames, num_plays seed%3), frame 0 full-canvas in IDAT with a
    preceding fcTL, frames 1-3 as nested rects (offset (2g, g)) via
    fdAT — frame 3 split across TWO fdAT chunks; dispose ops exercise
    all three semantics (frame 1 BACKGROUND, frame 2 PREVIOUS, others
    NONE); sequence numbers consecutive; all CRCs real."""
    import struct as _s
    import zlib as _z

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (_s.pack(">I", len(data)) + ctype + data
                + _s.pack(">I", _z.crc32(ctype + data) & 0xFFFFFFFF))

    w, h = 8 + seed % 6, 6 + seed % 5

    def frame_data(g: int, xo: int, yo: int, fw: int, fh: int) -> bytes:
        rows = bytearray()
        for yy in range(fh):
            rows.append(0)  # filter None
            for xx in range(fw):
                for c in range(3):
                    rows.append(apng_rule(seed, g, xo + xx, yo + yy, c))
        return _z.compress(bytes(rows))

    seq = [0]

    def fctl(g: int, xo: int, yo: int, fw: int, fh: int,
             dispose: int) -> bytes:
        s = seq[0]
        seq[0] += 1
        return chunk(b"fcTL", _s.pack(
            ">IIIIIHHBB", s, fw, fh, xo, yo, 2 + g, 100, dispose, 0))

    def fdat(data: bytes) -> bytes:
        s = seq[0]
        seq[0] += 1
        return chunk(b"fdAT", _s.pack(">I", s) + data)

    out = bytearray(b"\x89PNG\r\n\x1a\n")
    out += chunk(b"IHDR", _s.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
    out += chunk(b"acTL", _s.pack(">II", 4, seed % 3))
    out += fctl(0, 0, 0, w, h, 0)
    out += chunk(b"IDAT", frame_data(0, 0, 0, w, h))
    dispose = {1: 1, 2: 2, 3: 0}
    for g in (1, 2, 3):
        xo, yo = 2 * g, g
        fw, fh = w - xo, h - yo
        out += fctl(g, xo, yo, fw, fh, dispose[g])
        data = frame_data(g, xo, yo, fw, fh)
        if g == 3:  # split across two fdAT chunks
            half = len(data) // 2
            out += fdat(data[:half])
            out += fdat(data[half:])
        else:
            out += fdat(data)
    out += chunk(b"IEND", b"")
    return bytes(out)


@_functools.lru_cache(maxsize=512)
def make_eml(seed: int) -> bytes:
    """A REAL multipart/mixed RFC 5322 message: a multipart/
    alternative body (text/plain in QUOTED-PRINTABLE — soft line
    breaks + an =C3=A9 escape per é — and a text/html alternative)
    plus seed%3 BASE64 attachments. Planted text: 6+seed%5 words
    'm<subtitle_word_value(seed, 4, j)>' plus one 'café' token (4
    chars after QP decode). Subject 'Re: Msg <seed>', sender
    u<seed>@ex<seed%10>.test."""
    import base64 as _b64

    n_words = 6 + seed % 5
    words = [f"m{subtitle_word_value(seed, 4, j)}"
             for j in range(n_words)] + ["café"]
    text = " ".join(words)
    qp = text.encode("utf-8").replace(b"\xc3\xa9", b"=C3=A9")
    # force a soft line break mid-stream (QP decoder must join)
    half = len(qp) // 2
    qp = qp[:half] + b"=\r\n" + qp[half:]
    html = b"<p>" + text.encode("utf-8") + b"</p>"
    lines = [
        f"From: User <u{seed}@ex{seed % 10}.test>".encode(),
        b"To: list@ex.test",
        f"Subject: Re: Msg {seed}".encode(),
        b"MIME-Version: 1.0",
        b'Content-Type: multipart/mixed; boundary="OUTER"',
        b"",
        b"--OUTER",
        b'Content-Type: multipart/alternative; boundary="INNER"',
        b"",
        b"--INNER",
        b'Content-Type: text/plain; charset="utf-8"',
        b"Content-Transfer-Encoding: quoted-printable",
        b"",
        qp,
        b"--INNER",
        b'Content-Type: text/html; charset="utf-8"',
        b"",
        html,
        b"--INNER--",
    ]
    for a in range(seed % 3):
        blob = bytes((seed + 7 * a + k) % 256 for k in range(40))
        lines += [
            b"--OUTER",
            b"Content-Type: application/octet-stream",
            b"Content-Transfer-Encoding: base64",
            f'Content-Disposition: attachment; filename="f{a}.bin"'
            .encode(),
            b"",
            _b64.encodebytes(blob).strip(),
        ]
    lines.append(b"--OUTER--")
    return b"\r\n".join(lines) + b"\r\n"


@_functools.lru_cache(maxsize=512)
def make_sitemap(seed: int) -> str:
    """Planted sitemap: sitemapindex on seed%5==0 (3+seed%3 child
    refs, no lastmod), else urlset with 5+seed%6 urls where EVEN
    entries carry lastmod 2015+(seed+i)%10."""
    if seed % 5 == 0:
        refs = "".join(
            f"<sitemap><loc>https://ex.test/s{seed}/{i}.xml</loc>"
            f"</sitemap>" for i in range(3 + seed % 3))
        return ('<?xml version="1.0"?><sitemapindex xmlns='
                '"http://www.sitemaps.org/schemas/sitemap/0.9">'
                + refs + "</sitemapindex>")
    urls = []
    for i in range(5 + seed % 6):
        lastmod = (f"<lastmod>{2015 + (seed + i) % 10}-03-01"
                   f"</lastmod>" if i % 2 == 0 else "")
        urls.append(f"<url><loc>https://ex.test/{seed}/{i}</loc>"
                    f"{lastmod}</url>")
    return ('<?xml version="1.0"?><urlset xmlns='
            '"http://www.sitemaps.org/schemas/sitemap/0.9">'
            + "".join(urls) + "</urlset>")


@_functools.lru_cache(maxsize=512)
def make_feed(seed: int) -> str:
    """Planted feed: Atom on odd seeds, RSS 2.0 on even; 3+seed%4
    items titled 'Post <seed> n<item_word>' (2 words each) with one
    link per item."""
    n = 3 + seed % 4
    titles = [f"Post {seed} n{subtitle_word_value(seed, 6, i)}"
              for i in range(n)]
    if seed % 2 == 1:
        entries = "".join(
            f"<entry><title>{t}</title>"
            f'<link href="https://ex.test/{seed}/{i}"/>'
            f"<id>urn:{seed}:{i}</id></entry>"
            for i, t in enumerate(titles))
        return ('<?xml version="1.0"?>'
                '<feed xmlns="http://www.w3.org/2005/Atom">'
                f"<title>Feed {seed}</title>" + entries + "</feed>")
    items = "".join(
        f"<item><title>{t}</title>"
        f"<link>https://ex.test/{seed}/{i}</link></item>"
        for i, t in enumerate(titles))
    return ('<?xml version="1.0"?><rss version="2.0"><channel>'
            f"<title>Feed {seed}</title>" + items
            + "</channel></rss>")


@_functools.lru_cache(maxsize=512)
def make_mbox(seed: int) -> bytes:
    """An RFC 4155 mbox of 2+seed%3 make_eml messages (message m uses
    planted seed (seed*13 + 7*m) % 1000), From_ separator lines, and
    one '>From ' quoted body line per message."""
    parts = []
    for m in range(2 + seed % 3):
        msg_seed = (seed * 13 + 7 * m) % 1000
        msg = make_eml(msg_seed).replace(b"\r\n", b"\n")
        msg += b">From quoting survives\n"
        parts.append(b"From sender@ex.test Sat Aug 16 00:00:00 2026\n"
                     + msg)
    return b"".join(parts)


@_functools.lru_cache(maxsize=512)
def make_protobuf(seed: int) -> bytes:
    """A REAL protobuf wire-format message, schema-less-walkable:
    field 1 varint 100+seed%900 (two-byte varints), field 2 a text
    payload 'text <seed>' (first byte 0x74 decodes as a GROUP key, so
    the submessage heuristic can never false-positive), field 3 a
    genuine SUBMESSAGE (varint + fixed32), field 5 fixed64, repeated
    field 7 single-byte varints (2+seed%3 of them), field 200 varint
    seed%32 (multi-byte key)."""

    def varint(v: int) -> bytes:
        out = bytearray()
        while True:
            b = v & 0x7F
            v >>= 7
            if v:
                out.append(b | 0x80)
            else:
                out.append(b)
                return bytes(out)

    def key(field: int, wtype: int) -> bytes:
        return varint((field << 3) | wtype)

    sub = (key(1, 0) + varint(seed % 128)
           + key(2, 5) + ((seed * 3) & 0xFFFFFFFF).to_bytes(4,
                                                            "little"))
    text = f"text {seed}".encode()
    out = bytearray()
    out += key(1, 0) + varint(100 + seed % 900)
    out += key(2, 2) + varint(len(text)) + text
    out += key(3, 2) + varint(len(sub)) + sub
    out += key(5, 1) + (seed * 7 % (1 << 64)).to_bytes(8, "little")
    for j in range(2 + seed % 3):
        out += key(7, 0) + varint((seed + j) % 128)
    out += key(200, 0) + varint(seed % 32)
    return bytes(out)


def _cbor_encode(v) -> bytes:
    """Minimal-argument definite-length CBOR encoder (RFC 8949)."""

    def head(major: int, n: int) -> bytes:
        if n < 24:
            return bytes([(major << 5) | n])
        for info, size in ((24, 1), (25, 2), (26, 4), (27, 8)):
            if n < 1 << (8 * size):
                return bytes([(major << 5) | info]) \
                    + n.to_bytes(size, "big")
        raise ValueError("CBOR integer too large")

    if isinstance(v, bool):
        return bytes([0xF5 if v else 0xF4])
    if isinstance(v, int):
        return head(0, v) if v >= 0 else head(1, -1 - v)
    if isinstance(v, bytes):
        return head(2, len(v)) + v
    if isinstance(v, str):
        enc = v.encode("utf-8")
        return head(3, len(enc)) + enc
    if isinstance(v, list):
        return head(4, len(v)) + b"".join(_cbor_encode(x) for x in v)
    if isinstance(v, dict):
        return head(5, len(v)) + b"".join(
            _cbor_encode(k) + _cbor_encode(x) for k, x in v.items())
    if isinstance(v, tuple) and v and v[0] == "tag":
        return head(6, v[1]) + _cbor_encode(v[2])
    if isinstance(v, float):
        import struct as _s
        return b"\xfb" + _s.pack(">d", v)
    if v is None:
        return b"\xf6"
    raise TypeError(type(v))


@_functools.lru_cache(maxsize=512)
def make_cbor(seed: int) -> bytes:
    """Planted CBOR document: multi-byte uints, a negative int, a
    nested array of maps with planted strings, a bool, a tag(1)
    timestamp, a float64 and a byte string — every definite-length
    major type."""
    n_items = 2 + seed % 4
    doc = {
        "id": seed,
        "neg": -(1 + seed % 50),
        "items": [
            {"v": (seed * 7 + i) % 1000,
             "s": f"w{(3 * seed + 5 * i) % 100}"}
            for i in range(n_items)
        ],
        "flag": seed % 2 == 0,
        "tag": ("tag", 1, seed % 100000),
        "pi": 3.5,
        "b": bytes((seed + k) % 256 for k in range(3 + seed % 5)),
    }
    return _cbor_encode(doc)


def _h264_escape(rbsp: bytes) -> bytes:
    """Insert emulation_prevention_three_byte per §7.4.1.1."""
    out = bytearray()
    zeros = 0
    for b in rbsp:
        if zeros >= 2 and b <= 3:
            out.append(3)
            zeros = 0
        out.append(b)
        zeros = zeros + 1 if b == 0 else 0
    return bytes(out)


def _h264_nal(ntype: int, ref: int, rbsp: bytes) -> bytes:
    return (b"\x00\x00\x00\x01" + bytes([(ref << 5) | ntype])
            + _h264_escape(rbsp))


def h264_luma_rule(seed: int, mb: int, j: int) -> int:
    """Planted I_PCM luma sample; the first three samples of every
    macroblock are (0, 0, 1) so the escaped stream MUST carry
    emulation-prevention bytes."""
    if j < 3:
        return (0, 0, 1)[j]
    return (seed + 31 * mb + 7 * j) % 256


def h264_chroma_rule(seed: int, mb: int, j: int) -> int:
    return (3 * seed + 17 * mb + 5 * j) % 256


@_functools.lru_cache(maxsize=512)
def make_h264(seed: int) -> bytes:
    """A REAL Annex B H.264 stream: baseline SPS (POC type 0, frame
    MBs only), PPS with deblocking control on, and an IDR I-slice of
    all-I_PCM macroblocks ((1+seed%2) x (1+(seed//2)%2) MBs) with
    deblocking disabled, per the planted sample rules. The (0,0,1)
    PCM prefix forces real 0x000003 escaping."""
    w_mbs = 1 + seed % 2
    h_mbs = 1 + (seed // 2) % 2
    sps = _BitWriter()
    sps.write(66, 8)   # baseline
    sps.write(0, 8)    # constraints/reserved
    sps.write(30, 8)   # level 3.0
    sps.ue(0)          # sps_id
    sps.ue(0)          # log2_max_frame_num_minus4
    sps.ue(0)          # pic_order_cnt_type 0
    sps.ue(0)          # log2_max_poc_lsb_minus4
    sps.ue(1)          # max_num_ref_frames
    sps.write(0, 1)    # gaps allowed
    sps.ue(w_mbs - 1)
    sps.ue(h_mbs - 1)
    sps.write(1, 1)    # frame_mbs_only
    sps.write(0, 1)    # direct_8x8
    sps.write(0, 1)    # no crop
    sps.write(0, 1)    # no VUI
    sps.trailing()
    pps = _BitWriter()
    pps.ue(0)          # pps_id
    pps.ue(0)          # sps_id
    pps.write(0, 1)    # CAVLC
    pps.write(0, 1)    # bottom_field_pic_order
    pps.ue(0)          # one slice group
    pps.ue(0)          # num_ref_idx_l0_minus1
    pps.ue(0)          # num_ref_idx_l1_minus1
    pps.write(0, 1)    # weighted_pred
    pps.write(0, 2)    # weighted_bipred
    pps.se(0)          # pic_init_qp - 26
    pps.se(0)          # pic_init_qs
    pps.se(0)          # chroma_qp_offset
    pps.write(1, 1)    # deblocking_filter_control_present
    pps.write(0, 1)    # constrained_intra
    pps.write(0, 1)    # redundant_pic_cnt
    pps.trailing()
    sl = _BitWriter()
    sl.ue(0)           # first_mb_in_slice
    sl.ue(7)           # slice_type I (all slices)
    sl.ue(0)           # pps_id
    sl.write(0, 4)     # frame_num
    sl.ue(seed % 4)    # idr_pic_id
    sl.write(seed % 16, 4)  # pic_order_cnt_lsb
    sl.write(0, 1)     # no_output_of_prior_pics
    sl.write(0, 1)     # long_term_reference
    sl.se(0)           # slice_qp_delta
    sl.ue(1)           # disable_deblocking_filter_idc = 1
    for mb in range(w_mbs * h_mbs):
        sl.ue(25)      # I_PCM
        sl.align()
        for j in range(256):
            sl.write(h264_luma_rule(seed, mb, j), 8)
        for j in range(128):
            sl.write(h264_chroma_rule(seed, mb, j), 8)
    sl.trailing()
    return (_h264_nal(7, 3, sps.tobytes())
            + _h264_nal(8, 3, pps.tobytes())
            + _h264_nal(5, 3, sl.tobytes()))


@_functools.lru_cache(maxsize=512)
def make_mkv_h264(seed: int) -> bytes:
    """A REAL Matroska file whose V_MPEG4/ISO/AVC track carries the
    make_h264 IDR slice as a 4-byte-length-prefixed SimpleBlock
    frame, with SPS/PPS delivered out-of-band in an avcC
    CodecPrivate (the MP4/MKV convention, not Annex B)."""
    annexb = make_h264(seed)
    from google_analytics_to_s3_spark.operators.h264 import (
        split_annexb,
    )

    sps_nal, pps_nal, idr_nal = split_annexb(annexb)
    avcc = bytes([1, 66, 0, 30, 0xFC | 3, 0xE0 | 1])
    avcc += len(sps_nal).to_bytes(2, "big") + sps_nal
    avcc += bytes([1]) + len(pps_nal).to_bytes(2, "big") + pps_nal
    frame = len(idr_nal).to_bytes(4, "big") + idr_nal
    hdr, seg_prefix = _mkv_header(b"matroska", [])
    entry = _ebml(0xAE, _ebml(0xD7, _ebml_uint(1))
                  + _ebml(0x83, _ebml_uint(1))
                  + _ebml(0x86, b"V_MPEG4/ISO/AVC")
                  + _ebml(0x63A2, avcc))  # CodecPrivate
    # rebuild segment prefix with the AVC track
    info = _ebml(0x1549A966, _ebml(0x2AD7B1, _ebml_uint(1_000_000)))
    tracks = _ebml(0x1654AE6B, entry)
    cluster = _ebml(0x1F43B675,
                    _ebml(0xE7, _ebml_uint(0))
                    + _mkv_simpleblock(1, 0, frame))
    return hdr + _ebml(0x18538067, info + tracks + cluster)


@_functools.lru_cache(maxsize=512)
def make_mp4_avc(seed: int) -> bytes:
    """A REAL MP4 whose avc1 track carries the make_h264 IDR slice as
    one 4-byte-length-prefixed sample, SPS/PPS out-of-band in the
    VisualSampleEntry's avcC box (ISO 14496-15), plus a planted
    filler audio track so multi-track resolution stays exercised."""
    from google_analytics_to_s3_spark.operators.h264 import (
        split_annexb,
    )

    sps_nal, pps_nal, idr_nal = split_annexb(make_h264(seed))
    avcc = bytes([1, 66, 0, 30, 0xFC | 3, 0xE0 | 1])
    avcc += len(sps_nal).to_bytes(2, "big") + sps_nal
    avcc += bytes([1]) + len(pps_nal).to_bytes(2, "big") + pps_nal
    sample = len(idr_nal).to_bytes(4, "big") + idr_nal
    # second sample: an SEI NAL (type 6) the I_PCM decoder skips —
    # the fixture chunk layout wants >= 2 samples per track
    sei_nal = bytes([0x06, 0x05, 0x02, seed % 256, (seed * 3) % 256,
                     0x80])
    sample2 = len(sei_nal).to_bytes(4, "big") + sei_nal
    w_mbs = 1 + seed % 2
    h_mbs = 1 + (seed // 2) % 2
    filler = [bytes((seed + j) % 256 for j in range(40 + seed % 20))
              for _ in range(2)]
    tracks = [
        {"ns": 2, "sizes": [len(sample), len(sample2)],
         "const": False,
         "stts": [(2, 3000)], "handler": "vide", "track_id": 1,
         "timescale": 90000, "duration": 6000,
         "width": 16 * w_mbs, "height": 16 * h_mbs,
         "format": "avc1", "avcc": avcc},
        {"ns": 2, "sizes": [len(p) for p in filler], "const": False,
         "stts": [(2, 1152)], "handler": "soun", "track_id": 2,
         "timescale": 44100, "duration": 2304, "width": 0,
         "height": 0, "format": ".mp3"},
    ]
    rules = {"ntr": 2, "tracks": tracks, "co64": False, "v1": False,
             "moov_first": seed % 2 == 0, "movie_timescale": 600,
             "movie_duration": 1000 + seed}
    return _mp4_assemble(rules, tracks, [[sample, sample2], filler])


@_functools.lru_cache(maxsize=512)
def make_mojibake(seed: int) -> str:
    """Planted dirty text: 4+seed%4 clean ASCII tokens
    'w<(3seed+5j)%100>', 1+seed%3 MOJIBAKE tokens ('café<k>' whose é
    arrives as the UTF-8-read-as-Latin-1 pair 'Ã©'), seed%4 tokens
    with an embedded BEL control, and 1+seed%2 NFD tokens
    ('e' + COMBINING ACUTE + digit) that NFC must compose."""
    toks = [f"w{(3 * seed + 5 * j) % 100}"
            for j in range(4 + seed % 4)]
    for i in range(1 + seed % 3):
        good = f"café{(seed + i) % 10}"
        toks.append(good.encode("utf-8").decode("latin-1"))
    for i in range(seed % 4):
        toks.append(f"x\x07y")
    for i in range(1 + seed % 2):
        toks.append("é" + str((seed + i) % 10))
    return " ".join(toks)


def _vorbis_comment_block(comments: "list[str]") -> bytes:
    out = bytearray()
    vendor = b"fixture"
    out += len(vendor).to_bytes(4, "little") + vendor
    out += len(comments).to_bytes(4, "little")
    for c in comments:
        e = c.encode("utf-8")
        out += len(e).to_bytes(4, "little") + e
    return bytes(out)


@_functools.lru_cache(maxsize=512)
def make_oggopus(seed: int) -> bytes:
    """A REAL OggOpus file: OpusHead (mapping family seed%2 — family
    1 carries stream/coupled counts + a mapping table), OpusTags
    (VorbisComment: TITLE/ARTIST/DATE), and 2+seed%3 opaque audio
    packets (SILK/CELT decode is gated; the framing is real and
    CRC'd)."""
    fam = seed % 2
    if fam == 0:
        ch = 1 + (seed // 2) % 2
        mapping = b""
    else:
        ch = 3 + seed % 3
        streams = ch - 1
        coupled = 1
        mapping = bytes([streams, coupled]
                        + [i % ch for i in range(ch)])
    head = (b"OpusHead" + bytes([1, ch])
            + (312 + seed % 100).to_bytes(2, "little")
            + (48000).to_bytes(4, "little")
            + ((seed % 200) - 100).to_bytes(2, "little", signed=True)
            + bytes([fam]) + mapping)
    tags = b"OpusTags" + _vorbis_comment_block([
        f"TITLE=Track {seed}",
        f"ARTIST=A{seed % 50}",
        f"DATE={1990 + seed % 30}",
    ])
    audio = [bytes((seed + 7 * p + j) % 256
                   for j in range(40 + (seed + p) % 30))
             for p in range(2 + seed % 3)]
    out = _ogg_page([head], 0, bos=True, serial=0x4F505553)
    out += _ogg_page([tags], 1, serial=0x4F505553)
    out += _ogg_page(audio, 2, eos=True, serial=0x4F505553,
                     granule=960 * len(audio))
    return out


def make_flac_tagged(seed: int) -> bytes:
    """A REAL FLAC stream (make_flac audio frames, still decodable)
    whose metadata section gains a VorbisComment (TITLE/ALBUM), a
    SEEKTABLE (2+seed%3 real points + seed%2 placeholders), a PNG
    PICTURE block on even seeds (cover decodes through the real PNG
    path), and 10+seed%50 PADDING bytes."""
    base = make_flac(seed % 1000, n_samples=600)
    # STREAMINFO is the first block; clear its last-flag
    hdr = base[4]
    blen = int.from_bytes(base[5:8], "big")
    streaminfo = bytes([hdr & 0x7F]) + base[5:8 + blen]
    audio = base[8 + blen:]

    def block(btype: int, body: bytes, last: bool = False) -> bytes:
        return bytes([btype | (0x80 if last else 0)]) \
            + len(body).to_bytes(3, "big") + body

    vc = block(4, _vorbis_comment_block(
        [f"TITLE=Song {seed}", f"ALBUM=L{seed % 20}"]))
    pts = bytearray()
    for i in range(2 + seed % 3):
        pts += (i * 512).to_bytes(8, "big")
        pts += (i * 100).to_bytes(8, "big") + (512).to_bytes(2, "big")
    for _ in range(seed % 2):
        pts += ((1 << 64) - 1).to_bytes(8, "big") + b"\x00" * 10
    seek = block(3, bytes(pts))
    pic = b""
    if seed % 2 == 0:
        png = make_png(4, 3, seed)
        mime = b"image/png"
        body = ((3).to_bytes(4, "big")
                + len(mime).to_bytes(4, "big") + mime
                + (0).to_bytes(4, "big")
                + (4).to_bytes(4, "big") + (3).to_bytes(4, "big")
                + (24).to_bytes(4, "big") + (0).to_bytes(4, "big")
                + len(png).to_bytes(4, "big") + png)
        pic = block(6, body)
    pad = block(1, b"\x00" * (10 + seed % 50), last=True)
    return b"fLaC" + streaminfo + vc + seek + pic + pad + audio


@_functools.lru_cache(maxsize=512)
def make_tar_longnames(seed: int) -> bytes:
    """A tar with >100-char member names written by CPython's tarfile
    (an INDEPENDENT implementation): GNU_FORMAT (typeflag-L headers)
    on even seeds, PAX_FORMAT (x extended headers) on odd; 2+seed%3
    members with planted name lengths and data rules."""
    import io as _io
    import tarfile as _tarfile

    fmt = (_tarfile.GNU_FORMAT if seed % 2 == 0
           else _tarfile.PAX_FORMAT)
    buf = _io.BytesIO()
    with _tarfile.open(fileobj=buf, mode="w", format=fmt) as tf:
        for m in range(2 + seed % 3):
            name = (f"d{seed}/" + "n" * (110 + (seed + m) % 40)
                    + f"/{m}.bin")
            data = bytes((seed + 5 * m + j) % 256
                         for j in range(20 + (seed + m) % 30))
            info = _tarfile.TarInfo(name)
            info.size = len(data)
            info.mtime = 0
            tf.addfile(info, _io.BytesIO(data))
    return buf.getvalue()


@_functools.lru_cache(maxsize=512)
def make_script_mix(seed: int) -> str:
    """Planted multi-script text: 3+seed%4 Latin tokens, 1+seed%3
    Cyrillic tokens, seed%3 Greek tokens, 1+seed%2 HOMOGRAPH tokens
    (Latin words with one Cyrillic 'а' U+0430 inside), and one
    digits-only token that is script-neutral."""
    toks = [f"word{(seed + j) % 100}" for j in range(3 + seed % 4)]
    toks += [f"слово{(seed + j) % 10}" for j in range(1 + seed % 3)]
    toks += [f"λογος{(seed + j) % 10}" for j in range(seed % 3)]
    toks += ["pаy" + str((seed + j) % 10)
             for j in range(1 + seed % 2)]
    toks.append(str(1000 + seed))
    return " ".join(toks)


@_functools.lru_cache(maxsize=512)
def make_zip64(seed: int) -> bytes:
    """A REAL ZIP64 archive (writers may use ZIP64 regardless of
    size): central entries saturate their 32-bit usize/csize/lho
    slots and carry 0x0001 extra fields, the EOCD saturates its
    counts/offsets, and a ZIP64 EOCD record + locator close the file.
    Entry rules mirror make_zip (zip_rules)."""
    import zlib as _zlib

    r = zip_rules(seed)
    out = bytearray()
    cd = bytearray()
    for i in range(r["n"]):
        name = f"doc{i:03d}.txt".encode()
        data = bytes((seed + 17 * i + j) % 251
                     for j in range(r["lens"][i]))
        crc = _zlib.crc32(data) & 0xFFFFFFFF
        if r["deflated"][i]:
            co = _zlib.compressobj(9, _zlib.DEFLATED, -_zlib.MAX_WBITS)
            blob = co.compress(data) + co.flush()
            method = 8
        else:
            blob = data
            method = 0
        lho = len(out)
        out += (b"PK\x03\x04" + _struct.pack(
            "<HHHHHIIIHH", 45, 0, method, 0, 0, crc, len(blob),
            len(data), len(name), 0) + name + blob)
        z64 = _struct.pack("<HHQQQ", 0x0001, 24, len(data),
                           len(blob), lho)
        cd += (b"PK\x01\x02" + _struct.pack(
            "<HHHHHHIIIHHHHHII", 45, 45, 0, method, 0, 0, crc,
            0xFFFFFFFF, 0xFFFFFFFF, len(name), len(z64), 0, 0, 0, 0,
            0xFFFFFFFF) + name + z64)
    cd_off = len(out)
    out += cd
    z64_eocd_off = len(out)
    out += (b"PK\x06\x06" + _struct.pack(
        "<QHHIIQQQQ", 44, 45, 45, 0, 0, r["n"], r["n"], len(cd),
        cd_off))
    out += (b"PK\x06\x07" + _struct.pack(
        "<IQI", 0, z64_eocd_off, 1))
    out += (b"PK\x05\x06" + _struct.pack(
        "<HHHHIIH", 0, 0, 0xFFFF, 0xFFFF, 0xFFFFFFFF, 0xFFFFFFFF, 0))
    return bytes(out)


@_functools.lru_cache(maxsize=512)
def make_zstd(seed: int) -> bytes:
    """Deterministic zstd payload for the ``zstd_extract`` driver
    query — the frames are produced by *libzstd itself* (via
    ``pyarrow.Codec('zstd')``), so the query's green row certifies
    that operators/zstd.py inverts real zstd streams, not its own
    fixtures.

    Planted rules (replayed in closed form by the oracle):

    - segment ``a``: ``n_a = 180 + seed % 120`` bytes (plus 1400 on
      ``seed % 5 == 4`` to force 4-stream Huffman literals and
      FSE-described sequence tables), byte ``i = (5*seed + 13*i) % 251``
    - tail ``t``: ``n_t = 40 + seed % 30`` bytes of
      ``(7*seed + 17*i) % 253``
    - content = ``a*3 + t`` (the triple repeat plants real LZ77
      matches at offset ``n_a``)
    - compression level cycles [1, 3, 9, 19] with ``seed % 4``
    - ``seed % 3 == 0``: content split across TWO frames with a
      skippable frame between them (frame-concatenation + skip path);
      else one frame
    """
    import pyarrow as _pa

    n_a = 180 + seed % 120 + (1400 if seed % 5 == 4 else 0)
    n_t = 40 + seed % 30
    a = bytes((5 * seed + 13 * i) % 251 for i in range(n_a))
    t = bytes((7 * seed + 17 * i) % 253 for i in range(n_t))
    codec = _pa.Codec("zstd", compression_level=[1, 3, 9, 19][seed % 4])
    if seed % 3 == 0:
        skip = ((0x184D2A50 + seed % 16).to_bytes(4, "little")
                + (seed % 17).to_bytes(4, "little") + b"\x5A" * (seed % 17))
        return (codec.compress(a * 3, asbytes=True) + skip
                + codec.compress(t, asbytes=True))
    return codec.compress(a * 3 + t, asbytes=True)


@_functools.lru_cache(maxsize=512)
def make_parquet_file(seed: int) -> bytes:
    """Deterministic parquet bytes for the ``parquet_footer`` /
    ``parquet_scan_raw`` driver queries — written by *parquet-cpp*
    (pyarrow), so green rows certify operators/parquet_raw.py reads
    real Parquet (thrift footers, RLE/bit-packed levels, dictionary
    or plain pages, real codecs incl. our own snappy/zstd byte paths).

    Planted rules (replayed in closed form by the oracles):

    - ``n = 50 + seed % 100`` rows, row_group_size 40
    - column ``v`` (int64, optional): NULL when ``i % 9 == 8`` else
      ``(seed*7 + 11*i) % 1000``
    - column ``w`` (string): ``'tok' || (seed + i) % 13``
    - codec cycles [none, snappy, gzip, zstd] with ``seed % 4``;
      dictionary encoding on for even seeds
    - ``seed % 3 == 2``: v2 data pages (levels-uncompressed layout);
      ``seed % 7 == 3``: v2 + DELTA_BINARY_PACKED on ``v``
      (dictionary forced off) — both decode paths driver-covered
    """
    import pyarrow as _pa
    import pyarrow.parquet as _pq

    n = 50 + seed % 100
    v = [None if i % 9 == 8 else (seed * 7 + 11 * i) % 1000
         for i in range(n)]
    w = [f"tok{(seed + i) % 13}" for i in range(n)]
    table = _pa.table({"v": _pa.array(v, _pa.int64()),
                       "w": _pa.array(w, _pa.string())})
    buf = _pa.BufferOutputStream()
    kw = dict(
        compression=["none", "snappy", "gzip", "zstd"][seed % 4],
        use_dictionary=(seed % 2 == 0),
        row_group_size=40)
    if seed % 3 == 2:
        kw["data_page_version"] = "2.0"
    if seed % 7 == 3:
        kw.update(data_page_version="2.0", use_dictionary=False,
                  column_encoding={"v": "DELTA_BINARY_PACKED",
                                   "w": "PLAIN"})
    _pq.write_table(table, buf, **kw)
    return buf.getvalue().to_pybytes()


@_functools.lru_cache(maxsize=512)
def make_orc_file(seed: int) -> bytes:
    """Deterministic ORC bytes for the ``orc_meta`` driver query —
    written by the Apache ORC C++ writer (pyarrow.orc), so a green
    row certifies operators/orc_meta.py reads real ORC postscripts,
    chunked-compression framing and footer protobufs.

    Planted rules (replayed in closed form by the oracle):

    - ``n = 100 + seed % 200`` rows
    - column ``v`` (int64, optional): NULL when ``i % 11 == 10``
      (PRESENT-stream coverage) else ``(seed*11 + 13*i) % 5000 - 1000``
      (negative values exercise the sint64 zigzag statistics)
    - column ``w`` (string): ``'tok' || (seed*3 + 7*i) % 29``
      (mixed 4/5-char tokens; dictionary encoding forced on for odd
      seeds via dictionary_key_size_threshold, direct for even)
    - compression cycles [uncompressed, zlib, snappy, lz4, zstd]
      with ``seed % 5`` — the zlib/snappy/lz4/zstd chunks decode
      through the engine's own byte paths
    """
    import pyarrow as _pa
    from pyarrow import orc as _orc

    n = 100 + seed % 200
    v = [None if i % 11 == 10 else (seed * 11 + 13 * i) % 5000 - 1000
         for i in range(n)]
    w = [f"tok{(seed * 3 + 7 * i) % 29}" for i in range(n)]
    table = _pa.table({"v": _pa.array(v, _pa.int64()),
                       "w": _pa.array(w, _pa.string())})
    buf = _pa.BufferOutputStream()
    _orc.write_table(
        table, buf,
        compression=["uncompressed", "zlib", "snappy", "lz4",
                     "zstd"][seed % 5],
        dictionary_key_size_threshold=1.0 if seed % 2 else 0.0)
    return buf.getvalue().to_pybytes()


def _avro_zigzag(v: int) -> bytes:
    u = (v << 1) ^ (v >> 63) if v < 0 else v << 1
    u &= (1 << 64) - 1
    out = bytearray()
    while True:
        b = u & 0x7F
        u >>= 7
        if u:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _avro_str(s: str) -> bytes:
    b = s.encode("utf-8")
    return _avro_zigzag(len(b)) + b


_AVRO_SCHEMA_JSON = (
    '{"type":"record","name":"Doc","fields":['
    '{"name":"id","type":"long"},'
    '{"name":"u","type":["null","long"]},'
    '{"name":"label","type":"string"}]}'
)


@_functools.lru_cache(maxsize=512)
def make_avro(seed: int) -> bytes:
    """Deterministic Avro object container for the ``avro_decode``
    driver query (spec-golden encoder; the container grammar and the
    binary primitives are pinned against the Avro spec's worked
    examples in tests/test_avro.py).

    Planted rules (replayed in closed form by the oracle):

    - ``n = 60 + seed % 90`` records in blocks of 25
    - ``id = (seed*13 + 7*i) % 10000`` (long)
    - ``u`` (nullable long union): NULL when ``i % 6 == 5`` else
      ``(seed + 3*i) % 500``
    - ``label = 'lab' || (seed + i) % 23`` (string)
    - codec cycles [null, deflate, snappy] with ``seed % 3``
    """
    import zlib as _zlib

    n = 60 + seed % 90
    codec = ["null", "deflate", "snappy"][seed % 3]
    recs = []
    for i in range(n):
        row = _avro_zigzag((seed * 13 + 7 * i) % 10000)
        if i % 6 == 5:
            row += _avro_zigzag(0)  # union branch 0: null
        else:
            row += _avro_zigzag(1) + _avro_zigzag((seed + 3 * i) % 500)
        row += _avro_str(f"lab{(seed + i) % 23}")
        recs.append(row)
    sync = bytes((seed * 31 + j * 17) % 256 for j in range(16))
    out = bytearray(b"Obj\x01")
    out += _avro_zigzag(2)  # metadata map: one block, two entries
    out += _avro_str("avro.schema") + _avro_str(_AVRO_SCHEMA_JSON)
    out += _avro_str("avro.codec") + _avro_str(codec)
    out += _avro_zigzag(0)
    out += sync
    for at in range(0, n, 25):
        chunk = recs[at:at + 25]
        payload = b"".join(chunk)
        if codec == "deflate":
            co = _zlib.compressobj(6, _zlib.DEFLATED, -15)
            payload = co.compress(payload) + co.flush()
        elif codec == "snappy":
            comp = snappy_compress_block(payload)
            payload = comp + (_zlib.crc32(b"".join(chunk))
                              & 0xFFFFFFFF).to_bytes(4, "big")
        out += _avro_zigzag(len(chunk)) + _avro_zigzag(len(payload))
        out += payload + sync
    return bytes(out)


_ICEBERG_ML_SCHEMA = (
    '{"type":"record","name":"manifest_file","fields":['
    '{"name":"manifest_path","type":"string"},'
    '{"name":"manifest_length","type":"long"}]}'
)
_ICEBERG_MAN_SCHEMA = (
    '{"type":"record","name":"manifest_entry","fields":['
    '{"name":"status","type":"int"},'
    '{"name":"data_file","type":{"type":"record","name":"data_file",'
    '"fields":['
    '{"name":"file_path","type":"string"},'
    '{"name":"record_count","type":"long"},'
    '{"name":"file_size_in_bytes","type":"long"}]}}]}'
)


def _avro_container(schema_json: str, rows: "list[bytes]", seed: int,
                    codec: str) -> bytes:
    """Frame pre-encoded Avro record bodies as an object container."""
    import zlib as _zlib

    sync = bytes((seed * 29 + j * 13 + 7) % 256 for j in range(16))
    out = bytearray(b"Obj\x01")
    out += _avro_zigzag(2)
    out += _avro_str("avro.schema") + _avro_str(schema_json)
    out += _avro_str("avro.codec") + _avro_str(codec)
    out += _avro_zigzag(0)
    out += sync
    payload = b"".join(rows)
    if codec == "deflate":
        co = _zlib.compressobj(6, _zlib.DEFLATED, -15)
        payload = co.compress(payload) + co.flush()
    out += _avro_zigzag(len(rows)) + _avro_zigzag(len(payload))
    out += payload + sync
    return bytes(out)


@_functools.lru_cache(maxsize=512)
def make_iceberg(seed: int) -> bytes:
    """Deterministic Iceberg metadata bundle (tar of metadata.json +
    Avro manifest list + Avro manifests) for the ``iceberg_snapshot``
    driver query.

    Planted rules (replayed in closed form by the oracle):

    - snapshot id ``1000 + seed`` (a stale snapshot with a different
      id is planted first, so the walk must resolve
      ``current-snapshot-id``)
    - ``n_manifests = 1 + seed % 3``; manifest ``m`` holds
      ``2 + (seed + m) % 4`` entries
    - entry ``(m, f)``: DELETED (status 2) when
      ``(seed + m + f) % 5 == 4``; else ADDED/EXISTING alternating;
      ``record_count = 100 + (seed*7 + 31*m + 13*f) % 900``;
      ``file_size_in_bytes = 1000 + (seed*11 + 17*m + 7*f) % 9000``
    - Avro codec: deflate for odd seeds, null for even
    """
    import json as _json

    codec = "deflate" if seed % 2 else "null"
    nm = 1 + seed % 3
    manifests = {}
    ml_rows = []
    for m in range(nm):
        nf = 2 + (seed + m) % 4
        rows = []
        for f in range(nf):
            deleted = (seed + m + f) % 5 == 4
            status = 2 if deleted else (1 if f % 2 == 0 else 0)
            body = _avro_zigzag(status)
            body += _avro_str(f"data/m{m}-f{f}.parquet")
            body += _avro_zigzag(100 + (seed * 7 + 31 * m + 13 * f) % 900)
            body += _avro_zigzag(1000 + (seed * 11 + 17 * m + 7 * f)
                                 % 9000)
            rows.append(body)
        name = f"manifest-{m}.avro"
        manifests[name] = _avro_container(_ICEBERG_MAN_SCHEMA, rows,
                                          seed + m, codec)
        ml_rows.append(_avro_str(name)
                       + _avro_zigzag(len(manifests[name])))
    ml = _avro_container(_ICEBERG_ML_SCHEMA, ml_rows, seed, codec)
    meta = _json.dumps({
        "format-version": 2,
        "table-uuid": f"0000-{seed:04d}",
        "current-snapshot-id": 1000 + seed,
        "snapshots": [
            {"snapshot-id": 999 - seed,
             "manifest-list": "stale-manifest-list.avro"},
            {"snapshot-id": 1000 + seed,
             "manifest-list": "manifest-list.avro"},
        ],
    }).encode()
    out = bytearray()
    out += _tar_member("metadata.json", meta)
    out += _tar_member("manifest-list.avro", ml)
    for name, data in manifests.items():
        out += _tar_member(name, data)
    out += b"\x00" * 1024
    return bytes(out)


def make_arrow_ipc(seed: int) -> bytes:
    """Deterministic Arrow IPC bytes for the ``arrow_ipc_scan`` driver
    query — written by pyarrow's IPC writer, so a green row certifies
    operators/arrow_ipc.py walks real FlatBuffers metadata and
    record-batch buffers.

    Planted rules (replayed in closed form by the oracle):

    - ``n = 80 + seed % 150`` rows in 40-row record batches
    - column ``v`` (int64, nullable): NULL when ``i % 8 == 7`` else
      ``(seed*5 + 9*i) % 3000 - 500``
    - column ``s`` (utf8): ``'tag' || (seed + 2*i) % 19``
    - FILE format for even seeds, STREAM format for odd
    - body compression cycles [none, zstd, lz4] with ``seed % 3`` —
      compressed buffers decode through the engine's own frame paths
    """
    import pyarrow as _pa

    n = 80 + seed % 150
    v = [None if i % 8 == 7 else (seed * 5 + 9 * i) % 3000 - 500
         for i in range(n)]
    s = [f"tag{(seed + 2 * i) % 19}" for i in range(n)]
    table = _pa.table({"v": _pa.array(v, _pa.int64()),
                       "s": _pa.array(s, _pa.string())})
    comp = [None, "zstd", "lz4"][seed % 3]
    opts = _pa.ipc.IpcWriteOptions(compression=comp)
    sink = _pa.BufferOutputStream()
    opener = _pa.ipc.new_file if seed % 2 == 0 else _pa.ipc.new_stream
    with opener(sink, table.schema, options=opts) as w:
        for at in range(0, n, 40):
            w.write_batch(
                _pa.record_batch(table.slice(at, 40).to_pydict(),
                                 schema=table.schema))
    return sink.getvalue().to_pybytes()


@_functools.lru_cache(maxsize=512)
def make_parquet_lists(seed: int) -> bytes:
    """Deterministic parquet bytes with a one-level LIST column for
    the ``parquet_scan_lists`` driver query (written by parquet-cpp;
    the reader assembles records from rep/def levels).

    Planted rules (replayed in closed form by the oracle):

    - ``n = 60 + seed % 120`` rows
    - row ``i``: kind ``(seed + 3*i) % 6`` — 0 ⇒ NULL list, 1 ⇒
      empty list, else ``L = 1 + (seed + i) % 4`` elements where
      element ``j`` is NULL when ``(i + j) % 7 == 6`` else
      ``(seed*7 + 13*i + 5*j) % 2000 - 300``
    - codec snappy/zstd by ``seed % 2``; v2 pages when
      ``seed % 3 == 0``; dictionary when ``seed % 5 < 2``
    """
    import pyarrow as _pa
    import pyarrow.parquet as _pq

    n = 60 + seed % 120
    lists = []
    for i in range(n):
        kind = (seed + 3 * i) % 6
        if kind == 0:
            lists.append(None)
        elif kind == 1:
            lists.append([])
        else:
            lists.append([
                None if (i + j) % 7 == 6
                else (seed * 7 + 13 * i + 5 * j) % 2000 - 300
                for j in range(1 + (seed + i) % 4)])
    table = _pa.table({"v": _pa.array(lists, _pa.list_(_pa.int64()))})
    buf = _pa.BufferOutputStream()
    kw = dict(compression=["snappy", "zstd"][seed % 2],
              use_dictionary=(seed % 5 < 2), row_group_size=50)
    if seed % 3 == 0:
        kw["data_page_version"] = "2.0"
    _pq.write_table(table, buf, **kw)
    return buf.getvalue().to_pybytes()


def _nested_fixture_rows(seed: int) -> list:
    """The shared struct{a, tags, pts, m} planted rows used by BOTH
    the parquet and orc nested driver queries (one oracle, two byte
    paths)."""
    n = 40 + seed % 80
    rows = []
    for i in range(n):
        if (seed + 5 * i) % 7 == 0:
            rows.append(None)
            continue
        a = None if i % 5 == 3 else (seed * 3 + 11 * i) % 1000
        if (seed + i) % 6 == 0:
            tags = None
        else:
            tags = [None if (i + j) % 5 == 4
                    else "t" + str((seed + 7 * i + 3 * j) % 50)
                    for j in range((seed + 2 * i) % 4)]
        pts = [{"x": (seed + 13 * i + 7 * k) % 500,
                "y": None if (i + k) % 3 == 0 else (i * k) % 100}
               for k in range((seed + 3 * i) % 3)]
        m = [("k" + str(e),
              None if (i + e) % 7 == 6 else (seed + 9 * i + 4 * e) % 300)
             for e in range((seed + i) % 3)]
        rows.append({"a": a, "tags": tags, "pts": pts, "m": m})
    return rows


@_functools.lru_cache(maxsize=256)
def make_parquet_nested(seed: int) -> bytes:
    """Deterministic parquet bytes with a fully NESTED column for the
    ``parquet_scan_nested`` driver query (written by parquet-cpp; the
    reader rebuilds records by general Dremel assembly).

    Column ``v``: struct { a: int64, tags: list<string>,
    pts: list<struct{x:int64, y:int64}>, m: map<string,int64> }.

    Planted rules (replayed in closed form by the oracle):

    - ``n = 40 + seed % 80`` rows
    - row ``i`` NULL struct when ``(seed + 5*i) % 7 == 0``; else:
      - ``a``: NULL when ``i % 5 == 3`` else ``(seed*3 + 11*i) % 1000``
      - ``tags``: NULL list when ``(seed + i) % 6 == 0``; else
        ``(seed + 2*i) % 4`` elements, element ``j`` NULL when
        ``(i + j) % 5 == 4`` else ``'t' || ((seed + 7*i + 3*j) % 50)``
      - ``pts``: ``(seed + 3*i) % 3`` elements; element ``k`` has
        ``x = (seed + 13*i + 7*k) % 500`` and ``y`` NULL when
        ``(i + k) % 3 == 0`` else ``(i*k) % 100``
      - ``m``: ``(seed + i) % 3`` entries; entry ``e`` is
        ``'k' || e → NULL if (i+e) % 7 == 6 else
        (seed + 9*i + 4*e) % 300``
    - codec snappy/zstd by ``seed % 2``; v2 pages when
      ``seed % 3 == 0``; dictionary when ``seed % 5 < 2``
    """
    import pyarrow as _pa
    import pyarrow.parquet as _pq

    rows = _nested_fixture_rows(seed)
    typ = _pa.struct([
        ("a", _pa.int64()),
        ("tags", _pa.list_(_pa.string())),
        ("pts", _pa.list_(_pa.struct([("x", _pa.int64()),
                                      ("y", _pa.int64())]))),
        ("m", _pa.map_(_pa.string(), _pa.int64())),
    ])
    table = _pa.table({"v": _pa.array(rows, typ)})
    buf = _pa.BufferOutputStream()
    kw = dict(compression=["snappy", "zstd"][seed % 2],
              use_dictionary=(seed % 5 < 2), row_group_size=32)
    if seed % 3 == 0:
        kw["data_page_version"] = "2.0"
    _pq.write_table(table, buf, **kw)
    return buf.getvalue().to_pybytes()


@_functools.lru_cache(maxsize=256)
def make_delta_checkpoint_bundle(seed: int) -> bytes:
    """Tar bundle of a Delta ``_delta_log`` with a REAL parquet
    checkpoint (written by parquet-cpp; add/remove are nested struct
    columns read back by the engine's Dremel assembler) for the
    ``delta_checkpoint_snapshot`` driver query.

    Planted rules (replayed in closed form by the oracle):

    - checkpoint version ``v = 10 + seed % 5``; last version
      ``last = v + 3 + seed % 4``; paths ``f0..f19``
    - commit ``w`` (0..last) holds two actions ``j ∈ {0,1}``:
      ``path_id = (seed + 5*w + 3*j) % 20``, remove when
      ``(seed + w + j) % 4 == 3`` else add with
      ``size = 100 + (seed + 7*w + j) % 900``
    - the checkpoint parquet folds commits ``w ≤ v`` (latest action
      per path by ``(w, j)``), one row per touched path sorted by
      path id, plus TWO all-null rows standing in for protocol/
      metaData actions; ``_last_checkpoint`` records its row count
    - when ``seed % 3 == 2`` the checkpoint is MULTI-PART (2 parts,
      ``<v>.checkpoint.<i>.<parts>.parquet``, rows split in half)
    - JSON commits exist only for ``w > v``
    - checkpoint codec snappy/zstd by ``seed % 2``; v2 pages when
      ``seed % 3 == 0``; dictionary when ``seed % 5 < 2``
    """
    import json as _json

    import pyarrow as _pa
    import pyarrow.parquet as _pq

    v = 10 + seed % 5
    last = v + 3 + seed % 4

    def action(w: int, j: int) -> tuple[int, bool, int]:
        return ((seed + 5 * w + 3 * j) % 20,
                (seed + w + j) % 4 == 3,
                100 + (seed + 7 * w + j) % 900)

    state: "dict[int, tuple[int, int, bool, int]]" = {}
    for w in range(v + 1):
        for j in (0, 1):
            pid, is_rm, size = action(w, j)
            state[pid] = (w, j, is_rm, size)
    add_rows: list = [None, None]
    rem_rows: list = [None, None]
    for pid in sorted(state):
        _w, _j, is_rm, size = state[pid]
        if is_rm:
            add_rows.append(None)
            rem_rows.append({"path": f"f{pid}"})
        else:
            add_rows.append({"path": f"f{pid}", "size": size})
            rem_rows.append(None)
    table = _pa.table({
        "add": _pa.array(add_rows, _pa.struct(
            [("path", _pa.string()), ("size", _pa.int64())])),
        "remove": _pa.array(rem_rows, _pa.struct(
            [("path", _pa.string())])),
    })
    buf = _pa.BufferOutputStream()
    kw = dict(compression=["snappy", "zstd"][seed % 2],
              use_dictionary=(seed % 5 < 2))
    if seed % 3 == 0:
        kw["data_page_version"] = "2.0"
    _pq.write_table(table, buf, **kw)
    ckpt = buf.getvalue().to_pybytes()

    out = bytearray()
    lc_doc: dict = {"version": v, "size": len(add_rows)}
    if seed % 3 == 2:
        # the protocol's multi-part layout: split the checkpoint rows
        # across 2 parts (<v>.checkpoint.<i>.<parts>.parquet)
        lc_doc["parts"] = 2
        half = len(add_rows) // 2
        for i, (lo, hi) in enumerate(((0, half),
                                      (half, len(add_rows))), 1):
            pt = _pa.table({
                "add": _pa.array(add_rows[lo:hi], _pa.struct(
                    [("path", _pa.string()), ("size", _pa.int64())])),
                "remove": _pa.array(rem_rows[lo:hi], _pa.struct(
                    [("path", _pa.string())])),
            })
            pbuf = _pa.BufferOutputStream()
            _pq.write_table(pt, pbuf, **kw)
            out += _tar_member(
                f"_delta_log/{v:020d}.checkpoint.{i:010d}.{2:010d}"
                ".parquet", pbuf.getvalue().to_pybytes())
    else:
        out += _tar_member(f"_delta_log/{v:020d}.checkpoint.parquet",
                           ckpt)
    lc = _json.dumps(lc_doc).encode()
    out += _tar_member("_delta_log/_last_checkpoint", lc)
    for w in range(v + 1, last + 1):
        lines = []
        for j in (0, 1):
            pid, is_rm, size = action(w, j)
            if is_rm:
                lines.append(_json.dumps(
                    {"remove": {"path": f"f{pid}",
                                "deletionTimestamp": w}}))
            else:
                lines.append(_json.dumps(
                    {"add": {"path": f"f{pid}", "size": size,
                             "dataChange": True}}))
        out += _tar_member(f"_delta_log/{w:020d}.json",
                           ("\n".join(lines) + "\n").encode())
    out += b"\x00" * 1024
    return bytes(out)


@_functools.lru_cache(maxsize=512)
def make_iceberg_scan_bundle(seed: int) -> bytes:
    """Iceberg bundle whose manifests point at REAL parquet data
    files (written by parquet-cpp inside the bundle) for the
    ``iceberg_scan_chain`` driver query.

    Planted rules (replayed in closed form by the oracle):

    - ``nm = 1 + seed % 2`` manifests; manifest ``m`` lists
      ``2 + (seed + m) % 3`` files; entry DELETED when
      ``(seed + m + f) % 4 == 3``
    - data file ``(m, f)``: ``n = 30 + (seed*5 + 7*m + 11*f) % 50``
      rows of ``v = (seed*3 + 17*m + 23*f + 9*i) % 1000``; parquet
      codec snappy/zstd by ``(seed + f) % 2``; the manifest's
      record_count matches the footer (the chain validates it)
    """
    import json as _json

    import pyarrow as _pa
    import pyarrow.parquet as _pq

    codec_avro = "deflate" if seed % 2 else "null"
    nm = 1 + seed % 2
    members: "dict[str, bytes]" = {}
    ml_rows = []
    for m in range(nm):
        nf = 2 + (seed + m) % 3
        rows = []
        for f in range(nf):
            n = 30 + (seed * 5 + 7 * m + 11 * f) % 50
            v = [(seed * 3 + 17 * m + 23 * f + 9 * i) % 1000
                 for i in range(n)]
            buf = _pa.BufferOutputStream()
            _pq.write_table(
                _pa.table({"v": _pa.array(v, _pa.int64())}), buf,
                compression=["snappy", "zstd"][(seed + f) % 2])
            blob = buf.getvalue().to_pybytes()
            name = f"data/m{m}-f{f}.parquet"
            members[name] = blob
            status = 2 if (seed + m + f) % 4 == 3 else 1
            body = _avro_zigzag(status)
            body += _avro_str(name)
            body += _avro_zigzag(n)
            body += _avro_zigzag(len(blob))
            rows.append(body)
        mname = f"manifest-{m}.avro"
        members[mname] = _avro_container(_ICEBERG_MAN_SCHEMA, rows,
                                         seed + m, codec_avro)
        ml_rows.append(_avro_str(mname)
                       + _avro_zigzag(len(members[mname])))
    members["manifest-list.avro"] = _avro_container(
        _ICEBERG_ML_SCHEMA, ml_rows, seed, codec_avro)
    members["metadata.json"] = _json.dumps({
        "format-version": 2,
        "current-snapshot-id": 5000 + seed,
        "snapshots": [
            {"snapshot-id": 4999 - seed,
             "manifest-list": "stale.avro"},
            {"snapshot-id": 5000 + seed,
             "manifest-list": "manifest-list.avro"},
        ],
    }).encode()
    out = bytearray()
    for name, data in members.items():
        out += _tar_member(name, data)
    out += b"\x00" * 1024
    return bytes(out)


_ICEBERG_ML_V2_SCHEMA = (
    '{"type":"record","name":"manifest_file","fields":['
    '{"name":"manifest_path","type":"string"},'
    '{"name":"manifest_length","type":"long"},'
    '{"name":"content","type":"int"}]}'
)


@_functools.lru_cache(maxsize=256)
def make_iceberg_v2_bundle(seed: int) -> bytes:
    """Iceberg FORMAT-V2 bundle with a position-delete manifest for
    the ``iceberg_scan_deletes`` driver query: the manifest list
    carries ``content`` (0 data / 1 deletes) and the delete manifest
    points at a REAL parquet position-delete file
    (``file_path``/``pos`` columns, sorted), per the public spec.

    Planted rules (replayed in closed form by the oracle) — the data
    layout matches :func:`make_iceberg_scan_bundle`:

    - ``nm = 1 + seed % 2`` data manifests; manifest ``m`` lists
      ``2 + (seed + m) % 3`` files; entry DELETED (status 2) when
      ``(seed + m + f) % 4 == 3``
    - data file ``(m, f)``: ``n = 30 + (seed*5 + 7*m + 11*f) % 50``
      rows of ``v = (seed*3 + 17*m + 23*f + 9*i) % 1000``
    - position deletes target EVERY file (m, f) — live or dead — at
      rows ``i % 5 == (seed + m + f) % 5``; dangling deletes against
      dead files must NOT be applied (they prove the reader keys the
      delete map by path)
    - all parquet codecs snappy/zstd as in the data layout
    """
    import json as _json

    import pyarrow as _pa
    import pyarrow.parquet as _pq

    codec_avro = "deflate" if seed % 2 else "null"
    nm = 1 + seed % 2
    members: "dict[str, bytes]" = {}
    ml_rows = []
    del_rows: "list[tuple[str, int]]" = []
    for m in range(nm):
        nf = 2 + (seed + m) % 3
        rows = []
        for f in range(nf):
            n = 30 + (seed * 5 + 7 * m + 11 * f) % 50
            v = [(seed * 3 + 17 * m + 23 * f + 9 * i) % 1000
                 for i in range(n)]
            buf = _pa.BufferOutputStream()
            _pq.write_table(
                _pa.table({"v": _pa.array(v, _pa.int64())}), buf,
                compression=["snappy", "zstd"][(seed + f) % 2])
            blob = buf.getvalue().to_pybytes()
            name = f"data/m{m}-f{f}.parquet"
            members[name] = blob
            status = 2 if (seed + m + f) % 4 == 3 else 1
            body = _avro_zigzag(status)
            body += _avro_str(name)
            body += _avro_zigzag(n)
            body += _avro_zigzag(len(blob))
            rows.append(body)
            del_rows.extend(
                (name, i) for i in range(n)
                if i % 5 == (seed + m + f) % 5)
        mname = f"manifest-{m}.avro"
        members[mname] = _avro_container(_ICEBERG_MAN_SCHEMA, rows,
                                         seed + m, codec_avro)
        ml_rows.append(_avro_str(mname)
                       + _avro_zigzag(len(members[mname]))
                       + _avro_zigzag(0))
    del_rows.sort()
    buf = _pa.BufferOutputStream()
    _pq.write_table(
        _pa.table({
            "file_path": _pa.array([p for p, _ in del_rows],
                                   _pa.string()),
            "pos": _pa.array([i for _, i in del_rows], _pa.int64()),
        }), buf, compression=["snappy", "zstd"][seed % 2])
    dblob = buf.getvalue().to_pybytes()
    members["deletes/d0.parquet"] = dblob
    dbody = _avro_zigzag(1)
    dbody += _avro_str("deletes/d0.parquet")
    dbody += _avro_zigzag(len(del_rows))
    dbody += _avro_zigzag(len(dblob))
    members["manifest-del.avro"] = _avro_container(
        _ICEBERG_MAN_SCHEMA, [dbody], seed + 50, codec_avro)
    ml_rows.append(_avro_str("manifest-del.avro")
                   + _avro_zigzag(len(members["manifest-del.avro"]))
                   + _avro_zigzag(1))
    members["manifest-list.avro"] = _avro_container(
        _ICEBERG_ML_V2_SCHEMA, ml_rows, seed, codec_avro)
    members["metadata.json"] = _json.dumps({
        "format-version": 2,
        "current-snapshot-id": 7000 + seed,
        "snapshots": [
            {"snapshot-id": 6999 - seed,
             "manifest-list": "stale.avro"},
            {"snapshot-id": 7000 + seed,
             "manifest-list": "manifest-list.avro"},
        ],
    }).encode()
    out = bytearray()
    for name, data in members.items():
        out += _tar_member(name, data)
    out += b"\x00" * 1024
    return bytes(out)


@_functools.lru_cache(maxsize=512)
def make_msgpack(seed: int) -> bytes:
    """Deterministic MessagePack document for the ``msgpack_decode``
    driver query — covers positive/negative fixints, int8, uint16/
    32/64 (deliberately over-wide "id" exercises non-canonical
    acceptance), fixstr + str8, fixarray + array16, fixmaps, bin8,
    fixext4, float64, and both booleans.

    Planted rules (replayed in closed form by the oracle):

    - ``id = seed`` (uint32), ``neg = -(1 + seed % 50)``
    - ``items``: ``n = 2 + seed % 4`` uint16s ``(seed*7 + i) % 1000``
      (array16 framing when ``seed % 5 == 0``)
    - ``meta.name = 'doc' || (3*seed) % 100`` (str8 when
      ``seed % 3 == 0``), ``meta.big = 2^32 + seed % 100000``
      (uint64), ``meta.ok = (seed % 2 == 0)``
    - ``blob``: bin8 of ``5 + seed % 9`` bytes; ``ts``: fixext4;
      ``f``: float64 ``(seed % 64) / 16``
    """
    import struct as _struct

    def key(s: str) -> bytes:
        return bytes([0xA0 | len(s)]) + s.encode()

    out = bytearray([0x87])  # fixmap, 7 entries
    out += key("id") + b"\xce" + _struct.pack(">I", seed)
    neg = -(1 + seed % 50)
    out += key("neg")
    if neg >= -32:
        out += _struct.pack("b", neg)
    else:
        out += b"\xd0" + _struct.pack(">b", neg)
    n = 2 + seed % 4
    out += key("items")
    if seed % 5 == 0:
        out += b"\xdc" + _struct.pack(">H", n)
    else:
        out += bytes([0x90 | n])
    for i in range(n):
        out += b"\xcd" + _struct.pack(">H", (seed * 7 + i) % 1000)
    out += key("meta") + bytes([0x83])
    name = f"doc{(3 * seed) % 100}"
    out += key("name")
    if seed % 3 == 0:
        out += b"\xd9" + bytes([len(name)]) + name.encode()
    else:
        out += bytes([0xA0 | len(name)]) + name.encode()
    out += key("big") + b"\xcf" + _struct.pack(
        ">Q", (1 << 32) + seed % 100000)
    out += key("ok") + (b"\xc3" if seed % 2 == 0 else b"\xc2")
    nb = 5 + seed % 9
    out += key("blob") + b"\xc4" + bytes([nb])
    out += bytes((seed + 3 * j) % 256 for j in range(nb))
    out += key("ts") + b"\xd6\x01" + _struct.pack(">I", seed % 65536)
    out += key("f") + b"\xcb" + _struct.pack(">d", (seed % 64) / 16.0)
    return bytes(out)


@_functools.lru_cache(maxsize=256)
def make_orc_ts_dec(seed: int) -> bytes:
    """Deterministic ORC bytes with TIMESTAMP + DECIMAL columns for
    the ``orc_scan_timestamps`` driver query (written by the Apache
    ORC C++ writer via pyarrow; read back from the raw DATA/SECONDARY
    streams).

    Planted rules (replayed in closed form by the oracle):

    - ``n = 50 + seed % 100`` rows; row ``i`` NULL (both columns)
      when ``(seed + i) % 9 == 8``
    - ``ts``: seconds ``1400000000 + (seed*13 + 7*i) % 500000000``
      (straddles the ORC 2015 epoch), nanos
      ``[0, 1, 1000, 123000000, 987654321][(seed + 3*i) % 5]``
    - ``d``: decimal(12,2) with unscaled value
      ``(seed*7 + 11*i) % 2000000 - 1000000``
    - codec UNCOMPRESSED/ZLIB/SNAPPY/ZSTD by ``seed % 4``
    """
    import decimal as _decimal

    import pyarrow as _pa
    from pyarrow import orc as _orc

    n = 50 + seed % 100
    nanos_menu = (0, 1, 1000, 123000000, 987654321)
    ts_vals, dec_vals = [], []
    for i in range(n):
        if (seed + i) % 9 == 8:
            ts_vals.append(None)
            dec_vals.append(None)
            continue
        sec = 1400000000 + (seed * 13 + 7 * i) % 500000000
        ts_vals.append(sec * 1_000_000_000
                       + nanos_menu[(seed + 3 * i) % 5])
        dec_vals.append(_decimal.Decimal(
            (seed * 7 + 11 * i) % 2000000 - 1000000) / 100)
    t = _pa.table({
        "ts": _pa.array(ts_vals, _pa.timestamp("ns")),
        "d": _pa.array(dec_vals, _pa.decimal128(12, 2)),
    })
    buf = _pa.BufferOutputStream()
    _orc.write_table(
        t, buf,
        compression=["UNCOMPRESSED", "ZLIB", "SNAPPY",
                     "ZSTD"][seed % 4])
    return buf.getvalue().to_pybytes()


# --------------------------------------------------------------------------
# zstd dictionary frames (r12).  libzstd (baked into this environment,
# loaded via ctypes) is the PRODUCER: ZDICT trains a real dictionary
# over deterministic samples, ZSTD_compress_usingDict emits real
# dictionary frames; the engine's pure-Python RFC 8878 path is the
# consumer under test.

ZSTD_DICT_SENTINEL = (
    b"--spark-graft-zstd-dict-sentinel:the-common-prefix-all-docs-"
    b"see-")
assert len(ZSTD_DICT_SENTINEL) == 64


def _zstd_lib():
    import ctypes
    import ctypes.util

    name = ctypes.util.find_library("zstd")
    if name is None:
        raise RuntimeError("libzstd not available in this environment")
    z = ctypes.CDLL(name)
    z.ZDICT_trainFromBuffer.restype = ctypes.c_size_t
    z.ZDICT_isError.restype = ctypes.c_uint
    z.ZSTD_compressBound.restype = ctypes.c_size_t
    z.ZSTD_isError.restype = ctypes.c_uint
    z.ZSTD_createCCtx.restype = ctypes.c_void_p
    z.ZSTD_compress_usingDict.restype = ctypes.c_size_t
    z.ZSTD_compress_usingDict.argtypes = [
        ctypes.c_void_p, ctypes.c_char_p, ctypes.c_size_t,
        ctypes.c_char_p, ctypes.c_size_t,
        ctypes.c_char_p, ctypes.c_size_t, ctypes.c_int]
    return z, ctypes


def zstd_dict_content(seed: int) -> bytes:
    """The planted payload for ``zstd_dict_extract`` (replayed in
    closed form by the oracle): the 64-byte sentinel + ``n = 50 +
    seed % 120`` bytes of ``(5*seed + 13*i) % 251``."""
    n = 50 + seed % 120
    return ZSTD_DICT_SENTINEL + bytes(
        (5 * seed + 13 * i) % 251 for i in range(n))


_ZSTD_DICT_CACHE: "list[bytes | None]" = [None]


def zstd_training_dict() -> bytes:
    """A REAL zstd dictionary trained by libzstd's ZDICT over
    deterministic samples sharing the sentinel prefix (so frames
    compressed against it match into the dictionary window)."""
    if _ZSTD_DICT_CACHE[0] is None:
        z, ctypes = _zstd_lib()
        samples = [zstd_dict_content(s) for s in range(400)]
        blob = b"".join(samples)
        sizes = (ctypes.c_size_t * len(samples))(
            *[len(x) for x in samples])
        buf = ctypes.create_string_buffer(16 * 1024)
        n = z.ZDICT_trainFromBuffer(
            buf, ctypes.c_size_t(len(buf)), blob, sizes,
            ctypes.c_uint(len(samples)))
        if z.ZDICT_isError(ctypes.c_size_t(n)):
            raise RuntimeError("ZDICT training failed")
        _ZSTD_DICT_CACHE[0] = buf.raw[:n]
    return _ZSTD_DICT_CACHE[0]


@_functools.lru_cache(maxsize=256)
def make_zstd_dict_frame(seed: int) -> bytes:
    """One REAL dictionary frame: libzstd compresses
    :func:`zstd_dict_content` against :func:`zstd_training_dict`
    (level 3/9/19 by ``seed % 3``), stamping the trained
    Dictionary_ID into the frame header."""
    z, ctypes = _zstd_lib()
    d = zstd_training_dict()
    msg = zstd_dict_content(seed)
    bound = z.ZSTD_compressBound(ctypes.c_size_t(len(msg)))
    out = ctypes.create_string_buffer(bound)
    cctx = z.ZSTD_createCCtx()
    try:
        n = z.ZSTD_compress_usingDict(
            cctx, out, ctypes.c_size_t(bound),
            msg, ctypes.c_size_t(len(msg)),
            d, ctypes.c_size_t(len(d)), (3, 9, 19)[seed % 3])
        if z.ZSTD_isError(ctypes.c_size_t(n)):
            raise RuntimeError("ZSTD_compress_usingDict failed")
        return out.raw[:n]
    finally:
        z.ZSTD_freeCCtx(ctypes.c_void_p(cctx))


@_functools.lru_cache(maxsize=256)
def make_parquet_int96(seed: int) -> bytes:
    """Deterministic parquet bytes with a legacy INT96 timestamp
    column for the ``parquet_scan_int96`` driver query (written by
    parquet-cpp with ``use_deprecated_int96_timestamps`` — the
    Hive/Spark-1.x layout real lakehouses still carry).

    Planted rules (replayed in closed form by the oracle):

    - ``n = 40 + seed % 80`` rows; row ``i`` NULL when
      ``(seed + i) % 9 == 8``
    - seconds ``1300000000 + (seed*11 + 13*i) % 700000000``, minus
      ``1600000000`` (pre-1970) when ``(seed + i) % 7 == 3``; nanos
      ``[0, 1, 1000, 123000000, 987654321][(seed + 3*i) % 5]``
    - codec none/snappy/gzip/zstd/lz4 by ``seed % 5``; v2 pages when
      ``seed % 3 == 0``; dictionary when ``seed % 5 < 2``
    """
    import pyarrow as _pa
    import pyarrow.parquet as _pq

    n = 40 + seed % 80
    menu = (0, 1, 1000, 123000000, 987654321)
    vals = []
    for i in range(n):
        if (seed + i) % 9 == 8:
            vals.append(None)
            continue
        sec = 1300000000 + (seed * 11 + 13 * i) % 700000000
        if (seed + i) % 7 == 3:
            sec -= 1600000000
        vals.append(sec * 1_000_000_000 + menu[(seed + 3 * i) % 5])
    t = _pa.table({"ts": _pa.array(vals, _pa.timestamp("ns"))})
    buf = _pa.BufferOutputStream()
    kw = dict(
        use_deprecated_int96_timestamps=True,
        compression=["none", "snappy", "gzip", "zstd", "lz4"][seed % 5],
        use_dictionary=(seed % 5 < 2))
    if seed % 3 == 0:
        kw["data_page_version"] = "2.0"
    _pq.write_table(t, buf, **kw)
    return buf.getvalue().to_pybytes()


@_functools.lru_cache(maxsize=256)
def make_orc_nested(seed: int) -> bytes:
    """The SAME planted nested rows as :func:`make_parquet_nested`
    written as ORC by the Apache ORC C++ writer — one closed-form
    oracle exercises two independent byte paths
    (``orc_scan_nested``).  Codec UNCOMPRESSED/ZLIB/SNAPPY/ZSTD/LZ4
    by ``seed % 5``."""
    import pyarrow as _pa
    from pyarrow import orc as _orc

    rows = _nested_fixture_rows(seed)
    typ = _pa.struct([
        ("a", _pa.int64()),
        ("tags", _pa.list_(_pa.string())),
        ("pts", _pa.list_(_pa.struct([("x", _pa.int64()),
                                      ("y", _pa.int64())]))),
        ("m", _pa.map_(_pa.string(), _pa.int64())),
    ])
    t = _pa.table({"v": _pa.array(rows, typ)})
    buf = _pa.BufferOutputStream()
    _orc.write_table(
        t, buf, compression=["UNCOMPRESSED", "ZLIB", "SNAPPY", "ZSTD",
                             "LZ4"][seed % 5])
    return buf.getvalue().to_pybytes()


_ICEBERG_MAN_EQ_SCHEMA = (
    '{"type":"record","name":"manifest_entry","fields":['
    '{"name":"status","type":"int"},'
    '{"name":"sequence_number","type":"long"},'
    '{"name":"data_file","type":{"type":"record","name":"data_file",'
    '"fields":['
    '{"name":"content","type":"int"},'
    '{"name":"file_path","type":"string"},'
    '{"name":"record_count","type":"long"},'
    '{"name":"file_size_in_bytes","type":"long"},'
    '{"name":"equality_ids","type":{"type":"array","items":"int"}}'
    ']}}]}'
)


@_functools.lru_cache(maxsize=256)
def make_iceberg_eq_bundle(seed: int) -> bytes:
    """Iceberg v2 bundle with an EQUALITY-delete manifest for the
    ``iceberg_scan_eq_deletes`` driver query: manifest entries carry
    ``sequence_number`` and the delete file lists VALUES (field id 1
    = column ``v``) that delete matching rows — but ONLY in data
    files whose sequence number is strictly LOWER than the delete's
    (the spec's ordering rule; files at/after the delete's sequence
    must be untouched).

    Planted rules (replayed in closed form by the oracle):

    - data layout as :func:`make_iceberg_scan_bundle` (nm manifests,
      files, status-2 entries, ``v = (seed*3 + 17*m + 23*f + 9*i)
      % 1000``); data file (m, f) has
      ``seq = 1 + (seed + m + f) % 4``
    - ONE equality-delete file at ``seq = 3`` listing every value
      ``x in [0, 1000)`` with ``x % 13 == seed % 13``
    - codec snappy/zstd by ``(seed + f) % 2``; avro deflate on odd
      seeds
    """
    import json as _json

    import pyarrow as _pa
    import pyarrow.parquet as _pq

    codec_avro = "deflate" if seed % 2 else "null"
    nm = 1 + seed % 2
    members: "dict[str, bytes]" = {}
    ml_rows = []
    for m in range(nm):
        nf = 2 + (seed + m) % 3
        rows = []
        for f in range(nf):
            n = 30 + (seed * 5 + 7 * m + 11 * f) % 50
            v = [(seed * 3 + 17 * m + 23 * f + 9 * i) % 1000
                 for i in range(n)]
            buf = _pa.BufferOutputStream()
            _pq.write_table(
                _pa.table({"v": _pa.array(v, _pa.int64())}), buf,
                compression=["snappy", "zstd"][(seed + f) % 2])
            blob = buf.getvalue().to_pybytes()
            name = f"data/m{m}-f{f}.parquet"
            members[name] = blob
            status = 2 if (seed + m + f) % 4 == 3 else 1
            body = _avro_zigzag(status)
            body += _avro_zigzag(1 + (seed + m + f) % 4)  # seq
            body += _avro_zigzag(0)  # content: data
            body += _avro_str(name)
            body += _avro_zigzag(n)
            body += _avro_zigzag(len(blob))
            body += _avro_zigzag(0)  # empty equality_ids array
            rows.append(body)
        mname = f"manifest-{m}.avro"
        members[mname] = _avro_container(_ICEBERG_MAN_EQ_SCHEMA, rows,
                                         seed + m, codec_avro)
        ml_rows.append(_avro_str(mname)
                       + _avro_zigzag(len(members[mname]))
                       + _avro_zigzag(0))
    del_vals = [x for x in range(1000) if x % 13 == seed % 13]
    buf = _pa.BufferOutputStream()
    _pq.write_table(_pa.table({"v": _pa.array(del_vals, _pa.int64())}),
                    buf, compression=["snappy", "zstd"][seed % 2])
    dblob = buf.getvalue().to_pybytes()
    members["deletes/eq0.parquet"] = dblob
    dbody = _avro_zigzag(1)           # status ADDED
    dbody += _avro_zigzag(3)          # delete sequence number
    dbody += _avro_zigzag(2)          # content: equality deletes
    dbody += _avro_str("deletes/eq0.parquet")
    dbody += _avro_zigzag(len(del_vals))
    dbody += _avro_zigzag(len(dblob))
    dbody += _avro_zigzag(1) + _avro_zigzag(1) + _avro_zigzag(0)  # [1]
    members["manifest-del.avro"] = _avro_container(
        _ICEBERG_MAN_EQ_SCHEMA, [dbody], seed + 50, codec_avro)
    ml_rows.append(_avro_str("manifest-del.avro")
                   + _avro_zigzag(len(members["manifest-del.avro"]))
                   + _avro_zigzag(1))
    members["manifest-list.avro"] = _avro_container(
        _ICEBERG_ML_V2_SCHEMA, ml_rows, seed, codec_avro)
    members["metadata.json"] = _json.dumps({
        "format-version": 2,
        "current-snapshot-id": 8000 + seed,
        "snapshots": [
            {"snapshot-id": 8000 + seed,
             "manifest-list": "manifest-list.avro"},
        ],
        "schema": {"fields": [
            {"id": 1, "name": "v", "type": "long"}]},
    }).encode()
    out = bytearray()
    for name, data in members.items():
        out += _tar_member(name, data)
    out += b"\x00" * 1024
    return bytes(out)


_ICEBERG_MAN_EQM_SCHEMA = (
    '{"type":"record","name":"manifest_entry","fields":['
    '{"name":"status","type":"int"},'
    '{"name":"sequence_number","type":["null","long"]},'
    '{"name":"data_file","type":{"type":"record","name":"data_file",'
    '"fields":['
    '{"name":"content","type":"int"},'
    '{"name":"file_path","type":"string"},'
    '{"name":"record_count","type":"long"},'
    '{"name":"file_size_in_bytes","type":"long"},'
    '{"name":"equality_ids","type":{"type":"array","items":"int"}}'
    ']}}]}'
)

_ICEBERG_ML_V2S_SCHEMA = (
    '{"type":"record","name":"manifest_file","fields":['
    '{"name":"manifest_path","type":"string"},'
    '{"name":"manifest_length","type":"long"},'
    '{"name":"content","type":"int"},'
    '{"name":"sequence_number","type":"long"}]}'
)


@_functools.lru_cache(maxsize=256)
def make_iceberg_eq_multi_bundle(seed: int) -> bytes:
    """Iceberg v2 bundle with a COMPOSITE-KEY equality delete (the
    Flink-CDC default shape) for the ``iceberg_scan_eq_multi`` driver
    query, plus the v2 sequence-number INHERITANCE rule: manifest
    entries whose ``sequence_number`` is null (a ``["null","long"]``
    Avro union) inherit the manifest-list entry's sequence number —
    defaulting to 0 instead would over-apply the delete, which the
    oracle would catch.

    Planted rules (replayed in closed form by the oracle):

    - ``nm = 1 + seed % 2`` data manifests; manifest ``m`` carries
      manifest-list ``sequence_number = 1 + (seed + m) % 4``
    - files per manifest ``nf = 2 + (seed + m) % 3``; file (m, f) has
      ``n = 30 + (seed*5 + 7*m + 11*f) % 50`` rows; row ``i``:
      ``k1 = (seed + 5*i + f) % 20``, ``k2 = (seed*2 + 3*i + m) % 15``,
      ``v = (seed*3 + 17*m + 23*f + 9*i) % 1000``
    - entry status 2 (dropped) iff ``(seed + m + f) % 4 == 3``
    - entry sequence: NULL (inherits ``1 + (seed + m) % 4``) when
      ``(seed + f) % 2 == 0``, else explicit
      ``1 + (seed + m + f) % 4``
    - ONE delete file, ``equality_ids = [1, 2]`` (columns k1, k2),
      listing every pair ``(a, b), a<20, b<15`` with
      ``(a + b) % 4 == seed % 4`` — NOT expressible on either column
      alone; its manifest entry's sequence is NULL, inheriting the
      delete manifest's list sequence 3
    - codec snappy/zstd by ``(seed + f) % 2``; avro deflate on odd
      seeds
    """
    import json as _json

    import pyarrow as _pa
    import pyarrow.parquet as _pq

    codec_avro = "deflate" if seed % 2 else "null"
    nm = 1 + seed % 2
    members: "dict[str, bytes]" = {}
    ml_rows = []
    for m in range(nm):
        ml_seq = 1 + (seed + m) % 4
        nf = 2 + (seed + m) % 3
        rows = []
        for f in range(nf):
            n = 30 + (seed * 5 + 7 * m + 11 * f) % 50
            k1 = [(seed + 5 * i + f) % 20 for i in range(n)]
            k2 = [(seed * 2 + 3 * i + m) % 15 for i in range(n)]
            v = [(seed * 3 + 17 * m + 23 * f + 9 * i) % 1000
                 for i in range(n)]
            buf = _pa.BufferOutputStream()
            _pq.write_table(
                _pa.table({"k1": _pa.array(k1, _pa.int64()),
                           "k2": _pa.array(k2, _pa.int64()),
                           "v": _pa.array(v, _pa.int64())}), buf,
                compression=["snappy", "zstd"][(seed + f) % 2])
            blob = buf.getvalue().to_pybytes()
            name = f"data/m{m}-f{f}.parquet"
            members[name] = blob
            status = 2 if (seed + m + f) % 4 == 3 else 1
            body = _avro_zigzag(status)
            if (seed + f) % 2 == 0:
                body += _avro_zigzag(0)  # union branch: null (inherit)
            else:
                body += _avro_zigzag(1)  # union branch: long
                body += _avro_zigzag(1 + (seed + m + f) % 4)
            body += _avro_zigzag(0)  # content: data
            body += _avro_str(name)
            body += _avro_zigzag(n)
            body += _avro_zigzag(len(blob))
            body += _avro_zigzag(0)  # empty equality_ids array
            rows.append(body)
        mname = f"manifest-{m}.avro"
        members[mname] = _avro_container(_ICEBERG_MAN_EQM_SCHEMA, rows,
                                         seed + m, codec_avro)
        ml_rows.append(_avro_str(mname)
                       + _avro_zigzag(len(members[mname]))
                       + _avro_zigzag(0)
                       + _avro_zigzag(ml_seq))
    del_pairs = [(a, b) for a in range(20) for b in range(15)
                 if (a + b) % 4 == seed % 4]
    buf = _pa.BufferOutputStream()
    _pq.write_table(
        _pa.table({"k1": _pa.array([p[0] for p in del_pairs],
                                   _pa.int64()),
                   "k2": _pa.array([p[1] for p in del_pairs],
                                   _pa.int64())}),
        buf, compression=["snappy", "zstd"][seed % 2])
    dblob = buf.getvalue().to_pybytes()
    members["deletes/eqm.parquet"] = dblob
    dbody = _avro_zigzag(1)           # status ADDED
    dbody += _avro_zigzag(0)          # union branch: null (inherit 3)
    dbody += _avro_zigzag(2)          # content: equality deletes
    dbody += _avro_str("deletes/eqm.parquet")
    dbody += _avro_zigzag(len(del_pairs))
    dbody += _avro_zigzag(len(dblob))
    dbody += (_avro_zigzag(2) + _avro_zigzag(1) + _avro_zigzag(2)
              + _avro_zigzag(0))  # equality_ids [1, 2]
    members["manifest-del.avro"] = _avro_container(
        _ICEBERG_MAN_EQM_SCHEMA, [dbody], seed + 50, codec_avro)
    ml_rows.append(_avro_str("manifest-del.avro")
                   + _avro_zigzag(len(members["manifest-del.avro"]))
                   + _avro_zigzag(1)
                   + _avro_zigzag(3))  # delete manifest sequence 3
    members["manifest-list.avro"] = _avro_container(
        _ICEBERG_ML_V2S_SCHEMA, ml_rows, seed, codec_avro)
    members["metadata.json"] = _json.dumps({
        "format-version": 2,
        "current-snapshot-id": 8100 + seed,
        "snapshots": [
            {"snapshot-id": 8100 + seed,
             "manifest-list": "manifest-list.avro"},
        ],
        "schema": {"fields": [
            {"id": 1, "name": "k1", "type": "long"},
            {"id": 2, "name": "k2", "type": "long"},
            {"id": 3, "name": "v", "type": "long"}]},
    }).encode()
    out = bytearray()
    for name, data in members.items():
        out += _tar_member(name, data)
    out += b"\x00" * 1024
    return bytes(out)


@_functools.lru_cache(maxsize=256)
def make_arrow_nested(seed: int) -> bytes:
    """The SAME planted nested rows as :func:`make_parquet_nested` /
    :func:`make_orc_nested` written as Arrow IPC by pyarrow — a THIRD
    independent byte path under the one closed-form oracle
    (``arrow_nested_scan``).  File/stream layout by ``seed % 2``,
    body compression none/zstd/lz4 by ``seed % 3``, 32-row batches."""
    import pyarrow as _pa

    rows = _nested_fixture_rows(seed)
    typ = _pa.struct([
        ("a", _pa.int64()),
        ("tags", _pa.list_(_pa.string())),
        ("pts", _pa.list_(_pa.struct([("x", _pa.int64()),
                                      ("y", _pa.int64())]))),
        ("m", _pa.map_(_pa.string(), _pa.int64())),
    ])
    t = _pa.table({"v": _pa.array(rows, typ)})
    sink = _pa.BufferOutputStream()
    opts = _pa.ipc.IpcWriteOptions(
        compression=[None, "zstd", "lz4"][seed % 3])
    new = _pa.ipc.new_file if seed % 2 == 0 else _pa.ipc.new_stream
    with new(sink, t.schema, options=opts) as w:
        for batch in t.to_batches(max_chunksize=32):
            w.write_batch(batch)
    return sink.getvalue().to_pybytes()


@_functools.lru_cache(maxsize=256)
def make_sqlite_db(seed: int) -> bytes:
    """A REAL SQLite database built by the stdlib ``sqlite3`` module
    for the ``sqlite_scan`` driver query — page size 512/1024/4096 by
    ``seed % 3`` (512 forces overflow chains for the long texts),
    two tables + an index (the reader must walk only ``t``'s b-tree).

    Planted rules for table ``t(id INTEGER PRIMARY KEY, v INTEGER,
    s TEXT, b BLOB, f REAL)``, replayed in closed form by the oracle
    (row ``i`` in 0..n-1, rowid ``i+1``):

    - ``n = 30 + seed % 60``
    - ``v``: NULL when ``(seed + i) % 9 == 8`` else
      ``(seed*7 + 13*i) % 100000 - 50000``
    - ``s``: NULL when ``(seed + i) % 7 == 6`` else ``'t'`` repeated
      ``2000 + seed % 100`` times when ``i % 10 == 5`` (overflow)
      else ``(seed + 3*i) % 40`` times
    - ``b``: NULL when ``(seed + i) % 11 == 10`` else
      ``(seed + 2*i) % 30`` bytes
    - ``f``: NULL when ``(seed + i) % 5 == 4`` else
      ``((seed + 11*i) % 4000 - 2000) / 4``
    """
    import sqlite3 as _sqlite3

    con = _sqlite3.connect(":memory:")
    if True:
        con.execute(f"PRAGMA page_size={[512, 1024, 4096][seed % 3]}")
        con.execute(
            "CREATE TABLE t (id INTEGER PRIMARY KEY, v INTEGER, "
            "s TEXT, b BLOB, f REAL)")
        con.execute("CREATE TABLE u (x)")
        con.execute("CREATE INDEX ix ON t(v)")
        n = 30 + seed % 60
        rows = []
        for i in range(n):
            v = (None if (seed + i) % 9 == 8
                 else (seed * 7 + 13 * i) % 100000 - 50000)
            if (seed + i) % 7 == 6:
                s = None
            elif i % 10 == 5:
                s = "t" * (2000 + seed % 100)
            else:
                s = "t" * ((seed + 3 * i) % 40)
            b = (None if (seed + i) % 11 == 10
                 else bytes((seed + j) % 256
                            for j in range((seed + 2 * i) % 30)))
            f = (None if (seed + i) % 5 == 4
                 else ((seed + 11 * i) % 4000 - 2000) / 4)
            rows.append((v, s, b, f))
        con.executemany("INSERT INTO t (v, s, b, f) VALUES (?,?,?,?)",
                        rows)
        con.commit()
        data = bytes(con.serialize())
        con.close()
        return data


@_functools.lru_cache(maxsize=256)
def make_parquet_paged(seed: int) -> bytes:
    """Parquet bytes WITH PAGE INDEXES (parquet-cpp
    ``write_page_index=True``) for the ``parquet_page_prune`` driver
    query — a sorted int64 column across many small pages and three
    row groups, so a selective range predicate must prune most pages.

    Planted rules (replayed in closed form by the oracle):

    - 20000 rows; row ``i`` NULL when ``(seed + i) % 53 == 0`` else
      ``v = 37*i + seed % 37`` (strictly increasing)
    - codec none/snappy/zstd by ``seed % 3``; dictionary when
      ``seed % 5 < 2``; 4 KiB pages, 8000-row row groups
    """
    import pyarrow as _pa
    import pyarrow.parquet as _pq

    vals = [None if (seed + i) % 53 == 0 else 37 * i + seed % 37
            for i in range(20000)]
    t = _pa.table({"v": _pa.array(vals, _pa.int64())})
    buf = _pa.BufferOutputStream()
    _pq.write_table(
        t, buf, write_page_index=True, data_page_size=4096,
        row_group_size=8000,
        compression=["none", "snappy", "zstd"][seed % 3],
        use_dictionary=(seed % 5 < 2))
    return buf.getvalue().to_pybytes()


@_functools.lru_cache(maxsize=256)
def make_gzip_members(seed: int) -> bytes:
    """REAL gzip bytes produced by the stdlib zlib/gzip producer for
    the ``gzip_extract_raw`` driver query (decoded back by the
    from-scratch RFC 1951/1952 path in operators/inflate.py).

    Planted rules (replayed in closed form by the oracle):

    - content = ``n_a = 180 + seed % 120`` bytes of
      ``(7*seed + 11*i) % 251`` followed by ``n_b = 100 + seed % 200``
      repeats of ``seed % 251`` (a long match run)
    - level ``seed % 10``; TWO members when ``seed % 3 == 0`` (the
      same content twice); FNAME on odd seeds, FHCRC when
      ``seed % 5 == 1``, FEXTRA when ``seed % 7 == 2``
    """
    import struct as _struct
    import zlib as _zlib

    n_a = 180 + seed % 120
    n_b = 100 + seed % 200
    content = bytes((7 * seed + 11 * i) % 251 for i in range(n_a)) \
        + bytes([seed % 251]) * n_b

    def member() -> bytes:
        flg = 0
        extra = b""
        if seed % 2 == 1:
            flg |= 0x08
        if seed % 5 == 1:
            flg |= 0x02
        if seed % 7 == 2:
            flg |= 0x04
            xfield = b"AB" + _struct.pack("<H", 4) + b"meta"
            extra = _struct.pack("<H", len(xfield)) + xfield
        hdr = b"\x1f\x8b\x08" + bytes([flg]) + b"\x00\x00\x00\x00" \
            + b"\x00\x03" + extra
        if flg & 0x08:
            hdr += b"doc%d.bin\x00" % (seed % 100)
        if flg & 0x02:
            hdr += _struct.pack("<H", _zlib.crc32(hdr) & 0xFFFF)
        co = _zlib.compressobj(seed % 10, _zlib.DEFLATED, -15)
        body = co.compress(content) + co.flush()
        return hdr + body + _struct.pack(
            "<II", _zlib.crc32(content), len(content) & 0xFFFFFFFF)

    return member() * (2 if seed % 3 == 0 else 1)


@_functools.lru_cache(maxsize=256)
def make_bzip2(seed: int) -> bytes:
    """REAL bzip2 bytes produced by the stdlib ``bz2`` module for the
    ``bzip2_extract`` driver query (decoded back by the from-scratch
    BWT/MTF/RLE/Huffman path in operators/bzip2.py).

    Planted rules (replayed in closed form by the oracle):

    - content = ``n_a = 200 + seed % 150`` bytes of
      ``(9*seed + 17*i) % 253`` followed by ``n_b = 120 + seed % 99``
      repeats of ``seed % 253`` (exercises RLE1 + RUNA/RUNB runs)
    - level ``1 + seed % 9``; TWO concatenated streams when
      ``seed % 4 == 0`` (same content twice)
    """
    import bz2 as _bz2

    n_a = 200 + seed % 150
    n_b = 120 + seed % 99
    content = bytes((9 * seed + 17 * i) % 253 for i in range(n_a)) \
        + bytes([seed % 253]) * n_b
    z = _bz2.compress(content, 1 + seed % 9)
    return z * (2 if seed % 4 == 0 else 1)


@_functools.lru_cache(maxsize=256)
def make_xz(seed: int) -> bytes:
    """REAL xz bytes produced by the stdlib ``lzma`` module for the
    ``xz_extract`` driver query (decoded back by the from-scratch
    range-coder path in operators/xz.py).

    Planted rules (replayed in closed form by the oracle):

    - content = ``n_a = 220 + seed % 180`` bytes of
      ``(11*seed + 23*i) % 249`` followed by ``n_b = 90 + seed % 77``
      repeats of ``seed % 249``
    - preset ``seed % 10``; check type none/CRC32/CRC64/SHA-256 by
      ``seed % 4``; custom (lc, lp, pb) = (0, 2, 2) when
      ``seed % 7 == 3``
    """
    import lzma as _lzma

    n_a = 220 + seed % 180
    n_b = 90 + seed % 77
    content = bytes((11 * seed + 23 * i) % 249 for i in range(n_a)) \
        + bytes([seed % 249]) * n_b
    check = [_lzma.CHECK_NONE, _lzma.CHECK_CRC32, _lzma.CHECK_CRC64,
             _lzma.CHECK_SHA256][seed % 4]
    if seed % 7 == 3:
        filters = [{"id": _lzma.FILTER_LZMA2, "preset": seed % 10,
                    "lc": 0, "lp": 2, "pb": 2}]
        return _lzma.compress(content, format=_lzma.FORMAT_XZ,
                              check=check, filters=filters)
    return _lzma.compress(content, format=_lzma.FORMAT_XZ,
                          check=check, preset=seed % 10)


# --------------------------------------------------------------------------
# Roaring / deletion-vector fixture encoders (r12).  A SEPARATE
# spec-following implementation from the decoder in
# operators/roaring.py — no independent roaring producer exists in
# this environment (honesty note in that module's docstring).

_Z85_CHARS = ("0123456789abcdefghijklmnopqrstuvwxyz"
              "ABCDEFGHIJKLMNOPQRSTUVWXYZ.-:+=^!/*?&<>()[]{}@%$#")


def z85_encode(data: bytes) -> str:
    """ZeroMQ Z85 (zero-pads to a 4-byte multiple)."""
    if len(data) % 4:
        data = data + b"\x00" * (4 - len(data) % 4)
    out = []
    for i in range(0, len(data), 4):
        v = int.from_bytes(data[i:i + 4], "big")
        grp = []
        for _ in range(5):
            v, r = divmod(v, 85)
            grp.append(_Z85_CHARS[r])
        out.extend(reversed(grp))
    return "".join(out)


def roaring32_encode(vals: "list[int]", runs: bool = False) -> bytes:
    """Spec-following 32-bit roaring serialization: array containers,
    bitmap containers past 4096 values, run containers for
    consecutive spans when ``runs`` (cookie 12347)."""
    import struct as _struct

    chunks: "dict[int, list[int]]" = {}
    for v in sorted(set(vals)):
        chunks.setdefault(v >> 16, []).append(v & 0xFFFF)
    keys = sorted(chunks)
    size = len(keys)
    bodies = []
    run_flags = bytearray((size + 7) // 8)
    for i, k in enumerate(keys):
        lows = chunks[k]
        spans = []
        if runs:
            start = prev = lows[0]
            for v in lows[1:]:
                if v == prev + 1:
                    prev = v
                    continue
                spans.append((start, prev))
                start = prev = v
            spans.append((start, prev))
        if runs and 4 * len(spans) + 2 < min(2 * len(lows), 8192):
            run_flags[i >> 3] |= 1 << (i & 7)
            body = _struct.pack("<H", len(spans))
            for a, b in spans:
                body += _struct.pack("<HH", a, b - a)
        elif len(lows) <= 4096:
            body = _struct.pack(f"<{len(lows)}H", *lows)
        else:
            words = [0] * 1024
            for v in lows:
                words[v >> 6] |= 1 << (v & 63)
            body = _struct.pack("<1024Q", *words)
        bodies.append(body)
    use_run_cookie = any(run_flags)
    out = bytearray()
    if use_run_cookie:
        out += _struct.pack("<I", 12347 | ((size - 1) << 16))
        out += run_flags
        has_offsets = size >= 4
    else:
        out += _struct.pack("<I", 12346)
        out += _struct.pack("<I", size)
        has_offsets = True
    for k, lows in ((k, chunks[k]) for k in keys):
        out += _struct.pack("<HH", k, len(lows) - 1)
    if has_offsets:
        off = len(out) + 4 * size
        for body in bodies:
            out += _struct.pack("<I", off)
            off += len(body)
    for body in bodies:
        out += body
    return bytes(out)


def roaring64_encode(vals: "list[int]", runs: bool = False) -> bytes:
    import struct as _struct

    groups: "dict[int, list[int]]" = {}
    for v in sorted(set(vals)):
        groups.setdefault(v >> 32, []).append(v & 0xFFFFFFFF)
    out = _struct.pack("<q", len(groups))
    for key in sorted(groups):
        out += _struct.pack("<I", key)
        out += roaring32_encode(groups[key], runs)
    return out


@_functools.lru_cache(maxsize=256)
def make_delta_dv_bundle(seed: int) -> bytes:
    """Delta log bundle with DELETION VECTORS for the
    ``delta_scan_dv`` driver query: add actions carry inline ("u")
    z85-encoded RoaringBitmapArray DVs (PROTOCOL.md), data files are
    REAL parquet.

    Planted rules (replayed in closed form by the oracle):

    - ``nf = 2 + seed % 3`` files; file ``f``:
      ``n = 40 + (seed*3 + 11*f) % 60`` rows of
      ``v = (seed*7 + 13*f + 9*i) % 1000``
    - DV of file ``f`` deletes positions ``i % 5 == (seed + f) % 5``;
      file ``f == 1`` additionally deletes the consecutive span
      ``[10, 10 + seed % 8)`` (a run container, cookie 12347)
    - parquet codec snappy/zstd by ``(seed + f) % 2``
    """
    import json as _json

    import pyarrow as _pa
    import pyarrow.parquet as _pq

    nf = 2 + seed % 3
    lines = []
    members: "dict[str, bytes]" = {}
    for f in range(nf):
        n = 40 + (seed * 3 + 11 * f) % 60
        vals = [(seed * 7 + 13 * f + 9 * i) % 1000 for i in range(n)]
        buf = _pa.BufferOutputStream()
        _pq.write_table(
            _pa.table({"v": _pa.array(vals, _pa.int64())}), buf,
            compression=["snappy", "zstd"][(seed + f) % 2])
        blob = buf.getvalue().to_pybytes()
        name = f"data/f{f}.parquet"
        members[name] = blob
        dead = {i for i in range(n) if i % 5 == (seed + f) % 5}
        if f == 1:
            dead |= set(range(10, 10 + seed % 8))
        dv = (1681511377).to_bytes(4, "little") \
            + roaring64_encode(sorted(dead), runs=(f == 1))
        lines.append(_json.dumps({"add": {
            "path": name, "size": len(blob), "dataChange": True,
            "deletionVector": {
                "storageType": "u",
                "pathOrInlineDv": z85_encode(dv),
                "sizeInBytes": len(dv),
                "cardinality": len(dead),
            }}}))
    out = bytearray()
    out += _tar_member("_delta_log/00000000000000000000.json",
                       ("\n".join(lines) + "\n").encode())
    for name, blob in members.items():
        out += _tar_member(name, blob)
    out += b"\x00" * 1024
    return bytes(out)


@_functools.lru_cache(maxsize=256)
def make_delta_cm_bundle(seed: int) -> bytes:
    """Delta log bundle with COLUMN MAPPING for the
    ``delta_column_mapping`` driver query: data files store columns
    under PHYSICAL names, the metaData schemaString carries
    ``delta.columnMapping.physicalName`` / ``.id`` per field, and the
    protocol action requires the columnMapping reader capability —
    reading the logical name directly would find nothing, and the
    planted DECOY column (physical name = the logical name ``v``,
    values +1000) makes that failure loud in the oracle sum.

    Planted rules (replayed in closed form by the oracle):

    - mode ``name`` on even seeds (protocol minReaderVersion 2) /
      ``id`` on odd seeds (minReaderVersion 3 +
      readerFeatures=[columnMapping]); id mode resolves through the
      parquet schema's ``field_id`` (= 7), written by pyarrow's
      ``PARQUET:field_id`` metadata
    - ``nf = 1 + seed % 3`` live files; file ``f``:
      ``n = 20 + (seed*3 + 7*f) % 40`` rows of
      ``v = (seed*5 + 11*f + 3*i) % 500``, null when
      ``(seed + f + i) % 11 == 10``
    - one extra file added in commit 1 then REMOVED in commit 2
      (its values would shift the sum if the tombstone is ignored)
    - parquet codec snappy/zstd by ``(seed + f) % 2``
    """
    import json as _json

    import pyarrow as _pa
    import pyarrow.parquet as _pq

    mode = "name" if seed % 2 == 0 else "id"
    phys_v = f"col-{seed:04d}"
    nf = 1 + seed % 3

    def _file_bytes(f: int, n: int) -> bytes:
        vals = [None if (seed + f + i) % 11 == 10
                else (seed * 5 + 11 * f + 3 * i) % 500
                for i in range(n)]
        decoy = [(v or 0) + 1000 for v in vals]
        fields = [
            _pa.field(phys_v, _pa.int64(),
                      metadata={b"PARQUET:field_id": b"7"}),
            # decoy stored under the LOGICAL name "v"
            _pa.field("v", _pa.int64(),
                      metadata={b"PARQUET:field_id": b"8"}),
        ]
        t = _pa.table({phys_v: _pa.array(vals, _pa.int64()),
                       "v": _pa.array(decoy, _pa.int64())},
                      schema=_pa.schema(fields))
        buf = _pa.BufferOutputStream()
        _pq.write_table(t, buf,
                        compression=["snappy", "zstd"][(seed + f) % 2])
        return buf.getvalue().to_pybytes()

    members: "dict[str, bytes]" = {}
    add_lines = []
    for f in range(nf):
        n = 20 + (seed * 3 + 7 * f) % 40
        blob = _file_bytes(f, n)
        name = f"data/f{f}.parquet"
        members[name] = blob
        add_lines.append(_json.dumps({"add": {
            "path": name, "size": len(blob), "dataChange": True}}))
    # a file added then tombstoned
    dead_blob = _file_bytes(nf, 25)
    members["data/dead.parquet"] = dead_blob
    schema_string = _json.dumps({"type": "struct", "fields": [
        {"name": "v", "type": "long", "nullable": True,
         "metadata": {"delta.columnMapping.id": 7,
                      "delta.columnMapping.physicalName": phys_v}},
        {"name": "w", "type": "long", "nullable": True,
         "metadata": {"delta.columnMapping.id": 8,
                      "delta.columnMapping.physicalName": "v"}},
    ]})
    if mode == "name":
        protocol = {"minReaderVersion": 2, "minWriterVersion": 5}
    else:
        protocol = {"minReaderVersion": 3, "minWriterVersion": 7,
                    "readerFeatures": ["columnMapping"],
                    "writerFeatures": ["columnMapping"]}
    commit0 = [
        _json.dumps({"protocol": protocol}),
        _json.dumps({"metaData": {
            "id": f"tbl-{seed}",
            "format": {"provider": "parquet"},
            "schemaString": schema_string,
            "partitionColumns": [],
            "configuration": {"delta.columnMapping.mode": mode,
                              "delta.columnMapping.maxColumnId": "8"},
        }}),
    ]
    commit1 = add_lines + [_json.dumps({"add": {
        "path": "data/dead.parquet", "size": len(dead_blob),
        "dataChange": True}})]
    commit2 = [_json.dumps({"remove": {
        "path": "data/dead.parquet",
        "deletionTimestamp": 1700000000000 + seed}})]
    out = bytearray()
    for i, lines in enumerate((commit0, commit1, commit2)):
        out += _tar_member(f"_delta_log/{i:020d}.json",
                           ("\n".join(lines) + "\n").encode())
    for name, blob in members.items():
        out += _tar_member(name, blob)
    out += b"\x00" * 1024
    return bytes(out)


@_functools.lru_cache(maxsize=256)
def make_orc_tz(seed: int) -> bytes:
    """ORC file with a NON-UTC writer timezone for the ``orc_scan_tz``
    driver query: pyarrow's ORC writer (Apache ORC C++) always stamps
    writerTimezone=GMT, so the stripe footer's 3-byte zone name is
    byte-patched in place ("GMT" → "PRC"/"EET", equal length,
    uncompressed file — lengths and offsets untouched); the result is
    exactly the file a PRC/EET-pinned legacy Hive writer produces for
    these stored values.  Conversion ground truth is Spark's own JVM
    ORC reader (pinned in tests/test_orc_meta.py): a constant-offset
    zone (PRC) reads back unchanged, a DST zone (EET) shifts summer
    values by +3600 s — both replayed in closed form by the oracle.

    Planted rules (row ``i`` in 0..n-1, ``n = 25 + seed % 40``):

    - null when ``(seed + i) % 13 == 12``
    - summer bucket when ``(seed + 7*i) % 3 == 0`` (2020-06-05 base
      1591315200) else winter (2020-01-05 base 1578182400) — both
      windows > 1 month from the EET DST transitions
    - ``wall = base + (seed*13 + 11*i) % 1000000``,
      ``micros = (seed*3 + 17*i) % 1000000``
    - zone PRC when ``seed % 3 == 0`` else EET; utc = wall + 3600
      iff EET and summer, else wall
    """
    import pyarrow as _pa
    from pyarrow import orc as _orc

    from ..operators.orc_meta import parse_orc_meta as _pom

    tz = b"PRC" if seed % 3 == 0 else b"EET"
    n = 25 + seed % 40
    vals = []
    for i in range(n):
        if (seed + i) % 13 == 12:
            vals.append(None)
            continue
        base = 1591315200 if (seed + 7 * i) % 3 == 0 else 1578182400
        wall = base + (seed * 13 + 11 * i) % 1000000
        micros = (seed * 3 + 17 * i) % 1000000
        vals.append(wall * 1_000_000_000 + micros * 1000)
    t = _pa.table({"ts": _pa.array(vals, _pa.timestamp("ns"))})
    buf = _pa.BufferOutputStream()
    _orc.write_table(t, buf, compression="uncompressed")
    data = bytearray(buf.getvalue().to_pybytes())
    meta = _pom(bytes(data))
    for st in meta["stripes"]:
        lo = (st["offset"] + (st["index_length"] or 0)
              + (st["data_length"] or 0))
        seg = bytes(data[lo:lo + (st["footer_length"] or 0)])
        k = seg.find(b"GMT")
        if k < 0:
            raise ValueError("orc_tz fixture: GMT not in stripe footer")
        data[lo + k:lo + k + 3] = tz
    return bytes(data)


@_functools.lru_cache(maxsize=256)
def make_sqlite_wal_bundle(seed: int) -> bytes:
    """A LIVE WAL-mode SQLite database pair (tar members ``main.db``
    + ``wal``) for the ``sqlite_scan_wal`` driver query, built by the
    stdlib ``sqlite3`` producer: phase 1 commits under the rollback
    journal (checkpointed into the main file), then the connection
    switches to WAL with autocheckpoint off and phase 2 mutates —
    inserts, an UPDATE, a DELETE — leaving the main file STALE and
    the truth only reachable by replaying committed WAL frames.  The
    pair is captured while the connection is still open (closing
    would checkpoint).  WAL salts are randomized by sqlite3, so the
    BYTES vary run to run while the planted VALUES are deterministic
    — the oracle replays values, not bytes.

    Planted rules for ``t(id INTEGER PRIMARY KEY, v INTEGER,
    s TEXT)``, replayed in closed form by the oracle:

    - page size 512/1024/4096 by ``seed % 3``
    - phase 1: ``n1 = 30 + seed % 20`` rows, ``id = i+1``,
      ``v = (seed*7 + 3*i) % 1000``, ``s = 'x' * ((seed + i) % 5)``
    - phase 2 (WAL): ``n2 = 10 + seed % 10`` rows ``id = 1000+i``,
      ``v = (seed*11 + 5*i) % 1000``, ``s = 'y'``; then
      ``UPDATE .. SET v = v + 10000 WHERE id % 7 = seed % 7 AND
      id < 1000``; then ``DELETE .. WHERE id % 13 = seed % 13 AND
      id < 1000``
    """
    import os as _os
    import shutil as _shutil
    import sqlite3 as _sqlite3
    import tempfile as _tempfile

    d = _tempfile.mkdtemp()
    try:
        path = _os.path.join(d, "t.db")
        con = _sqlite3.connect(path)
        con.execute(f"PRAGMA page_size={[512, 1024, 4096][seed % 3]}")
        con.execute("CREATE TABLE t (id INTEGER PRIMARY KEY, "
                    "v INTEGER, s TEXT)")
        n1 = 30 + seed % 20
        con.executemany(
            "INSERT INTO t VALUES (?,?,?)",
            [(i + 1, (seed * 7 + 3 * i) % 1000,
              "x" * ((seed + i) % 5)) for i in range(n1)])
        con.commit()
        con.execute("PRAGMA journal_mode=WAL")
        con.execute("PRAGMA wal_autocheckpoint=0")
        n2 = 10 + seed % 10
        con.executemany(
            "INSERT INTO t VALUES (?,?,?)",
            [(1000 + i, (seed * 11 + 5 * i) % 1000, "y")
             for i in range(n2)])
        con.execute("UPDATE t SET v = v + 10000 "
                    f"WHERE id % 7 = {seed % 7} AND id < 1000")
        con.execute("DELETE FROM t "
                    f"WHERE id % 13 = {seed % 13} AND id < 1000")
        con.commit()
        main = open(path, "rb").read()
        wal = open(path + "-wal", "rb").read()
        con.close()
    finally:
        _shutil.rmtree(d, ignore_errors=True)
    if len(wal) <= 32:
        raise ValueError("sqlite_wal fixture: WAL unexpectedly empty")
    out = bytearray()
    out += _tar_member("main.db", main)
    out += _tar_member("wal", wal)
    out += b"\x00" * 1024
    return bytes(out)


# --------------------------------------------------------------------------
# Minimal thrift-compact ENCODER (r13) — enough of parquet.thrift to
# write a real single-column file with bloom filters (pyarrow 16
# reads blooms but cannot write them; parquet-mr via Spark pins our
# SBBF insert byte-for-byte in tests/test_parquet_bloom.py).

_TC_I32, _TC_I64, _TC_BINARY, _TC_LIST, _TC_STRUCT = 5, 6, 8, 9, 12


def _tc_uvarint(v: int) -> bytes:
    out = bytearray()
    while True:
        b = v & 0x7F
        v >>= 7
        if v:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _tc_zig(v: int) -> bytes:
    return _tc_uvarint((v << 1) ^ (v >> 63) if v >= 0
                       else ((v << 1) ^ (v >> 63)) & ((1 << 70) - 1))


def _tc_value(tp: int, val) -> bytes:
    if tp in (_TC_I32, _TC_I64):
        return _tc_zig(int(val))
    if tp == _TC_BINARY:
        return _tc_uvarint(len(val)) + bytes(val)
    if tp == _TC_STRUCT:
        return _tc_struct(val)
    if tp == _TC_LIST:
        etype, items = val
        if len(items) >= 15:
            head = bytes([0xF0 | etype]) + _tc_uvarint(len(items))
        else:
            head = bytes([(len(items) << 4) | etype])
        return head + b"".join(_tc_value(etype, it) for it in items)
    raise ValueError(f"thrift encoder: type {tp}")


def _tc_struct(fields: "list[tuple[int, int, object]]") -> bytes:
    """Encode one struct from [(field_id, compact_type, value)];
    field ids must ascend with deltas <= 15."""
    out = bytearray()
    prev = 0
    for fid, tp, val in fields:
        delta = fid - prev
        if not 1 <= delta <= 15:
            raise ValueError("thrift encoder: field delta out of range")
        prev = fid
        out.append((delta << 4) | tp)
        out += _tc_value(tp, val)
    out.append(0)
    return bytes(out)


@_functools.lru_cache(maxsize=256)
def make_parquet_bloom(seed: int) -> tuple:
    """A REAL parquet file with per-row-group split-block BLOOM
    FILTERS for the ``parquet_bloom_probe`` driver query, plus its
    probe list — written by the engine's own thrift-compact encoder
    (pyarrow 16 cannot write blooms; the SBBF insert is pinned
    byte-for-byte against Spark's parquet-mr, and pyarrow/DuckDB
    read the file back, validating the hand-written footer).

    Planted rules (replayed in closed form by the oracle):

    - ``ng = 3 + seed % 2`` row groups of 40 rows; group ``g`` row
      ``i``: ``v = 10000*g + (seed*3 + 7*(i % 25)) % 5000`` (rows i
      and i+25 duplicate for i < 15; group domains are disjoint)
    - per group one PRESENT probe ``v`` at ``i = (seed + g) % 40``
      (occurrence count 2 when ``(seed + g) % 40 % 25 < 15`` else 1)
      and one ABSENT probe ``10000*g + 5000 + (seed*5 + 11*g) %
      4000`` (outside every group's value domain)
    - blooms: 256-byte bitsets, XXHASH over PLAIN int64

    Returns ``(file bytes, probes tuple)``.
    """
    import struct as _struct

    from ..operators.parquet_raw import (
        bloom_hash_int64 as _bh,
        bloom_insert as _bi,
    )

    ng = 3 + seed % 2
    groups = []
    for g in range(ng):
        groups.append([10000 * g + (seed * 3 + 7 * (i % 25)) % 5000
                       for i in range(40)])
    probes = []
    for g in range(ng):
        probes.append(groups[g][(seed + g) % 40])
        probes.append(10000 * g + 5000 + (seed * 5 + 11 * g) % 4000)
    out = bytearray(b"PAR1")
    rg_fields = []
    page_meta = []
    for g, vals in enumerate(groups):
        data_off = len(out)
        payload = b"".join(
            _struct.pack("<q", v) for v in vals)
        page_hdr = _tc_struct([
            (1, _TC_I32, 0),                 # DATA_PAGE
            (2, _TC_I32, len(payload)),
            (3, _TC_I32, len(payload)),
            (5, _TC_STRUCT, [                # DataPageHeader
                (1, _TC_I32, len(vals)),
                (2, _TC_I32, 0),             # PLAIN
                (3, _TC_I32, 3),             # RLE
                (4, _TC_I32, 3),             # RLE
            ]),
        ])
        out += page_hdr + payload
        page_meta.append((data_off, len(page_hdr) + len(payload)))
    bloom_meta = []
    for g, vals in enumerate(groups):
        bitset = bytearray(256)
        for v in set(vals):
            _bi(bitset, _bh(v))
        hdr = _tc_struct([
            (1, _TC_I32, 256),
            (2, _TC_STRUCT, [(1, _TC_STRUCT, [])]),  # BLOCK
            (3, _TC_STRUCT, [(1, _TC_STRUCT, [])]),  # XXHASH
            (4, _TC_STRUCT, [(1, _TC_STRUCT, [])]),  # UNCOMPRESSED
        ])
        bloom_meta.append((len(out), len(hdr) + 256))
        out += hdr + bitset
    for g, vals in enumerate(groups):
        data_off, chunk_len = page_meta[g]
        boff, blen = bloom_meta[g]
        col_md = [
            (1, _TC_I32, 2),                      # INT64
            (2, _TC_LIST, (_TC_I32, [0])),        # encodings: PLAIN
            (3, _TC_LIST, (_TC_BINARY, [b"v"])),  # path_in_schema
            (4, _TC_I32, 0),                      # UNCOMPRESSED
            (5, _TC_I64, len(vals)),
            (6, _TC_I64, chunk_len),
            (7, _TC_I64, chunk_len),
            (9, _TC_I64, data_off),
            (14, _TC_I64, boff),
            (15, _TC_I32, blen),
        ]
        rg_fields.append([
            (1, _TC_LIST, (_TC_STRUCT, [[
                (2, _TC_I64, data_off),
                (3, _TC_STRUCT, col_md),
            ]])),
            (2, _TC_I64, chunk_len),
            (3, _TC_I64, len(vals)),
        ])
    footer = _tc_struct([
        (1, _TC_I32, 1),
        (2, _TC_LIST, (_TC_STRUCT, [
            [(4, _TC_BINARY, b"schema"), (5, _TC_I32, 1)],
            [(1, _TC_I32, 2), (3, _TC_I32, 0), (4, _TC_BINARY, b"v")],
        ])),
        (3, _TC_I64, sum(len(v) for v in groups)),
        (4, _TC_LIST, (_TC_STRUCT, rg_fields)),
    ])
    out += footer
    out += _struct.pack("<I", len(footer)) + b"PAR1"
    return bytes(out), tuple(probes)


@_functools.lru_cache(maxsize=256)
def make_arrow_dict_delta(seed: int) -> bytes:
    """Arrow IPC STREAM with DELTA dictionary batches for the
    ``arrow_dict_delta`` driver query: each record batch's dictionary
    grows (categories ``c0..c{k_b-1}``, ``k_b = 3 + 2*b``), and
    pyarrow's writer (``emit_dictionary_deltas=True``) ships the
    growth as isDelta=1 APPEND batches — a reader that replaces
    instead of appends, or drops deltas, mis-maps every later index.

    Planted rules (batch ``b`` of ``nb = 2 + seed % 3``, row ``i`` of
    20): category index ``(seed + 5*i + b) % k_b``, anchor
    ``x = (seed*3 + 7*i + 11*b) % 500``.
    """
    import pyarrow as _pa

    nb = 2 + seed % 3
    schema = _pa.schema([
        ("d", _pa.dictionary(_pa.int32(), _pa.string())),
        ("x", _pa.int64()),
    ])
    opts = _pa.ipc.IpcWriteOptions(emit_dictionary_deltas=True)
    sink = _pa.BufferOutputStream()
    w = _pa.ipc.new_stream(sink, schema, options=opts)
    for b in range(nb):
        k = 3 + 2 * b
        cats = _pa.array([f"c{j}" for j in range(k)])
        idx = _pa.array([(seed + 5 * i + b) % k for i in range(20)],
                        _pa.int32())
        d = _pa.DictionaryArray.from_arrays(idx, cats)
        x = _pa.array([(seed * 3 + 7 * i + 11 * b) % 500
                       for i in range(20)], _pa.int64())
        w.write_batch(_pa.record_batch([d, x], schema=schema))
    w.close()
    return sink.getvalue().to_pybytes()


@_functools.lru_cache(maxsize=256)
def make_parquet_decimal(seed: int) -> bytes:
    """Parquet DECIMAL column (FLBA big-endian two's complement, the
    parquet-cpp decimal128 layout) for the ``parquet_scan_fixed``
    driver query — precision 9/18/30 by ``seed % 3`` exercises FLBA
    widths 4/8/13.

    Planted rules (row ``i`` of ``n = 30 + seed % 30``): null when
    ``(seed + i) % 9 == 8``, else unscaled
    ``u = (seed*13 + 7*i) % 200000 - 100000`` at scale
    ``2 + seed % 3``; codec snappy/zstd/gzip by ``seed % 3``.
    """
    import decimal as _decimal

    import pyarrow as _pa
    import pyarrow.parquet as _pq

    precision = [9, 18, 30][seed % 3]
    scale = 2 + seed % 3
    n = 30 + seed % 30
    vals = []
    for i in range(n):
        if (seed + i) % 9 == 8:
            vals.append(None)
            continue
        u = (seed * 13 + 7 * i) % 200000 - 100000
        vals.append(_decimal.Decimal(u).scaleb(-scale))
    t = _pa.table({"d": _pa.array(vals,
                                  _pa.decimal128(precision, scale))})
    buf = _pa.BufferOutputStream()
    _pq.write_table(t, buf,
                    compression=["snappy", "zstd", "gzip"][seed % 3],
                    use_dictionary=(seed % 2 == 0))
    return buf.getvalue().to_pybytes()


@_functools.lru_cache(maxsize=256)
def make_parquet_crc(seed: int) -> bytes:
    """Parquet file with PAGE CRCs (``write_page_checksum``,
    parquet-cpp) for the ``parquet_crc_scan`` driver query — small
    data pages force multiple checksummed pages per chunk.

    Planted rules (row ``i`` of 3000): null when
    ``(seed + i) % 11 == 10``, else ``v = (seed*3 + 7*i) % 1000``;
    codec snappy/zstd/gzip by ``seed % 3``.
    """
    import pyarrow as _pa
    import pyarrow.parquet as _pq

    vals = [None if (seed + i) % 11 == 10
            else (seed * 3 + 7 * i) % 1000 for i in range(3000)]
    t = _pa.table({"v": _pa.array(vals, _pa.int64())})
    buf = _pa.BufferOutputStream()
    _pq.write_table(t, buf, write_page_checksum=True,
                    data_page_size=1024,
                    compression=["snappy", "zstd", "gzip"][seed % 3],
                    use_dictionary=(seed % 2 == 0))
    return buf.getvalue().to_pybytes()


@_functools.lru_cache(maxsize=256)
def make_delta_pp_bundle(seed: int) -> bytes:
    """Delta log bundle with PARTITIONED adds for the
    ``delta_partition_prune`` driver query: one data file per
    partition ``p = 0..7`` (``partitionValues`` strings, per
    PROTOCOL.md — the partition column is NOT in the data files),
    plus one partition whose file is added then tombstoned.

    Planted rules (replayed in closed form by the oracle):

    - partition ``p``'s file: ``n = 15 + (seed + p) % 10`` rows of
      ``v = (seed*5 + 7*p + 3*i) % 500``
    - partition ``seed % 8``'s file is REMOVED in commit 2 —
      files_total = 7
    - codec snappy/zstd by ``(seed + p) % 2``
    """
    import json as _json

    import pyarrow as _pa
    import pyarrow.parquet as _pq

    members: "dict[str, bytes]" = {}
    add_lines = []
    for p in range(8):
        n = 15 + (seed + p) % 10
        vals = [(seed * 5 + 7 * p + 3 * i) % 500 for i in range(n)]
        buf = _pa.BufferOutputStream()
        _pq.write_table(
            _pa.table({"v": _pa.array(vals, _pa.int64())}), buf,
            compression=["snappy", "zstd"][(seed + p) % 2])
        blob = buf.getvalue().to_pybytes()
        name = f"data/p={p}/f.parquet"
        members[name] = blob
        add_lines.append(_json.dumps({"add": {
            "path": name, "size": len(blob), "dataChange": True,
            "partitionValues": {"p": str(p)}}}))
    commit1 = "\n".join(add_lines) + "\n"
    commit2 = _json.dumps({"remove": {
        "path": f"data/p={seed % 8}/f.parquet",
        "deletionTimestamp": 1700000000000}}) + "\n"
    out = bytearray()
    out += _tar_member("_delta_log/00000000000000000000.json",
                       commit1.encode())
    out += _tar_member("_delta_log/00000000000000000001.json",
                       commit2.encode())
    for name, blob in members.items():
        out += _tar_member(name, blob)
    out += b"\x00" * 1024
    return bytes(out)


_ICEBERG_MAN_MP_SCHEMA = (
    '{"type":"record","name":"manifest_entry","fields":['
    '{"name":"status","type":"int"},'
    '{"name":"sequence_number","type":"long"},'
    '{"name":"data_file","type":{"type":"record","name":"data_file",'
    '"fields":['
    '{"name":"content","type":"int"},'
    '{"name":"file_path","type":"string"},'
    '{"name":"record_count","type":"long"},'
    '{"name":"file_size_in_bytes","type":"long"},'
    '{"name":"lower_bounds","type":{"type":"array","items":'
    '{"type":"record","name":"k_v_lower","fields":['
    '{"name":"key","type":"int"},{"name":"value","type":"bytes"}]}}},'
    '{"name":"upper_bounds","type":{"type":"array","items":'
    '{"type":"record","name":"k_v_upper","fields":['
    '{"name":"key","type":"int"},{"name":"value","type":"bytes"}]}}}'
    ']}}]}'
)


@_functools.lru_cache(maxsize=256)
def make_iceberg_mp_bundle(seed: int) -> bytes:
    """Iceberg bundle with per-file COLUMN METRICS for the
    ``iceberg_metrics_prune`` driver query: data-file manifest
    entries carry ``lower_bounds`` / ``upper_bounds`` maps (field id
    → the spec's 8-byte little-endian single-value serialization);
    file 5 carries NO bounds for the field and must be scanned
    conservatively.

    Planted rules (replayed in closed form by the oracle):

    - 6 files; file ``f``: ``n = 20 + (seed + f) % 10`` rows of
      ``v = 100*f + (seed*3 + 7*i) % 80``; bounds = the exact domain
      ``[100*f, 100*f + 79]`` (except file 5: bounds absent)
    - codec snappy/zstd by ``(seed + f) % 2``; avro deflate on odd
      seeds
    """
    import json as _json

    import pyarrow as _pa
    import pyarrow.parquet as _pq

    codec_avro = "deflate" if seed % 2 else "null"
    members: "dict[str, bytes]" = {}
    rows = []
    for f in range(6):
        n = 20 + (seed + f) % 10
        vals = [100 * f + (seed * 3 + 7 * i) % 80 for i in range(n)]
        buf = _pa.BufferOutputStream()
        _pq.write_table(
            _pa.table({"v": _pa.array(vals, _pa.int64())}), buf,
            compression=["snappy", "zstd"][(seed + f) % 2])
        blob = buf.getvalue().to_pybytes()
        name = f"data/f{f}.parquet"
        members[name] = blob
        body = _avro_zigzag(1)   # status ADDED
        body += _avro_zigzag(1)  # sequence number
        body += _avro_zigzag(0)  # content: data
        body += _avro_str(name)
        body += _avro_zigzag(n)
        body += _avro_zigzag(len(blob))
        if f == 5:
            body += _avro_zigzag(0)  # lower_bounds: empty
            body += _avro_zigzag(0)  # upper_bounds: empty
        else:
            lo_raw = (100 * f).to_bytes(8, "little", signed=True)
            hi_raw = (100 * f + 79).to_bytes(8, "little", signed=True)
            for raw in (lo_raw, hi_raw):
                body += _avro_zigzag(1)          # one entry
                body += _avro_zigzag(1)          # key: field id 1
                body += _avro_zigzag(len(raw)) + raw
                body += _avro_zigzag(0)          # array end
        rows.append(body)
    members["manifest-0.avro"] = _avro_container(
        _ICEBERG_MAN_MP_SCHEMA, rows, seed, codec_avro)
    ml_rows = [_avro_str("manifest-0.avro")
               + _avro_zigzag(len(members["manifest-0.avro"]))
               + _avro_zigzag(0)]
    members["manifest-list.avro"] = _avro_container(
        _ICEBERG_ML_V2_SCHEMA, ml_rows, seed, codec_avro)
    members["metadata.json"] = _json.dumps({
        "format-version": 2,
        "current-snapshot-id": 8200 + seed,
        "snapshots": [
            {"snapshot-id": 8200 + seed,
             "manifest-list": "manifest-list.avro"},
        ],
        "schema": {"fields": [
            {"id": 1, "name": "v", "type": "long"}]},
    }).encode()
    out = bytearray()
    for name, data in members.items():
        out += _tar_member(name, data)
    out += b"\x00" * 1024
    return bytes(out)


@_functools.lru_cache(maxsize=256)
def make_orc_union(seed: int) -> bytes:
    """ORC UNION column (kind 13 — long | string branches, tag
    stream byte-RLE) written by the Apache ORC C++ writer via
    pyarrow sparse unions, for the ``orc_scan_unions`` driver query.

    Planted rules (row ``i`` of ``n = 60 + seed % 40``): tag
    ``(seed + 3*i) % 2``; branch 0 value ``(seed*7 + 5*i) % 1000``;
    branch 1 value ``'x' * (1 + (seed + i) % 3)``; codec
    UNCOMPRESSED/ZLIB/SNAPPY/ZSTD by ``seed % 4``.
    """
    import pyarrow as _pa
    from pyarrow import orc as _orc

    n = 60 + seed % 40
    tags = _pa.array([(seed + 3 * i) % 2 for i in range(n)],
                     _pa.int8())
    longs = _pa.array([(seed * 7 + 5 * i) % 1000 for i in range(n)],
                      _pa.int64())
    strs = _pa.array(["x" * (1 + (seed + i) % 3) for i in range(n)])
    t = _pa.table({"u": _pa.UnionArray.from_sparse(tags,
                                                   [longs, strs])})
    buf = _pa.BufferOutputStream()
    _orc.write_table(
        t, buf, compression=["UNCOMPRESSED", "ZLIB", "SNAPPY",
                             "ZSTD"][seed % 4])
    return buf.getvalue().to_pybytes()


# --------------------------------------------------------------------------
# Avro heavy-codec containers (r13): the ``avro_codec_family`` driver
# query.  The COMPRESSORS are independent real producers — stdlib bz2,
# stdlib lzma (FORMAT_XZ), and libzstd via pyarrow.Codec — so a green
# row certifies that operators/avro.py's container walk feeds real
# bzip2/xz/zstandard streams through the engine's own from-scratch
# decoders (operators/bzip2.py, xz.py, zstd.py) and recovers the
# planted records exactly.

@_functools.lru_cache(maxsize=1024)
def make_avro_heavy(seed: int) -> bytes:
    """Deterministic Avro object container whose codec cycles the
    r13-opened trio.

    Planted rules (replayed in closed form by the oracle):

    - ``n = 40 + seed % 70`` records in blocks of 20
    - ``id = (seed*11 + 5*i) % 9000`` (long)
    - ``u`` (nullable long union): NULL when ``i % 5 == 4`` else
      ``(2*seed + 7*i) % 400``
    - ``label = 'cx' || (seed + 2*i) % 19`` (string)
    - codec cycles [bzip2, xz, zstandard] with ``seed % 3``
    """
    import bz2 as _bz2
    import lzma as _lzma

    import pyarrow as _pa

    n = 40 + seed % 70
    codec = ["bzip2", "xz", "zstandard"][seed % 3]
    recs = []
    for i in range(n):
        row = _avro_zigzag((seed * 11 + 5 * i) % 9000)
        if i % 5 == 4:
            row += _avro_zigzag(0)  # union branch 0: null
        else:
            row += _avro_zigzag(1) + _avro_zigzag((2 * seed + 7 * i) % 400)
        row += _avro_str(f"cx{(seed + 2 * i) % 19}")
        recs.append(row)
    sync = bytes((seed * 37 + j * 19 + 3) % 256 for j in range(16))
    out = bytearray(b"Obj\x01")
    out += _avro_zigzag(2)
    out += _avro_str("avro.schema") + _avro_str(_AVRO_SCHEMA_JSON)
    out += _avro_str("avro.codec") + _avro_str(codec)
    out += _avro_zigzag(0)
    out += sync
    for at in range(0, n, 20):
        chunk = recs[at:at + 20]
        payload = b"".join(chunk)
        if codec == "bzip2":
            payload = _bz2.compress(payload, compresslevel=1 + seed % 9)
        elif codec == "xz":
            payload = _lzma.compress(
                payload, format=_lzma.FORMAT_XZ,
                preset=seed % 7,
                check=[_lzma.CHECK_CRC32, _lzma.CHECK_CRC64,
                       _lzma.CHECK_NONE][seed % 3])
        else:
            payload = _pa.Codec(
                "zstd", compression_level=[1, 3, 9][seed % 3]
            ).compress(payload, asbytes=True)
        out += _avro_zigzag(len(chunk)) + _avro_zigzag(len(payload))
        out += payload + sync
    return bytes(out)


# --------------------------------------------------------------------------
# Delta time travel (r13): the ``delta_time_travel`` driver query.
# Data files are written by parquet-cpp (pyarrow); the log's
# commitInfo timestamps are the resolution input.

_DELTA_TT_BASE = 1_700_000_000_000
_DELTA_TT_STEP = 60_000
_DELTA_TT_VERSIONS = 6


@_functools.lru_cache(maxsize=1024)
def make_delta_tt_bundle(seed: int) -> bytes:
    """Delta log bundle with six timestamped commits for time travel.

    Planted rules (replayed in closed form by the oracle):

    - commit ``v`` (0..5) has ``commitInfo.timestamp =
      1_700_000_000_000 + 60_000*v`` and adds file ``d<v>.parquet``
      with ``n = 10 + (seed+v) % 6`` rows of
      ``x = (seed*3 + 5*v + 7*i) % 400``
    - commit ``v >= 2`` ALSO removes ``d<v-2>.parquet`` when
      ``(seed+v) % 3 == 0`` — so the live set AS OF version R is
      ``{v <= R : NOT (v+2 <= R AND (seed+v+2) % 3 == 0)}``
    - codec snappy/zstd by ``(seed + v) % 2``
    """
    import json as _json

    import pyarrow as _pa
    import pyarrow.parquet as _pq

    members: "dict[str, bytes]" = {}
    out = bytearray()
    for v in range(_DELTA_TT_VERSIONS):
        n = 10 + (seed + v) % 6
        vals = [(seed * 3 + 5 * v + 7 * i) % 400 for i in range(n)]
        buf = _pa.BufferOutputStream()
        _pq.write_table(
            _pa.table({"x": _pa.array(vals, _pa.int64())}), buf,
            compression=["snappy", "zstd"][(seed + v) % 2])
        blob = buf.getvalue().to_pybytes()
        name = f"d{v}.parquet"
        members[name] = blob
        lines = [_json.dumps({"commitInfo": {
            "timestamp": _DELTA_TT_BASE + _DELTA_TT_STEP * v,
            "operation": "WRITE"}})]
        lines.append(_json.dumps({"add": {
            "path": name, "size": len(blob), "dataChange": True}}))
        if v >= 2 and (seed + v) % 3 == 0:
            lines.append(_json.dumps({"remove": {
                "path": f"d{v - 2}.parquet",
                "deletionTimestamp": _DELTA_TT_BASE
                + _DELTA_TT_STEP * v}}))
        out += _tar_member(f"_delta_log/{v:020d}.json",
                           ("\n".join(lines) + "\n").encode())
    for name, blob in members.items():
        out += _tar_member(name, blob)
    out += b"\x00" * 1024
    return bytes(out)


# --------------------------------------------------------------------------
# Iceberg time travel (r13): the ``iceberg_time_travel`` driver query.

_ICEBERG_TT_BASE = 3_000_000_000_000
_ICEBERG_TT_STEP = 1_000
_ICEBERG_TT_SNAPSHOTS = 5


@_functools.lru_cache(maxsize=1024)
def make_iceberg_tt_bundle(seed: int) -> bytes:
    """Iceberg bundle with five snapshots + ``snapshot-log`` history.

    Planted rules (replayed in closed form by the oracle):

    - snapshot ordinal ``s`` (0..4): id ``9000+s``, log timestamp
      ``3e12 + 1000*s``; its manifest lists files
      ``{f <= s : NOT (f == s-2 AND (seed+s) % 2 == 0)}``
    - file ``f``: ``n = 12 + (seed+f) % 5`` rows of
      ``x = (seed*5 + 3*f + 11*i) % 300``
    - parquet codec snappy/zstd by ``(seed+f) % 2``; avro deflate on
      odd seeds
    """
    import json as _json

    import pyarrow as _pa
    import pyarrow.parquet as _pq

    codec_avro = "deflate" if seed % 2 else "null"
    members: "dict[str, bytes]" = {}
    blobs: "dict[int, bytes]" = {}
    for f in range(_ICEBERG_TT_SNAPSHOTS):
        n = 12 + (seed + f) % 5
        vals = [(seed * 5 + 3 * f + 11 * i) % 300 for i in range(n)]
        buf = _pa.BufferOutputStream()
        _pq.write_table(
            _pa.table({"x": _pa.array(vals, _pa.int64())}), buf,
            compression=["snappy", "zstd"][(seed + f) % 2])
        blobs[f] = buf.getvalue().to_pybytes()
        members[f"data/t{f}.parquet"] = blobs[f]
    snapshots = []
    slog = []
    for s in range(_ICEBERG_TT_SNAPSHOTS):
        live = [f for f in range(s + 1)
                if not (f == s - 2 and (seed + s) % 2 == 0)]
        rows = []
        for f in live:
            n = 12 + (seed + f) % 5
            body = _avro_zigzag(1)  # status ADDED
            body += _avro_str(f"data/t{f}.parquet")
            body += _avro_zigzag(n)
            body += _avro_zigzag(len(blobs[f]))
            rows.append(body)
        man = _avro_container(_ICEBERG_MAN_SCHEMA, rows, seed + s,
                              codec_avro)
        members[f"manifest-s{s}.avro"] = man
        ml_rows = [_avro_str(f"manifest-s{s}.avro")
                   + _avro_zigzag(len(man))]
        members[f"ml-s{s}.avro"] = _avro_container(
            _ICEBERG_ML_SCHEMA, ml_rows, seed + s, codec_avro)
        snapshots.append({"snapshot-id": 9000 + s,
                          "manifest-list": f"ml-s{s}.avro"})
        slog.append({"timestamp-ms": _ICEBERG_TT_BASE
                     + _ICEBERG_TT_STEP * s,
                     "snapshot-id": 9000 + s})
    members["metadata.json"] = _json.dumps({
        "format-version": 2,
        "current-snapshot-id": 9000 + _ICEBERG_TT_SNAPSHOTS - 1,
        "snapshots": snapshots,
        "snapshot-log": slog,
        "schema": {"fields": [{"id": 1, "name": "x",
                               "type": "long"}]},
    }).encode()
    out = bytearray()
    for name, data in members.items():
        out += _tar_member(name, data)
    out += b"\x00" * 1024
    return bytes(out)


# --------------------------------------------------------------------------
# Iceberg bucket-transform pruning (r13): the ``iceberg_bucket_prune``
# driver query.  The fixture carries its OWN murmur3_x86_32 (an
# independent re-coding of the public algorithm over struct-unpacked
# words) so a bug in the engine's hash cannot cancel out — the
# engine would plan the wrong bucket's file and the multiplicity
# check would read 0.

def _fx_murmur3_32(data: bytes) -> int:
    h = 0
    nblocks = len(data) // 4
    for (k,) in _struct.iter_unpack("<I", data[:nblocks * 4]):
        k = (k * 0xCC9E2D51) % 4294967296
        k = ((k << 15) % 4294967296) | (k >> 17)
        k = (k * 0x1B873593) % 4294967296
        h ^= k
        h = ((h << 13) % 4294967296) | (h >> 19)
        h = (h * 5 + 0xE6546B64) % 4294967296
    tail = data[nblocks * 4:]
    if tail:
        k = int.from_bytes(tail.ljust(4, b"\x00"), "little")
        k = (k * 0xCC9E2D51) % 4294967296
        k = ((k << 15) % 4294967296) | (k >> 17)
        k = (k * 0x1B873593) % 4294967296
        h ^= k
    h ^= len(data)
    h ^= h >> 16
    h = (h * 0x85EBCA6B) % 4294967296
    h ^= h >> 13
    h = (h * 0xC2B2AE35) % 4294967296
    h ^= h >> 16
    return h


_ICEBERG_BK_N = 4
_ICEBERG_BK_MUL = 7
_ICEBERG_BK_MOD = 500

_ICEBERG_MAN_BK_SCHEMA = (
    '{"type":"record","name":"manifest_entry","fields":['
    '{"name":"status","type":"int"},'
    '{"name":"data_file","type":{"type":"record","name":"data_file",'
    '"fields":['
    '{"name":"file_path","type":"string"},'
    '{"name":"partition","type":{"type":"record","name":"r102",'
    '"fields":[{"name":"v_bucket","type":"int"}]}},'
    '{"name":"record_count","type":"long"},'
    '{"name":"file_size_in_bytes","type":"long"}]}}]}'
)


@_functools.lru_cache(maxsize=1024)
def make_iceberg_bucket_bundle(seed: int) -> bytes:
    """Bucket-partitioned Iceberg bundle (``bucket[4]`` on long
    column ``v``; spec-style partition tuple in each manifest
    entry).

    Planted rules (replayed in closed form by the oracle):

    - base values (all ODD): ``v_j = 2*((seed*11 + 13*j) % 480) + 1``
      for ``j < 40 + seed % 20``, routed to the file of their bucket
    - target (EVEN, so never a base value):
      ``t = 2*((seed*7) % 500)``; its bucket's file carries
      ``k = 1 + seed % 3`` extra rows of ``t``
    - parquet codec snappy/zstd by ``(seed + b) % 2``; avro deflate
      on odd seeds
    """
    import json as _json

    import pyarrow as _pa
    import pyarrow.parquet as _pq

    codec_avro = "deflate" if seed % 2 else "null"
    per_bucket: "dict[int, list[int]]" = {b: []
                                          for b in range(_ICEBERG_BK_N)}
    for j in range(40 + seed % 20):
        v = 2 * ((seed * 11 + 13 * j) % 480) + 1
        raw = (v & ((1 << 64) - 1)).to_bytes(8, "little")
        per_bucket[(_fx_murmur3_32(raw) & 0x7FFFFFFF)
                   % _ICEBERG_BK_N].append(v)
    t = 2 * ((seed * _ICEBERG_BK_MUL) % _ICEBERG_BK_MOD)
    traw = (t & ((1 << 64) - 1)).to_bytes(8, "little")
    tb = (_fx_murmur3_32(traw) & 0x7FFFFFFF) % _ICEBERG_BK_N
    per_bucket[tb].extend([t] * (1 + seed % 3))
    members: "dict[str, bytes]" = {}
    rows = []
    for b in range(_ICEBERG_BK_N):
        vals = per_bucket[b]
        buf = _pa.BufferOutputStream()
        _pq.write_table(
            _pa.table({"v": _pa.array(vals, _pa.int64())}), buf,
            compression=["snappy", "zstd"][(seed + b) % 2])
        blob = buf.getvalue().to_pybytes()
        name = f"data/b{b}.parquet"
        members[name] = blob
        body = _avro_zigzag(1)       # status ADDED
        body += _avro_str(name)
        body += _avro_zigzag(b)      # partition.v_bucket
        body += _avro_zigzag(len(vals))
        body += _avro_zigzag(len(blob))
        rows.append(body)
    man = _avro_container(_ICEBERG_MAN_BK_SCHEMA, rows, seed,
                          codec_avro)
    members["manifest-bk.avro"] = man
    ml_rows = [_avro_str("manifest-bk.avro") + _avro_zigzag(len(man))]
    members["manifest-list.avro"] = _avro_container(
        _ICEBERG_ML_SCHEMA, ml_rows, seed, codec_avro)
    members["metadata.json"] = _json.dumps({
        "format-version": 2,
        "current-snapshot-id": 7100 + seed,
        "snapshots": [{"snapshot-id": 7100 + seed,
                       "manifest-list": "manifest-list.avro"}],
        "schema": {"fields": [{"id": 1, "name": "v",
                               "type": "long"}]},
        "default-spec-id": 0,
        "partition-specs": [{"spec-id": 0, "fields": [
            {"name": "v_bucket", "transform":
             f"bucket[{_ICEBERG_BK_N}]", "source-id": 1,
             "field-id": 1000}]}],
    }).encode()
    out = bytearray()
    for name, data in members.items():
        out += _tar_member(name, data)
    out += b"\x00" * 1024
    return bytes(out)


# --------------------------------------------------------------------------
# Hudi CoW snapshot (r13): the ``hudi_snapshot`` driver query.
# Base files are written by parquet-cpp (pyarrow); the timeline is
# the real .hoodie file-per-state layout.

_HUDI_TS0 = 20240101000000000


@_functools.lru_cache(maxsize=1024)
def make_hudi_bundle(seed: int) -> bytes:
    """Hudi Copy-on-Write table bundle: 3 completed commits + 1
    inflight (whose already-written base file carries POISON values
    that must be skipped), 4 file groups, each rewritten by exactly
    one later commit (copy-on-write file slices).

    Planted rules (replayed in closed form by the oracle):

    - commits ``c = 0,1,2`` complete (timeline keeps their
      requested/inflight markers too, as real tables do); commit 3
      is requested+inflight only
    - commit 0 writes all 4 groups; commit ``c in {1,2}`` rewrites
      group ``g`` iff ``(seed+g+c) % 2 == 0`` — exactly one of the
      two, so the latest slice is ``cmax(g) = 1`` if ``(seed+g)``
      odd else ``2``
    - slice (g, c): ``n = 8 + (seed+g+c) % 5`` rows of
      ``v = (seed*7 + 11*g + 5*c + 3*i) % 600``
    - the inflight file (group 0) holds values ``1_000_000 + i``
    - parquet codec snappy/zstd by ``(seed + g + c) % 2``
    """
    import json as _json

    import pyarrow as _pa
    import pyarrow.parquet as _pq

    def _pq_bytes(vals, codec):
        buf = _pa.BufferOutputStream()
        _pq.write_table(
            _pa.table({"v": _pa.array(vals, _pa.int64())}), buf,
            compression=codec)
        return buf.getvalue().to_pybytes()

    members: "dict[str, bytes]" = {}
    members[".hoodie/hoodie.properties"] = (
        b"hoodie.table.name=events_cow\n"
        b"hoodie.table.type=COPY_ON_WRITE\n"
        b"hoodie.table.version=6\n")
    stats: "dict[str, list]" = {}
    for c in range(3):
        ts = str(_HUDI_TS0 + c)
        for g in range(4):
            if c > 0 and (seed + g + c) % 2 != 0:
                continue
            n = 8 + (seed + g + c) % 5
            vals = [(seed * 7 + 11 * g + 5 * c + 3 * i) % 600
                    for i in range(n)]
            name = (f"part={g % 2}/fg{g}-0000_1-0-1_{ts}.parquet")
            members[name] = _pq_bytes(
                vals, ["snappy", "zstd"][(seed + g + c) % 2])
            stats.setdefault(ts, []).append(
                {"path": name, "numWrites": n})
        members[f".hoodie/{ts}.commit.requested"] = b""
        members[f".hoodie/{ts}.inflight"] = b""
        members[f".hoodie/{ts}.commit"] = _json.dumps(
            {"partitionToWriteStats": stats[ts],
             "operationType": "UPSERT"}).encode()
    ts3 = str(_HUDI_TS0 + 3)
    members[f".hoodie/{ts3}.commit.requested"] = b""
    members[f".hoodie/{ts3}.inflight"] = b""
    members[f"part=0/fg0-0000_1-0-1_{ts3}.parquet"] = _pq_bytes(
        [1_000_000 + i for i in range(5)], "snappy")
    out = bytearray()
    for name, data in members.items():
        out += _tar_member(name, data)
    out += b"\x00" * 1024
    return bytes(out)


# --------------------------------------------------------------------------
# Avro schema evolution (r13): the ``avro_schema_evolution`` driver
# query.  Containers are written under a WRITER schema the reader
# has outgrown.

_AVRO_WRITER_SCHEMA_JSON = (
    '{"type":"record","name":"Doc2","fields":['
    '{"name":"id","type":"int"},'
    '{"name":"x","type":"float"},'
    '{"name":"tag","type":"string"},'
    '{"name":"extra","type":"string"},'
    '{"name":"u","type":["null","int"]}]}'
)

# reader: fields REORDERED (resolution matches by name, the byte walk
# stays in writer order), id int→long, x float→double, tag
# string→bytes, writer-only `extra` dropped, reader-only `bonus`
# defaulted, union member int→long
_AVRO_READER_SCHEMA_JSON = (
    '{"type":"record","name":"Doc2","fields":['
    '{"name":"bonus","type":"long","default":7},'
    '{"name":"u","type":["null","long"]},'
    '{"name":"x","type":"double"},'
    '{"name":"id","type":"long"},'
    '{"name":"tag","type":"bytes"}]}'
)


@_functools.lru_cache(maxsize=1024)
def make_avro_evolved(seed: int) -> bytes:
    """Container under the writer schema above.

    Planted rules (replayed in closed form by the oracle):

    - ``n = 30 + seed % 50`` records in blocks of 25
    - ``id = (seed*13 + 9*i) % 8000`` (int)
    - ``x = ((seed + 3*i) % 40) / 4`` (float; exact in fp32)
    - ``tag = 't' * (1 + (seed+i) % 4)``; ``extra = 'e' * (1 + i%3)``
      (dropped by the reader)
    - ``u``: NULL when ``i % 7 == 6`` else ``(seed + 2*i) % 300``
    - codec cycles [null, deflate, snappy] with ``seed % 3``
    """
    import struct as _st
    import zlib as _zlib

    n = 30 + seed % 50
    codec = ["null", "deflate", "snappy"][seed % 3]
    recs = []
    for i in range(n):
        row = _avro_zigzag((seed * 13 + 9 * i) % 8000)
        row += _st.pack("<f", ((seed + 3 * i) % 40) / 4)
        row += _avro_str("t" * (1 + (seed + i) % 4))
        row += _avro_str("e" * (1 + i % 3))
        if i % 7 == 6:
            row += _avro_zigzag(0)
        else:
            row += _avro_zigzag(1) + _avro_zigzag((seed + 2 * i) % 300)
        recs.append(row)
    sync = bytes((seed * 41 + j * 23 + 11) % 256 for j in range(16))
    out = bytearray(b"Obj\x01")
    out += _avro_zigzag(2)
    out += _avro_str("avro.schema") + _avro_str(_AVRO_WRITER_SCHEMA_JSON)
    out += _avro_str("avro.codec") + _avro_str(codec)
    out += _avro_zigzag(0)
    out += sync
    for at in range(0, n, 25):
        chunk = recs[at:at + 25]
        payload = b"".join(chunk)
        if codec == "deflate":
            co = _zlib.compressobj(6, _zlib.DEFLATED, -15)
            payload = co.compress(payload) + co.flush()
        elif codec == "snappy":
            comp = snappy_compress_block(payload)
            payload = comp + (_zlib.crc32(b"".join(chunk))
                              & 0xFFFFFFFF).to_bytes(4, "big")
        out += _avro_zigzag(len(chunk)) + _avro_zigzag(len(payload))
        out += payload + sync
    return bytes(out)


# --------------------------------------------------------------------------
# LZ4 frames from the REAL producer (r13): make_lz4 above exercises
# the fixture's own spec encoder; these frames come from liblz4
# itself (pyarrow Codec 'lz4' = LZ4F), so `lz4_frame_extract` green
# rows certify operators/lz4.py inverts production LZ4 frames.

@_functools.lru_cache(maxsize=1024)
def make_lz4_real(seed: int) -> bytes:
    """liblz4-produced frame.

    Planted rules (replayed in closed form by the oracle):

    - segment ``a``: ``n_a = 150 + seed % 100`` bytes of
      ``(3*seed + 11*i) % 251``; tail ``t``: ``n_t = 30 + seed % 40``
      bytes of ``(5*seed + 7*i) % 253``
    - content = ``a*3 + t`` (repeats plant real LZ77 matches),
      single block (content < LZ4F's 64 KiB minimum block size)
    """
    import pyarrow as _pa

    n_a = 150 + seed % 100
    n_t = 30 + seed % 40
    a = bytes((3 * seed + 11 * i) % 251 for i in range(n_a))
    t = bytes((5 * seed + 7 * i) % 253 for i in range(n_t))
    return _pa.Codec("lz4").compress(a * 3 + t, asbytes=True)


# --------------------------------------------------------------------------
# Iceberg truncate[100] pruning (r13): the ``iceberg_truncate_prune``
# driver query.

_ICEBERG_TRUNC_W = 100

_ICEBERG_MAN_TR_SCHEMA = (
    '{"type":"record","name":"manifest_entry","fields":['
    '{"name":"status","type":"int"},'
    '{"name":"data_file","type":{"type":"record","name":"data_file",'
    '"fields":['
    '{"name":"file_path","type":"string"},'
    '{"name":"partition","type":{"type":"record","name":"r103",'
    '"fields":[{"name":"v_trunc","type":"long"}]}},'
    '{"name":"record_count","type":"long"},'
    '{"name":"file_size_in_bytes","type":"long"}]}}]}'
)


@_functools.lru_cache(maxsize=1024)
def make_iceberg_trunc_bundle(seed: int) -> bytes:
    """Iceberg bundle partitioned by ``truncate[100]`` on long
    column ``v``: 6 files for partition values 0,100,...,500.

    Planted rules (replayed in closed form by the oracle):

    - partition ``p = 100*f``'s file: ``n = 18 + (seed + f) % 8``
      rows of ``v = 100*f + (seed*3 + 7*i) % 100`` (all inside the
      bucket, so transform pruning is lossless)
    - parquet codec snappy/zstd by ``(seed + f) % 2``; avro deflate
      on odd seeds
    """
    import json as _json

    import pyarrow as _pa
    import pyarrow.parquet as _pq

    codec_avro = "deflate" if seed % 2 else "null"
    members: "dict[str, bytes]" = {}
    rows = []
    for f in range(6):
        n = 18 + (seed + f) % 8
        vals = [100 * f + (seed * 3 + 7 * i) % 100 for i in range(n)]
        buf = _pa.BufferOutputStream()
        _pq.write_table(
            _pa.table({"v": _pa.array(vals, _pa.int64())}), buf,
            compression=["snappy", "zstd"][(seed + f) % 2])
        blob = buf.getvalue().to_pybytes()
        name = f"data/tr{f}.parquet"
        members[name] = blob
        body = _avro_zigzag(1)
        body += _avro_str(name)
        body += _avro_zigzag(100 * f)   # partition.v_trunc
        body += _avro_zigzag(n)
        body += _avro_zigzag(len(blob))
        rows.append(body)
    man = _avro_container(_ICEBERG_MAN_TR_SCHEMA, rows, seed,
                          codec_avro)
    members["manifest-tr.avro"] = man
    ml_rows = [_avro_str("manifest-tr.avro") + _avro_zigzag(len(man))]
    members["manifest-list.avro"] = _avro_container(
        _ICEBERG_ML_SCHEMA, ml_rows, seed, codec_avro)
    members["metadata.json"] = _json.dumps({
        "format-version": 2,
        "current-snapshot-id": 7300 + seed,
        "snapshots": [{"snapshot-id": 7300 + seed,
                       "manifest-list": "manifest-list.avro"}],
        "schema": {"fields": [{"id": 1, "name": "v",
                               "type": "long"}]},
        "default-spec-id": 0,
        "partition-specs": [{"spec-id": 0, "fields": [
            {"name": "v_trunc",
             "transform": f"truncate[{_ICEBERG_TRUNC_W}]",
             "source-id": 1, "field-id": 1001}]}],
    }).encode()
    out = bytearray()
    for name, data in members.items():
        out += _tar_member(name, data)
    out += b"\x00" * 1024
    return bytes(out)


# --------------------------------------------------------------------------
# Delta V2 (sidecar) checkpoints (r13): the ``delta_checkpoint_v2``
# driver query.  Checkpoint + sidecar parquets are written by
# parquet-cpp (pyarrow); the engine reads them back through its own
# nested reader.

@_functools.lru_cache(maxsize=1024)
def make_delta_v2ckpt_bundle(seed: int) -> bytes:
    """Delta log bundle with a V2 checkpoint at version 5.

    Planted rules (replayed in closed form by the oracle):

    - state rows for files ``d0..d9``: ADD with
      ``size = 1000 + 37*i + seed % 7`` when ``(seed+i) % 4 != 1``,
      else a REMOVE tombstone; rows i<5 in sidecar 0, i>=5 in
      sidecar 1
    - the top-level checkpoint carries checkpointMetadata(version 5),
      the two sidecar pointers, and ONE top-level add
      ``dtop.parquet`` with ``size = 777 + seed % 5``
    - commit 6 adds ``d10`` (``size = 1500 + seed % 9``); commit 7
      removes ``d<seed%10>`` and, on odd seeds, adds ``d11``
      (``size = 2000 + seed % 3``)
    - parquet codec snappy/zstd by ``seed % 2``
    """
    import json as _json

    import pyarrow as _pa
    import pyarrow.parquet as _pq

    codec = ["snappy", "zstd"][seed % 2]
    add_t = _pa.struct([("path", _pa.string()), ("size", _pa.int64())])
    rem_t = _pa.struct([("path", _pa.string())])
    cm_t = _pa.struct([("version", _pa.int64())])
    sc_t = _pa.struct([("path", _pa.string()),
                       ("sizeInBytes", _pa.int64())])

    def _write(add_rows, rem_rows, cm_rows, sc_rows):
        n = len(add_rows)
        t = _pa.table({
            "add": _pa.array(add_rows, add_t),
            "remove": _pa.array(rem_rows, rem_t),
            "checkpointMetadata": _pa.array(cm_rows, cm_t),
            "sidecar": _pa.array(sc_rows, sc_t),
        })
        assert len(rem_rows) == n and len(cm_rows) == n \
            and len(sc_rows) == n
        buf = _pa.BufferOutputStream()
        _pq.write_table(t, buf, compression=codec)
        return buf.getvalue().to_pybytes()

    side_blobs = []
    for half in range(2):
        adds, rems, cms, scs = [], [], [], []
        for i in range(5 * half, 5 * half + 5):
            if (seed + i) % 4 != 1:
                adds.append({"path": f"d{i}.parquet",
                             "size": 1000 + 37 * i + seed % 7})
                rems.append(None)
            else:
                adds.append(None)
                rems.append({"path": f"d{i}.parquet"})
            cms.append(None)
            scs.append(None)
        side_blobs.append(_write(adds, rems, cms, scs))
    top = _write(
        [None, None, None,
         {"path": "dtop.parquet", "size": 777 + seed % 5}],
        [None] * 4,
        [{"version": 5}, None, None, None],
        [None,
         {"path": "sc0.parquet", "sizeInBytes": len(side_blobs[0])},
         {"path": "sc1.parquet", "sizeInBytes": len(side_blobs[1])},
         None])
    uuid = f"{seed:08d}-aaaa-bbbb-cccc-000000000000"
    commit6 = _json.dumps({"add": {
        "path": "d10.parquet", "size": 1500 + seed % 9,
        "dataChange": True}}) + "\n"
    lines7 = [_json.dumps({"remove": {
        "path": f"d{seed % 10}.parquet",
        "deletionTimestamp": 1700000000000}})]
    if seed % 2 == 1:
        lines7.append(_json.dumps({"add": {
            "path": "d11.parquet", "size": 2000 + seed % 3,
            "dataChange": True}}))
    out = bytearray()
    out += _tar_member("_delta_log/_last_checkpoint",
                       _json.dumps({"version": 5}).encode())
    out += _tar_member(
        f"_delta_log/{5:020d}.checkpoint.{uuid}.parquet", top)
    out += _tar_member("_delta_log/_sidecars/sc0.parquet",
                       side_blobs[0])
    out += _tar_member("_delta_log/_sidecars/sc1.parquet",
                       side_blobs[1])
    out += _tar_member(f"_delta_log/{6:020d}.json", commit6.encode())
    out += _tar_member(f"_delta_log/{7:020d}.json",
                       ("\n".join(lines7) + "\n").encode())
    out += b"\x00" * 1024
    return bytes(out)


# --------------------------------------------------------------------------
# Parquet writer round-trip (r13): the ``parquet_write_roundtrip``
# driver query's planted columns.

def parquet_rt_columns(seed: int) -> "list[tuple[str, str, list]]":
    """Planted nullable columns for the from-scratch writer.

    Rules (replayed in closed form by the oracle):

    - ``n = 40 + seed % 30`` rows
    - ``id``: NULL when ``(seed+i) % 8 == 7`` else
      ``(seed*9 + 5*i) % 7000``
    - ``x``: NULL when ``(seed+i) % 10 == 9`` else
      ``((seed + 3*i) % 50) / 2`` (exact halves)
    - ``s``: NULL when ``i % 6 == 5`` else ``'s' * (1 + (seed+i)%4)``
    - ``b``: NULL when ``(seed+i) % 7 == 6`` else
      ``(seed+i) % 3 == 0``
    """
    n = 40 + seed % 30
    ids = [None if (seed + i) % 8 == 7 else (seed * 9 + 5 * i) % 7000
           for i in range(n)]
    xs = [None if (seed + i) % 10 == 9 else ((seed + 3 * i) % 50) / 2
          for i in range(n)]
    ss = [None if i % 6 == 5 else "s" * (1 + (seed + i) % 4)
          for i in range(n)]
    bs = [None if (seed + i) % 7 == 6 else ((seed + i) % 3 == 0)
          for i in range(n)]
    return [("id", "int64", ids), ("x", "double", xs),
            ("s", "string", ss), ("b", "boolean", bs)]


def parquet_rt_codec(seed: int) -> str:
    return ["uncompressed", "snappy"][seed % 2]


# --------------------------------------------------------------------------
# Arrow IPC writer round-trip (r13): the ``arrow_write_roundtrip``
# driver query's planted columns.

def arrow_rt_columns(seed: int) -> "list[tuple[str, str, list]]":
    """Planted nullable columns for the from-scratch Arrow stream
    writer.

    Rules (replayed in closed form by the oracle):

    - ``n = 30 + seed % 25`` rows
    - ``id``: NULL when ``(seed+i) % 8 == 7`` else
      ``(seed*9 + 5*i) % 7000``
    - ``x``: NULL when ``(seed+i) % 10 == 9`` else
      ``((seed + 3*i) % 50) / 2``
    - ``s``: NULL when ``i % 6 == 5`` else ``'α' * (1 + (seed+i)%3)``
      (two UTF-8 bytes per char)
    - ``b``: NULL when ``(seed+i) % 7 == 6`` else
      ``(seed+i) % 3 == 0``
    """
    n = 30 + seed % 25
    ids = [None if (seed + i) % 8 == 7 else (seed * 9 + 5 * i) % 7000
           for i in range(n)]
    xs = [None if (seed + i) % 10 == 9 else ((seed + 3 * i) % 50) / 2
          for i in range(n)]
    ss = [None if i % 6 == 5 else "α" * (1 + (seed + i) % 3)
          for i in range(n)]
    bs = [None if (seed + i) % 7 == 6 else ((seed + i) % 3 == 0)
          for i in range(n)]
    return [("id", "int64", ids), ("x", "double", xs),
            ("s", "string", ss), ("b", "boolean", bs)]


def arrow_rt_batch(seed: int) -> "int | None":
    return [None, 10][seed % 2]


# --------------------------------------------------------------------------
# Codec writer round-trip (r13): planted content for the
# ``codec_write_roundtrip`` driver query.

@_functools.lru_cache(maxsize=512)
def codec_rt_content(seed: int) -> bytes:
    """Mixed content: a byte run (RLE/match-heavy), a pseudo-random
    segment, a far copy of it (plants real LZ77 matches beyond the
    run), and the run again.

    Closed form: ``len = 2*(60 + seed%50) + 2*(120 + seed%80)``,
    ``sum = 2*(60 + seed%50)*(seed%251) +
    2*sum_i (3*seed + 7*i) % 251``.
    """
    na = 60 + seed % 50
    nb = 120 + seed % 80
    a = bytes([seed % 251]) * na
    b = bytes((3 * seed + 7 * i) % 251 for i in range(nb))
    return a + b + b + a


# --------------------------------------------------------------------------
# CSV dialect sniffing (r13): the ``csv_sniff_scan`` driver query.
# The PRODUCER is stdlib csv.writer (QUOTE_MINIMAL, real dialects),
# so green rows certify operators/csvx.py sniffs and parses real
# writer output, not its own fixtures.

_CSV_DELIMS = [",", ";", "\t", "|"]


@_functools.lru_cache(maxsize=1024)
def make_csv_doc(seed: int) -> bytes:
    """Deterministic CSV document.

    Planted rules (replayed in closed form by the oracle):

    - delimiter cycles ``, ; \\t |`` with ``seed % 4``; line ending
      CRLF on odd seeds; header ``id,name,score,note``
    - ``n = 20 + seed % 30`` body rows; ``id`` empty (null) when
      ``(seed+i) % 9 == 8`` else ``(seed*7 + 3*i) % 5000``
    - ``name`` embeds the active delimiter on ``i % 4 == 0`` (forces
      quoting), a doubled quote on ``i % 5 == 3``, an embedded
      newline on ``i % 7 == 5``
    - ``score = ((seed + 2*i) % 40) / 4`` (double column);
      ``note = 'w' || (seed+i) % 12`` (string column)
    - on ``seed % 5 == 0`` one trailing RAGGED 3-field row
    """
    import csv as _csv
    import io as _io

    d = _CSV_DELIMS[seed % 4]
    buf = _io.StringIO()
    w = _csv.writer(buf, delimiter=d, quoting=_csv.QUOTE_MINIMAL,
                    lineterminator="\r\n" if seed % 2 else "\n")
    w.writerow(["id", "name", "score", "note"])
    n = 20 + seed % 30
    for i in range(n):
        idv = "" if (seed + i) % 9 == 8 else str((seed * 7 + 3 * i)
                                                 % 5000)
        name = f"n{i}"
        if i % 4 == 0:
            name = f"n{d}x{i}"
        if i % 5 == 3:
            name += '"q'
        if i % 7 == 5:
            name += "\nz"
        w.writerow([idv, name, ((seed + 2 * i) % 40) / 4,
                    f"w{(seed + i) % 12}"])
    if seed % 5 == 0:
        w.writerow(["9", "z", "1.5"])
    return buf.getvalue().encode()


# --------------------------------------------------------------------------
# Iceberg day-transform pruning (r13): the ``iceberg_day_prune``
# driver query.

_ICEBERG_DAY_BASE = 19_700  # epoch-day ordinal (2023-12-08)
_ICEBERG_DAY_N = 5
_MICROS_PER_DAY_FX = 86_400_000_000

_ICEBERG_MAN_DAY_SCHEMA = (
    '{"type":"record","name":"manifest_entry","fields":['
    '{"name":"status","type":"int"},'
    '{"name":"data_file","type":{"type":"record","name":"data_file",'
    '"fields":['
    '{"name":"file_path","type":"string"},'
    '{"name":"partition","type":{"type":"record","name":"r104",'
    '"fields":[{"name":"ts_day","type":"long"}]}},'
    '{"name":"record_count","type":"long"},'
    '{"name":"file_size_in_bytes","type":"long"}]}}]}'
)


@_functools.lru_cache(maxsize=1024)
def make_iceberg_day_bundle(seed: int) -> bytes:
    """Iceberg bundle partitioned by ``day(ts)``: 6 daily files for
    epoch days 19700..19705.

    Planted rules (replayed in closed form by the oracle):

    - day ``19700+f``'s file: ``n = 16 + (seed + f) % 8`` rows of
      ``ts = (19700+f) * 86400e6 + ((seed*3 + 7*i) % 1000) * 1000``
      (all within the day's first second)
    - parquet codec snappy/zstd by ``(seed + f) % 2``; avro deflate
      on odd seeds
    """
    import json as _json

    import pyarrow as _pa
    import pyarrow.parquet as _pq

    codec_avro = "deflate" if seed % 2 else "null"
    members: "dict[str, bytes]" = {}
    rows = []
    for f in range(6):
        n = 16 + (seed + f) % 8
        day = _ICEBERG_DAY_BASE + f
        vals = [day * _MICROS_PER_DAY_FX
                + ((seed * 3 + 7 * i) % 1000) * 1000
                for i in range(n)]
        buf = _pa.BufferOutputStream()
        _pq.write_table(
            _pa.table({"ts": _pa.array(vals, _pa.int64())}), buf,
            compression=["snappy", "zstd"][(seed + f) % 2])
        blob = buf.getvalue().to_pybytes()
        name = f"data/day{f}.parquet"
        members[name] = blob
        body = _avro_zigzag(1)
        body += _avro_str(name)
        body += _avro_zigzag(day)    # partition.ts_day
        body += _avro_zigzag(n)
        body += _avro_zigzag(len(blob))
        rows.append(body)
    man = _avro_container(_ICEBERG_MAN_DAY_SCHEMA, rows, seed,
                          codec_avro)
    members["manifest-day.avro"] = man
    ml_rows = [_avro_str("manifest-day.avro") + _avro_zigzag(len(man))]
    members["manifest-list.avro"] = _avro_container(
        _ICEBERG_ML_SCHEMA, ml_rows, seed, codec_avro)
    members["metadata.json"] = _json.dumps({
        "format-version": 2,
        "current-snapshot-id": 7400 + seed,
        "snapshots": [{"snapshot-id": 7400 + seed,
                       "manifest-list": "manifest-list.avro"}],
        "schema": {"fields": [{"id": 1, "name": "ts",
                               "type": "timestamptz"}]},
        "default-spec-id": 0,
        "partition-specs": [{"spec-id": 0, "fields": [
            {"name": "ts_day", "transform": "day",
             "source-id": 1, "field-id": 1002}]}],
    }).encode()
    out = bytearray()
    for name, data in members.items():
        out += _tar_member(name, data)
    out += b"\x00" * 1024
    return bytes(out)


@_functools.lru_cache(maxsize=1024)
def make_hudi_cluster_bundle(seed: int) -> bytes:
    """Hudi CoW bundle WITH a completed ``replacecommit``
    (clustering): the base table of :func:`make_hudi_bundle` plus a
    4th instant that clusters file groups 0 and 1 into one new
    file group.

    Planted rules (replayed in closed form by the oracle):

    - commits 0..2 + inflight 3 exactly as make_hudi_bundle
    - instant ``ts0+4`` is a completed replacecommit: writes
      ``cl0-0000`` with ``n = 20 + seed % 6`` rows of
      ``v = (seed*11 + 9*i) % 700`` and replaces fileIds
      ``fg0-0000``/``fg1-0000``
    - snapshot = clustered file + groups 2,3's latest pre-cluster
      slices
    """
    import json as _json

    import pyarrow as _pa
    import pyarrow.parquet as _pq

    from ..operators.tar import parse_tar

    base = make_hudi_bundle(seed)
    members = {m["name"]: m["data"] for m in parse_tar(base)}
    ts4 = str(_HUDI_TS0 + 4)
    n = 20 + seed % 6
    vals = [(seed * 11 + 9 * i) % 700 for i in range(n)]
    buf = _pa.BufferOutputStream()
    _pq.write_table(
        _pa.table({"v": _pa.array(vals, _pa.int64())}), buf,
        compression=["snappy", "zstd"][seed % 2])
    blob = buf.getvalue().to_pybytes()
    cname = f"part=0/cl0-0000_1-0-1_{ts4}.parquet"
    members[cname] = blob
    members[f".hoodie/{ts4}.replacecommit.requested"] = b""
    members[f".hoodie/{ts4}.replacecommit"] = _json.dumps({
        "partitionToWriteStats": [
            {"path": cname, "numWrites": n}],
        "partitionToReplaceFileIds": {
            "part=0": ["fg0-0000"], "part=1": ["fg1-0000"]},
        "operationType": "CLUSTER"}).encode()
    out = bytearray()
    for name, data in members.items():
        out += _tar_member(name, data)
    out += b"\x00" * 1024
    return bytes(out)


# --------------------------------------------------------------------------
# Avro logical types (r13): the ``avro_logical_types`` driver query.

_AVRO_LOGICAL_SCHEMA_JSON = (
    '{"type":"record","name":"L","fields":['
    '{"name":"d","type":{"type":"int","logicalType":"date"}},'
    '{"name":"ts","type":{"type":"long",'
    '"logicalType":"timestamp-micros"}},'
    '{"name":"dec","type":{"type":"bytes","logicalType":"decimal",'
    '"precision":9,"scale":2}},'
    '{"name":"u","type":{"type":"string","logicalType":"uuid"}},'
    '{"name":"fx","type":{"type":"fixed","name":"F4","size":4,'
    '"logicalType":"decimal","precision":9,"scale":3}}]}'
)


@_functools.lru_cache(maxsize=1024)
def make_avro_logical(seed: int) -> bytes:
    """Container with every common logical type.

    Planted rules (replayed in closed form by the oracle; row ``i``
    of ``n = 25 + seed % 30``):

    - ``d``: epoch day ``19000 + (seed + 3*i) % 2000``
    - ``ts``: micros ``1_600_000_000_000_000 +
      (seed*7 + 11*i) % 1_000_000_000``
    - ``dec`` (bytes decimal, scale 2): unscaled
      ``(seed*13 + 9*i) % 200000 - 100000`` (4-byte big-endian)
    - ``u``: uuid ``{tl:08x}-0000-4000-8000-{i:012x}`` with
      ``tl = (seed*5 + 13*i) % 100000000``
    - ``fx`` (fixed(4) decimal, scale 3): unscaled
      ``(seed*3 + 5*i) % 1000000``
    - codec cycles [null, deflate, snappy] with ``seed % 3``
    """
    import zlib as _zlib

    n = 25 + seed % 30
    codec = ["null", "deflate", "snappy"][seed % 3]
    recs = []
    for i in range(n):
        row = _avro_zigzag(19000 + (seed + 3 * i) % 2000)
        row += _avro_zigzag(1_600_000_000_000_000
                            + (seed * 7 + 11 * i) % 1_000_000_000)
        unscaled = (seed * 13 + 9 * i) % 200000 - 100000
        raw = unscaled.to_bytes(4, "big", signed=True)
        row += _avro_zigzag(len(raw)) + raw
        tl = (seed * 5 + 13 * i) % 100000000
        row += _avro_str(f"{tl:08x}-0000-4000-8000-{i:012x}")
        row += ((seed * 3 + 5 * i) % 1000000).to_bytes(
            4, "big", signed=True)
        recs.append(row)
    sync = bytes((seed * 43 + j * 29 + 5) % 256 for j in range(16))
    out = bytearray(b"Obj\x01")
    out += _avro_zigzag(2)
    out += _avro_str("avro.schema") + _avro_str(
        _AVRO_LOGICAL_SCHEMA_JSON)
    out += _avro_str("avro.codec") + _avro_str(codec)
    out += _avro_zigzag(0)
    out += sync
    for at in range(0, n, 20):
        chunk = recs[at:at + 20]
        payload = b"".join(chunk)
        if codec == "deflate":
            co = _zlib.compressobj(6, _zlib.DEFLATED, -15)
            payload = co.compress(payload) + co.flush()
        elif codec == "snappy":
            comp = snappy_compress_block(payload)
            payload = comp + (_zlib.crc32(b"".join(chunk))
                              & 0xFFFFFFFF).to_bytes(4, "big")
        out += _avro_zigzag(len(chunk)) + _avro_zigzag(len(payload))
        out += payload + sync
    return bytes(out)


# --------------------------------------------------------------------------
# ORC row-index pruning (r13): the ``orc_row_prune`` driver query.
# Files are written by the Apache ORC C++ writer (pyarrow) with a
# 1000-row index stride.

_ORC_RI_GROUPS = 4
_ORC_RI_SPAN = 100_000


@_functools.lru_cache(maxsize=1024)
def make_orc_ri(seed: int) -> bytes:
    """ORC file with 4 row groups of 1000 rows; codec cycles
    UNCOMPRESSED/ZLIB/SNAPPY/ZSTD/LZ4 with ``seed % 5`` (compressed
    streams exercise the 3-entry seek triple).

    Planted rules (replayed in closed form by the oracle): row ``i``
    of group ``g`` holds ``v = g*100000 + (seed*3 + 7*i) % 900``.
    Group domains are disjoint, so row-index min/max pruning is
    lossless.
    """
    import pyarrow as _pa
    from pyarrow import orc as _orc

    vals = [g * _ORC_RI_SPAN + (seed * 3 + 7 * i) % 900
            for g in range(_ORC_RI_GROUPS) for i in range(1000)]
    buf = _pa.BufferOutputStream()
    _orc.write_table(
        _pa.table({"v": _pa.array(vals, _pa.int64())}), buf,
        compression=["UNCOMPRESSED", "ZLIB", "SNAPPY", "ZSTD",
                     "LZ4"][seed % 5],
        row_index_stride=1000)
    return buf.getvalue().to_pybytes()
