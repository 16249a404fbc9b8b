"""Round-10 session-3 format decoders: QOI (and later additions).

Same discipline as tests/test_multimodal.py: exact round-trips against
the planted pixel rules, full op-family coverage asserted (not
assumed), and single-site corruption fuzz under the quarantine
contract (ValueError/IndexError/struct.error — never a crash/hang).
"""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from google_analytics_to_s3_spark.operators.qoi import _parse_qoi
from google_analytics_to_s3_spark.testing.fixtures import (
    make_qoi,
    qoi_pixel_rule,
)


@pytest.mark.parametrize("channels", [3, 4])
@pytest.mark.parametrize("seed", [0, 1, 7, 123, 999])
def test_qoi_round_trip_exact(seed, channels):
    w, h = 8 + seed % 7, 6 + seed % 5
    W, H, C, px, _ = _parse_qoi(make_qoi(seed, w, h, channels))
    assert (W, H, C) == (w, h, channels)
    want = np.array(
        [[[qoi_pixel_rule(seed, x, y, c) for c in range(channels)]
          for x in range(w)] for y in range(h)],
        dtype=np.uint8,
    )
    assert (px == want).all()


def test_qoi_all_op_families_exercised():
    """The fixture family must hit every QOI chunk type — RUN, INDEX,
    DIFF, LUMA, RGB, RGBA — or the decoder coverage is illusory."""
    totals = {k: 0 for k in ("rgb", "rgba", "index", "diff", "luma",
                             "run")}
    for seed in range(60):
        for ch in (3, 4):
            ops = _parse_qoi(make_qoi(seed, 13, 9, ch))[4]
            for k, v in ops.items():
                totals[k] += v
    assert all(v > 0 for v in totals.values()), totals


def test_qoi_run_62_flush_and_long_runs():
    """A constant image longer than 62 px forces the run-flush path
    (run length is capped at 62 because 63/64 collide with the
    RGB/RGBA tags)."""
    # seed chosen so row regime y%3==1 with w wide enough: use an
    # explicitly constant rule via a 70x2 image where every pixel of
    # row pairs repeats -> runs > 62 must split.
    raw = make_qoi(0, 70, 3, 3)
    w, h, c, px, ops = _parse_qoi(raw)
    assert (w, h) == (70, 3)
    assert ops["run"] >= 1


@pytest.mark.parametrize("mangle,err", [
    (lambda b: b"noif" + b[4:], "magic"),
    (lambda b: b[:12] + bytes([5]) + b[13:], "channels"),
    (lambda b: b[:13] + bytes([9]) + b[14:], "colorspace"),
    (lambda b: b[:-8] + b"\x00" * 8, "end marker"),
    (lambda b: b[:4] + (0).to_bytes(4, "big") + b[8:], "dimensions"),
    (lambda b: b[:4] + (1 << 30).to_bytes(4, "big") + b[8:],
     "dimensions"),
])
def test_qoi_malformed_rejected(mangle, err):
    raw = make_qoi(42, 9, 7, 4)
    with pytest.raises(ValueError, match=err):
        _parse_qoi(mangle(raw))


@settings(max_examples=60, deadline=None)
@given(
    seed=st.integers(min_value=0, max_value=999),
    channels=st.sampled_from([3, 4]),
    pos_frac=st.floats(min_value=0.0, max_value=0.999),
    mutation=st.sampled_from(["flip", "zero", "truncate", "insert"]),
)
def test_qoi_corruption_never_crashes(seed, channels, pos_frac,
                                      mutation):
    raw = bytearray(make_qoi(seed, 11, 8, channels))
    pos = int(pos_frac * len(raw))
    if mutation == "flip":
        raw[pos] ^= 0x55
    elif mutation == "zero":
        raw[pos] = 0
    elif mutation == "truncate":
        raw = raw[:pos]
    else:
        raw = raw[:pos] + b"\xa5" + raw[pos:]
    try:
        _parse_qoi(bytes(raw))
    except (ValueError, IndexError):
        pass


# ---------------------------------------------------------------------------
# HTML → text extraction (operators/html.py)
# ---------------------------------------------------------------------------

from google_analytics_to_s3_spark.operators.html import (  # noqa: E402
    extract_html_text,
)
from google_analytics_to_s3_spark.testing.fixtures import (  # noqa: E402
    make_html,
)


def test_html_skips_script_style_noscript_comments_and_head():
    raw = ("<html><head><title>T</title><style>p{x:1}</style></head>"
           "<body><script>var a=1;</script><!-- c --><noscript>no "
           "<b>tags</b></noscript><p>keep these words</p></body></html>")
    title, text, nl, nh, np_ = extract_html_text(raw)
    assert title == "T"
    assert text.split() == ["keep", "these", "words"]
    assert (nl, nh, np_) == (0, 0, 1)


def test_html_entities_decode_before_counting():
    _, text, *_ = extract_html_text(
        "<body><p>A&amp;B x&#33; &lt;tag&gt;</p></body>")
    assert text.split() == ["A&B", "x!", "<tag>"]


def test_html_links_and_headings_counted_outside_skips_only():
    raw = ("<body><h1>H</h1><h2>I</h2>"
           '<a href="http://a">x</a><a name="no-href">y</a>'
           '<noscript><a href="http://skip">z</a></noscript></body>')
    _, text, nl, nh, np_ = extract_html_text(raw)
    assert nl == 1 and nh == 2 and np_ == 0
    assert "z" not in text.split()


def test_html_tag_soup_and_missing_body_tolerated():
    # unclosed tags, stray </div>, no <body> element at all
    _, text, *_ = extract_html_text("<p>one <b>two</div> three")
    assert text.split() == ["one", "two", "three"]


def test_html_fixture_matches_planted_rules_sampled():
    from google_analytics_to_s3_spark.testing.fixtures import (
        html_word_value,
    )

    for seed in (0, 1, 2, 7, 99, 500, 999):
        title, text, nl, nh, np_ = extract_html_text(make_html(seed))
        n_paras = 3 + seed % 5
        toks = text.split()
        want = sum(4 + (seed + p) % 6 for p in range(n_paras)) + 1 \
            + (1 + seed % 3) + seed % 4
        assert len(toks) == want
        assert title == f"Doc {seed}"
        assert nl == seed % 4 and nh == 1 + seed % 3 and np_ == n_paras
        assert sum(len(t) for t in toks) == sum(
            (2 if html_word_value(seed, p, i) < 10 else 3)
            for p in range(n_paras) for i in range(4 + (seed + p) % 6)
        ) + (3 if seed % 2 == 0 else 2) + 2 * (1 + seed % 3) \
            + 2 * (seed % 4)


@settings(max_examples=50, deadline=None)
@given(junk=st.text(max_size=400))
def test_html_arbitrary_text_never_crashes(junk):
    extract_html_text(junk)
    extract_html_text("<body>" + junk)


# ---------------------------------------------------------------------------
# LZ4 frame + block + xxh32 (operators/lz4.py)
# ---------------------------------------------------------------------------

from google_analytics_to_s3_spark.operators.lz4 import (  # noqa: E402
    _decode_lz4_block,
    parse_lz4_frame,
    xxh32,
)
from google_analytics_to_s3_spark.testing.fixtures import (  # noqa: E402
    _lz4_compress_block,
    lz4_content_rule,
    make_lz4,
)


def test_xxh32_published_vectors():
    assert xxh32(b"") == 0x02CC5D05
    assert xxh32(b"a") == 0x550D7456
    assert xxh32(b"abc") == 0x32D153FF
    assert xxh32(b"Nobody inspects the spammish repetition") \
        == 0xE2293B2F
    assert xxh32(b"The quick brown fox jumps over the lazy dog") \
        == 0xE85EA4DE


@pytest.mark.parametrize("seed", [0, 1, 99, 511, 999])
def test_lz4_frame_round_trip(seed):
    content, nb = parse_lz4_frame(make_lz4(seed))
    assert content == lz4_content_rule(seed)
    assert nb == (len(content) + 511) // 512


def test_lz4_overlap_copy_rle_idiom():
    rle = b"\x07" * 300
    comp = _lz4_compress_block(rle)
    assert len(comp) < 20  # the matcher actually compressed it
    assert _decode_lz4_block(comp, 1000) == rle


def test_lz4_long_lengths_255_saturation():
    # > 15+255 literals and a > 19+255 match both need extension bytes
    lits = bytes((i * 37) % 256 for i in range(300))
    data = lits + b"\x42" * 300 + lits[:50]
    comp = _lz4_compress_block(data)
    assert _decode_lz4_block(comp, 1 << 16) == data


@pytest.mark.parametrize("tamper,err", [
    ("magic", "magic"),
    ("hc", "descriptor checksum"),
    ("block_ck", "block checksum"),
    ("content_ck", "content checksum"),
    ("end", "truncated"),
])
def test_lz4_checksums_actually_verified(tamper, err):
    raw = bytearray(make_lz4(7))
    if tamper == "magic":
        raw[0] ^= 1
    elif tamper == "hc":
        raw[14] ^= 0xFF  # HC byte (after 4 magic + 2 FLG/BD + 8 size)
    elif tamper == "block_ck":
        raw[40] ^= 1  # inside first block's data -> its xxh32 fails
    elif tamper == "content_ck":
        raw[-1] ^= 1
    else:
        raw = raw[:-9]  # drop end mark + content checksum
    with pytest.raises(ValueError, match=err):
        parse_lz4_frame(bytes(raw))


def test_lz4_match_offset_bounds_rejected():
    # token: 0 literals, match len 4, offset 5 into an empty buffer
    with pytest.raises(ValueError, match="offset out of range"):
        _decode_lz4_block(b"\x00\x05\x00", 100)


def test_lz4_expansion_bound_enforced():
    # crafted run: 4 literals then an overlapping match of ~1 MB
    block = b"\x4f\xaa\xbb\xcc\xdd\x04\x00" + b"\xff" * 4000 + b"\x00"
    with pytest.raises(ValueError, match="expansion bound"):
        _decode_lz4_block(block, 10_000)


@settings(max_examples=60, deadline=None)
@given(
    seed=st.integers(min_value=0, max_value=999),
    pos_frac=st.floats(min_value=0.0, max_value=0.999),
    mutation=st.sampled_from(["flip", "zero", "truncate", "insert"]),
)
def test_lz4_corruption_never_crashes(seed, pos_frac, mutation):
    raw = bytearray(make_lz4(seed))
    pos = int(pos_frac * len(raw))
    if mutation == "flip":
        raw[pos] ^= 0x55
    elif mutation == "zero":
        raw[pos] = 0
    elif mutation == "truncate":
        raw = raw[:pos]
    else:
        raw = raw[:pos] + b"\xa5" + raw[pos:]
    try:
        parse_lz4_frame(bytes(raw))
    except (ValueError, IndexError):
        pass


# ---------------------------------------------------------------------------
# PDF text extraction (operators/pdf.py)
# ---------------------------------------------------------------------------

from google_analytics_to_s3_spark.operators.pdf import (  # noqa: E402
    _parse_string,
    extract_pdf_text,
)
from google_analytics_to_s3_spark.testing.fixtures import (  # noqa: E402
    make_pdf,
    pdf_word_value,
)


@pytest.mark.parametrize("seed", [0, 1, 4, 5, 20, 999])
def test_pdf_planted_rules(seed):
    # seeds cover: raw + Flate streams (seed%5), /Prev chains
    # (seed%4), all page counts
    np_, no, text = extract_pdf_text(make_pdf(seed))
    n_pages = 2 + seed % 3
    assert np_ == n_pages and no == 4 + 2 * n_pages
    toks = text.split()
    assert len(toks) == sum(5 + (seed + p) % 7
                            for p in range(n_pages)) + 2
    assert sum(len(t) for t in toks) == sum(
        (2 if pdf_word_value(seed, p, i) < 10 else 3)
        for p in range(n_pages) for i in range(5 + (seed + p) % 7)
    ) + 5
    assert "A)B" in toks and "HX" in toks  # octal + hex string paths


def test_pdf_string_escapes():
    s, _ = _parse_string(rb"(a\nb\051c\\d\
e)", 0)
    # \n newline, \051 = ')', \\ backslash, backslash-newline = continuation
    assert s == b"a\nb)c\\de"


def test_pdf_nested_parens_in_strings():
    s, _ = _parse_string(b"(a(b)c)", 0)
    assert s == b"a(b)c"


def test_pdf_tj_array_concatenates_without_splitting():
    seed = 3
    _, _, text = extract_pdf_text(make_pdf(seed))
    # word index 2 of each page was split across TJ elements; it must
    # come back whole
    for p in range(2 + seed % 3):
        w = f"w{pdf_word_value(seed, p, 2)}"
        assert w in text.split()


def test_pdf_honest_gates_named():
    raw = make_pdf(1)
    enc = raw.replace(b"/Root 1 0 R", b"/Root 1 0 R /Encrypt 9 0 R")
    with pytest.raises(ValueError, match="encrypted"):
        extract_pdf_text(enc)
    # equal-length name swap so the xref offsets stay valid
    # (LZWDecode decodes for real as of r11; DCTDecode stays gated)
    dct = make_pdf(1).replace(b"/Filter /FlateDecode",
                              b"/Filter /DCTDecode  ")
    with pytest.raises(ValueError, match="DCTDecode unsupported"):
        extract_pdf_text(dct)


def test_pdf_missing_startxref_rejected():
    raw = make_pdf(2)
    with pytest.raises(ValueError, match="startxref"):
        extract_pdf_text(raw[:raw.rfind(b"startxref")])


@settings(max_examples=50, deadline=None)
@given(
    seed=st.integers(min_value=0, max_value=999),
    pos_frac=st.floats(min_value=0.0, max_value=0.999),
    mutation=st.sampled_from(["flip", "zero", "truncate", "insert"]),
)
def test_pdf_corruption_never_crashes(seed, pos_frac, mutation):
    raw = bytearray(make_pdf(seed))
    pos = int(pos_frac * len(raw))
    if mutation == "flip":
        raw[pos] ^= 0x55
    elif mutation == "zero":
        raw[pos] = 0
    elif mutation == "truncate":
        raw = raw[:pos]
    else:
        raw = raw[:pos] + b"\xa5" + raw[pos:]
    try:
        extract_pdf_text(bytes(raw))
    except (ValueError, IndexError, RecursionError):
        pass


# ---------------------------------------------------------------------------
# WebP / VP8L (operators/webp.py)
# ---------------------------------------------------------------------------

from google_analytics_to_s3_spark.operators.bitio import LsbBits  # noqa: E402
from google_analytics_to_s3_spark.operators.webp import (  # noqa: E402
    _prefix_decode_extra,
    parse_webp,
)
from google_analytics_to_s3_spark.testing.fixtures import (  # noqa: E402
    _vp8l_prefix_encode,
    make_webp,
    webp_palette_rule,
    webp_pixel_rule,
)


@pytest.mark.parametrize("seed", [0, 1, 2, 3, 5, 6, 7, 40, 999])
def test_webp_vp8l_variants_exact(seed):
    # seeds cover all four variants, the VP8X wrapper (seed%5==0),
    # and assorted dims
    m = parse_webp(make_webp(seed))
    w, h, variant = 10 + seed % 9, 8 + seed % 7, seed % 4
    assert (m["width"], m["height"], m["lossless"]) == (w, h, 1)
    assert m["n_transforms"] == (0 if variant == 0 else 1)
    if variant == 3:
        P = 17 + seed % 8
        want = [webp_palette_rule(seed, (x + 2 * y) % P)
                for y in range(h) for x in range(w)]
    else:
        want = [webp_pixel_rule(seed, x, y)
                for y in range(h) for x in range(w)]
    got = [((p >> 16) & 255, (p >> 8) & 255, p & 255)
           for p in m["pixels"]]
    assert got == want


def test_webp_all_predictor_modes_covered_by_fixture_family():
    modes = set()
    for seed in range(2, 1000, 4):  # variant-2 seeds
        w, h = 10 + seed % 9, 8 + seed % 7
        bwb, bhb = (w + 3) >> 2, (h + 3) >> 2
        modes |= {(seed + bx + 3 * by) % 14
                  for by in range(bhb) for bx in range(bwb)}
    assert modes == set(range(14))


def test_webp_lz77_prefix_code_round_trip():
    for v in list(range(1, 300)) + [1000, 4000]:
        code, bits, val = _vp8l_prefix_encode(v)
        br = LsbBits(val.to_bytes(4, "little"))
        got = code + 1 if code < 4 else None
        if code < 4:
            assert got == v and bits == 0
        else:
            assert _prefix_decode_extra_with(code, val, bits) == v


def _prefix_decode_extra_with(code, val, bits):
    br = LsbBits(val.to_bytes(4, "little"))
    extra_bits = (code - 2) >> 1
    assert extra_bits == bits
    offset = (2 + (code & 1)) << extra_bits
    return offset + br.read(extra_bits) + 1


def test_webp_vp8_lossy_header_parsed_and_gated():
    # minimal VP8 keyframe header: frame tag (keyframe bit 0), start
    # code, 14-bit dims
    body = bytes([0x00, 0x00, 0x00]) + b"\x9d\x01\x2a" \
        + (320).to_bytes(2, "little") + (240).to_bytes(2, "little")
    raw = (b"RIFF" + (4 + 8 + len(body)).to_bytes(4, "little")
           + b"WEBP" + b"VP8 " + len(body).to_bytes(4, "little")
           + body)
    m = parse_webp(raw)
    assert (m["width"], m["height"], m["lossless"]) == (320, 240, 0)
    assert m["pixels"] is None


def test_webp_honest_gates_named():
    with pytest.raises(ValueError, match="RIFF header"):
        parse_webp(b"RIFX" + b"\x00" * 20)
    # pixel-bundled small-palette gate (color transform and meta
    # prefix codes decode for real as of r11)
    from google_analytics_to_s3_spark.testing.fixtures import (
        _BitWriterLSB,
    )

    bw = _BitWriterLSB()
    bw.write(9, 14)
    bw.write(7, 14)
    bw.write(0, 1)
    bw.write(0, 3)
    bw.write(1, 1)
    bw.write(3, 2)  # COLOR_INDEXING
    bw.write(3, 8)  # 4-entry palette -> pixel bundling
    payload = b"\x2f" + bw.tobytes() + b"\x00" * 8
    raw = (b"RIFF" + (4 + 8 + len(payload)).to_bytes(4, "little")
           + b"WEBP" + b"VP8L" + len(payload).to_bytes(4, "little")
           + payload)
    with pytest.raises(ValueError, match="bundled palette"):
        parse_webp(raw)


@settings(max_examples=60, deadline=None)
@given(
    seed=st.integers(min_value=0, max_value=999),
    pos_frac=st.floats(min_value=0.0, max_value=0.999),
    mutation=st.sampled_from(["flip", "zero", "truncate", "insert"]),
)
def test_webp_corruption_never_crashes(seed, pos_frac, mutation):
    raw = bytearray(make_webp(seed))
    pos = int(pos_frac * len(raw))
    if mutation == "flip":
        raw[pos] ^= 0x55
    elif mutation == "zero":
        raw[pos] = 0
    elif mutation == "truncate":
        raw = raw[:pos]
    else:
        raw = raw[:pos] + b"\xa5" + raw[pos:]
    try:
        parse_webp(bytes(raw))
    except (ValueError, IndexError):
        pass


# ---------------------------------------------------------------------------
# Matroska/WebM, MPEG-TS, FLV demux (operators/mkv.py, mpegts.py, flv.py)
# ---------------------------------------------------------------------------

from google_analytics_to_s3_spark.operators.flv import (  # noqa: E402
    extract_flv_audio,
    parse_flv,
)
from google_analytics_to_s3_spark.operators.mkv import (  # noqa: E402
    _read_vint,
    extract_mkv_track,
    parse_mkv,
)
from google_analytics_to_s3_spark.operators.mpegts import (  # noqa: E402
    crc32_mpeg,
    extract_ts_audio,
    parse_mpegts,
)
from google_analytics_to_s3_spark.testing.fixtures import (  # noqa: E402
    make_flv,
    make_mkv,
    make_mkv_mp3,
    make_mp3,
    make_mpegts,
)


def test_ebml_vint_widths():
    # 1-byte: 0x81 -> 1; 2-byte: 0x40 0x7F -> 127 (needs width 2)
    assert _read_vint(b"\x81", 0, False) == (1, 1)
    assert _read_vint(b"\x40\x7f", 0, False) == (127, 2)
    assert _read_vint(b"\x20\x00\x01", 0, False) == (1, 3)
    # ID keeps the marker
    assert _read_vint(b"\x1a\x45\xdf\xa3", 0, True) == (0x1A45DFA3, 4)
    with pytest.raises(ValueError, match="unknown-size"):
        _read_vint(b"\xff", 0, False)


@pytest.mark.parametrize("seed", [0, 1, 2, 3, 17, 999])
def test_mkv_planted_counts(seed):
    m = parse_mkv(make_mkv(seed))
    nc = 2 + seed % 2
    assert m["doc_type"] == "matroska"
    assert len(m["clusters"]) == nc
    vb = sum(len(f) for cl in m["clusters"]
             for t, _, f in cl["blocks"] if t == 1)
    assert vb == sum(40 + (seed + 7 * c + 3 * j) % 13
                     for c in range(nc)
                     for j in range(3 + (seed + c) % 3))


def test_mkv_blockgroup_and_simpleblock_both_parsed():
    # make_mkv writes every 3rd block as BlockGroup>Block
    m = parse_mkv(make_mkv(5))
    total = sum(len(cl["blocks"]) for cl in m["clusters"])
    assert total >= 9  # gidx%3==2 occurred; parse found all blocks


def test_mkv_mp3_track_reassembles_byte_exact():
    for seed in (0, 7, 123):
        got = extract_mkv_track(make_mkv_mp3(seed), "A_MPEG")
        assert got == make_mp3(seed % 1000, n_frames=2 + seed % 3,
                               stereo=False, id3=False)


def test_mkv_lacing_gate_named():
    raw = bytearray(make_mkv_mp3(3))
    # flip a lacing bit in the first SimpleBlock's flags byte; the
    # SimpleBlock id (0xA3) must be located after the first Cluster
    # id (the EBML magic itself ends in 0xA3)
    cluster = raw.find(b"\x1f\x43\xb6\x75")
    idx = raw.find(b"\xa3", cluster + 4)
    # payload = [size vint][track vint 0x81][2b rel][flags]
    # locate flags: id(1) + size vint (find its width)
    from google_analytics_to_s3_spark.operators.mkv import (
        _read_vint as rv,
    )

    _, p = rv(bytes(raw), idx + 1, False)
    flags_pos = p + 1 + 2
    raw[flags_pos] |= 0x06
    with pytest.raises(ValueError, match="lacing"):
        parse_mkv(bytes(raw))


def test_crc32_mpeg_known_vector():
    # CRC-32/MPEG-2 of "123456789" is 0x0376E6E7 (published check)
    assert crc32_mpeg(b"123456789") == 0x0376E6E7


@pytest.mark.parametrize("seed", [0, 1, 42, 999])
def test_mpegts_psi_and_streams(seed):
    m = parse_mpegts(make_mpegts(seed))
    assert m["programs"] == {1: 0x100}
    assert [(t, p) for t, p in m["streams"]] == [(0x03, 0x101),
                                                 (0x06, 0x102)]
    assert extract_ts_audio(make_mpegts(seed)) == make_mp3(
        seed % 1000, n_frames=2 + seed % 3, stereo=False, id3=False)


def test_mpegts_crc_actually_verified():
    raw = bytearray(make_mpegts(7))
    # corrupt one byte inside the PAT section body (packet 0,
    # after TS header + pointer)
    raw[8] ^= 0xFF
    with pytest.raises(ValueError, match="CRC-32"):
        parse_mpegts(bytes(raw))


def test_mpegts_continuity_verified():
    raw = bytearray(make_mpegts(3))
    # find two consecutive payload packets of PID 0x101 and break cc
    for i in range(len(raw) // 188):
        pkt = i * 188
        pid = int.from_bytes(raw[pkt + 1:pkt + 3], "big") & 0x1FFF
        pusi = raw[pkt + 1] & 0x40
        if pid == 0x101 and not pusi:
            raw[pkt + 3] = (raw[pkt + 3] & 0xF0) | \
                ((raw[pkt + 3] + 5) & 0x0F)
            break
    with pytest.raises(ValueError, match="continuity"):
        parse_mpegts(bytes(raw))


@pytest.mark.parametrize("seed", [0, 1, 42, 999])
def test_flv_planted_and_chain(seed):
    m = parse_flv(make_flv(seed))
    n_video = 4 + seed % 3
    vids = [(ts, d) for t, ts, d in m["tags"] if t == 9]
    assert len(vids) == n_video
    assert extract_flv_audio(make_flv(seed)) == make_mp3(
        seed % 1000, n_frames=2 + seed % 3, stereo=False, id3=False)


def test_flv_prev_tag_size_verified():
    raw = bytearray(make_flv(5))
    # corrupt the first PreviousTagSize after a tag
    # header(9) + pts0(4) + tag header(11) + first tag data...
    ds = int.from_bytes(raw[13 + 1:13 + 4], "big")
    pts_pos = 13 + 11 + ds
    raw[pts_pos + 3] ^= 1
    with pytest.raises(ValueError, match="PreviousTagSize"):
        parse_flv(bytes(raw))


@settings(max_examples=40, deadline=None)
@given(
    seed=st.integers(min_value=0, max_value=999),
    fmt=st.sampled_from(["mkv", "mkv_mp3", "ts", "flv"]),
    pos_frac=st.floats(min_value=0.0, max_value=0.999),
    mutation=st.sampled_from(["flip", "zero", "truncate", "insert"]),
)
def test_containers_corruption_never_crashes(seed, fmt, pos_frac,
                                             mutation):
    build = {"mkv": make_mkv, "mkv_mp3": make_mkv_mp3,
             "ts": make_mpegts, "flv": make_flv}[fmt]
    parser = {"mkv": parse_mkv, "mkv_mp3": parse_mkv,
              "ts": parse_mpegts, "flv": parse_flv}[fmt]
    raw = bytearray(build(seed))
    pos = int(pos_frac * len(raw))
    if mutation == "flip":
        raw[pos] ^= 0x55
    elif mutation == "zero":
        raw[pos] = 0
    elif mutation == "truncate":
        raw = raw[:pos]
    else:
        raw = raw[:pos] + b"\xa5" + raw[pos:]
    try:
        parser(bytes(raw))
    except (ValueError, IndexError):
        pass


# ---------------------------------------------------------------------------
# SRT/WebVTT subtitles + robots.txt (operators/subtitles.py, robots.py)
# ---------------------------------------------------------------------------

from google_analytics_to_s3_spark.operators.robots import (  # noqa: E402
    is_allowed,
    parse_robots,
)
from google_analytics_to_s3_spark.operators.subtitles import (  # noqa: E402
    parse_srt,
    parse_vtt,
)
from google_analytics_to_s3_spark.testing.fixtures import (  # noqa: E402
    ROBOTS_PROBES,
    _subtitle_cues,
    make_robots,
    make_srt,
    make_vtt,
)


@pytest.mark.parametrize("seed", [0, 1, 7, 999])
def test_srt_vtt_same_planted_counts(seed):
    cues = _subtitle_cues(seed)
    want_words = sum(len(w) for _, _, w in cues)
    for parser, make in ((parse_srt, make_srt), (parse_vtt, make_vtt)):
        got = parser(make(seed))
        assert len(got) == len(cues)
        assert sum(len(p.split()) for _, _, p in got) == want_words
        assert [(s, e) for s, e, _ in got] == \
            [(s, e) for s, e, _ in cues]


def test_srt_tolerates_junk_blocks_and_bom():
    text = "﻿1\n00:00:01,000 --> 00:00:02,000\nhi there\n\nnonsense\n"
    cues = parse_srt(text)
    assert len(cues) == 1 and cues[0][2].split() == ["hi", "there"]


def test_vtt_strips_inline_markup_and_skips_note_style():
    text = ("WEBVTT\n\nNOTE skip me\n\n"
            "00:00.000 --> 00:01.000\n<v Ann><b>bold</b> <i>it</i>\n")
    # no-hours timing form
    cues = parse_vtt(text)
    assert cues[0][2].split() == ["bold", "it"]
    assert cues[0][:2] == (0, 1000)


def test_vtt_requires_magic():
    with pytest.raises(ValueError, match="WEBVTT"):
        parse_vtt("1\n00:00:01.000 --> 00:00:02.000\nx\n")


def test_srt_rejects_reversed_cue():
    with pytest.raises(ValueError, match="ends before"):
        parse_srt("1\n00:00:05,000 --> 00:00:01,000\nx\n")


def test_robots_rfc9309_precedence():
    groups, _ = parse_robots(
        "User-agent: bot\nDisallow: /a/\nAllow: /a/b\n")
    assert not is_allowed(groups, "bot", "/a/x")
    assert is_allowed(groups, "bot", "/a/b/c")  # longer allow wins


def test_robots_allow_wins_length_tie():
    groups, _ = parse_robots(
        "User-agent: bot\nDisallow: /xy\nAllow: /x*\n")
    # patterns '/xy' (len 3) and '/x*' (len 3) both match '/xy'
    assert is_allowed(groups, "bot", "/xy")


def test_robots_wildcard_and_anchor():
    groups, _ = parse_robots("User-agent: *\nDisallow: /*.pdf$\n")
    assert not is_allowed(groups, "any", "/doc.pdf")
    assert is_allowed(groups, "any", "/doc.pdfx")


def test_robots_group_selection_longest_agent():
    groups, _ = parse_robots(
        "User-agent: bot\nDisallow: /a\n\n"
        "User-agent: bot-special\nDisallow: /b\n\n"
        "User-agent: *\nDisallow: /c\n")
    assert not is_allowed(groups, "bot-special/1.0", "/b/x")
    assert is_allowed(groups, "bot-special/1.0", "/a/x")
    assert not is_allowed(groups, "unknown", "/c/x")


def test_robots_shared_agent_run():
    # two consecutive user-agent lines share one rule block
    groups, _ = parse_robots(
        "User-agent: a\nUser-agent: b\nDisallow: /x\n")
    assert len(groups) == 1 and groups[0].agents == ["a", "b"]
    assert not is_allowed(groups, "b", "/x/1")


def test_robots_planted_probe_counts():
    for seed in (0, 1, 2, 500, 999):
        groups, _ = parse_robots(make_robots(seed))
        nk = 2 + seed % 3
        allowed = sum(1 for p in ROBOTS_PROBES
                      if is_allowed(groups, "bot-a", p))
        assert allowed == (5 - nk) + 3


@settings(max_examples=40, deadline=None)
@given(junk=st.text(max_size=300))
def test_subtitles_robots_arbitrary_text_never_crashes(junk):
    for fn in (parse_srt, parse_robots):
        try:
            fn(junk)
        except ValueError:
            pass
    try:
        parse_vtt("WEBVTT\n\n" + junk)
    except ValueError:
        pass


# ---------------------------------------------------------------------------
# EXIF + ID3v2 metadata (operators/exif.py, id3.py)
# ---------------------------------------------------------------------------

from google_analytics_to_s3_spark.operators.exif import (  # noqa: E402
    parse_exif,
)
from google_analytics_to_s3_spark.operators.id3 import (  # noqa: E402
    parse_id3,
)
from google_analytics_to_s3_spark.testing.fixtures import (  # noqa: E402
    make_id3_mp3,
    make_jpeg_exif,
)


@pytest.mark.parametrize("seed", [0, 1, 7, 49, 998, 999])
def test_exif_planted_both_byte_orders(seed):
    m = parse_exif(make_jpeg_exif(seed))
    assert m["make"] == f"Cam{seed % 50}"
    assert m["orientation"] == 1 + seed % 8
    assert m["pixel_x"] == 640 + seed % 100
    assert m["iso"] == 100 * (1 + seed % 8)


def test_exif_missing_app1_named():
    # a JPEG with only JFIF has no Exif segment
    raw = make_jpeg_exif(3)
    no_app1 = raw.replace(b"\xff\xe1", b"\xff\xef", 1)  # APP15
    with pytest.raises(ValueError, match="no Exif APP1"):
        parse_exif(no_app1)


def test_exif_real_jpeg_fixture_has_no_exif():
    # the raster fixtures (make_jpeg_baseline) carry no APP1: the
    # marker walk must terminate at SOS, not scan entropy data
    from google_analytics_to_s3_spark.testing.fixtures import (
        make_jpeg_baseline,
    )

    with pytest.raises(ValueError, match="no Exif APP1"):
        parse_exif(make_jpeg_baseline(5, 16, 16, 3))


@pytest.mark.parametrize("seed", [0, 1, 2, 3, 999])
def test_id3_planted_versions_and_encodings(seed):
    m = parse_id3(make_id3_mp3(seed))
    assert m["version"] == (4 if seed % 2 else 3)
    assert m["frames"]["TIT2"] == f"Title {seed}"
    assert m["frames"]["TALB"] == f"Album {seed % 20}"  # utf-16


def test_id3_syncsafe_rejects_high_bit():
    raw = bytearray(make_id3_mp3(2))
    raw[6] |= 0x80  # tag size byte with bit 7
    with pytest.raises(ValueError, match="syncsafe"):
        parse_id3(bytes(raw))


def test_id3_gates_named():
    raw = bytearray(make_id3_mp3(2))
    raw[5] |= 0x80
    with pytest.raises(ValueError, match="unsynchronisation"):
        parse_id3(bytes(raw))


@settings(max_examples=40, deadline=None)
@given(
    seed=st.integers(min_value=0, max_value=999),
    fmt=st.sampled_from(["exif", "id3"]),
    pos_frac=st.floats(min_value=0.0, max_value=0.999),
    mutation=st.sampled_from(["flip", "zero", "truncate", "insert"]),
)
def test_metadata_corruption_never_crashes(seed, fmt, pos_frac,
                                           mutation):
    build = make_jpeg_exif if fmt == "exif" else make_id3_mp3
    parser = parse_exif if fmt == "exif" else parse_id3
    raw = bytearray(build(seed))
    pos = int(pos_frac * len(raw))
    if mutation == "flip":
        raw[pos] ^= 0x55
    elif mutation == "zero":
        raw[pos] = 0
    elif mutation == "truncate":
        raw = raw[:pos]
    else:
        raw = raw[:pos] + b"\xa5" + raw[pos:]
    try:
        parser(bytes(raw))
    except (ValueError, IndexError, UnicodeDecodeError):
        pass


# ---------------------------------------------------------------------------
# PNG metadata, SVG, JSON-LD (operators/pngmeta.py, svg.py, html.py)
# ---------------------------------------------------------------------------

import json as _json  # noqa: E402

from google_analytics_to_s3_spark.operators.html import (  # noqa: E402
    _JsonLdCollector,
)
from google_analytics_to_s3_spark.operators.pngmeta import (  # noqa: E402
    parse_png_metadata,
)
from google_analytics_to_s3_spark.operators.svg import (  # noqa: E402
    parse_svg,
)
from google_analytics_to_s3_spark.testing.fixtures import (  # noqa: E402
    make_html_jsonld,
    make_png_meta,
    make_svg,
)


@pytest.mark.parametrize("seed", [0, 1, 2, 3, 999])
def test_png_metadata_planted(seed):
    m = parse_png_metadata(make_png_meta(seed))
    kv = dict(m["texts"])
    assert kv["Title"] == f"Img {seed}"
    assert kv["Description"] == "d" * (30 + seed % 40)
    assert kv["Comment"] == "cé" * (5 + seed % 7)  # both iTXt flags
    assert m["exif"]["orientation"] == 1 + seed % 8


def test_png_metadata_crc_actually_verified():
    raw = bytearray(make_png_meta(5))
    i = raw.find(b"tEXt")
    raw[i + 6] ^= 1  # corrupt a data byte without fixing the CRC
    with pytest.raises(ValueError, match="CRC mismatch"):
        parse_png_metadata(bytes(raw))


def test_png_metadata_raster_still_decodes():
    from google_analytics_to_s3_spark.operators.multimodal import (
        _parse_png,
    )

    out = _parse_png(make_png_meta(9))
    assert out[0] == 6 and out[1] == 5  # spliced chunks are ancillary


@pytest.mark.parametrize("seed", [0, 1, 3, 6, 999])
def test_svg_planted(seed):
    m = parse_svg(make_svg(seed))
    assert m["width"] == 100 + seed % 50  # 'px' suffix stripped
    assert m["n_paths"] == 2 + seed % 3
    assert m["has_script"] == (1 if seed % 3 == 0 else 0)


def test_svg_viewbox_fallback_and_bad_root():
    m = parse_svg('<svg xmlns="http://www.w3.org/2000/svg" '
                  'viewBox="0 0 320 240"/>')
    assert (m["width"], m["height"]) == (320, 240)
    with pytest.raises(ValueError, match="not <svg>"):
        parse_svg("<div/>")
    with pytest.raises(ValueError, match="parse error"):
        parse_svg("<svg><unclosed></svg")


@pytest.mark.parametrize("seed", [0, 1, 2, 5, 999])
def test_jsonld_planted(seed):
    c = _JsonLdCollector()
    c.feed(make_html_jsonld(seed))
    c.close()
    nv = 1 + seed % 3
    valid = []
    for b in c.blocks:
        try:
            valid.append(_json.loads(b))
        except _json.JSONDecodeError:
            pass
    assert len(valid) == nv
    assert len(c.blocks) == nv + (1 if seed % 2 == 0 else 0)
    assert all(v["name"] == f"Item {seed}-{i}"
               for i, v in enumerate(valid))


def test_jsonld_ignores_plain_scripts():
    c = _JsonLdCollector()
    c.feed('<script>var x=1;</script>'
           '<script type="application/ld+json">{"@type":"X"}</script>')
    c.close()
    assert len(c.blocks) == 1


# ---------------------------------------------------------------------------
# APNG (operators/apng.py)
# ---------------------------------------------------------------------------

from google_analytics_to_s3_spark.operators.apng import (  # noqa: E402
    parse_apng,
)
from google_analytics_to_s3_spark.testing.fixtures import (  # noqa: E402
    apng_rule,
    make_apng,
)


@pytest.mark.parametrize("seed", [0, 1, 2, 7, 999])
def test_apng_compositing_all_dispose_ops(seed):
    m = parse_apng(make_apng(seed))
    w, h = 8 + seed % 6, 6 + seed % 5
    assert len(m["frames"]) == 4 and m["n_plays"] == seed % 3
    # display time 3: frame 2 disposed to PREVIOUS (which frame 1's
    # BACKGROUND dispose had zeroed), so inside frame-1's rect but
    # outside frame-3's rect every channel must be 0
    canvas = m["frames"][3].reshape(h, w, 3)
    assert (canvas[1, 2] == 0).all()
    # outside frame-1's rect frame 0 is still visible
    assert canvas[0, 0, 0] == apng_rule(seed, 0, 0, 0, 0)
    # inside frame-3's rect
    assert canvas[3, 6, 0] == apng_rule(seed, 3, 6, 3, 0)


def test_apng_sequence_validation():
    raw = bytearray(make_apng(3))
    i = raw.find(b"fdAT")
    raw[i + 7] ^= 1  # bump a sequence number
    # CRC breaks first (verified), so recompute it after the edit
    import struct
    import zlib

    length = int.from_bytes(raw[i - 4:i], "big")
    data = bytes(raw[i + 4:i + 4 + length])
    raw[i + 4 + length:i + 8 + length] = struct.pack(
        ">I", zlib.crc32(b"fdAT" + data) & 0xFFFFFFFF)
    with pytest.raises(ValueError, match="sequence numbers"):
        parse_apng(bytes(raw))


def test_apng_actl_frame_count_enforced():
    raw = make_apng(2)
    # find acTL and claim 5 frames (with a fixed CRC)
    import struct
    import zlib

    i = raw.find(b"acTL")
    data = struct.pack(">II", 5, 0)
    patched = (raw[:i - 4] + struct.pack(">I", 8) + b"acTL" + data
               + struct.pack(">I", zlib.crc32(b"acTL" + data)
                             & 0xFFFFFFFF) + raw[i + 16:])
    with pytest.raises(ValueError, match="num_frames mismatch"):
        parse_apng(patched)


def test_apng_default_image_excluded_without_fctl():
    # strip frame 0's fcTL: the IDAT becomes a non-animated default
    # image, and acTL must then claim 3 frames
    import struct
    import zlib

    raw = make_apng(4)
    i = raw.find(b"fcTL")
    raw2 = raw[:i - 4] + raw[i + 34:]
    # fix acTL count 4 -> 3 and RENUMBER remaining sequence numbers
    j = raw2.find(b"acTL")
    data = struct.pack(">II", 3, 4 % 3)
    raw2 = (raw2[:j - 4] + struct.pack(">I", 8) + b"acTL" + data
            + struct.pack(">I", zlib.crc32(b"acTL" + data)
                          & 0xFFFFFFFF) + raw2[j + 16:])
    # renumber: walk chunks, rewrite fcTL/fdAT seq to 0..n-1
    out = bytearray(raw2[:8])
    pos = 8
    seq = 0
    while pos + 8 <= len(raw2):
        length = int.from_bytes(raw2[pos:pos + 4], "big")
        ctype = raw2[pos + 4:pos + 8]
        data = bytearray(raw2[pos + 8:pos + 8 + length])
        if ctype in (b"fcTL", b"fdAT"):
            data[0:4] = struct.pack(">I", seq)
            seq += 1
        out += struct.pack(">I", length) + ctype + data
        out += struct.pack(">I", zlib.crc32(bytes(ctype + data))
                           & 0xFFFFFFFF)
        pos += 12 + length
    m = parse_apng(bytes(out))
    assert len(m["frames"]) == 3  # default image excluded


@settings(max_examples=50, deadline=None)
@given(
    seed=st.integers(min_value=0, max_value=999),
    pos_frac=st.floats(min_value=0.0, max_value=0.999),
    mutation=st.sampled_from(["flip", "zero", "truncate", "insert"]),
)
def test_apng_corruption_never_crashes(seed, pos_frac, mutation):
    raw = bytearray(make_apng(seed))
    pos = int(pos_frac * len(raw))
    if mutation == "flip":
        raw[pos] ^= 0x55
    elif mutation == "zero":
        raw[pos] = 0
    elif mutation == "truncate":
        raw = raw[:pos]
    else:
        raw = raw[:pos] + b"\xa5" + raw[pos:]
    try:
        parse_apng(bytes(raw))
    except (ValueError, IndexError):
        pass


# ---------------------------------------------------------------------------
# Email/MIME + sitemaps/feeds (operators/mime.py, feeds.py)
# ---------------------------------------------------------------------------

from google_analytics_to_s3_spark.operators.feeds import (  # noqa: E402
    parse_feed,
    parse_sitemap,
)
from google_analytics_to_s3_spark.operators.mime import (  # noqa: E402
    parse_email,
)
from google_analytics_to_s3_spark.testing.fixtures import (  # noqa: E402
    make_eml,
    make_feed,
    make_sitemap,
)


@pytest.mark.parametrize("seed", [0, 1, 2, 5, 999])
def test_email_planted(seed):
    m = parse_email(make_eml(seed))
    assert m["subject"] == f"Re: Msg {seed}"
    assert m["n_attachments"] == seed % 3
    assert m["has_html"] == 1
    toks = m["text"].split()
    assert toks[-1] == "café"  # QP =C3=A9 decoded, soft break joined


def test_email_qp_soft_break_does_not_split_tokens():
    raw = make_eml(7)
    # the fixture puts "=\r\n" mid-stream; the decoded text must have
    # exactly 6 + 7%5 + 1 = 9 tokens
    assert len(parse_email(raw)["text"].split()) == 9


def test_email_empty_message_is_one_empty_part():
    # RFC 5322 tolerance: a bare/empty message parses as one empty
    # text/plain part (the stdlib default content type), not an error
    m = parse_email(b"")
    assert m["n_parts"] == 1 and m["text"].split() == []


@pytest.mark.parametrize("seed", [0, 1, 5, 10, 999])
def test_sitemap_planted(seed):
    s = parse_sitemap(make_sitemap(seed))
    if seed % 5 == 0:
        assert s["is_index"] == 1
    else:
        nu = 5 + seed % 6
        assert len(s["urls"]) == nu
        assert len([l for _, l in s["urls"] if l]) == (nu + 1) // 2


def test_sitemap_rejects_foreign_xml():
    with pytest.raises(ValueError, match="urlset"):
        parse_sitemap("<rss version='2.0'/>")


@pytest.mark.parametrize("seed", [0, 1, 2, 3])
def test_feed_rss_atom_same_counts(seed):
    f = parse_feed(make_feed(seed))
    assert f["n_items"] == 3 + seed % 4
    assert f["kind"] == ("feed" if seed % 2 else "rss")


def test_feed_rejects_foreign_xml():
    with pytest.raises(ValueError, match="rss/feed"):
        parse_feed("<urlset/>")


@settings(max_examples=40, deadline=None)
@given(junk=st.text(max_size=300))
def test_feeds_email_arbitrary_input_never_crashes(junk):
    for fn in (parse_sitemap, parse_feed):
        try:
            fn(junk)
        except ValueError:
            pass
    try:
        parse_email(junk.encode("utf-8", "replace"))
    except Exception:
        pass  # quarantine net in the wrapper is Exception-wide


def test_mbox_split_and_from_quoting():
    from google_analytics_to_s3_spark.operators.mime import split_mbox
    from google_analytics_to_s3_spark.testing.fixtures import make_mbox

    for seed in (0, 1, 5, 999):
        msgs = split_mbox(make_mbox(seed))
        assert len(msgs) == 2 + seed % 3
        # the separator lines never leak into message bodies...
        assert all(b"From sender@ex.test" not in m for m in msgs)
        # ...while >From quoting is reversed (so bodies MAY start
        # lines with 'From ' again — that is the point of the quote)
        assert all(b"\nFrom quoting survives" in m for m in msgs)
        assert all(b">From quoting" not in m for m in msgs)
    with pytest.raises(ValueError, match="From_ separator"):
        split_mbox(b"not an mbox")


def test_protobuf_wire_walk():
    from google_analytics_to_s3_spark.operators.protowire import (
        _stats,
        walk_protobuf,
    )
    from google_analytics_to_s3_spark.testing.fixtures import (
        make_protobuf,
    )

    for seed in (0, 1, 127, 999):
        s = _stats(walk_protobuf(make_protobuf(seed)))
        assert s["n_sub"] == 1 and s["depth_max"] == 2
        assert s["max_field"] == 200
    # group wire types invalidate a parse
    with pytest.raises(ValueError, match="not a valid protobuf"):
        walk_protobuf(bytes([0x0B]))  # field 1, wire type 3 (SGROUP)
    # a text field is bytes, never a false-positive submessage
    s = _stats(walk_protobuf(make_protobuf(5)))
    assert s["n_len"] == 1


def test_cbor_major_types_and_gates():
    from google_analytics_to_s3_spark.operators.cbor import (
        _cbor_stats,
        parse_cbor,
    )
    from google_analytics_to_s3_spark.testing.fixtures import (
        make_cbor,
    )

    for seed in (0, 1, 23, 24, 255, 256, 999):
        s = _cbor_stats(parse_cbor(make_cbor(seed)))
        assert s["depth_max"] == 4 and s["n_tags"] == 1
    # float16 decoded by hand
    assert parse_cbor(bytes([0xF9, 0x3C, 0x00])) == 1.0
    assert parse_cbor(bytes([0xF9, 0x00, 0x01])) == 2.0 ** -24
    # indefinite length gate
    with pytest.raises(ValueError, match="indefinite"):
        parse_cbor(bytes([0x9F, 0x01, 0xFF]))
    # trailing bytes rejected
    with pytest.raises(ValueError, match="trailing"):
        parse_cbor(bytes([0x01, 0x02]))


@settings(max_examples=50, deadline=None)
@given(
    seed=st.integers(min_value=0, max_value=999),
    fmt=st.sampled_from(["cbor", "proto"]),
    pos_frac=st.floats(min_value=0.0, max_value=0.999),
    mutation=st.sampled_from(["flip", "zero", "truncate", "insert"]),
)
def test_binary_formats_corruption_never_crashes(seed, fmt, pos_frac,
                                                 mutation):
    from google_analytics_to_s3_spark.operators.cbor import parse_cbor
    from google_analytics_to_s3_spark.operators.protowire import (
        walk_protobuf,
    )
    from google_analytics_to_s3_spark.testing.fixtures import (
        make_cbor,
        make_protobuf,
    )

    build = make_cbor if fmt == "cbor" else make_protobuf
    parser = parse_cbor if fmt == "cbor" else walk_protobuf
    raw = bytearray(build(seed))
    pos = int(pos_frac * len(raw))
    if mutation == "flip":
        raw[pos] ^= 0x55
    elif mutation == "zero":
        raw[pos] = 0
    elif mutation == "truncate":
        raw = raw[:pos]
    else:
        raw = raw[:pos] + b"\xa5" + raw[pos:]
    try:
        parser(bytes(raw))
    except (ValueError, IndexError):
        pass


def test_mime_sniffer_routes_every_family():
    from google_analytics_to_s3_spark.operators.sniff import (
        detect_format,
    )
    from google_analytics_to_s3_spark.testing import fixtures as fx

    cases = [
        (fx.make_png(6, 5, 3), "png"),
        (fx.make_png_meta(3), "png"),
        (fx.make_apng(3), "apng"),
        (fx.make_jpeg_exif(3), "jpeg"),
        (fx.make_gif(6, 5, 3), "gif"),
        (fx.make_qoi(3, 8, 6, 3), "qoi"),
        (fx.make_webp(3), "webp"),
        (fx.make_wav(40, 3), "wav"),
        (fx.make_bmp(3, 0), "bmp"),
        (fx.make_tiff(3, 0), "tiff"),
        (fx.make_ico(3), "ico"),
        (fx.make_pdf(3), "pdf"),
        (fx.make_lz4(3), "lz4"),
        (fx.make_flv(3), "flv"),
        (fx.make_mkv(3), "matroska"),
        (fx.make_mpegts(3), "mpegts"),
        (fx.make_mp3(3, n_frames=2), "mp3"),
        (fx.make_ogg_vorbis(3, n_packets=2), "ogg"),
        (fx.make_warc(3), None),  # gzipped on some seeds
        (fx.make_html(3).encode(), "html"),
        (fx.make_vtt(3).encode(), "webvtt"),
        (fx.make_sitemap(3).encode(), "sitemap"),
        (fx.make_feed(2).encode(), "feed"),
        (fx.make_svg(3).encode(), "svg"),
        (fx.make_mbox(3), "mbox"),
        (fx.make_cbor(3), "unknown"),  # CBOR has no magic
        (b"\x00\x01", "unknown"),
    ]
    for raw, want in cases:
        got = detect_format(raw)
        if want is None:
            assert got in ("warc", "gzip")
        else:
            assert got == want, (want, got)


# ---------------------------------------------------------------------------
# H.264 structural layer (operators/h264.py)
# ---------------------------------------------------------------------------

from google_analytics_to_s3_spark.operators.h264 import (  # noqa: E402
    decode_idr_ipcm,
    rbsp_unescape,
    split_annexb,
)
from google_analytics_to_s3_spark.testing.fixtures import (  # noqa: E402
    _h264_escape,
    h264_chroma_rule,
    h264_luma_rule,
    make_h264,
)


@pytest.mark.parametrize("seed", [0, 1, 2, 3, 999])
def test_h264_ipcm_planted(seed):
    m = decode_idr_ipcm(make_h264(seed))
    n = (1 + seed % 2) * (1 + (seed // 2) % 2)
    assert m["n_mbs"] == n and m["profile"] == 66
    assert m["luma_sum"] == sum(
        h264_luma_rule(seed, mb, j)
        for mb in range(n) for j in range(256))
    assert m["chroma_sum"] == sum(
        h264_chroma_rule(seed, mb, j)
        for mb in range(n) for j in range(128))


def test_h264_emulation_prevention_round_trip():
    for payload in (b"\x00\x00\x01", b"\x00\x00\x00", b"\x00\x00\x02",
                    b"\x00\x00\x03", b"ab\x00\x00\x01cd",
                    b"\x00\x00\x00\x00\x01"):
        esc = _h264_escape(payload)
        assert b"\x00\x00\x01" not in esc
        assert b"\x00\x00\x00" not in esc
        assert rbsp_unescape(esc) == payload
    # the fixture streams genuinely carry EP bytes
    assert b"\x00\x00\x03" in make_h264(0)


def test_h264_annexb_split():
    raw = make_h264(5)
    nals = split_annexb(raw)
    assert [n[0] & 0x1F for n in nals] == [7, 8, 5]


def test_h264_gates_named():
    raw = bytearray(make_h264(2))
    # flip PPS entropy_coding_mode bit: first bit after pps_id/sps_id
    # ue(0) ue(0) = bits '1','1' -> entropy bit is bit 2 of the PPS
    # rbsp (byte 0, mask 0x20)
    i = raw.find(b"\x00\x00\x00\x01\x68")
    raw[i + 5] |= 0x20
    with pytest.raises(ValueError, match="CABAC"):
        decode_idr_ipcm(bytes(raw))
    with pytest.raises(ValueError, match="start code"):
        decode_idr_ipcm(b"\x01\x02\x03\x04")


@settings(max_examples=50, deadline=None)
@given(
    seed=st.integers(min_value=0, max_value=999),
    pos_frac=st.floats(min_value=0.0, max_value=0.999),
    mutation=st.sampled_from(["flip", "zero", "truncate", "insert"]),
)
def test_h264_corruption_never_crashes(seed, pos_frac, mutation):
    raw = bytearray(make_h264(seed))
    pos = int(pos_frac * len(raw))
    if mutation == "flip":
        raw[pos] ^= 0x55
    elif mutation == "zero":
        raw[pos] = 0
    elif mutation == "truncate":
        raw = raw[:pos]
    else:
        raw = raw[:pos] + b"\xa5" + raw[pos:]
    try:
        decode_idr_ipcm(bytes(raw))
    except (ValueError, IndexError):
        pass


def test_mkv_avc_chain_and_avcc():
    from google_analytics_to_s3_spark.operators.h264 import (
        decode_idr_ipcm,
        parse_avcc,
    )
    from google_analytics_to_s3_spark.operators.mkv import (
        extract_mkv_avc_annexb,
        parse_mkv,
    )
    from google_analytics_to_s3_spark.testing.fixtures import (
        h264_luma_rule,
        make_mkv_h264,
    )

    for seed in (0, 1, 2, 3, 999):
        raw = make_mkv_h264(seed)
        tr = parse_mkv(raw)["tracks"][0]
        avcc = parse_avcc(tr["codec_private"])
        assert avcc["nal_length_size"] == 4
        assert len(avcc["sps"]) == 1 and len(avcc["pps"]) == 1
        m = decode_idr_ipcm(extract_mkv_avc_annexb(raw))
        n = (1 + seed % 2) * (1 + (seed // 2) % 2)
        assert m["luma_sum"] == sum(
            h264_luma_rule(seed, mb, j)
            for mb in range(n) for j in range(256))
    with pytest.raises(ValueError, match="configurationVersion"):
        parse_avcc(b"\x02\x42\x00\x1e\xff\xe1")


def test_mp4_avc_chain():
    from google_analytics_to_s3_spark.operators.h264 import (
        decode_idr_ipcm,
    )
    from google_analytics_to_s3_spark.operators.mp4 import (
        extract_mp4_avc_annexb,
        parse_mp4,
    )
    from google_analytics_to_s3_spark.testing.fixtures import (
        h264_luma_rule,
        make_mp4_avc,
    )

    for seed in (0, 1, 2, 3, 999):
        raw = make_mp4_avc(seed)
        tr = parse_mp4(raw)["tracks"][0]
        assert tr["format"] == "avc1" and tr["avcc"] is not None
        m = decode_idr_ipcm(extract_mp4_avc_annexb(raw))
        n = (1 + seed % 2) * (1 + (seed // 2) % 2)
        assert m["n_nals"] == 4  # SEI sample rides along, skipped
        assert m["luma_sum"] == sum(
            h264_luma_rule(seed, mb, j)
            for mb in range(n) for j in range(256))


def test_text_normalize_semantics():
    from google_analytics_to_s3_spark.operators.textnorm import (
        _try_repair_token,
        normalize_text,
    )

    # mojibake repairs
    assert _try_repair_token("cafÃ©") == ("café", True)
    # plain ASCII untouched
    assert _try_repair_token("plain") == ("plain", False)
    # genuine Latin-1 words that are NOT valid UTF-8 stay as-is
    assert _try_repair_token("über")[1] in (False, True)
    assert _try_repair_token("Ã")[0] == "Ã"  # lone C3: invalid UTF-8
    # controls stripped, tab/newline kept
    m = normalize_text("a\x07b\tc\nd")
    assert m["text"] == "ab\tc\nd" and m["stripped_controls"] == 1
    # NFD composes
    m = normalize_text("é")
    assert m["text"] == "é" and m["composed_points"] == 1
    # zero-width stripped
    assert normalize_text("a​b")["text"] == "ab"


def test_oggopus_and_flac_tags():
    from google_analytics_to_s3_spark.operators.audiometa import (
        parse_flac_blocks,
        parse_oggopus,
        parse_vorbis_comment,
    )
    from google_analytics_to_s3_spark.testing.fixtures import (
        make_flac_tagged,
        make_oggopus,
    )

    for seed in (0, 1, 2, 3, 999):
        m = parse_oggopus(make_oggopus(seed))
        assert dict(m["comments"])["TITLE"] == f"Track {seed}"
        if seed % 2 == 1:  # mapping family 1
            assert m["mapping_family"] == 1
            assert m["stream_count"] == m["channels"] - 1
        f = parse_flac_blocks(make_flac_tagged(seed))
        assert dict(f["comments"])["ALBUM"] == f"L{seed % 20}"
    # comment parse bounds
    with pytest.raises(ValueError, match="overruns"):
        parse_vorbis_comment(b"\xff\xff\xff\xff" + b"x" * 8)
    # a plain make_flac has no comment block but still walks
    from google_analytics_to_s3_spark.testing.fixtures import (
        make_flac,
    )

    f = parse_flac_blocks(make_flac(5, n_samples=600))
    assert f["n_blocks"] == 1 and f["comments"] == []


@settings(max_examples=40, deadline=None)
@given(
    seed=st.integers(min_value=0, max_value=999),
    fmt=st.sampled_from(["opus", "flactags"]),
    pos_frac=st.floats(min_value=0.0, max_value=0.999),
    mutation=st.sampled_from(["flip", "zero", "truncate", "insert"]),
)
def test_audiometa_corruption_never_crashes(seed, fmt, pos_frac,
                                            mutation):
    from google_analytics_to_s3_spark.operators.audiometa import (
        parse_flac_blocks,
        parse_oggopus,
    )
    from google_analytics_to_s3_spark.testing.fixtures import (
        make_flac_tagged,
        make_oggopus,
    )

    build = make_oggopus if fmt == "opus" else make_flac_tagged
    parser = parse_oggopus if fmt == "opus" else parse_flac_blocks
    raw = bytearray(build(seed))
    pos = int(pos_frac * len(raw))
    if mutation == "flip":
        raw[pos] ^= 0x55
    elif mutation == "zero":
        raw[pos] = 0
    elif mutation == "truncate":
        raw = raw[:pos]
    else:
        raw = raw[:pos] + b"\xa5" + raw[pos:]
    try:
        parser(bytes(raw))
    except (ValueError, IndexError):
        pass


def test_route_and_decode_dispatch():
    from google_analytics_to_s3_spark.operators.sniff import (
        detect_format,
    )
    from google_analytics_to_s3_spark.testing.fixtures import (
        bmp_pixel_rule,
        make_bmp,
        make_png,
        make_qoi,
        qoi_pixel_rule,
    )

    # router-level consistency: detection labels agree with the
    # format each fixture writer produced
    assert detect_format(make_png(6, 5, 3)) == "png"
    assert detect_format(make_qoi(3, 8, 6, 3)) == "qoi"
    assert detect_format(make_bmp(3, 0)) == "bmp"
    # rules used by the multi_format_pipeline oracle are the real ones
    assert bmp_pixel_rule(3, 1, 2, 0) == (3 + 7 + 26) % 256
    # y=3 is regime 0 (y%3==0): the large-delta rule
    assert qoi_pixel_rule(3, 4, 3, 0) == (3 + 11 * 4 + 17 * 3) % 256
    # y=2 is regime 2: the x//4 plateau rule
    assert qoi_pixel_rule(3, 4, 2, 0) == (3 + 13 * 2 + 1) % 256


def test_tar_gnu_pax_longnames_cross_impl():
    import io
    import tarfile

    from google_analytics_to_s3_spark.operators.tar import parse_tar
    from google_analytics_to_s3_spark.testing.fixtures import (
        make_tar_longnames,
    )

    # our parser reads archives tarfile WRITES (both dialects)...
    for seed in (0, 1, 2, 3):
        members = parse_tar(make_tar_longnames(seed))
        assert len(members) == 2 + seed % 3
        assert all(len(m["name"]) > 100 for m in members)
    # ...and PAX size overrides are honored
    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w",
                      format=tarfile.PAX_FORMAT) as tf:
        info = tarfile.TarInfo("n" * 120)
        payload = b"z" * 9000  # > 8 GiB would force PAX size; any
        info.size = len(payload)
        tf.addfile(info, io.BytesIO(payload))
    members = parse_tar(buf.getvalue())
    assert members[0]["size"] == 9000
    assert members[0]["data"] == payload


def test_script_mix_semantics():
    from google_analytics_to_s3_spark.operators.textnorm import (
        script_mix,
    )

    m = script_mix("hello мир pаy1 123 λόγος")
    # 'pаy1' mixes Latin p/y with Cyrillic а; '123' is neutral
    assert m["n_tokens"] == 4
    assert m["n_mixed"] == 1
    assert m["n_nonlatin"] == 2  # мир + λόγος
    assert m["n_scripts"] == 3


def test_zip64_both_directions():
    import io
    import zipfile

    from google_analytics_to_s3_spark.operators.zip import parse_zip
    from google_analytics_to_s3_spark.testing.fixtures import (
        make_zip64,
        zip_rules,
    )

    for seed in (0, 1, 7, 999):
        raw = make_zip64(seed)
        r = zip_rules(seed)
        ours = parse_zip(raw)
        assert len(ours) == r["n"]
        with zipfile.ZipFile(io.BytesIO(raw)) as zf:
            for i, info in enumerate(zf.infolist()):
                assert zf.read(info) == ours[i]["data"]
    # a zip64 file with the locator stripped is rejected by name
    raw = bytearray(make_zip64(3))
    i = raw.rfind(b"PK\x06\x07")
    broken = raw[:i] + raw[i + 20:]
    with pytest.raises(ValueError, match="locator"):
        parse_zip(bytes(broken))
