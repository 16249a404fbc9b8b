"""MPEG-1 Layer III byte-path decoder (operators/mp3.py, r10).

Layer-by-layer: MSB-first bitpacking, header field/gate parsing,
side-info roundtrip, scfsi scalefactor sharing, Huffman big-values +
count1 decode against independent recomputation of the planted
fixture rules, the bit reservoir (layout equivalence and underflow),
ID3v2 skip, named-error gates, sub-framing fuzz, and the Spark
quarantine wrapper."""

import struct

import pytest

from google_analytics_to_s3_spark.operators.bitio import MsbBits
from google_analytics_to_s3_spark.operators.mp3 import (
    _SFB_BOUNDS_44100,
    _parse_header,
    _parse_side_info,
    decode_mp3_features,
    parse_mp3,
)
from google_analytics_to_s3_spark.testing.fixtures import (
    make_mp3,
    mp3_count1_rule,
    mp3_granule_rules,
    mp3_scfsi,
    mp3_sf_rule,
    mp3_spec_rule,
)


class TestBits:
    def test_msb_first_read(self):
        br = MsbBits(bytes([0b10110100, 0xFF]))
        assert br.read(3) == 0b101
        assert br.read1() == 1
        assert br.read(8) == 0b01001111
        with pytest.raises(ValueError, match="truncated"):
            br.read(5)


class TestHeader:
    def _hdr(self, b1=0xFB, b2=0xA0, b3=0xC4):
        return bytes([0xFF, b1, b2, b3])

    def test_fields(self):
        h = _parse_header(self._hdr())
        assert (h["kbps"], h["rate"], h["nch"]) == (160, 44100, 1)
        assert h["frame_len"] == (144 * 160000) // 44100
        h = _parse_header(self._hdr(b2=0xA2, b3=0x04))
        assert h["padding"] == 1 and h["nch"] == 2
        assert h["frame_len"] == (144 * 160000) // 44100 + 1

    def test_gates(self):
        with pytest.raises(ValueError, match="sync"):
            _parse_header(bytes([0xFE, 0xFB, 0xA0, 0xC4]))
        # MPEG-2 (LSF) parses as of r10: halved frame constant,
        # LSF bitrate/rate tables
        h2 = _parse_header(bytes([0xFF, 0xF3, 0xA0, 0xC4]))
        assert h2["lsf"] and h2["rate"] == 22050 and h2["kbps"] == 96
        assert h2["frame_len"] == (72 * 96000) // 22050
        with pytest.raises(ValueError, match="MPEG-2.5"):
            _parse_header(bytes([0xFF, 0xE3, 0xA0, 0xC4]))
        with pytest.raises(ValueError, match="reserved MPEG"):
            _parse_header(bytes([0xFF, 0xEB, 0xA0, 0xC4]))
        with pytest.raises(ValueError, match="Layer III"):
            _parse_header(bytes([0xFF, 0xFD, 0xA0, 0xC4]))  # Layer II
        with pytest.raises(ValueError, match="CRC-protected"):
            _parse_header(bytes([0xFF, 0xFA, 0xA0, 0xC4]))
        with pytest.raises(ValueError, match="bitrate"):
            _parse_header(self._hdr(b2=0x00))  # free format
        with pytest.raises(ValueError, match="bitrate"):
            _parse_header(self._hdr(b2=0xF0))  # forbidden
        with pytest.raises(ValueError, match="sample-rate"):
            _parse_header(self._hdr(b2=0xAC))
        # joint stereo: MS-only accepted (r10), intensity gated
        assert _parse_header(self._hdr(b3=0x64))["ms_stereo"]
        with pytest.raises(ValueError, match="intensity"):
            _parse_header(self._hdr(b3=0x54))
        with pytest.raises(ValueError, match="neither MS nor"):
            _parse_header(self._hdr(b3=0x44))
        with pytest.raises(ValueError, match="dual-channel"):
            _parse_header(self._hdr(b3=0x84))


class TestSideInfo:
    def test_fixture_side_info_roundtrip(self):
        """Parse the side info the fixture wrote and compare every
        field to the planted rules."""
        raw = make_mp3(13, n_frames=2, reservoir=False)
        hdr = _parse_header(raw[:4])
        side = _parse_side_info(raw[4:], hdr["nch"])
        assert side["main_data_begin"] == 0
        assert side["scfsi"][0] == mp3_scfsi(13, 0, 0)
        for gr in range(2):
            g = side["granules"][gr][0]
            r = mp3_granule_rules(13, 0, gr, 0)
            for k in ("big_values", "global_gain", "scalefac_compress",
                      "table_select", "region0_count", "region1_count",
                      "preflag", "scalefac_scale"):
                assert g[k] == r[k] if k in r else True
            assert g["big_values"] == r["big_values"]
            assert g["global_gain"] == r["global_gain"]

    def test_gates(self):
        raw = bytearray(make_mp3(5, n_frames=1, reservoir=False))
        hdr = _parse_header(raw[:4])
        # flip window_switching on granule 0: bit offset within side
        # info = 9 + 5 + 4 + 12 + 9 + 8 + 4 = 51
        byte, bit = divmod(51, 8)
        raw[4 + byte] ^= 0x80 >> bit
        with pytest.raises(ValueError, match="window_switching"):
            _parse_side_info(bytes(raw[4:]), hdr["nch"])
        with pytest.raises(ValueError, match="truncated MP3 side"):
            _parse_side_info(b"\x00" * 10, 1)


class TestDecode:
    def test_planted_chain_recovered(self):
        """End-to-end: decode features equal an independent replay of
        the planted rules (scalefactors with scfsi sharing, spectra,
        count1, exact quarter-log2 requant exponents)."""
        bounds = _SFB_BOUNDS_44100
        hlen = {(0, 0): 1, (1, 0): 2, (0, 1): 3, (1, 1): 3}
        for seed, nf, stereo in ((0, 1, False), (7, 3, False),
                                 (42, 2, True), (999, 4, False)):
            nch = 2 if stereo else 1
            d = parse_mp3(make_mp3(seed, n_frames=nf, stereo=stereo))
            exp_abs = exp_sfsum = exp_exp = exp_p23 = 0
            for f in range(nf):
                for gr in range(2):
                    for ch in range(nch):
                        r = mp3_granule_rules(seed, f, gr, ch)
                        scfsi = mp3_scfsi(seed, f, ch)
                        groups = [range(0, 6), range(6, 11),
                                  range(11, 16), range(16, 21)]
                        sf, sfbits = [0] * 21, 0
                        for gi, bands in enumerate(groups):
                            for b in bands:
                                if gr == 1 and scfsi[gi]:
                                    sf[b] = mp3_sf_rule(seed, f, 0, ch, b)
                                else:
                                    sf[b] = mp3_sf_rule(seed, f, gr, ch, b)
                                    sfbits += 2
                        spec = {}
                        hb = 0
                        for k in range(min(r["big_values"], 45)):
                            x = mp3_spec_rule(seed, f, gr, ch, 2 * k)
                            y = mp3_spec_rule(seed, f, gr, ch, 2 * k + 1)
                            spec[2 * k], spec[2 * k + 1] = x, y
                            hb += (hlen[(abs(x), abs(y))]
                                   + (x != 0) + (y != 0))
                        base = 2 * r["big_values"]
                        for q in range(r["nq"]):
                            nz = 0
                            for j in range(4):
                                i = base + 4 * q + j
                                v = mp3_count1_rule(seed, f, gr, ch, i)
                                spec[i] = v
                                nz += v != 0
                            hb += 4 + nz
                        exp_p23 += sfbits + hb
                        exp_sfsum += sum(sf)
                        gg, mult = r["global_gain"], 2 * (
                            r["scalefac_scale"] + 1)
                        for i, v in spec.items():
                            if not v:
                                continue
                            band = 0
                            while bounds[band + 1] <= i:
                                band += 1
                            sfac = sf[band] if band < 21 else 0
                            exp_exp += ((1 if v > 0 else -1)
                                        * ((gg - 210) - mult * sfac))
                            exp_abs += 1
            assert d["spectral_abs_sum"] == exp_abs
            assert d["nonzero_lines"] == exp_abs
            assert d["scalefac_sum"] == exp_sfsum
            assert d["requant_exp_sum"] == exp_exp
            assert d["part23_bits"] == exp_p23
            assert d["channels"] == nch and d["n_frames"] == nf

    def test_reservoir_layout_equivalence(self):
        """The reservoir layout only moves bytes across frame
        boundaries — every decoded feature except the reservoir
        byte count is identical to the flat (main_data_begin = 0)
        layout, and the pointer sum is the planted rule."""
        for seed in (1, 7, 999):
            flat = parse_mp3(make_mp3(seed, n_frames=4, reservoir=False))
            res = parse_mp3(make_mp3(seed, n_frames=4, reservoir=True))
            assert flat["reservoir_bytes"] == 0
            assert res["reservoir_bytes"] > 0
            for k in flat:
                if k != "reservoir_bytes":
                    assert flat[k] == res[k], (seed, k)

    def test_reservoir_underflow_quarantines(self):
        """main_data_begin pointing before the start of the stream
        (frame 0 with a nonzero pointer) is a named error."""
        raw = bytearray(make_mp3(3, n_frames=1, reservoir=False))
        raw[4] |= 0x80  # set the top bit of main_data_begin
        with pytest.raises(ValueError, match="reservoir underflow"):
            parse_mp3(bytes(raw))

    def test_id3v2_skip(self):
        plain = parse_mp3(make_mp3(11, n_frames=2))
        tagged = parse_mp3(make_mp3(11, n_frames=2, id3=True))
        assert plain == tagged
        with pytest.raises(ValueError, match="ID3v2 tag exceeds"):
            parse_mp3(b"ID3\x03\x00\x00\x00\x00\x7f\x7f")

    def test_mid_stream_mode_change_gate(self):
        mono = make_mp3(5, n_frames=1, reservoir=False)
        stereo = make_mp3(5, n_frames=1, stereo=True, reservoir=False)
        with pytest.raises(ValueError, match="changed mid-stream"):
            parse_mp3(mono + stereo)

    def test_sub_framing_fuzz_bounded(self):
        """Mutate 1-3 bytes anywhere in a real stream; every outcome
        must be success or a quarantinable exception within a
        deadline (the framing has no CRC, so unlike Vorbis this
        reaches side-info/Huffman parsing directly)."""
        import random
        import time

        from google_analytics_to_s3_spark.testing.fixtures import (
            make_mp3_lsf,
        )

        bases = [make_mp3(7, n_frames=3),
                 make_mp3_lsf(7, n_frames=3),
                 make_mp3(7, n_frames=2, stereo=True, ms_stereo=True)]
        rng = random.Random(0x3333)
        for trial in range(420):
            raw = bytearray(bases[trial % 3])
            for _ in range(rng.randrange(1, 4)):
                raw[rng.randrange(len(raw))] ^= 1 << rng.randrange(8)
            t0 = time.monotonic()
            try:
                parse_mp3(bytes(raw))
            except (ValueError, IndexError, struct.error,
                    ZeroDivisionError):
                pass
            assert time.monotonic() - t0 < 5.0, trial


class TestSparkWrapper:
    def test_features_and_quarantine(self, spark):
        good = make_mp3(42, n_frames=2)
        bad = bytearray(good)
        bad[1] = 0xE3  # MPEG-2.5 version bits (00)
        df = spark.createDataFrame(
            [(0, bytearray(good)), (1, bad),
             (2, bytearray(b"not an mp3"))],
            "doc_id long, payload binary",
        )
        rows = {r["doc_id"]: r for r in
                decode_mp3_features(df).collect()}
        exp = parse_mp3(good)
        assert rows[0]["decode_error"] is None
        assert rows[0]["spectral_abs_sum"] == exp["spectral_abs_sum"]
        assert rows[0]["requant_exp_sum"] == exp["requant_exp_sum"]
        assert rows[0]["reservoir_bytes"] == exp["reservoir_bytes"]
        assert "MPEG-2.5" in rows[1]["decode_error"]
        assert rows[1]["spectral_abs_sum"] is None
        assert rows[2]["decode_error"] is not None


class TestSynthesis:
    """Float synthesis chain (requantize -> alias -> IMDCT -> window
    -> overlap-add -> frequency inversion), checked against an
    INDEPENDENT sequential-math replay of the planted sparse rules
    (the same closed form the DuckDB oracle runs)."""

    @staticmethod
    def _replay(seed, nf):
        import math
        CS0 = 1.0 / math.sqrt(1.36)
        CA0 = -0.6 / math.sqrt(1.36)

        def sfeff(f, gr, band):
            word = (seed + 3 * f) % 16
            bit = (word >> (3 - (0 if band < 6 else 1))) & 1
            gre = 0 if (gr == 1 and bit) else gr
            return (seed + 3 * band + 17 * gre + 5 * f) % 4

        def S(G, sb, i):
            f, gr = G // 2, G % 2
            gg = 198 + (seed * 7 + f * 13 + gr * 29) % 12
            mult = 2 * ((seed + f + gr) % 2 + 1)

            def xr(j):
                E = gg - 210 - mult * sfeff(f, gr, 2 * j)
                sgn = 1 if (seed + f + gr + j) % 2 == 0 else -1
                return sgn * 2.0 ** (E / 4.0)

            coefs = ([(0, xr(0)), (9, xr(1)), (17, -xr(2) * CA0)]
                     if sb == 0 else [(0, xr(2) * CS0), (9, xr(3))])
            tot = 0.0
            for k, c in coefs:
                tot += c * math.cos(
                    math.pi / 72 * (2 * i + 1 + 18) * (2 * k + 1))
            return tot * math.sin(math.pi / 36 * (i + 0.5))

        gs = ags = pk = 0
        margin = 1.0
        for G in range(2 * nf):
            for sb in (0, 1):
                for t in range(18):
                    inv = -1.0 if (sb == 1 and t % 2 == 1) else 1.0
                    prev = S(G - 1, sb, 18 + t) if G >= 1 else 0.0
                    o = inv * (S(G, sb, t) + prev)
                    latt = o * 1e4 + 0.5
                    margin = min(margin, abs(latt - round(latt)))
                    q = int(math.floor(latt))
                    gs += q
                    ags += abs(q)
                    pk = max(pk, abs(q))
        return gs, ags, pk, margin

    def test_synth_matches_independent_replay(self):
        from google_analytics_to_s3_spark.operators.mp3 import (
            parse_mp3_synth,
        )
        for seed in range(0, 200, 3):
            nf = 2 + seed % 3
            d = parse_mp3_synth(make_mp3(seed, n_frames=nf, synth=True))
            gs, ags, pk, margin = self._replay(seed, nf)
            assert (gs, ags, pk) == (d["sb_grid_sum"],
                                     d["sb_abs_grid_sum"],
                                     d["sb_peak_grid"]), seed
            # every sample must sit far from a lattice boundary, so
            # cross-engine trig ulps can never flip a rounding
            assert margin > 1e-5, (seed, margin)
            assert d["n_sb_samples"] == 2 * nf * 32 * 18

    def test_synth_dense_stream_runs(self):
        """The synthesis chain is general: it also runs the DENSE
        (non-synth) fixtures — spectrum magnitudes stay finite and
        sample counts line up."""
        from google_analytics_to_s3_spark.operators.mp3 import (
            parse_mp3_synth,
        )
        d = parse_mp3_synth(make_mp3(9, n_frames=2))
        assert d["n_granules"] == 4
        assert d["sb_abs_grid_sum"] > 0

    def test_synth_wrapper_quarantine(self, spark):
        from google_analytics_to_s3_spark.operators.mp3 import (
            decode_mp3_synth_features,
        )
        good = make_mp3(12, n_frames=2, synth=True)
        df = spark.createDataFrame(
            [(0, bytearray(good)), (1, bytearray(b"nope"))],
            "doc_id long, payload binary",
        )
        rows = {r["doc_id"]: r for r in
                decode_mp3_synth_features(df).collect()}
        assert rows[0]["decode_error"] is None
        assert rows[0]["sb_abs_grid_sum"] > 0
        assert rows[1]["decode_error"] is not None


class TestLsf:
    def test_lsf_planted_chain_recovered(self):
        """MPEG-2 (LSF) streams against an independent replay of the
        planted rules: slen-truncated scalefactors over (6,5,5,5)
        groups, 22.05 kHz band bounds, one granule per frame, 8-bit
        reservoir pointers."""
        from google_analytics_to_s3_spark.testing.fixtures import (
            make_mp3_lsf,
            mp3_lsf_count1_rule,
            mp3_lsf_granule_rules,
            mp3_lsf_sf_rule,
            mp3_lsf_slen,
            mp3_lsf_spec_rule,
        )

        bounds = [0]
        for w in (6, 6, 6, 6, 6, 6, 8, 10, 12, 14, 16, 20, 24, 28,
                  32, 38, 46, 52, 60, 68, 58, 54):
            bounds.append(bounds[-1] + w)
        for seed in (0, 5, 77, 399, 512, 999):
            nf = 2 + seed % 3
            d = parse_mp3(make_mp3_lsf(seed, n_frames=nf))
            sf_sum = exp = nz = 0
            for f in range(nf):
                r = mp3_lsf_granule_rules(seed, f)
                slen = mp3_lsf_slen(r["scalefac_compress"])
                sf = []
                for b in range(21):
                    sl = slen[0 if b < 6 else 1 if b < 11 else
                              2 if b < 16 else 3]
                    sf.append(mp3_lsf_sf_rule(seed, f, b) % (1 << sl)
                              if sl else 0)
                sf_sum += sum(sf)
                gg = r["global_gain"]
                mult = 2 * (r["scalefac_scale"] + 1)
                spec = {}
                for i in range(2 * r["big_values"]):
                    spec[i] = mp3_lsf_spec_rule(seed, f, i)
                for i in range(2 * r["big_values"],
                               2 * r["big_values"] + 4 * r["nq"]):
                    spec[i] = mp3_lsf_count1_rule(seed, f, i)
                band = 0
                for i in sorted(spec):
                    v = spec[i]
                    if v == 0:
                        continue
                    while bounds[band + 1] <= i:
                        band += 1
                    e = (gg - 210) - mult * (sf[band] if band < 21
                                             else 0)
                    exp += (1 if v > 0 else -1) * e
                    nz += 1
            assert d["sample_rate_hz"] == 22050
            assert d["n_frames"] == nf
            assert d["scalefac_sum"] == sf_sum, seed
            assert d["requant_exp_sum"] == exp, seed
            assert d["nonzero_lines"] == nz, seed

    def test_lsf_gates(self):
        """scalefac_compress >= 400 classes and non-22.05 LSF rates
        stay named gates."""
        from google_analytics_to_s3_spark.testing.fixtures import (
            make_mp3_lsf,
        )
        raw = bytearray(make_mp3_lsf(3, n_frames=1, reservoir=False))
        # rate index 1 (24000): byte 2 bits 3:2
        raw[2] = (raw[2] & ~0x0C) | (1 << 2)
        with pytest.raises(ValueError, match="not embedded"):
            parse_mp3(bytes(raw))

    def test_lsf_mixed_with_mpeg1_gate(self):
        from google_analytics_to_s3_spark.testing.fixtures import (
            make_mp3_lsf,
        )
        a = make_mp3(5, n_frames=1, reservoir=False)
        b = make_mp3_lsf(5, n_frames=1, reservoir=False)
        with pytest.raises(ValueError, match="changed mid-stream"):
            parse_mp3(a + b)


class TestMsStereo:
    def test_ms_accepted_intensity_gated(self):
        from google_analytics_to_s3_spark.operators.mp3 import (
            _parse_header,
        )
        # mode 01, mode_ext 10 (MS only) accepted
        h = _parse_header(bytes([0xFF, 0xFB, 0xA0, 0x60]))
        assert h["nch"] == 2 and h["ms_stereo"]
        # intensity bit set -> gate
        with pytest.raises(ValueError, match="intensity"):
            _parse_header(bytes([0xFF, 0xFB, 0xA0, 0x50]))
        with pytest.raises(ValueError, match="neither MS nor"):
            _parse_header(bytes([0xFF, 0xFB, 0xA0, 0x40]))

    def test_ms_features_equal_lr(self):
        for seed in (3, 42):
            lr = parse_mp3(make_mp3(seed, n_frames=2, stereo=True))
            ms = parse_mp3(make_mp3(seed, n_frames=2, stereo=True,
                                    ms_stereo=True))
            assert lr == ms


# ------------------------------------------------------- window switching

class TestShortBlocks:
    """r11: window-switching streams (long -> start -> short -> stop)."""

    def test_integer_path_inverts_planted_rules(self):
        # independent closed-form replay of every feature column,
        # mirroring the DuckDB oracle's accounting (incl. reservoir
        # pointers, part2_3 bit counts and per-window exponents)
        from google_analytics_to_s3_spark.operators.mp3 import (
            _SFB_BOUNDS_44100 as LB,
            _SFB_SHORT_44100 as SB,
        )
        from google_analytics_to_s3_spark.testing.fixtures import (
            mp3_count1_rule,
            mp3_scfsi,
            mp3_sf_rule,
            mp3_sf_short_rule,
            mp3_short_granule_rules,
            mp3_spec_rule,
        )

        def long_band(i):
            b = 0
            while LB[b + 1] <= i:
                b += 1
            return b

        def short_bw(i):
            s = 0
            while 3 * SB[s + 1] <= i:
                s += 1
            return s, (i - 3 * SB[s]) // (SB[s + 1] - SB[s])

        def expo(seed, f, gr, r, sf_long, sf_short, i):
            bt, mixed = r["block_type"], r["mixed"]
            gg = r["global_gain"]
            mult = 2 * (r["scalefac_scale"] + 1)
            if bt == 2 and (not mixed or i >= 36):
                s, w = short_bw(i)
                sfac = sf_short.get((s, w), 0)
                return gg - 210 - 8 * r["subblock_gain"][w] - mult * sfac
            b = long_band(i)
            lim = 8 if (bt == 2 and mixed) else 21
            return gg - 210 - mult * (sf_long[b] if b < lim else 0)

        for seed in (0, 1, 2, 3, 7, 50, 999):
            nf = 2 + seed % 3
            d = parse_mp3(make_mp3(seed, n_frames=nf, short=True,
                                   id3=seed % 2 == 0))
            exp_sum = abs_sum = nonzero = sf_sum = 0
            for f in range(nf):
                for gr in range(2):
                    r = mp3_short_granule_rules(seed, f, gr)
                    bt, mixed = r["block_type"], r["mixed"]
                    scfsi = (mp3_scfsi(seed, f, 0) if f % 2 == 0
                             else [0] * 4)
                    if bt == 2:
                        first = 3 if mixed else 0
                        sf_long = [mp3_sf_rule(seed, f, gr, 0, b)
                                   for b in range(8)] if mixed else []
                        sf_short = {
                            (b, w): mp3_sf_short_rule(seed, f, gr, b, w)
                            for b in range(first, 12) for w in range(3)}
                    else:
                        groups = [range(0, 6), range(6, 11),
                                  range(11, 16), range(16, 21)]
                        sf_long = []
                        for gi, bands in enumerate(groups):
                            for b in bands:
                                src_gr = 0 if (gr == 1
                                               and scfsi[gi]) else gr
                                sf_long.append(
                                    mp3_sf_rule(seed, f, src_gr, 0, b))
                        sf_short = {}
                    sf_sum += sum(sf_long) + sum(sf_short.values())
                    cutoff = 576 if r["window_switching"] else 90
                    for i in range(min(2 * r["big_values"], cutoff)):
                        v = mp3_spec_rule(seed, f, gr, 0, i)
                        if v:
                            abs_sum += abs(v)
                            nonzero += 1
                            e = expo(seed, f, gr, r, sf_long,
                                     sf_short, i)
                            exp_sum += e if v > 0 else -e
                    line = 2 * r["big_values"]
                    for _q in range(r["nq"]):
                        for j in range(4):
                            v = mp3_count1_rule(seed, f, gr, 0,
                                                line + j)
                            if v:
                                abs_sum += 1
                                nonzero += 1
                                e = expo(seed, f, gr, r, sf_long,
                                         sf_short, line + j)
                                exp_sum += e if v > 0 else -e
                        line += 4
            assert d["requant_exp_sum"] == exp_sum, seed
            assert d["spectral_abs_sum"] == abs_sum
            assert d["nonzero_lines"] == nonzero
            assert d["scalefac_sum"] == sf_sum

    def test_short_synthesis_runs_and_is_finite(self):
        from google_analytics_to_s3_spark.operators.mp3 import (
            parse_mp3_synth,
        )
        for seed in (0, 1, 5, 12):
            nf = 2 + seed % 3
            s = parse_mp3_synth(make_mp3(seed, n_frames=nf, short=True))
            assert s["n_granules"] == 2 * nf
            assert s["n_sb_samples"] == 2 * nf * 32 * 18
            assert s["sb_abs_grid_sum"] > 0

    def test_imdct12_window_placement(self):
        # spec semantics: after reorder, window w of subband sb only
        # reaches output samples [6+6w, 18+6w) of that subband's
        # 36-sample block — one-hot inputs pin the placement
        import numpy as np

        from google_analytics_to_s3_spark.operators.mp3 import (
            _imdct12_matrix,
            _reorder_short,
        )
        B = _imdct12_matrix()
        assert B.shape == (12, 6)
        # one-hot transmitted line: short band 2 (width 4, lines
        # 24-35 transmitted as w*4+p), window 1, position 2
        xr = np.zeros(576)
        xr[24 + 1 * 4 + 2] = 1.0
        re = _reorder_short(xr, mixed=False)
        # reorder target: base 24 + p*3 + w = 24 + 6 + 1 = 31
        assert re[31] == 1.0 and re.sum() == 1.0
        # line 31 = subband 1, index 13 = m*3+w -> m=4, w=1
        blk = re[18:36].reshape(6, 3)
        assert blk[4, 1] == 1.0
        out = blk[:, 1] @ B.T  # window 1's 12 samples
        assert np.abs(out).sum() > 0

    def test_block_windows_match_spec_shapes(self):
        import numpy as np

        from google_analytics_to_s3_spark.operators.mp3 import (
            _block_window,
        )
        w0, w1, w3 = (_block_window(b) for b in (0, 1, 3))
        i = np.arange(36.0)
        assert np.allclose(w0, np.sin(np.pi / 36 * (i + 0.5)))
        # start: long rise, flat mid, short fall, zero tail
        assert np.allclose(w1[:18], w0[:18])
        assert np.allclose(w1[18:24], 1.0)
        assert np.allclose(w1[30:], 0.0)
        # stop: zero head, short rise, flat, long fall
        assert np.allclose(w3[:6], 0.0)
        assert np.allclose(w3[12:18], 1.0)
        assert np.allclose(w3[18:], w0[18:])
        # TDAC complementarity of the normal window
        assert np.allclose(w0[:18] ** 2 + w0[18:] ** 2, 1.0)

    def test_scfsi_with_short_granule_rejected(self):
        raw = bytearray(make_mp3(2, n_frames=2, short=True,
                                 reservoir=False))
        # frame 1 holds the short granule; flip a scfsi bit in its
        # side info (byte 4+1, bit layout: 9 mdb + 5 private + 4 scfsi)
        flen = (144 * 160000) // 44100 + (2 + 0) % 2
        off = flen + 4 + 1  # second frame, side-info byte 1
        raw[off] ^= 0x02  # scfsi group 0 bit (bit 1 of byte 1)
        with pytest.raises(ValueError):
            parse_mp3(bytes(raw))

    def test_lsf_short_blocks_gated(self):
        from google_analytics_to_s3_spark.testing.fixtures import (
            make_mp3_lsf,
        )
        raw = bytearray(make_mp3_lsf(1))
        # find first frame's side info and set window_switching: LSF
        # granule layout: 8 mdb + 1 priv, then 12+9+8+9 = 38 bits,
        # ws bit is bit 9+38 = 47 of the side info
        hdr_end = 4
        bitpos = 47
        byte = hdr_end + bitpos // 8
        raw[byte] ^= 0x80 >> (bitpos % 8)
        with pytest.raises(ValueError):
            parse_mp3(bytes(raw))


class TestSynthShort:
    """Sparse pure-short synthesis fixtures (mp3_decode_synth_short)."""

    def test_replay_and_margin_sweep(self):
        # independent trig replay of every subband-0 sample + margin
        # sweep: every reachable sample must sit clear of the 1e-4
        # lattice rounding boundary (same discipline as the long
        # synth fixture's sweep)
        import math

        from google_analytics_to_s3_spark.testing.fixtures import (
            mp3_sf_short_rule,
            mp3_synth_short_granule_rules,
            mp3_synth_short_spec_rule,
        )
        from google_analytics_to_s3_spark.operators.mp3 import (
            parse_mp3_synth,
        )
        LINE_WM = {0: (0, 0), 5: (1, 1), 9: (2, 1)}
        min_margin = 1.0
        for seed in range(0, 1000, 7):
            nf = 2 + seed % 3
            d = parse_mp3_synth(make_mp3(seed, n_frames=nf,
                                         synth_short=True))
            tails = [0.0] * 36
            gs = ags = peak = 0
            for G in range(2 * nf):
                f, gr = divmod(G, 2)
                r = mp3_synth_short_granule_rules(seed, f, gr)
                mult = 2 * (r["scalefac_scale"] + 1)
                z = [0.0] * 36
                for i, (w, m) in LINE_WM.items():
                    v = mp3_synth_short_spec_rule(seed, f, gr, i)
                    sfac = mp3_sf_short_rule(seed, f, gr, 0, w)
                    E = (r["global_gain"] - 210
                         - 8 * r["subblock_gain"][w] - mult * sfac)
                    xr = (1.0 if v > 0 else -1.0) * 2.0 ** (E / 4.0)
                    for p in range(12):
                        z[6 + 6 * w + p] += xr * (
                            math.cos(math.pi / 24.0 * (2 * p + 7)
                                     * (2 * m + 1))
                            * math.sin(math.pi / 12.0 * (p + 0.5)))
                for i in range(18):
                    x = (z[i] + tails[18 + i]) * 1e4
                    q = math.floor(x + 0.5)
                    gs += q
                    ags += abs(q)
                    peak = max(peak, abs(q))
                    min_margin = min(
                        min_margin,
                        abs((x + 0.5) - round(x + 0.5)))
                tails = z
            assert (d["sb_grid_sum"], d["sb_abs_grid_sum"],
                    d["sb_peak_grid"]) == (gs, ags, peak), seed
        assert min_margin > 1e-4, min_margin
