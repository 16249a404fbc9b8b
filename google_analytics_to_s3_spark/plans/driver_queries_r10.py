"""Round-10 driver queries: MP3 (MPEG-1 Layer III) byte-path decode.

- ``mp3_decode`` — mono 44.1 kHz/160 kbps streams with planted
  integer spectra (testing/fixtures.make_mp3): frame sync + header,
  side info, the BIT RESERVOIR (main_data_begin back-pointers into
  the previous frames' slack), scfsi scalefactor sharing, Huffman
  big-values pairs (Table B.7 table 1 + the empty table 0 across
  real region boundaries) and count1 table-B quadruples, and exact
  quarter-log2 requant exponents. Half the payloads carry an ID3v2
  tag the decoder must skip. The DuckDB oracle replays every planted
  rule in closed form — including part2_3_length bit accounting and
  the reservoir pointer sums — so a green row proves the decoder
  inverts the encoder bit-exactly (operators/mp3.py).
- ``mp3_decode_stereo`` — the LR-stereo twin (32-byte side info,
  granule-major channel-minor field order, per-channel scfsi).

Same planted-rule discipline as the FLAC (r7-r9) and Vorbis (r9)
byte paths; no MP3 surface exists in the reference repo.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .driver_queries_analytics import _FLAC_MOD, synth_docs

QUERIES_R10: dict = {}
ORACLES_R10: dict[str, str] = {}


def _q_mp3(spark: SparkSession, sf_dir: str, mod: int,
           stereo: bool) -> DataFrame:
    from ..operators.mp3 import decode_mp3_features
    from ..testing.fixtures import make_mp3

    payloads = synth_docs(
        spark, sf_dir,
        lambda i: make_mp3(i % 1000, n_frames=2 + i % 3, stereo=stereo,
                           id3=i % 2 == 0),
        residue=mod,
    )
    return decode_mp3_features(payloads).drop("decode_error")


def q_mp3_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _q_mp3(spark, sf_dir, 3, stereo=False)


def q_mp3_decode_stereo(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _q_mp3(spark, sf_dir, 4, stereo=True)


q_mp3_decode.__doc__ = __doc__
q_mp3_decode_stereo.__doc__ = __doc__


def _mp3_oracle_sql(mod: int, nch: int) -> str:
    """Closed-form replay of the make_mp3 planted rules. Every output
    column is INTEGER/BIGINT (sums CAST AS BIGINT — never HUGEINT).

    Table B.8 44.1 kHz long-block band edges (operators/mp3.py
    _SFB_BOUNDS_44100); band 21 is the scalefactor-less rest region."""
    bounds = [0, 4, 8, 12, 16, 20, 24, 30, 36, 44, 52, 62, 74, 90,
              110, 134, 162, 196, 238, 288, 342, 418, 576]
    sfb_rows = ", ".join(
        f"({b}, {bounds[b]}, {bounds[b + 1]})" for b in range(21)
    )
    return f"""
WITH e AS (
  SELECT event_id, event_id % 1000 AS seed, 2 + event_id % 3 AS nf
  FROM events WHERE event_id % {_FLAC_MOD} = {mod}
),
sfb(band, lo, hi) AS (VALUES {sfb_rows}),
g AS (
  SELECT e.event_id, e.seed, e.nf, f.f, gr.gr, ch.ch,
         48 + (e.seed*3 + f.f*7 + gr.gr*11 + ch.ch*5) % 16 AS bv,
         120 + (e.seed*7 + f.f*13 + gr.gr*29 + ch.ch*3) % 100 AS gg,
         (e.seed + f.f + gr.gr + ch.ch) % 2 AS sfs,
         4 + (e.seed + f.f + gr.gr + ch.ch) % 4 AS nq,
         (e.seed + f.f*3 + ch.ch) % 16 AS scfsi
  FROM e,
       LATERAL (SELECT unnest(range(0, e.nf)) AS f) f,
       LATERAL (SELECT unnest(range(0, 2)) AS gr) gr,
       LATERAL (SELECT unnest(range(0, {nch})) AS ch) ch
),
-- effective scalefactors: granule 1 reuses granule 0 for
-- scfsi-shared groups (and transmits 0 bits for them)
sf AS (
  SELECT g.event_id, g.f, g.gr, g.ch, s.band, s.lo, s.hi,
         CASE WHEN g.gr = 1 AND sh.shared = 1
              THEN (g.seed + 3*s.band + 5*g.f + 7*g.ch) % 4
              ELSE (g.seed + 3*s.band + 17*g.gr + 5*g.f
                    + 7*g.ch) % 4 END AS sfac,
         CASE WHEN g.gr = 1 AND sh.shared = 1 THEN 0 ELSE 2
              END AS txbits
  FROM g, sfb s,
       LATERAL (SELECT CASE WHEN s.band < 6 THEN (g.scfsi // 8) % 2
                            WHEN s.band < 11 THEN (g.scfsi // 4) % 2
                            WHEN s.band < 16 THEN (g.scfsi // 2) % 2
                            ELSE g.scfsi % 2 END AS shared) sh
),
-- spectral lines: the table-1 regions [0, 90) (lines [90, 2bv) are
-- table 0 = zero), then the count1 quadruple lines [2bv, 2bv+4nq)
lines AS (
  SELECT g.event_id, g.f, g.gr, g.ch, g.gg, g.sfs, i.i,
         ((g.seed + 5*g.f + 3*g.gr + 7*i.i + 11*g.ch) % 3) - 1 AS v,
         0 AS is_c1
  FROM g, LATERAL (SELECT unnest(range(0, 90)) AS i) i
  UNION ALL
  SELECT g.event_id, g.f, g.gr, g.ch, g.gg, g.sfs, i.i,
         ((g.seed + 11*g.f + 7*g.gr + 3*i.i + 5*g.ch) % 3) - 1 AS v,
         1 AS is_c1
  FROM g, LATERAL (SELECT unnest(range(2*g.bv, 2*g.bv + 4*g.nq)) AS i) i
),
lv AS (
  SELECT l.*, COALESCE(sf.sfac, 0) AS sfac
  FROM lines l LEFT JOIN sf
    ON sf.event_id = l.event_id AND sf.f = l.f AND sf.gr = l.gr
   AND sf.ch = l.ch AND l.i >= sf.lo AND l.i < sf.hi
),
-- part2_3_length accounting: transmitted scalefactor bits + pair
-- codeword/sign bits (45 table-1 pairs; big_values >= 48 always)
-- + count1 bits (4 per quad + one sign per nonzero)
pairbits AS (
  SELECT g.event_id, g.f, g.gr, g.ch,
         sum(CASE WHEN p.x = 0 AND p.y = 0 THEN 1
                  WHEN p.x = 1 AND p.y = 0 THEN 2
                  ELSE 3 END + p.x + p.y) AS hb
  FROM g,
       LATERAL (SELECT unnest(range(0, 45)) AS k) k,
       LATERAL (SELECT
         abs(((g.seed + 5*g.f + 3*g.gr + 14*k.k + 11*g.ch) % 3) - 1) AS x,
         abs(((g.seed + 5*g.f + 3*g.gr + 14*k.k + 7 + 11*g.ch) % 3) - 1) AS y
       ) p
  GROUP BY 1, 2, 3, 4
),
granbits AS (
  SELECT g.event_id, g.f, g.gr, g.ch,
         (SELECT sum(sf.txbits) FROM sf
           WHERE sf.event_id = g.event_id AND sf.f = g.f
             AND sf.gr = g.gr AND sf.ch = g.ch)
         + pb.hb
         + 4 * g.nq
         + (SELECT sum(abs(l.v)) FROM lines l
             WHERE l.event_id = g.event_id AND l.f = g.f
               AND l.gr = g.gr AND l.ch = g.ch AND l.is_c1 = 1)
         AS p23
  FROM g JOIN pairbits pb
    ON pb.event_id = g.event_id AND pb.f = g.f AND pb.gr = g.gr
   AND pb.ch = g.ch
),
framebits AS (
  SELECT gb.event_id, gb.f, sum(gb.p23) AS bits
  FROM granbits gb GROUP BY 1, 2
),
resv AS (
  SELECT fb.event_id,
         sum(CASE WHEN fb.f >= 1
                  THEN least((fb.bits + 7) // 8,
                             64 + (e.seed + 37*fb.f) % 128)
                  ELSE 0 END) AS mdb
  FROM framebits fb JOIN e ON e.event_id = fb.event_id
  GROUP BY 1
),
agg AS (
  SELECT lv.event_id,
         sum(abs(lv.v)) AS abs_sum,
         sum(lv.v) AS signed_sum,
         sum(CASE WHEN lv.is_c1 = 1 THEN abs(lv.v) ELSE 0 END) AS c1_abs,
         sum(CASE WHEN lv.v > 0 THEN 1 WHEN lv.v < 0 THEN -1 ELSE 0 END
             * ((lv.gg - 210) - 2*(lv.sfs + 1)*lv.sfac)) AS exp_sum,
         sum(CASE WHEN lv.v <> 0 THEN 1 ELSE 0 END) AS nonzero
  FROM lv GROUP BY 1
)
SELECT e.event_id AS doc_id,
       CAST(44100 AS INTEGER) AS sample_rate_hz,
       CAST(160 AS INTEGER) AS bitrate_kbps,
       CAST({nch} AS INTEGER) AS channels,
       CAST(e.nf AS INTEGER) AS n_frames,
       CAST((SELECT sum(g.bv) FROM g WHERE g.event_id = e.event_id)
            AS BIGINT) AS big_values_sum,
       CAST(a.abs_sum AS BIGINT) AS spectral_abs_sum,
       CAST(a.signed_sum AS BIGINT) AS spectral_signed_sum,
       CAST(a.c1_abs AS BIGINT) AS count1_abs_sum,
       CAST((SELECT sum(sf.sfac) FROM sf WHERE sf.event_id = e.event_id)
            AS BIGINT) AS scalefac_sum,
       CAST(a.exp_sum AS BIGINT) AS requant_exp_sum,
       CAST(a.nonzero AS BIGINT) AS nonzero_lines,
       CAST(r.mdb AS BIGINT) AS reservoir_bytes,
       CAST((SELECT sum(gb.p23) FROM granbits gb
              WHERE gb.event_id = e.event_id) AS BIGINT) AS part23_bits
FROM e JOIN agg a ON a.event_id = e.event_id
       JOIN resv r ON r.event_id = e.event_id
"""


QUERIES_R10["mp3_decode"] = q_mp3_decode
ORACLES_R10["mp3_decode"] = _mp3_oracle_sql(3, 1)
QUERIES_R10["mp3_decode_stereo"] = q_mp3_decode_stereo
ORACLES_R10["mp3_decode_stereo"] = _mp3_oracle_sql(4, 2)


def q_vorbis_decode_pcm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vorbis FLOAT SYNTHESIS driver-checked (r10): flat-floor
    single-tone streams (testing/fixtures.make_ogg_vorbis pcm_tone)
    run the full PCM chain — floor1 amplitude/step2/render_line
    curve, the generated floor1_inverse_dB_table, direct IMDCT,
    Vorbis window, overlap-add — and the readout quantizes every
    output sample to a 1e-4 BIGINT lattice (half-up). The oracle
    recomputes each sample in closed form with DuckDB's own trig:
    out(t) = A(k-1) cos(theta(128+t, k0(k-1))) w(128+t)
           + A(k)   cos(theta(t,     k0(k)))   w(t),
    A = 10^(-7(255-Y)/256), theta(j,k0) = pi/512 (2j+1+128)(2k0+1),
    w(j) = sin(pi/2 sin^2(pi(j+0.5)/256)) — identical operation
    order, so agreement is exact up to sub-lattice trig ulps
    (operators/vorbis.py synthesize_vorbis_pcm). Event sample
    id % 10 == 5."""
    from ..operators.vorbis import decode_vorbis_pcm
    from ..testing.fixtures import make_ogg_vorbis

    payloads = synth_docs(
        spark, sf_dir,
        lambda i: make_ogg_vorbis(i % 1000, n_packets=3 + i % 3,
                                  pcm_tone=True),
        residue=5,
    )
    return decode_vorbis_pcm(payloads).drop("decode_error")


SQL_VORBIS_DECODE_PCM = f"""
WITH e AS (
  SELECT event_id, event_id % 1000 AS seed, 3 + event_id % 3 AS np
  FROM events WHERE event_id % {_FLAC_MOD} = 5
),
-- one row per output sample: boundary b in [1, np) laps packet b-1's
-- right half (j = 128 + t) with packet b's left half (j = t)
v AS (
  SELECT e.event_id,
         (pow(10, -7 * (255 - (180 + (e.seed + 11*(bb.b - 1)) % 76))
                  / 256.0)
          * cos((pi()/512.0) * ((2*(128 + tt.t) + 1 + 128)
                 * (2*((e.seed + 7*(bb.b - 1)) % 64) + 1)))
          * sin((0.5*pi()) * (sin(pi()*((128 + tt.t) + 0.5)/256.0)
                              * sin(pi()*((128 + tt.t) + 0.5)/256.0))))
         +
         (pow(10, -7 * (255 - (180 + (e.seed + 11*bb.b) % 76)) / 256.0)
          * cos((pi()/512.0) * ((2*tt.t + 1 + 128)
                 * (2*((e.seed + 7*bb.b) % 64) + 1)))
          * sin((0.5*pi()) * (sin(pi()*(tt.t + 0.5)/256.0)
                              * sin(pi()*(tt.t + 0.5)/256.0))))
         AS x
  FROM e,
       LATERAL (SELECT unnest(range(1, e.np)) AS b) bb,
       LATERAL (SELECT unnest(range(0, 128)) AS t) tt
),
g AS (
  SELECT event_id, CAST(floor(x * 10000.0 + 0.5) AS BIGINT) AS gv
  FROM v
)
SELECT e.event_id AS doc_id,
       CAST(16000 AS INTEGER) AS sample_rate_hz,
       CAST(1 AS INTEGER) AS channels,
       CAST(e.np AS INTEGER) AS n_packets,
       CAST((e.np - 1) * 128 AS BIGINT) AS n_pcm,
       CAST(sum(g.gv) AS BIGINT) AS pcm_grid_sum,
       CAST(sum(abs(g.gv)) AS BIGINT) AS pcm_abs_grid_sum,
       CAST(max(abs(g.gv)) AS BIGINT) AS pcm_peak_grid
FROM e JOIN g ON g.event_id = e.event_id
GROUP BY e.event_id, e.np
"""

QUERIES_R10["vorbis_decode_pcm"] = q_vorbis_decode_pcm
ORACLES_R10["vorbis_decode_pcm"] = SQL_VORBIS_DECODE_PCM


# ---------------------------------------------------------------------------
# MP4 / ISO-BMFF (r10): container demux + chained A/V sample decode.
# ---------------------------------------------------------------------------

def _mp4_payload_query(spark: SparkSession, sf_dir: str, mod: int,
                       maker: str, decoder) -> DataFrame:
    from ..testing import fixtures as _fx

    make = getattr(_fx, maker)
    payloads = synth_docs(spark, sf_dir, lambda i: make(i % 1000), residue=mod)
    return decoder(payloads).drop("decode_error")


def q_mp4_demux(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL ISO-BMFF demux driver-checked: containers synthesized per
    event (testing/fixtures.make_mp4 — 1-3 tracks, two-run stsc,
    interleaved chunk layout, constant/per-sample stsz, stco/co64,
    v0/v1 full boxes, moov-first and mdat-first layouts, an unknown
    top-level box to skip) are parsed by the full box walk + §8.7
    sample resolution (operators/mp4.py), and the oracle replays
    every planted structural value — including the mdat-relative
    per-sample offset sum, which only comes out right if stsc runs ×
    chunk offsets × stsz prefix sums are all resolved exactly."""
    from ..operators.mp4 import demux_mp4_features
    return _mp4_payload_query(spark, sf_dir, 6, "make_mp4",
                              demux_mp4_features)


def q_mp4_decode_av(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MP4 demux CHAINED into real codec decode: each container's
    'jpeg' video samples are true baseline JPEGs decoded by the T.81
    pipeline and its '.mp3' audio samples are true single-frame
    MPEG-1 Layer III streams decoded by the Layer III path; 'avc1'
    tracks demux but count as gated. The oracle replays the decoded
    pixel sums (64*(128+dc) + template constants) and the MP3
    spectral/requant/part2_3 sums in closed form — a green row proves
    sample extraction feeds the codecs the exact payload bytes."""
    from ..operators.mp4 import decode_mp4_av_features
    return _mp4_payload_query(spark, sf_dir, 7, "make_mp4_av",
                              decode_mp4_av_features)


SQL_MP4_DEMUX = f"""
WITH e AS (
  SELECT event_id, event_id % 1000 AS seed
  FROM events WHERE event_id % {_FLAC_MOD} = 6
),
tr AS (
  SELECT e.event_id, e.seed, t.t,
         3 + (e.seed + t.t) % 4 AS ns,
         CASE WHEN t.t = 0 AND e.seed % 4 = 0 THEN 1 ELSE 0 END AS is_const
  FROM e, LATERAL (SELECT unnest(range(0, 1 + e.seed % 3)) AS t) t
),
smp AS (
  SELECT tr.event_id, tr.seed, tr.t, tr.is_const, s.s,
         CASE WHEN tr.is_const = 1 THEN 64 + tr.seed % 32
              ELSE 40 + (tr.seed*7 + 97*tr.t + 13*s.s) % 200 END AS sz,
         CASE WHEN s.s < 2 THEN 0 ELSE s.s - 1 END AS c
  FROM tr, LATERAL (SELECT unnest(range(0, tr.ns)) AS s) s
),
-- interleaved chunk layout: chunks ordered by (chunk_index, track);
-- exclusive prefix sum of chunk bytes = mdat-relative chunk offset
cho AS (
  SELECT event_id, t, c, sum(sz) AS cbytes FROM smp GROUP BY 1, 2, 3
),
cho2 AS (
  SELECT *, COALESCE(sum(cbytes) OVER (
           PARTITION BY event_id ORDER BY c, t
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS coff
  FROM cho
),
soff AS (
  SELECT smp.event_id,
         c2.coff + CASE WHEN smp.s = 1 THEN
             CASE WHEN smp.is_const = 1 THEN 64 + smp.seed % 32
                  ELSE 40 + (smp.seed*7 + 97*smp.t) % 200 END
           ELSE 0 END AS roff
  FROM smp JOIN cho2 c2
    ON c2.event_id = smp.event_id AND c2.t = smp.t AND c2.c = smp.c
),
trk AS (
  SELECT tr.event_id,
         CAST(sum(tr.ns) AS BIGINT) AS n_samples,
         CAST(sum(tr.ns - 1) AS BIGINT) AS n_chunks,
         CAST(sum(tr.t + 1) AS BIGINT) AS track_id_sum,
         CAST(sum(CASE WHEN tr.t % 2 = 0 THEN 16 + tr.t ELSE 0 END)
              AS BIGINT) AS width_sum,
         CAST(sum(CASE WHEN tr.t % 2 = 0 THEN 9 + tr.t ELSE 0 END)
              AS BIGINT) AS height_sum,
         CAST(sum(1000 + tr.t) AS BIGINT) AS timescale_sum,
         CAST(sum((tr.ns - 1) * (100 + (tr.seed + tr.t) % 50)
                  + 7 + tr.seed % 9) AS BIGINT) AS stts_time_sum,
         string_agg(CASE WHEN tr.t % 2 = 0 THEN 'vide' ELSE 'soun' END,
                    '+' ORDER BY CASE WHEN tr.t % 2 = 0 THEN 'vide'
                                      ELSE 'soun' END) AS handlers
  FROM tr GROUP BY 1
)
SELECT e.event_id AS doc_id,
       CAST(600 AS BIGINT) AS movie_timescale,
       CAST(90000 + e.seed AS BIGINT) AS movie_duration,
       CAST(5 AS BIGINT) AS n_top_boxes,
       CAST(1 + e.seed % 3 AS BIGINT) AS n_tracks,
       trk.n_samples, trk.n_chunks,
       CAST((SELECT sum(smp.sz) FROM smp
              WHERE smp.event_id = e.event_id) AS BIGINT) AS sample_bytes,
       CAST((SELECT sum(soff.roff) FROM soff
              WHERE soff.event_id = e.event_id) AS BIGINT)
         AS sample_rel_offset_sum,
       trk.track_id_sum, trk.width_sum, trk.height_sum,
       trk.timescale_sum, trk.stts_time_sum,
       CAST(CASE WHEN e.seed % 5 = 0 THEN 1 + e.seed % 3 ELSE 0 END
            AS BIGINT) AS n_co64_tracks,
       'isom' AS brand,
       trk.handlers
FROM e JOIN trk ON trk.event_id = e.event_id
"""


def _mp4_av_oracle_sql() -> str:
    from ..testing.fixtures import (
        JPEG_AC_TEMPLATES, jpeg_template_round_sums,
    )

    rs = jpeg_template_round_sums()
    n_t = len(JPEG_AC_TEMPLATES)
    rs_arr = "[" + ", ".join(f"{v}::BIGINT" for v in rs) + "]"
    return f"""
WITH e AS (
  SELECT event_id, event_id % 1000 AS seed,
         2 + event_id % 1000 % 2 AS nv,
         2 + event_id % 1000 % 3 AS na
  FROM events WHERE event_id % {_FLAC_MOD} = 7
),
-- video: per sample, 4 planted JPEG blocks (jpeg_block_plan replay)
jb AS (
  SELECT e.event_id,
         64 * (128 + ((sj.sj*7 + b.b*13) % 121) - 60)
         + {rs_arr}[(sj.sj + b.b) % {n_t} + 1] AS bsum
  FROM e,
       LATERAL (SELECT unnest(range(0, e.nv)) AS s) s,
       LATERAL (SELECT (e.seed*31 + 7*s.s) % 1000 AS sj) sj,
       LATERAL (SELECT unnest(range(0, 4)) AS b) b
),
-- audio: single-frame mono MP3 per sample (mp3_granule_rules replay,
-- f = 0; granule 1 shares scfsi-flagged scalefactor groups)
ag AS (
  SELECT e.event_id, e.seed, sa.sa, gr.gr,
         48 + (sa.sa*3 + gr.gr*11) % 16 AS bv,
         120 + (sa.sa*7 + gr.gr*29) % 100 AS gg,
         (sa.sa + gr.gr) % 2 AS sfs,
         4 + (sa.sa + gr.gr) % 4 AS nq,
         sa.sa % 16 AS scfsi
  FROM e,
       LATERAL (SELECT unnest(range(0, e.na)) AS s) s,
       LATERAL (SELECT (e.seed*17 + 5*s.s) % 1000 AS sa) sa,
       LATERAL (SELECT unnest(range(0, 2)) AS gr) gr
),
sfb(band, lo, hi) AS (VALUES
  (0,0,4),(1,4,8),(2,8,12),(3,12,16),(4,16,20),(5,20,24),(6,24,30),
  (7,30,36),(8,36,44),(9,44,52),(10,52,62),(11,62,74),(12,74,90),
  (13,90,110),(14,110,134),(15,134,162),(16,162,196),(17,196,238),
  (18,238,288),(19,288,342),(20,342,418)),
asf AS (
  SELECT ag.event_id, ag.sa, ag.gr, s.band, s.lo, s.hi,
         CASE WHEN ag.gr = 1 AND sh.shared = 1
              THEN (ag.sa + 3*s.band) % 4
              ELSE (ag.sa + 3*s.band + 17*ag.gr) % 4 END AS sfac,
         CASE WHEN ag.gr = 1 AND sh.shared = 1 THEN 0 ELSE 2
              END AS txbits
  FROM ag, sfb s,
       LATERAL (SELECT CASE WHEN s.band < 6 THEN (ag.scfsi // 8) % 2
                            WHEN s.band < 11 THEN (ag.scfsi // 4) % 2
                            WHEN s.band < 16 THEN (ag.scfsi // 2) % 2
                            ELSE ag.scfsi % 2 END AS shared) sh
),
alines AS (
  SELECT ag.event_id, ag.sa, ag.gr, ag.gg, ag.sfs, i.i,
         ((ag.sa + 3*ag.gr + 7*i.i) % 3) - 1 AS v, 0 AS is_c1
  FROM ag, LATERAL (SELECT unnest(range(0, 90)) AS i) i
  UNION ALL
  SELECT ag.event_id, ag.sa, ag.gr, ag.gg, ag.sfs, i.i,
         ((ag.sa + 7*ag.gr + 3*i.i) % 3) - 1 AS v, 1 AS is_c1
  FROM ag, LATERAL (SELECT unnest(range(2*ag.bv, 2*ag.bv + 4*ag.nq)) AS i) i
),
alv AS (
  SELECT l.*, COALESCE(asf.sfac, 0) AS sfac
  FROM alines l LEFT JOIN asf
    ON asf.event_id = l.event_id AND asf.sa = l.sa AND asf.gr = l.gr
   AND l.i >= asf.lo AND l.i < asf.hi
),
apair AS (
  SELECT ag.event_id, ag.sa, ag.gr,
         sum(CASE WHEN p.x = 0 AND p.y = 0 THEN 1
                  WHEN p.x = 1 AND p.y = 0 THEN 2
                  ELSE 3 END + p.x + p.y) AS hb
  FROM ag,
       LATERAL (SELECT unnest(range(0, 45)) AS k) k,
       LATERAL (SELECT
         abs(((ag.sa + 3*ag.gr + 14*k.k) % 3) - 1) AS x,
         abs(((ag.sa + 3*ag.gr + 14*k.k + 7) % 3) - 1) AS y) p
  GROUP BY 1, 2, 3
),
agran AS (
  SELECT ag.event_id, ag.sa, ag.gr,
         (SELECT sum(asf.txbits) FROM asf
           WHERE asf.event_id = ag.event_id AND asf.sa = ag.sa
             AND asf.gr = ag.gr)
         + ap.hb + 4 * ag.nq
         + (SELECT sum(abs(l.v)) FROM alines l
             WHERE l.event_id = ag.event_id AND l.sa = ag.sa
               AND l.gr = ag.gr AND l.is_c1 = 1) AS p23
  FROM ag JOIN apair ap
    ON ap.event_id = ag.event_id AND ap.sa = ag.sa AND ap.gr = ag.gr
),
aagg AS (
  SELECT alv.event_id,
         sum(abs(alv.v)) AS abs_sum,
         sum(CASE WHEN alv.v > 0 THEN 1 WHEN alv.v < 0 THEN -1 ELSE 0 END
             * ((alv.gg - 210) - 2*(alv.sfs + 1)*alv.sfac)) AS exp_sum,
         sum(CASE WHEN alv.v <> 0 THEN 1 ELSE 0 END) AS nonzero
  FROM alv GROUP BY 1
)
SELECT e.event_id AS doc_id,
       CAST(e.nv AS BIGINT) AS n_video_samples,
       CAST(e.na AS BIGINT) AS n_audio_samples,
       CAST(CASE WHEN e.seed % 3 = 0 THEN 1 ELSE 0 END AS BIGINT)
         AS gated_tracks,
       CAST((SELECT sum(jb.bsum) FROM jb
              WHERE jb.event_id = e.event_id) AS BIGINT) AS jpeg_y_sum,
       CAST(256 * e.nv AS BIGINT) AS jpeg_px,
       CAST(a.abs_sum AS BIGINT) AS mp3_abs_sum,
       CAST(a.exp_sum AS BIGINT) AS mp3_exp_sum,
       CAST(a.nonzero AS BIGINT) AS mp3_nonzero,
       CAST((SELECT sum(g.p23) FROM agran g
              WHERE g.event_id = e.event_id) AS BIGINT) AS mp3_part23_bits
FROM e JOIN aagg a ON a.event_id = e.event_id
"""


QUERIES_R10["mp4_demux"] = q_mp4_demux
ORACLES_R10["mp4_demux"] = SQL_MP4_DEMUX
QUERIES_R10["mp4_decode_av"] = q_mp4_decode_av
ORACLES_R10["mp4_decode_av"] = _mp4_av_oracle_sql()


# ---------------------------------------------------------------------------
# MP3 float synthesis (r10): requantize -> alias butterflies ->
# IMDCT-36 -> sin window -> overlap-add -> frequency inversion,
# emitted as 1e-4-lattice subband-domain samples (the polyphase
# filterbank input; Table B.3's designed D window has no closed form,
# so that last stage stays an honest gate).
# ---------------------------------------------------------------------------

def q_mp3_decode_synth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse planted spectra (fixtures.mp3_synth_granule_rules: four
    ±2^(E/4) lines per granule at i ∈ {0,9,18,27}) make each granule
    exactly five IMDCT inputs after the sb0|sb1 alias butterfly, so
    the DuckDB oracle recomputes EVERY output subband sample with its
    own trig in the same operation order; the fixture margin sweep
    (tests/test_mp3.py) pins every reachable sample > 1.7e-4 lattice
    units from a rounding boundary. Event lane id % 10 == 8."""
    from ..operators.mp3 import decode_mp3_synth_features
    from ..testing.fixtures import make_mp3

    payloads = synth_docs(
        spark, sf_dir,
        lambda i: make_mp3(i % 1000, n_frames=2 + i % 3, synth=True),
        residue=8,
    )
    return decode_mp3_synth_features(payloads).drop("decode_error")


SQL_MP3_DECODE_SYNTH = f"""
WITH e AS (
  SELECT event_id, event_id % 1000 AS seed, 2 + event_id % 3 AS nf
  FROM events WHERE event_id % {_FLAC_MOD} = 8
),
gg AS (
  SELECT e.event_id, e.seed, e.nf, G.G, G.G // 2 AS f, G.G % 2 AS gr
  FROM e, LATERAL (SELECT unnest(range(0, 2*e.nf)) AS G) G
),
par AS (
  SELECT gg.*, 198 + (seed*7 + f*13 + gr*29) % 12 AS g_gain,
         2 * ((seed + f + gr) % 2 + 1) AS mult,
         (seed + 3*f) % 16 AS word
  FROM gg
),
-- the four planted lines i = 9j -> xr_j = ±2^(E/4); scalefactor band
-- 2j, scfsi group sharing folds granule 1 back onto granule 0
xr AS (
  SELECT par.event_id, par.G, j.j,
    (CASE WHEN (par.seed + par.f + par.gr + j.j) % 2 = 0
          THEN 1 ELSE -1 END)
    * pow(2.0, (par.g_gain - 210 - par.mult *
        ((par.seed + 3*(2*j.j)
          + 17*(CASE WHEN par.gr = 1 AND sh.bit = 1 THEN 0
                     ELSE par.gr END)
          + 5*par.f) % 4)) / 4.0) AS x
  FROM par,
       LATERAL (SELECT unnest(range(0, 4)) AS j) j,
       LATERAL (SELECT CASE WHEN 2*j.j < 6 THEN (par.word // 8) % 2
                            ELSE (par.word // 4) % 2 END AS bit) sh
),
-- five IMDCT inputs per granule after the §2.4.3.4 alias butterfly
-- at the sb0|sb1 boundary (cs0 = 1/sqrt(1.36), ca0 = -0.6/sqrt(1.36))
coef AS (
  SELECT event_id, G, 0 AS sb, 0 AS k, x AS c FROM xr WHERE j = 0
  UNION ALL SELECT event_id, G, 0, 9, x FROM xr WHERE j = 1
  UNION ALL SELECT event_id, G, 0, 17, -x * (-0.6/sqrt(1.36))
    FROM xr WHERE j = 2
  UNION ALL SELECT event_id, G, 1, 0, x * (1.0/sqrt(1.36))
    FROM xr WHERE j = 2
  UNION ALL SELECT event_id, G, 1, 9, x FROM xr WHERE j = 3
),
sv AS (
  SELECT coef.event_id, coef.G, coef.sb, i.i,
         sum(coef.c * cos(pi()/72.0*(2*i.i + 1 + 18)*(2*coef.k + 1)))
         * sin(pi()/36.0*(i.i + 0.5)) AS s
  FROM coef, LATERAL (SELECT unnest(range(0, 36)) AS i) i
  GROUP BY 1, 2, 3, 4
),
o AS (
  SELECT cur.event_id,
         CAST(floor(
           (CASE WHEN cur.sb = 1 AND cur.i % 2 = 1 THEN -1 ELSE 1 END)
           * (cur.s + COALESCE(pv.s, 0)) * 10000.0 + 0.5) AS BIGINT) AS q
  FROM sv cur LEFT JOIN sv pv
    ON pv.event_id = cur.event_id AND pv.G = cur.G - 1
   AND pv.sb = cur.sb AND pv.i = cur.i + 18
  WHERE cur.i < 18
)
SELECT e.event_id AS doc_id,
       CAST(44100 AS BIGINT) AS sample_rate_hz,
       CAST(1 AS BIGINT) AS channels,
       CAST(2*e.nf AS BIGINT) AS n_granules,
       CAST(2*e.nf*32*18 AS BIGINT) AS n_sb_samples,
       CAST(sum(o.q) AS BIGINT) AS sb_grid_sum,
       CAST(sum(abs(o.q)) AS BIGINT) AS sb_abs_grid_sum,
       CAST(max(abs(o.q)) AS BIGINT) AS sb_peak_grid
FROM e JOIN o ON o.event_id = e.event_id
GROUP BY e.event_id, e.nf
"""

QUERIES_R10["mp3_decode_synth"] = q_mp3_decode_synth
ORACLES_R10["mp3_decode_synth"] = SQL_MP3_DECODE_SYNTH


def q_vorbis_decode_pcm_stereo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STEREO Vorbis float synthesis driver-checked (r10): coupled
    streams whose tones are planted PRE-coupling ((M,A) = (1,1) for a
    ch0 tone, (0,1) for a ch1 tone, disjoint coefficient ranges), so
    the decoder must run the exact integer inverse square-polar
    transform, per-channel flat floor1 curves, IMDCT, window and
    overlap-add to land every sample on the oracle's trig replay
    (1e-4 BIGINT lattice; margin sweep over all 1000 seeds bottoms
    out at 2.7e-6 lattice units). Event lane id % 10 == 9."""
    from ..operators.vorbis import decode_vorbis_pcm
    from ..testing.fixtures import make_ogg_vorbis

    payloads = synth_docs(
        spark, sf_dir,
        lambda i: make_ogg_vorbis(i % 1000, n_packets=3 + i % 3, pcm_tone=True,
                                  stereo=True),
        residue=9,
    )
    return decode_vorbis_pcm(payloads).drop("decode_error")


SQL_VORBIS_DECODE_PCM_STEREO = f"""
WITH e AS (
  SELECT event_id, event_id % 1000 AS seed, 3 + event_id % 3 AS np
  FROM events WHERE event_id % {_FLAC_MOD} = 9
),
-- per (channel c, boundary b, sample t): previous packet's right lap
-- + current packet's left half; flat-floor amplitudes and tone slots
-- per vorbis_pcm_stereo_rules (ch1 rules shift the seed by 499)
v AS (
  SELECT e.event_id,
         (pow(10, -7 * (255 - (180 + (e.seed + 499*cc.c
                                      + 11*(bb.b - 1)) % 76)) / 256.0)
          * cos((pi()/512.0) * ((2*(128 + tt.t) + 1 + 128)
                 * (2*(CASE WHEN cc.c = 0
                       THEN (e.seed + 7*(bb.b - 1)) % 16
                       ELSE 16 + (e.seed*5 + 13*(bb.b - 1)) % 16 END)
                    + 1)))
          * sin((0.5*pi()) * (sin(pi()*((128 + tt.t) + 0.5)/256.0)
                              * sin(pi()*((128 + tt.t) + 0.5)/256.0))))
         +
         (pow(10, -7 * (255 - (180 + (e.seed + 499*cc.c
                                      + 11*bb.b) % 76)) / 256.0)
          * cos((pi()/512.0) * ((2*tt.t + 1 + 128)
                 * (2*(CASE WHEN cc.c = 0
                       THEN (e.seed + 7*bb.b) % 16
                       ELSE 16 + (e.seed*5 + 13*bb.b) % 16 END)
                    + 1)))
          * sin((0.5*pi()) * (sin(pi()*(tt.t + 0.5)/256.0)
                              * sin(pi()*(tt.t + 0.5)/256.0))))
         AS x
  FROM e,
       LATERAL (SELECT unnest(range(0, 2)) AS c) cc,
       LATERAL (SELECT unnest(range(1, e.np)) AS b) bb,
       LATERAL (SELECT unnest(range(0, 128)) AS t) tt
),
g AS (
  SELECT event_id, CAST(floor(x * 10000.0 + 0.5) AS BIGINT) AS gv
  FROM v
)
SELECT e.event_id AS doc_id,
       CAST(16000 AS INTEGER) AS sample_rate_hz,
       CAST(2 AS INTEGER) AS channels,
       CAST(e.np AS INTEGER) AS n_packets,
       CAST((e.np - 1) * 128 * 2 AS BIGINT) AS n_pcm,
       CAST(sum(g.gv) AS BIGINT) AS pcm_grid_sum,
       CAST(sum(abs(g.gv)) AS BIGINT) AS pcm_abs_grid_sum,
       CAST(max(abs(g.gv)) AS BIGINT) AS pcm_peak_grid
FROM e JOIN g ON g.event_id = e.event_id
GROUP BY e.event_id, e.np
"""

QUERIES_R10["vorbis_decode_pcm_stereo"] = q_vorbis_decode_pcm_stereo
ORACLES_R10["vorbis_decode_pcm_stereo"] = SQL_VORBIS_DECODE_PCM_STEREO


def q_vorbis_decode_pcm_trans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LONG/SHORT window-transition Vorbis float synthesis
    driver-checked (r10): packets alternate 256/512 blocks, so every
    boundary runs the asymmetric long-block window (short slopes
    centered at n/4 and 3n/4, zero outside) and the spec's
    center-to-center variable-size overlap-add — each boundary
    returns (prev_n + n)/4 = 192 samples. Flat-floor single-tone
    packets keep the oracle a pure trig replay (margin sweep over all
    1000 seeds bottoms at 6.4e-7 lattice units). Lane id % 10 == 1."""
    from ..operators.vorbis import decode_vorbis_pcm
    from ..testing.fixtures import make_ogg_vorbis

    payloads = synth_docs(
        spark, sf_dir,
        lambda i: make_ogg_vorbis(i % 1000, n_packets=3 + i % 3, pcm_tone=True,
                                  long_blocks=True),
        residue=1,
    )
    return decode_vorbis_pcm(payloads).drop("decode_error")


SQL_VORBIS_DECODE_PCM_TRANS = f"""
WITH e AS (
  SELECT event_id, event_id % 1000 AS seed, 3 + event_id % 3 AS np
  FROM events WHERE event_id % {_FLAC_MOD} = 1
),
-- boundary b: previous packet size sp, current size sc (alternating
-- 256/512); every boundary emits sp/4 + sc/4 = 192 samples
bt AS (
  SELECT e.event_id, e.seed, b.b, y.y,
         CASE WHEN (b.b - 1) % 2 = 0 THEN 256 ELSE 512 END AS sp,
         CASE WHEN b.b % 2 = 0 THEN 256 ELSE 512 END AS sc
  FROM e,
       LATERAL (SELECT unnest(range(1, e.np)) AS b) b,
       LATERAL (SELECT unnest(range(0, 192)) AS y) y
),
t AS (
  SELECT bt.event_id, bt.sp, bt.sc,
         bt.sp // 2 + bt.y AS jp,
         bt.y - (bt.sp // 4 - bt.sc // 4) AS jc,
         180 + (bt.seed + 11*(bt.b - 1)) % 76 AS yp,
         180 + (bt.seed + 11*bt.b) % 76 AS yc,
         (bt.seed + 7*(bt.b - 1)) % 64 AS kp,
         (bt.seed + 7*bt.b) % 64 AS kc
  FROM bt
),
v AS (
  SELECT t.event_id,
    (CASE WHEN t.jp < t.sp THEN
       pow(10, -7*(255 - t.yp)/256.0)
       * cos(pi()/(2*t.sp) * (2*t.jp + 1 + t.sp // 2) * (2*t.kp + 1))
       * (CASE WHEN t.sp = 256 THEN
            sin(0.5*pi() * (sin(pi()*(t.jp + 0.5)/256.0)
                            * sin(pi()*(t.jp + 0.5)/256.0)))
          WHEN t.jp < 64 OR t.jp >= 448 THEN 0.0
          WHEN t.jp < 192 THEN
            sin(0.5*pi() * (sin(pi()*((t.jp - 64) + 0.5)/256.0)
                            * sin(pi()*((t.jp - 64) + 0.5)/256.0)))
          WHEN t.jp < 320 THEN 1.0
          ELSE
            sin(0.5*pi() * (sin(pi()*((t.jp - 320) + 0.5)/256.0
                                + 0.5*pi())
                            * sin(pi()*((t.jp - 320) + 0.5)/256.0
                                  + 0.5*pi()))) END)
     ELSE 0.0 END)
    +
    (CASE WHEN t.jc >= 0 AND t.jc < t.sc // 2 THEN
       pow(10, -7*(255 - t.yc)/256.0)
       * cos(pi()/(2*t.sc) * (2*t.jc + 1 + t.sc // 2) * (2*t.kc + 1))
       * (CASE WHEN t.sc = 256 THEN
            sin(0.5*pi() * (sin(pi()*(t.jc + 0.5)/256.0)
                            * sin(pi()*(t.jc + 0.5)/256.0)))
          WHEN t.jc < 64 THEN 0.0
          WHEN t.jc < 192 THEN
            sin(0.5*pi() * (sin(pi()*((t.jc - 64) + 0.5)/256.0)
                            * sin(pi()*((t.jc - 64) + 0.5)/256.0)))
          ELSE 1.0 END)
     ELSE 0.0 END) AS x
  FROM t
),
g AS (
  SELECT event_id, CAST(floor(x * 10000.0 + 0.5) AS BIGINT) AS gv
  FROM v
)
SELECT e.event_id AS doc_id,
       CAST(16000 AS INTEGER) AS sample_rate_hz,
       CAST(1 AS INTEGER) AS channels,
       CAST(e.np AS INTEGER) AS n_packets,
       CAST((e.np - 1) * 192 AS BIGINT) AS n_pcm,
       CAST(sum(g.gv) AS BIGINT) AS pcm_grid_sum,
       CAST(sum(abs(g.gv)) AS BIGINT) AS pcm_abs_grid_sum,
       CAST(max(abs(g.gv)) AS BIGINT) AS pcm_peak_grid
FROM e JOIN g ON g.event_id = e.event_id
GROUP BY e.event_id, e.np
"""

QUERIES_R10["vorbis_decode_pcm_trans"] = q_vorbis_decode_pcm_trans
ORACLES_R10["vorbis_decode_pcm_trans"] = SQL_VORBIS_DECODE_PCM_TRANS


def q_vorbis_decode_pcm_floor0(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FLOOR TYPE 0 (LSP) Vorbis float synthesis driver-checked
    (r10): packets carry a floor0 amplitude + VQ-coded LSP
    coefficient vector ('last' accumulation across reads), and the
    decoder renders the §6.2.3 curve — Bark-scale bin map (atan
    formula + truncation), even-order line-spectral p/q products,
    exp((amp*offset)/((2^bits-1)sqrt(p+q)) - offset) — times a single
    residue tone. The oracle recomputes the whole transcendental
    chain (atan/cos/sqrt/exp) in identical operation order; fixture
    constants pin p+q >= 0.0325 over the exact planted grid so exp
    stays grid-safe (margin sweep bottoms at 6.0e-7 lattice units
    over all 1000 seeds). Lane id % 10 == 2."""
    from ..operators.vorbis import decode_vorbis_pcm
    from ..testing.fixtures import make_ogg_vorbis

    payloads = synth_docs(
        spark, sf_dir,
        lambda i: make_ogg_vorbis(i % 1000, n_packets=3 + i % 3, pcm_tone=True,
                                  floor0=True),
        residue=2,
    )
    return decode_vorbis_pcm(payloads).drop("decode_error")


_F0_BARK_DENOM = ("(13.1*atan(0.00074*8000.0)"
                  " + 2.24*atan(0.0000000185*8000.0*8000.0)"
                  " + 0.0001*8000.0)")

SQL_VORBIS_DECODE_PCM_FLOOR0 = f"""
WITH e AS (
  SELECT event_id, event_id % 1000 AS seed, 3 + event_id % 3 AS np
  FROM events WHERE event_id % {_FLAC_MOD} = 2
),
-- per packet: replay the floor0 chain (coefficients -> Bark bin ->
-- LSP p/q products -> exp amplitude) and the tone slot
pk AS (
  SELECT e.event_id, e.np, kk.k, rr.k0, ll.lin
  FROM e,
       LATERAL (SELECT unnest(range(0, e.np)) AS k) kk,
       LATERAL (SELECT 1 + (e.seed + 11*kk.k) % 15 AS amp,
                       (e.seed + 5*kk.k) % 4 AS d0,
                       (e.seed*3 + 7*kk.k) % 4 AS d1,
                       1 + (e.seed + 7*kk.k) % 63 AS k0) rr,
       LATERAL (SELECT 33.0/64 + (3.0/64)*rr.d0 AS c0) c0q,
       LATERAL (SELECT c0q.c0 + 33.0/64 + (3.0/64)*rr.d1 AS c1) c1q,
       LATERAL (SELECT (16000.0*rr.k0)/256.0 AS x) xq,
       LATERAL (SELECT 13.1*atan(0.00074*xq.x)
                       + 2.24*atan(0.0000000185*xq.x*xq.x)
                       + 0.0001*xq.x AS bk) bq,
       LATERAL (SELECT least(63, CAST(floor(
                  bq.bk * 64 / {_F0_BARK_DENOM}) AS INTEGER)) AS m) mq,
       LATERAL (SELECT cos(pi()*mq.m/64.0) AS cw) wq,
       LATERAL (SELECT
          (1.0-wq.cw)/2.0
            * (4.0*(cos(c1q.c1)-wq.cw)*(cos(c1q.c1)-wq.cw))
          + (1.0+wq.cw)/2.0
            * (4.0*(cos(c0q.c0)-wq.cw)*(cos(c0q.c0)-wq.cw)) AS pq) pqq,
       LATERAL (SELECT exp((rr.amp*10.0)/(63.0*sqrt(pqq.pq))
                           - 10.0) AS lin) ll
),
v AS (
  SELECT pc.event_id,
         (pp.lin
          * cos((pi()/512.0) * ((2*(128 + tt.t) + 1 + 128)
                 * (2*pp.k0 + 1)))
          * sin((0.5*pi()) * (sin(pi()*((128 + tt.t) + 0.5)/256.0)
                              * sin(pi()*((128 + tt.t) + 0.5)/256.0))))
         +
         (pc.lin
          * cos((pi()/512.0) * ((2*tt.t + 1 + 128) * (2*pc.k0 + 1)))
          * sin((0.5*pi()) * (sin(pi()*(tt.t + 0.5)/256.0)
                              * sin(pi()*(tt.t + 0.5)/256.0))))
         AS x
  FROM pk pc
  JOIN pk pp ON pp.event_id = pc.event_id AND pp.k = pc.k - 1,
       LATERAL (SELECT unnest(range(0, 128)) AS t) tt
  WHERE pc.k >= 1
),
g AS (
  SELECT event_id, CAST(floor(x * 10000.0 + 0.5) AS BIGINT) AS gv
  FROM v
)
SELECT e.event_id AS doc_id,
       CAST(16000 AS INTEGER) AS sample_rate_hz,
       CAST(1 AS INTEGER) AS channels,
       CAST(e.np AS INTEGER) AS n_packets,
       CAST((e.np - 1) * 128 AS BIGINT) AS n_pcm,
       CAST(sum(g.gv) AS BIGINT) AS pcm_grid_sum,
       CAST(sum(abs(g.gv)) AS BIGINT) AS pcm_abs_grid_sum,
       CAST(max(abs(g.gv)) AS BIGINT) AS pcm_peak_grid
FROM e JOIN g ON g.event_id = e.event_id
GROUP BY e.event_id, e.np
"""

QUERIES_R10["vorbis_decode_pcm_floor0"] = q_vorbis_decode_pcm_floor0
ORACLES_R10["vorbis_decode_pcm_floor0"] = SQL_VORBIS_DECODE_PCM_FLOOR0


def q_flac_decode_32bit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit FLAC decode driver-checked (r10, closing the last FLAC
    depth gate): frame sample-size code 0b111, verbatim subframes at
    32 raw bits, Rice-coded fixed-predictor residuals over
    2^15-scaled planted samples. FLAC is lossless, so the oracle
    replays the planted rule exactly; the readout is the INTEGER
    per-window energy (BIGINT sum of squares — scale 2^15 keeps every
    window sum inside BIGINT), avoiding the %.6f tie class entirely.
    Lane id % 10 == 3 (mono, same shape as flac_decode)."""
    from ..operators.multimodal import decode_flac_features
    from ..testing.fixtures import make_flac

    payloads = synth_docs(
        spark, sf_dir,
        lambda i: make_flac(i % 1000, n_samples=800 + (i % 5) * 400, bps=32),
        residue=3,
    )
    return decode_flac_features(payloads, window_samples=400).select(
        "doc_id", "sample_rate_hz", "n_samples", "duration_ms",
        "n_windows",
        F.array_join(
            F.transform("energy_windows", lambda x: x.cast("string")),
            ",",
        ).alias("energy_windows"),
    )


SQL_FLAC_DECODE_32BIT = f"""
WITH e AS (
  SELECT event_id, 800 + (event_id % 5) * 400 AS n,
         event_id % 1000 AS seed
  FROM events WHERE event_id % {_FLAC_MOD} = 3
),
w AS (
  SELECT event_id, n, seed, CAST(wi.w AS BIGINT) AS w
  FROM e, LATERAL (SELECT unnest(range(0, (n + 399) // 400)) AS w) wi
),
s AS (
  SELECT event_id, n, w.w,
         CAST(CASE WHEN ((i.i // 512) % 3) = 2 THEN seed % 512
              ELSE ((seed + i.i * 257) % 2001) - 1000 END
              AS BIGINT) * 32768 AS v
  FROM w, LATERAL (SELECT unnest(range(w.w * 400,
                                       least(n, (w.w + 1) * 400))) AS i) i
),
r AS (
  SELECT event_id, n, w, CAST(sum(v * v) AS BIGINT) AS energy
  FROM s GROUP BY 1, 2, 3
)
SELECT event_id AS doc_id,
       CAST(16000 AS INTEGER) AS sample_rate_hz,
       CAST(n AS BIGINT) AS n_samples,
       CAST(n * 1000 // 16000 AS BIGINT) AS duration_ms,
       CAST(count(*) AS INTEGER) AS n_windows,
       string_agg(CAST(energy AS VARCHAR), ',' ORDER BY w)
         AS energy_windows
FROM r GROUP BY event_id, n
"""

QUERIES_R10["flac_decode_32bit"] = q_flac_decode_32bit
ORACLES_R10["flac_decode_32bit"] = SQL_FLAC_DECODE_32BIT


def q_mp4_demux_frag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FRAGMENTED MP4 (DASH/CMAF) demux driver-checked (r10):
    moov carries empty sample tables + mvex/trex defaults; samples
    live in moof fragments whose truns resolve through the full
    trun -> tfhd -> trex default cascade (fixtures cycle all three
    size sources and both duration sources), with default-base-is-
    moof AND explicit-base-data-offset addressing both exercised. The
    oracle replays every planted value including the per-sample
    mdat-relative offset sum. Lane id % 10 == 4."""
    from ..operators.mp4 import demux_mp4_frag_features
    return _mp4_payload_query(spark, sf_dir, 4, "make_mp4_frag",
                              demux_mp4_frag_features)


SQL_MP4_DEMUX_FRAG = f"""
WITH e AS (
  SELECT event_id, event_id % 1000 AS seed,
         1 + event_id % 1000 % 2 AS ntr,
         2 + event_id % 1000 % 3 AS nfrag
  FROM events WHERE event_id % {_FLAC_MOD} = 4
),
tf AS (
  SELECT e.event_id, e.seed, e.ntr, e.nfrag, f.f, t.t,
         2 + (e.seed + f.f + t.t) % 3 AS ns,
         (e.seed + f.f + t.t) % 3 AS size_mode,
         (e.seed + f.f + t.t) % 2 AS dur_mode
  FROM e,
       LATERAL (SELECT unnest(range(0, e.nfrag)) AS f) f,
       LATERAL (SELECT unnest(range(0, e.ntr)) AS t) t
),
smp AS (
  SELECT tf.event_id, tf.f, tf.t, s.s,
         CASE WHEN tf.size_mode = 0
              THEN 50 + (tf.seed*3 + 13*s.s + 7*tf.f + 97*tf.t) % 150
              WHEN tf.size_mode = 1
              THEN 70 + (tf.seed + 11*tf.f + 5*tf.t) % 100
              ELSE 64 + tf.seed % 32 + tf.t END AS sz,
         CASE WHEN tf.dur_mode = 0
              THEN 30 + (tf.seed + s.s + tf.f) % 20
              ELSE 500 + tf.t END AS dur
  FROM tf, LATERAL (SELECT unnest(range(0, tf.ns)) AS s) s
),
soff AS (
  SELECT event_id,
         COALESCE(sum(sz) OVER (
            PARTITION BY event_id, f ORDER BY t, s
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS roff,
         sz, dur
  FROM smp
)
SELECT e.event_id AS doc_id,
       CAST(e.ntr AS BIGINT) AS n_tracks,
       CAST(e.nfrag AS BIGINT) AS n_fragments,
       CAST(e.nfrag * (e.nfrag + 1) // 2 AS BIGINT) AS seq_sum,
       CAST((SELECT count(*) FROM smp
              WHERE smp.event_id = e.event_id) AS BIGINT) AS n_samples,
       CAST((SELECT sum(s2.sz) FROM smp s2
              WHERE s2.event_id = e.event_id) AS BIGINT) AS sample_bytes,
       CAST((SELECT sum(s3.roff) FROM soff s3
              WHERE s3.event_id = e.event_id) AS BIGINT)
         AS sample_rel_offset_sum,
       CAST((SELECT sum(1000*t2.f + 37*t2.t + t2.seed % 100) FROM tf t2
              WHERE t2.event_id = e.event_id) AS BIGINT) AS tfdt_sum,
       CAST((SELECT sum(s4.dur) FROM smp s4
              WHERE s4.event_id = e.event_id) AS BIGINT) AS duration_sum,
       CAST(e.ntr * (e.ntr + 1) // 2 AS BIGINT) AS track_id_sum,
       'isom' AS brand
FROM e
"""

QUERIES_R10["mp4_demux_frag"] = q_mp4_demux_frag
ORACLES_R10["mp4_demux_frag"] = SQL_MP4_DEMUX_FRAG


def q_mp4_decode_av_frag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chained codec decode from FRAGMENTED MP4s (r10): the real
    JPEG and single-frame MP3 samples live in moof fragments, so a
    green row proves trun resolution (default-base-is-moof, per-run
    prefix sums) hands the codecs the exact payload bytes across
    fragment boundaries. Same decoded-sum oracle discipline as
    mp4_decode_av. Lane id % 10 == 5."""
    from ..operators.mp4 import decode_mp4_av_features
    return _mp4_payload_query(spark, sf_dir, 5, "make_mp4_av_frag",
                              decode_mp4_av_features)


def _mp4_av_frag_oracle_sql() -> str:
    from ..testing.fixtures import (
        JPEG_AC_TEMPLATES, jpeg_template_round_sums,
    )

    rs = jpeg_template_round_sums()
    n_t = len(JPEG_AC_TEMPLATES)
    rs_arr = "[" + ", ".join(f"{v}::BIGINT" for v in rs) + "]"
    return f"""
WITH e AS (
  SELECT event_id, event_id % 1000 AS seed, 2 + event_id % 1000 % 2 AS nf
  FROM events WHERE event_id % {_FLAC_MOD} = 5
),
cnt AS (
  SELECT e.event_id, e.seed,
         CAST(sum(1 + (e.seed + f.f) % 2) AS BIGINT) AS nv,
         CAST(sum(1 + (e.seed + 3*f.f + 1) % 2) AS BIGINT) AS na
  FROM e, LATERAL (SELECT unnest(range(0, e.nf)) AS f) f
  GROUP BY 1, 2
),
jb AS (
  SELECT c.event_id,
         64 * (128 + ((sj.sj*7 + b.b*13) % 121) - 60)
         + {rs_arr}[(sj.sj + b.b) % {n_t} + 1] AS bsum
  FROM cnt c,
       LATERAL (SELECT unnest(range(0, c.nv)) AS j) j,
       LATERAL (SELECT (c.seed*31 + 7*j.j) % 1000 AS sj) sj,
       LATERAL (SELECT unnest(range(0, 4)) AS b) b
),
ag AS (
  SELECT c.event_id, c.seed, sa.sa, gr.gr,
         48 + (sa.sa*3 + gr.gr*11) % 16 AS bv,
         120 + (sa.sa*7 + gr.gr*29) % 100 AS gg,
         (sa.sa + gr.gr) % 2 AS sfs,
         4 + (sa.sa + gr.gr) % 4 AS nq,
         sa.sa % 16 AS scfsi
  FROM cnt c,
       LATERAL (SELECT unnest(range(0, c.na)) AS j) j,
       LATERAL (SELECT (c.seed*17 + 5*j.j) % 1000 AS sa) sa,
       LATERAL (SELECT unnest(range(0, 2)) AS gr) gr
),
sfb(band, lo, hi) AS (VALUES
  (0,0,4),(1,4,8),(2,8,12),(3,12,16),(4,16,20),(5,20,24),(6,24,30),
  (7,30,36),(8,36,44),(9,44,52),(10,52,62),(11,62,74),(12,74,90),
  (13,90,110),(14,110,134),(15,134,162),(16,162,196),(17,196,238),
  (18,238,288),(19,288,342),(20,342,418)),
asf AS (
  SELECT ag.event_id, ag.sa, ag.gr, s.band, s.lo, s.hi,
         CASE WHEN ag.gr = 1 AND sh.shared = 1
              THEN (ag.sa + 3*s.band) % 4
              ELSE (ag.sa + 3*s.band + 17*ag.gr) % 4 END AS sfac,
         CASE WHEN ag.gr = 1 AND sh.shared = 1 THEN 0 ELSE 2
              END AS txbits
  FROM ag, sfb s,
       LATERAL (SELECT CASE WHEN s.band < 6 THEN (ag.scfsi // 8) % 2
                            WHEN s.band < 11 THEN (ag.scfsi // 4) % 2
                            WHEN s.band < 16 THEN (ag.scfsi // 2) % 2
                            ELSE ag.scfsi % 2 END AS shared) sh
),
alines AS (
  SELECT ag.event_id, ag.sa, ag.gr, ag.gg, ag.sfs, i.i,
         ((ag.sa + 3*ag.gr + 7*i.i) % 3) - 1 AS v, 0 AS is_c1
  FROM ag, LATERAL (SELECT unnest(range(0, 90)) AS i) i
  UNION ALL
  SELECT ag.event_id, ag.sa, ag.gr, ag.gg, ag.sfs, i.i,
         ((ag.sa + 7*ag.gr + 3*i.i) % 3) - 1 AS v, 1 AS is_c1
  FROM ag, LATERAL (SELECT unnest(range(2*ag.bv, 2*ag.bv + 4*ag.nq)) AS i) i
),
alv AS (
  SELECT l.*, COALESCE(asf.sfac, 0) AS sfac
  FROM alines l LEFT JOIN asf
    ON asf.event_id = l.event_id AND asf.sa = l.sa AND asf.gr = l.gr
   AND l.i >= asf.lo AND l.i < asf.hi
),
apair AS (
  SELECT ag.event_id, ag.sa, ag.gr,
         sum(CASE WHEN p.x = 0 AND p.y = 0 THEN 1
                  WHEN p.x = 1 AND p.y = 0 THEN 2
                  ELSE 3 END + p.x + p.y) AS hb
  FROM ag,
       LATERAL (SELECT unnest(range(0, 45)) AS k) k,
       LATERAL (SELECT
         abs(((ag.sa + 3*ag.gr + 14*k.k) % 3) - 1) AS x,
         abs(((ag.sa + 3*ag.gr + 14*k.k + 7) % 3) - 1) AS y) p
  GROUP BY 1, 2, 3
),
agran AS (
  SELECT ag.event_id, ag.sa, ag.gr,
         (SELECT sum(asf.txbits) FROM asf
           WHERE asf.event_id = ag.event_id AND asf.sa = ag.sa
             AND asf.gr = ag.gr)
         + ap.hb + 4 * ag.nq
         + (SELECT sum(abs(l.v)) FROM alines l
             WHERE l.event_id = ag.event_id AND l.sa = ag.sa
               AND l.gr = ag.gr AND l.is_c1 = 1) AS p23
  FROM ag JOIN apair ap
    ON ap.event_id = ag.event_id AND ap.sa = ag.sa AND ap.gr = ag.gr
),
aagg AS (
  SELECT alv.event_id,
         sum(abs(alv.v)) AS abs_sum,
         sum(CASE WHEN alv.v > 0 THEN 1 WHEN alv.v < 0 THEN -1 ELSE 0 END
             * ((alv.gg - 210) - 2*(alv.sfs + 1)*alv.sfac)) AS exp_sum,
         sum(CASE WHEN alv.v <> 0 THEN 1 ELSE 0 END) AS nonzero
  FROM alv GROUP BY 1
)
SELECT c.event_id AS doc_id,
       CAST(c.nv AS BIGINT) AS n_video_samples,
       CAST(c.na AS BIGINT) AS n_audio_samples,
       CAST(0 AS BIGINT) AS gated_tracks,
       CAST((SELECT sum(jb.bsum) FROM jb
              WHERE jb.event_id = c.event_id) AS BIGINT) AS jpeg_y_sum,
       CAST(256 * c.nv AS BIGINT) AS jpeg_px,
       CAST(a.abs_sum AS BIGINT) AS mp3_abs_sum,
       CAST(a.exp_sum AS BIGINT) AS mp3_exp_sum,
       CAST(a.nonzero AS BIGINT) AS mp3_nonzero,
       CAST((SELECT sum(g.p23) FROM agran g
              WHERE g.event_id = c.event_id) AS BIGINT) AS mp3_part23_bits
FROM cnt c JOIN aagg a ON a.event_id = c.event_id
"""


QUERIES_R10["mp4_decode_av_frag"] = q_mp4_decode_av_frag
ORACLES_R10["mp4_decode_av_frag"] = _mp4_av_frag_oracle_sql()


def q_mp3_decode_lsf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MPEG-2 (LSF) Layer III driver-checked (r10): 22.05 kHz mono
    streams with ONE granule per frame, 9-byte side info (8-bit
    main_data_begin, no scfsi, no preflag — the field widths sum
    exactly to 9 bytes, pinning the layout), 9-bit scalefac_compress
    with the first-class four-slen derivation over (6,5,5,5) band
    groups, the 22.05 kHz Table B.2 band widths, and the same bit
    reservoir mechanics. The oracle replays every planted rule incl.
    slen-truncated scalefactors, part2_3 accounting and reservoir
    pointers. Lane id % 10 == 7."""
    from ..operators.mp3 import decode_mp3_features
    from ..testing.fixtures import make_mp3_lsf

    payloads = synth_docs(
        spark, sf_dir,
        lambda i: make_mp3_lsf(i % 1000, n_frames=2 + i % 3),
        residue=7,
    )
    return decode_mp3_features(payloads).drop("decode_error")


def _mp3_lsf_oracle_sql() -> str:
    bounds = [0]
    for w in (6, 6, 6, 6, 6, 6, 8, 10, 12, 14, 16, 20, 24, 28, 32,
              38, 46, 52, 60, 68, 58, 54):
        bounds.append(bounds[-1] + w)
    sfb_rows = ", ".join(
        f"({b}, {bounds[b]}, {bounds[b + 1]})" for b in range(21)
    )
    return f"""
WITH e AS (
  SELECT event_id, event_id % 1000 AS seed, 2 + event_id % 3 AS nf
  FROM events WHERE event_id % {_FLAC_MOD} = 7
),
sfb(band, lo, hi) AS (VALUES {sfb_rows}),
g AS (
  SELECT e.event_id, e.seed, e.nf, f.f,
         (e.seed*7 + f.f*3) % 400 AS sc,
         48 + (e.seed*3 + f.f*7) % 16 AS bv,
         120 + (e.seed*7 + f.f*13) % 100 AS gg,
         (e.seed + f.f) % 2 AS sfs,
         4 + (e.seed + f.f) % 4 AS nq
  FROM e, LATERAL (SELECT unnest(range(0, e.nf)) AS f) f
),
gs AS (
  SELECT g.*,
         (g.sc // 16) // 5 AS s0, (g.sc // 16) % 5 AS s1,
         (g.sc % 16) // 4 AS s2, g.sc % 4 AS s3
  FROM g
),
-- slen-truncated transmitted scalefactors over (6,5,5,5) groups
sf AS (
  SELECT gs.event_id, gs.f, b.band, b.lo, b.hi,
         ((gs.seed + 3*b.band + 5*gs.f) % 16)
           % (1 << (CASE WHEN b.band < 6 THEN gs.s0
                         WHEN b.band < 11 THEN gs.s1
                         WHEN b.band < 16 THEN gs.s2
                         ELSE gs.s3 END)) AS sfac
  FROM gs, sfb b
),
lines AS (
  SELECT g.event_id, g.f, g.gg, g.sfs, i.i,
         ((g.seed + 5*g.f + 7*i.i) % 3) - 1 AS v, 0 AS is_c1
  FROM g, LATERAL (SELECT unnest(range(0, 2*g.bv)) AS i) i
  UNION ALL
  SELECT g.event_id, g.f, g.gg, g.sfs, i.i,
         ((g.seed + 11*g.f + 3*i.i) % 3) - 1 AS v, 1 AS is_c1
  FROM g, LATERAL (SELECT unnest(range(2*g.bv, 2*g.bv + 4*g.nq)) AS i) i
),
lv AS (
  SELECT l.*, COALESCE(sf.sfac, 0) AS sfac
  FROM lines l LEFT JOIN sf
    ON sf.event_id = l.event_id AND sf.f = l.f
   AND l.i >= sf.lo AND l.i < sf.hi
),
pairbits AS (
  SELECT g.event_id, g.f,
         sum(CASE WHEN p.x = 0 AND p.y = 0 THEN 1
                  WHEN p.x = 1 AND p.y = 0 THEN 2
                  ELSE 3 END + p.x + p.y) AS hb
  FROM g,
       LATERAL (SELECT unnest(range(0, g.bv)) AS k) k,
       LATERAL (SELECT
         abs(((g.seed + 5*g.f + 14*k.k) % 3) - 1) AS x,
         abs(((g.seed + 5*g.f + 14*k.k + 7) % 3) - 1) AS y) p
  GROUP BY 1, 2
),
granbits AS (
  SELECT gs.event_id, gs.f,
         6*gs.s0 + 5*gs.s1 + 5*gs.s2 + 5*gs.s3
         + pb.hb + 4 * gs.nq
         + (SELECT sum(abs(l.v)) FROM lines l
             WHERE l.event_id = gs.event_id AND l.f = gs.f
               AND l.is_c1 = 1) AS p23
  FROM gs JOIN pairbits pb
    ON pb.event_id = gs.event_id AND pb.f = gs.f
),
resv AS (
  SELECT gb.event_id,
         sum(CASE WHEN gb.f >= 1
                  THEN least((gb.p23 + 7) // 8,
                             64 + (e.seed + 37*gb.f) % 128)
                  ELSE 0 END) AS mdb
  FROM granbits gb JOIN e ON e.event_id = gb.event_id
  GROUP BY 1
),
agg AS (
  SELECT lv.event_id,
         sum(abs(lv.v)) AS abs_sum,
         sum(lv.v) AS signed_sum,
         sum(CASE WHEN lv.is_c1 = 1 THEN abs(lv.v) ELSE 0 END) AS c1_abs,
         sum(CASE WHEN lv.v > 0 THEN 1 WHEN lv.v < 0 THEN -1 ELSE 0 END
             * ((lv.gg - 210) - 2*(lv.sfs + 1)*lv.sfac)) AS exp_sum,
         sum(CASE WHEN lv.v <> 0 THEN 1 ELSE 0 END) AS nonzero
  FROM lv GROUP BY 1
)
SELECT e.event_id AS doc_id,
       CAST(22050 AS INTEGER) AS sample_rate_hz,
       CAST(64 AS INTEGER) AS bitrate_kbps,
       CAST(1 AS INTEGER) AS channels,
       CAST(e.nf AS INTEGER) AS n_frames,
       CAST((SELECT sum(g.bv) FROM g WHERE g.event_id = e.event_id)
            AS BIGINT) AS big_values_sum,
       CAST(a.abs_sum AS BIGINT) AS spectral_abs_sum,
       CAST(a.signed_sum AS BIGINT) AS spectral_signed_sum,
       CAST(a.c1_abs AS BIGINT) AS count1_abs_sum,
       CAST((SELECT sum(sf.sfac) FROM sf WHERE sf.event_id = e.event_id)
            AS BIGINT) AS scalefac_sum,
       CAST(a.exp_sum AS BIGINT) AS requant_exp_sum,
       CAST(a.nonzero AS BIGINT) AS nonzero_lines,
       CAST(r.mdb AS BIGINT) AS reservoir_bytes,
       CAST((SELECT sum(gb.p23) FROM granbits gb
              WHERE gb.event_id = e.event_id) AS BIGINT) AS part23_bits
FROM e JOIN agg a ON a.event_id = e.event_id
       JOIN resv r ON r.event_id = e.event_id
"""


QUERIES_R10["mp3_decode_lsf"] = q_mp3_decode_lsf
ORACLES_R10["mp3_decode_lsf"] = _mp3_lsf_oracle_sql()


def q_mp3_decode_ms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MS JOINT-STEREO MP3 driver-checked (r10): mode bits 01 with
    mode_extension MS=1/intensity=0. MS matrixing is a lossless
    spectral transform that belongs to synthesis, so the integer byte
    path decodes the M/S channels exactly like LR stereo — the oracle
    is the stereo closed form; intensity stereo remains a named gate.
    Lane id % 10 == 9."""
    from ..operators.mp3 import decode_mp3_features
    from ..testing.fixtures import make_mp3

    payloads = synth_docs(
        spark, sf_dir,
        lambda i: make_mp3(i % 1000, n_frames=2 + i % 3, stereo=True,
                           ms_stereo=True),
        residue=9,
    )
    return decode_mp3_features(payloads).drop("decode_error")


QUERIES_R10["mp3_decode_ms"] = q_mp3_decode_ms
ORACLES_R10["mp3_decode_ms"] = _mp3_oracle_sql(9, 2)


def q_bmp_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL BMP decode driver-checked (r10): per event one of four
    variants — 24-bit bottom-up, 24-bit top-down (negative height),
    8-bit paletted, RLE8 (absolute chunks + encoded runs + EOL/EOB
    markers) — all on a width-13 raster so the 4-byte row padding is
    non-trivial. The oracle replays the planted pixel/palette rules
    as exact integers. Lane id % 10 == 0."""
    from ..operators.multimodal import decode_bmp_meta
    from ..testing.fixtures import make_bmp

    payloads = synth_docs(
        spark, sf_dir, lambda i: make_bmp(i % 1000, variant=i % 4), residue=0
    )
    return decode_bmp_meta(payloads).drop("decode_error")


SQL_BMP_DECODE = f"""
WITH e AS (
  SELECT event_id, event_id % 1000 AS seed, event_id % 4 AS variant
  FROM events WHERE event_id % {_FLAC_MOD} = 0
),
px AS (
  SELECT e.event_id,
         CASE WHEN e.variant < 2
              THEN (e.seed + 7*x.x + 13*y.y + 5*c.c) % 256
              ELSE CASE c.c
                   WHEN 0 THEN (e.seed*5
                     + 17*((e.seed + 3*x.x + 11*y.y) % 16)) % 256
                   WHEN 1 THEN (e.seed*3
                     + 29*((e.seed + 3*x.x + 11*y.y) % 16)) % 256
                   ELSE (e.seed*7
                     + 23*((e.seed + 3*x.x + 11*y.y) % 16)) % 256
                   END END AS v
  FROM e,
       LATERAL (SELECT unnest(range(0, 7)) AS y) y,
       LATERAL (SELECT unnest(range(0, 13)) AS x) x,
       LATERAL (SELECT unnest(range(0, 3)) AS c) c
)
SELECT e.event_id AS doc_id,
       CAST(13 AS INTEGER) AS width,
       CAST(7 AS INTEGER) AS height,
       CAST(3 AS INTEGER) AS bpp_channels,
       CAST(sum(px.v) AS BIGINT) AS rgb_sum,
       round(CAST(sum(px.v) AS DOUBLE) / 273.0, 6) AS mean_px
FROM e JOIN px ON px.event_id = e.event_id
GROUP BY e.event_id
"""

QUERIES_R10["bmp_decode"] = q_bmp_decode
ORACLES_R10["bmp_decode"] = SQL_BMP_DECODE


def q_tiff_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL baseline-TIFF decode driver-checked (r10): per event one
    of four variants — grayscale/RGB x uncompressed/PackBits, the RGB
    ones BIG-endian (MM) so every field read is endian-parameterized
    — each with three RowsPerStrip=3 strips. The oracle replays the
    planted sample rules as exact integers. Lane id % 10 == 1."""
    from ..operators.multimodal import decode_tiff_meta
    from ..testing.fixtures import make_tiff

    payloads = synth_docs(
        spark, sf_dir, lambda i: make_tiff(i % 1000, variant=i % 4), residue=1
    )
    return decode_tiff_meta(payloads).drop("decode_error")


SQL_TIFF_DECODE = f"""
WITH e AS (
  SELECT event_id, event_id % 1000 AS seed, event_id % 4 AS variant,
         CASE WHEN event_id % 4 IN (1, 3) THEN 3 ELSE 1 END AS spp
  FROM events WHERE event_id % {_FLAC_MOD} = 1
),
px AS (
  SELECT e.event_id,
         (e.seed + 11*x.x + 17*y.y + 7*c.c) % 256 AS v
  FROM e,
       LATERAL (SELECT unnest(range(0, 7)) AS y) y,
       LATERAL (SELECT unnest(range(0, 11)) AS x) x,
       LATERAL (SELECT unnest(range(0, e.spp)) AS c) c
)
SELECT e.event_id AS doc_id,
       CAST(11 AS INTEGER) AS width,
       CAST(7 AS INTEGER) AS height,
       CAST(e.spp AS INTEGER) AS channels,
       CAST(sum(px.v) AS BIGINT) AS px_sum,
       round(CAST(sum(px.v) AS DOUBLE) / (77.0 * e.spp), 6) AS mean_px
FROM e JOIN px ON px.event_id = e.event_id
GROUP BY e.event_id, e.spp
"""

QUERIES_R10["tiff_decode"] = q_tiff_decode
ORACLES_R10["tiff_decode"] = SQL_TIFF_DECODE


# ---------------------------------------------------------------------------
# WARC (ISO 28500) — the Common Crawl record format (r10).
# ---------------------------------------------------------------------------

def q_warc_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC archive reading driver-checked (r10): per event one
    archive (1 warcinfo + 2-4 request/response pairs); even seeds use
    the Common Crawl record-per-gzip-member layout (stdlib zlib
    member splitting), odd seeds plain concatenation. Record grammar,
    Content-Length payload slicing and the HTTP response parse are
    all proven by the byte-exact body sums. Lane id % 10 == 2."""
    from ..operators.warc import extract_warc_features
    return _mp4_payload_query(spark, sf_dir, 2, "make_warc",
                              extract_warc_features)


SQL_WARC_EXTRACT = f"""
WITH e AS (
  SELECT event_id, event_id % 1000 AS seed, 2 + event_id % 1000 % 3 AS n
  FROM events WHERE event_id % {_FLAC_MOD} = 2
),
resp AS (
  SELECT e.event_id, e.seed, i.i,
         CASE (e.seed + i.i) % 3 WHEN 0 THEN 200 WHEN 1 THEN 404
              ELSE 301 END AS status,
         50 + (e.seed + 11*i.i) % 100 AS blen
  FROM e, LATERAL (SELECT unnest(range(0, e.n)) AS i) i
),
bbytes AS (
  SELECT r.event_id, sum((r.seed + 13*r.i + j.j) % 256) AS bsum
  FROM resp r, LATERAL (SELECT unnest(range(0, r.blen)) AS j) j
  GROUP BY 1
)
SELECT e.event_id AS doc_id,
       CAST(1 + 2*e.n AS BIGINT) AS n_records,
       CAST(e.n AS BIGINT) AS n_responses,
       CAST(e.n AS BIGINT) AS n_requests,
       CAST(1 AS BIGINT) AS n_warcinfo,
       CAST((SELECT sum(r.status) FROM resp r
              WHERE r.event_id = e.event_id) AS BIGINT) AS status_sum,
       CAST((SELECT sum(r.blen) FROM resp r
              WHERE r.event_id = e.event_id) AS BIGINT) AS body_len_sum,
       CAST(b.bsum AS BIGINT) AS body_byte_sum,
       CAST(2 * (SELECT sum(20 + length(CAST(e.seed AS VARCHAR))
                            + 1 + length(CAST(r.i AS VARCHAR)))
                  FROM resp r WHERE r.event_id = e.event_id)
            AS BIGINT) AS uri_len_sum,
       CAST(5 + 12*e.n AS BIGINT) AS header_count_sum,
       CAST(2*e.n AS BIGINT) AS http_header_sum
FROM e JOIN bbytes b ON b.event_id = e.event_id
"""

QUERIES_R10["warc_extract"] = q_warc_extract
ORACLES_R10["warc_extract"] = SQL_WARC_EXTRACT


def q_warc_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WARC 1→N crawl explode driver-checked (r10): each archive
    fans out to one row per HTTP response — the exact row shape the
    dedup / language-ID / quality stages consume downstream. The
    oracle emits the same N rows per archive in closed form.
    Lane id % 10 == 3."""
    from ..operators.warc import warc_documents
    from ..testing.fixtures import make_warc

    payloads = synth_docs(
        spark, sf_dir, lambda i: make_warc(i % 1000), residue=3
    )
    return warc_documents(payloads)


SQL_WARC_DOCUMENTS = f"""
WITH e AS (
  SELECT event_id, event_id % 1000 AS seed, 2 + event_id % 1000 % 3 AS n
  FROM events WHERE event_id % {_FLAC_MOD} = 3
),
resp AS (
  SELECT e.event_id, e.seed, i.i,
         CASE (e.seed + i.i) % 3 WHEN 0 THEN 200 WHEN 1 THEN 404
              ELSE 301 END AS status,
         50 + (e.seed + 11*i.i) % 100 AS blen
  FROM e, LATERAL (SELECT unnest(range(0, e.n)) AS i) i
)
SELECT r.event_id AS doc_id,
       CAST(r.i AS BIGINT) AS rec_no,
       'https://example.com/' || CAST(r.seed AS VARCHAR) || '/'
         || CAST(r.i AS VARCHAR) AS uri,
       CAST(r.status AS BIGINT) AS status,
       CAST(r.blen AS BIGINT) AS body_len,
       CAST((SELECT sum((r.seed + 13*r.i + j.j) % 256)
              FROM (SELECT unnest(range(0, r.blen)) AS j) j)
            AS BIGINT) AS body_byte_sum
FROM resp r
"""

QUERIES_R10["warc_documents"] = q_warc_documents
ORACLES_R10["warc_documents"] = SQL_WARC_DOCUMENTS


def q_webdataset_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WebDataset shard decode driver-checked (r10): each event is a
    REAL ustar tar (checksummed headers; grammar independently
    validated against CPython's tarfile in pytest) whose members
    group into samples (<key>.jpg/.cls/.txt); the .jpg members are
    real baseline JPEGs decoded by the T.81 pipeline, .cls labels
    parse as integers, .txt byte lengths tally. One output row per
    sample — the exact shape an image-text training loader consumes.
    Lane id % 10 == 6."""
    from ..operators.tar import decode_webdataset
    from ..testing.fixtures import make_webdataset

    payloads = synth_docs(
        spark, sf_dir, lambda i: make_webdataset(i % 1000), residue=6
    )
    return decode_webdataset(payloads)


def _webdataset_oracle_sql() -> str:
    from ..testing.fixtures import (
        JPEG_AC_TEMPLATES, jpeg_template_round_sums,
    )

    rs = jpeg_template_round_sums()
    n_t = len(JPEG_AC_TEMPLATES)
    rs_arr = "[" + ", ".join(f"{v}::BIGINT" for v in rs) + "]"
    return f"""
WITH e AS (
  SELECT event_id, event_id % 1000 AS seed, 2 + event_id % 1000 % 3 AS n
  FROM events WHERE event_id % {_FLAC_MOD} = 6
),
smp AS (
  SELECT e.event_id, e.seed, i.i,
         (e.seed*41 + 9*i.i) % 1000 AS sj,
         (e.seed + 7*i.i) % 1000 AS label,
         20 + (e.seed + 5*i.i) % 60 AS txt_len
  FROM e, LATERAL (SELECT unnest(range(0, e.n)) AS i) i
),
jp AS (
  SELECT s.event_id, s.i,
         sum(64 * (128 + ((s.sj*7 + b.b*13) % 121) - 60)
             + {rs_arr}[(s.sj + b.b) % {n_t} + 1]) AS ysum
  FROM smp s, LATERAL (SELECT unnest(range(0, 4)) AS b) b
  GROUP BY 1, 2
)
SELECT s.event_id AS doc_id,
       printf('sample%04d', s.i) AS sample_key,
       CAST(3 AS BIGINT) AS n_parts,
       CAST(s.label AS BIGINT) AS label,
       CAST(16 AS INTEGER) AS jpeg_width,
       CAST(16 AS INTEGER) AS jpeg_height,
       CAST(jp.ysum AS BIGINT) AS jpeg_y_sum,
       CAST(s.txt_len AS BIGINT) AS text_bytes
FROM smp s JOIN jp ON jp.event_id = s.event_id AND jp.i = s.i
"""


QUERIES_R10["webdataset_decode"] = q_webdataset_decode
ORACLES_R10["webdataset_decode"] = _webdataset_oracle_sql()


def q_avi_demux(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AVI (RIFF) demux driver-checked (r10): word-aligned chunk walk,
    hdrl/strl headers, interleaved ##dc/##wb movi chunks routed by
    stream prefix, and an idx1 index VALIDATED entry-by-entry against
    the actual layout — the oracle replays every planted field incl.
    the movi-relative chunk offset sum (which only comes out right if
    the walk honors RIFF's odd-size padding). Lane id % 10 == 8."""
    from ..operators.avi import demux_avi_features
    return _mp4_payload_query(spark, sf_dir, 8, "make_avi",
                              demux_avi_features)


SQL_AVI_DEMUX = f"""
WITH e AS (
  SELECT event_id, event_id % 1000 AS seed,
         3 + event_id % 1000 % 2 AS nv,
         3 + (event_id % 1000 + 1) % 2 AS na
  FROM events WHERE event_id % {_FLAC_MOD} = 8
),
ch AS (
  SELECT e.event_id, c.c, s.s,
         40 + (e.seed*3 + 13*c.c + 97*s.s) % 160 AS sz
  FROM e,
       LATERAL (SELECT unnest(range(0, greatest(e.nv, e.na))) AS c) c,
       LATERAL (SELECT unnest(range(0, 2)) AS s) s
  WHERE (s.s = 0 AND c.c < e.nv) OR (s.s = 1 AND c.c < e.na)
),
-- movi layout: round-robin (chunk index, stream), 8-byte headers,
-- odd sizes padded to even
cho AS (
  SELECT event_id, c, s, sz,
         COALESCE(sum(8 + sz + (sz % 2)) OVER (
            PARTITION BY event_id ORDER BY c, s
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS roff
  FROM ch
)
SELECT e.event_id AS doc_id,
       CAST(2 AS BIGINT) AS n_streams,
       CAST(e.nv AS BIGINT) AS total_frames,
       CAST(33333 + e.seed % 1000 AS BIGINT) AS us_per_frame,
       CAST(320 + e.seed % 16 AS BIGINT) AS width,
       CAST(240 + e.seed % 16 AS BIGINT) AS height,
       CAST(e.nv + e.na AS BIGINT) AS n_chunks,
       CAST(e.nv + e.na AS BIGINT) AS n_idx,
       CAST((SELECT sum(ch.sz) FROM ch
              WHERE ch.event_id = e.event_id) AS BIGINT) AS chunk_bytes,
       CAST((SELECT sum(cho.roff) FROM cho
              WHERE cho.event_id = e.event_id) AS BIGINT)
         AS chunk_rel_offset_sum,
       CAST(30 + e.seed % 10 + 44100 AS BIGINT) AS rate_sum,
       CAST(2 AS BIGINT) AS scale_sum,
       CAST(e.nv + e.na AS BIGINT) AS length_sum,
       chr(0) || chr(0) || chr(0) || chr(0) || '+rawv' AS handlers
FROM e
"""

QUERIES_R10["avi_demux"] = q_avi_demux
ORACLES_R10["avi_demux"] = SQL_AVI_DEMUX


def q_avi_decode_av(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AVI demux CHAINED into real codec decode (r10): MJPG chunks
    are true baseline JPEGs, the 0x0055 audio stream's chunks true
    single-frame MP3s; the oracle replays the decoded sums in closed
    form, so a green row proves chunk extraction feeds the codecs the
    exact payload bytes. Lane id % 10 == 9."""
    from ..operators.avi import decode_avi_av_features
    return _mp4_payload_query(spark, sf_dir, 9, "make_avi_av",
                              decode_avi_av_features)


def _avi_av_oracle_sql() -> str:
    from ..testing.fixtures import (
        JPEG_AC_TEMPLATES, jpeg_template_round_sums,
    )

    rs = jpeg_template_round_sums()
    n_t = len(JPEG_AC_TEMPLATES)
    rs_arr = "[" + ", ".join(f"{v}::BIGINT" for v in rs) + "]"
    return f"""
WITH e AS (
  SELECT event_id, event_id % 1000 AS seed,
         2 + event_id % 1000 % 2 AS nv,
         2 + (event_id % 1000 + 1) % 2 AS na
  FROM events WHERE event_id % {_FLAC_MOD} = 9
),
jb AS (
  SELECT e.event_id,
         64 * (128 + ((sj.sj*7 + b.b*13) % 121) - 60)
         + {rs_arr}[(sj.sj + b.b) % {n_t} + 1] AS bsum
  FROM e,
       LATERAL (SELECT unnest(range(0, e.nv)) AS c) c,
       LATERAL (SELECT (e.seed*43 + 11*c.c) % 1000 AS sj) sj,
       LATERAL (SELECT unnest(range(0, 4)) AS b) b
),
-- single-frame mono MP3 per audio chunk (mp3_granule_rules, f = 0)
al AS (
  SELECT e.event_id,
         sum(abs(((sa.sa + 3*gr.gr + 7*i.i) % 3) - 1)) AS abs_sum
  FROM e,
       LATERAL (SELECT unnest(range(0, e.na)) AS c) c,
       LATERAL (SELECT (e.seed*19 + 3*c.c) % 1000 AS sa) sa,
       LATERAL (SELECT unnest(range(0, 2)) AS gr) gr,
       LATERAL (SELECT unnest(range(0, 90)) AS i) i
  GROUP BY 1
),
ac AS (
  SELECT e.event_id,
         sum(abs(((sa.sa + 7*gr.gr + 3*i.i) % 3) - 1)) AS c1_sum
  FROM e,
       LATERAL (SELECT unnest(range(0, e.na)) AS c) c,
       LATERAL (SELECT (e.seed*19 + 3*c.c) % 1000 AS sa) sa,
       LATERAL (SELECT unnest(range(0, 2)) AS gr) gr,
       LATERAL (SELECT 48 + (sa.sa*3 + gr.gr*11) % 16 AS bv,
                       4 + (sa.sa + gr.gr) % 4 AS nq) g,
       LATERAL (SELECT unnest(range(2*g.bv, 2*g.bv + 4*g.nq)) AS i) i
  GROUP BY 1
),
-- part2_3 accounting (same closed form as mp4_decode_av's oracle)
ag AS (
  SELECT e.event_id, sa.sa, gr.gr,
         48 + (sa.sa*3 + gr.gr*11) % 16 AS bv,
         4 + (sa.sa + gr.gr) % 4 AS nq,
         sa.sa % 16 AS scfsi
  FROM e,
       LATERAL (SELECT unnest(range(0, e.na)) AS c) c,
       LATERAL (SELECT (e.seed*19 + 3*c.c) % 1000 AS sa) sa,
       LATERAL (SELECT unnest(range(0, 2)) AS gr) gr
),
sfbits AS (
  SELECT ag.event_id, ag.sa, ag.gr,
         sum(CASE WHEN ag.gr = 1 AND sh.shared = 1 THEN 0 ELSE 2 END)
           AS bits
  FROM ag,
       LATERAL (SELECT unnest(range(0, 21)) AS band) b,
       LATERAL (SELECT CASE WHEN b.band < 6 THEN (ag.scfsi // 8) % 2
                            WHEN b.band < 11 THEN (ag.scfsi // 4) % 2
                            WHEN b.band < 16 THEN (ag.scfsi // 2) % 2
                            ELSE ag.scfsi % 2 END AS shared) sh
  GROUP BY 1, 2, 3
),
hb AS (
  SELECT ag.event_id, ag.sa, ag.gr,
         sum(CASE WHEN p.x = 0 AND p.y = 0 THEN 1
                  WHEN p.x = 1 AND p.y = 0 THEN 2
                  ELSE 3 END + p.x + p.y) AS bits
  FROM ag,
       LATERAL (SELECT unnest(range(0, 45)) AS k) k,
       LATERAL (SELECT
         abs(((ag.sa + 3*ag.gr + 14*k.k) % 3) - 1) AS x,
         abs(((ag.sa + 3*ag.gr + 14*k.k + 7) % 3) - 1) AS y) p
  GROUP BY 1, 2, 3
),
c1b AS (
  SELECT ag.event_id, ag.sa, ag.gr,
         4*ag.nq + sum(abs(((ag.sa + 7*ag.gr + 3*i.i) % 3) - 1)) AS bits
  FROM ag,
       LATERAL (SELECT unnest(range(2*ag.bv, 2*ag.bv + 4*ag.nq)) AS i) i
  GROUP BY 1, 2, 3, ag.nq
),
p23 AS (
  SELECT s.event_id,
         sum(s.bits + h.bits + c.bits) AS total
  FROM sfbits s
  JOIN hb h ON h.event_id = s.event_id AND h.sa = s.sa AND h.gr = s.gr
  JOIN c1b c ON c.event_id = s.event_id AND c.sa = s.sa
   AND c.gr = s.gr
  GROUP BY 1
)
SELECT e.event_id AS doc_id,
       CAST(e.nv AS BIGINT) AS n_video_chunks,
       CAST(e.na AS BIGINT) AS n_audio_chunks,
       CAST(0 AS BIGINT) AS gated_streams,
       CAST((SELECT sum(jb.bsum) FROM jb
              WHERE jb.event_id = e.event_id) AS BIGINT) AS jpeg_y_sum,
       CAST(256 * e.nv AS BIGINT) AS jpeg_px,
       CAST(al.abs_sum + ac.c1_sum AS BIGINT) AS mp3_abs_sum,
       CAST(p.total AS BIGINT) AS mp3_part23_bits
FROM e
JOIN al ON al.event_id = e.event_id
JOIN ac ON ac.event_id = e.event_id
JOIN p23 p ON p.event_id = e.event_id
"""


QUERIES_R10["avi_decode_av"] = q_avi_decode_av
ORACLES_R10["avi_decode_av"] = _avi_av_oracle_sql()


def q_zip_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ZIP reading driver-checked (r10): EOCD scan, central-directory
    walk, local-header data positioning, stored + raw-deflate
    members with the uncompressed size AND CRC-32 verified per entry
    (grammar cross-validated both directions against CPython's
    zipfile in pytest). Byte-exact member sums prove the inflate
    path. Lane id % 10 == 0."""
    from ..operators.zip import extract_zip_features
    return _mp4_payload_query(spark, sf_dir, 0, "make_zip",
                              extract_zip_features)


SQL_ZIP_EXTRACT = f"""
WITH e AS (
  SELECT event_id, event_id % 1000 AS seed, 3 + event_id % 1000 % 3 AS n
  FROM events WHERE event_id % {_FLAC_MOD} = 0
),
m AS (
  SELECT e.event_id, e.seed, i.i,
         25 + (e.seed + 9*i.i) % 120 AS len,
         CASE WHEN (e.seed + i.i) % 2 = 0 THEN 1 ELSE 0 END AS defl
  FROM e, LATERAL (SELECT unnest(range(0, e.n)) AS i) i
),
b AS (
  SELECT m.event_id, sum((m.seed + 17*m.i + j.j) % 251) AS bsum
  FROM m, LATERAL (SELECT unnest(range(0, m.len)) AS j) j
  GROUP BY 1
)
SELECT e.event_id AS doc_id,
       CAST(e.n AS BIGINT) AS n_entries,
       CAST((SELECT sum(m.defl) FROM m
              WHERE m.event_id = e.event_id) AS BIGINT) AS n_deflated,
       CAST((SELECT sum(1 - m.defl) FROM m
              WHERE m.event_id = e.event_id) AS BIGINT) AS n_stored,
       CAST((SELECT sum(m.len) FROM m
              WHERE m.event_id = e.event_id) AS BIGINT)
         AS uncompressed_sum,
       CAST(b.bsum AS BIGINT) AS byte_sum,
       CAST(10 * e.n AS BIGINT) AS name_len_sum
FROM e JOIN b ON b.event_id = e.event_id
"""

QUERIES_R10["zip_extract"] = q_zip_extract
ORACLES_R10["zip_extract"] = SQL_ZIP_EXTRACT


def q_crawl_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The container→explode→dedup INTEGRATION path driver-checked
    (r10): WARC archives with planted cross-archive duplicate bodies
    fan out through warc_documents, then exact-dedup groups form on
    the content identity (body_len, body_byte_sum — the planted
    60+k lengths make the key collision-exact). Output: one row per
    distinct document with its copy count and distinct-archive count
    — the first stage every crawl corpus goes through, run end to
    end on REAL WARC bytes. Lane id % 10 == 4."""
    from ..operators.warc import warc_documents
    from ..testing.fixtures import make_warc_dedup

    payloads = synth_docs(
        spark, sf_dir, lambda i: make_warc_dedup(i % 1000), residue=4
    )
    docs = warc_documents(payloads)
    return docs.groupBy("body_len", "body_byte_sum").agg(
        F.count("*").alias("n_copies"),
        F.countDistinct("doc_id").alias("n_archives"),
        F.min("uri").alias("uri"),
    )


SQL_CRAWL_DEDUP = f"""
WITH e AS (
  SELECT event_id, event_id % 1000 AS seed,
         2 + event_id % 1000 % 3 AS n
  FROM events WHERE event_id % {_FLAC_MOD} = 4
),
docs AS (
  SELECT e.event_id, (e.seed + 7*i.i) % 40 AS k
  FROM e, LATERAL (SELECT unnest(range(0, e.n)) AS i) i
),
keyed AS (
  SELECT d.event_id, d.k, 60 + d.k AS body_len,
         (SELECT sum((d.k*3 + j.j) % 256)
            FROM (SELECT unnest(range(0, 60 + d.k)) AS j) j)
           AS body_byte_sum
  FROM docs d
)
SELECT CAST(body_len AS BIGINT) AS body_len,
       CAST(body_byte_sum AS BIGINT) AS body_byte_sum,
       CAST(count(*) AS BIGINT) AS n_copies,
       CAST(count(DISTINCT event_id) AS BIGINT) AS n_archives,
       'https://example.com/dup/' || CAST(k AS VARCHAR) AS uri
FROM keyed
GROUP BY body_len, body_byte_sum, k
"""

QUERIES_R10["crawl_dedup"] = q_crawl_dedup
ORACLES_R10["crawl_dedup"] = SQL_CRAWL_DEDUP


def q_ico_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ICO (favicon) decode driver-checked (r10): per event a 2-3
    image icon mixing PNG members (chained through the REAL PNG
    pipeline — zlib inflate, all five scanline filters) and 24-bit
    doubled-height DIB members (bottom-up XOR rows + the 1-bit AND
    transparency mask). The oracle replays the planted pixel and mask
    rules as exact integers. Lane id % 10 == 5."""
    from ..operators.multimodal import decode_ico_meta
    from ..testing.fixtures import make_ico

    payloads = synth_docs(
        spark, sf_dir, lambda i: make_ico(i % 1000), residue=5
    )
    return decode_ico_meta(payloads).drop("decode_error")


SQL_ICO_DECODE = f"""
WITH e AS (
  SELECT event_id, event_id % 1000 AS seed, 2 + event_id % 1000 % 2 AS n
  FROM events WHERE event_id % {_FLAC_MOD} = 5
),
img AS (
  SELECT e.event_id, e.seed, i.i,
         CASE WHEN (e.seed + i.i) % 2 = 0 THEN 1 ELSE 0 END AS is_png,
         (e.seed*13 + 5*i.i) % 1000 AS sj
  FROM e, LATERAL (SELECT unnest(range(0, e.n)) AS i) i
),
px AS (
  SELECT g.event_id, g.i,
         sum(CASE WHEN g.is_png = 1
             THEN (g.sj + y.y*31 + x.x*7 + c.c*13) % 256
             ELSE (g.seed + 9*x.x + 23*y.y + 11*c.c + 7*g.i) % 256
             END) AS s,
         sum(CASE WHEN g.is_png = 0 AND c.c = 0
                  AND (g.seed + x.x + y.y) % 5 = 0
             THEN 1 ELSE 0 END) AS ntr
  FROM img g,
       LATERAL (SELECT unnest(range(0, 8)) AS y) y,
       LATERAL (SELECT unnest(range(0, 8)) AS x) x,
       LATERAL (SELECT unnest(range(0, 3)) AS c) c
  GROUP BY 1, 2
)
SELECT e.event_id AS doc_id,
       CAST(e.n AS INTEGER) AS n_images,
       CAST((SELECT sum(g.is_png) FROM img g
              WHERE g.event_id = e.event_id) AS INTEGER) AS n_png,
       CAST((SELECT sum(1 - g.is_png) FROM img g
              WHERE g.event_id = e.event_id) AS INTEGER) AS n_dib,
       CAST(8 * e.n AS BIGINT) AS width_sum,
       CAST(8 * e.n AS BIGINT) AS height_sum,
       CAST((SELECT sum(px.s) FROM px
              WHERE px.event_id = e.event_id) AS BIGINT) AS rgb_sum,
       CAST((SELECT sum(px.ntr) FROM px
              WHERE px.event_id = e.event_id) AS BIGINT)
         AS transparent_sum
FROM e
"""

QUERIES_R10["ico_decode"] = q_ico_decode
ORACLES_R10["ico_decode"] = SQL_ICO_DECODE
