"""Round-11 driver queries: closing the highest-frequency real-crawl
gates named by the r10 verdict — PDF 1.5 compressed xref (xref
streams + /ObjStm object streams), and the follow-on format work.

Same planted-rule discipline as the r10 plans: a deterministic
fixture is synthesized per event id inside ``mapInPandas``, the REAL
decoder inverts it, and the DuckDB oracle replays the planted rules
in closed form. All oracle output columns are INTEGER/BIGINT.

No counterpart surface exists in the reference repo
(mydatastack/google-analytics-to-s3); this is the beyond-reference
LLM-training-data-pipeline surface the build plan mandates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.testdata import load_events
from .driver_queries_analytics import _FLAC_MOD, synth_docs

QUERIES_R11: dict = {}
ORACLES_R11: dict[str, str] = {}


def q_pdf_text_xrefstream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PDF 1.5 compressed-xref extraction driver-checked end-to-end:
    per event a PDF whose catalog/page-tree/font/page objects live in
    a FlateDecode /ObjStm and whose cross-reference is a /Type /XRef
    STREAM (testing/fixtures.make_pdf_xrefstream — /W [1 3 1] and
    [1 2 1] field widths, PNG Up/Paeth + no-predictor variants,
    /Index subsection splits, page 0's /Length indirect THROUGH the
    object stream) is parsed by the real §7.5.7/§7.5.8 path
    (operators/pdf.py), and the oracle replays page/object/word/char
    counts in closed form. The planted text is shared with
    ``pdf_text``; the live-object count differs by exactly the two
    new container objects (/ObjStm + xref stream)."""
    from ..operators.pdf import extract_pdf_features
    from ..testing.fixtures import make_pdf_xrefstream

    payloads = synth_docs(
        spark, sf_dir, lambda i: make_pdf_xrefstream(i % 1000), residue=3
    )
    return extract_pdf_features(payloads).drop("extract_error")


_PDF_XREFSTREAM_ORACLE = f"""
WITH e AS (
  SELECT event_id, event_id % 1000 AS seed,
         2 + (event_id % 1000) % 3 AS n_pages
  FROM events WHERE event_id % {_FLAC_MOD} = 3
),
pw AS (
  SELECT e.event_id,
         count(*) AS w,
         sum(CASE WHEN (e.seed*7 + p.p*13 + i.i*3) % 100 < 10
                  THEN 2 ELSE 3 END) AS ch
  FROM e,
       LATERAL (SELECT unnest(range(0, e.n_pages)) AS p) p,
       LATERAL (SELECT unnest(range(0, 5 + (e.seed + p.p) % 7)) AS i) i
  GROUP BY 1
)
SELECT e.event_id AS doc_id,
       CAST(e.n_pages AS INTEGER) AS n_pages,
       CAST(6 + 2*e.n_pages AS INTEGER) AS n_objects,
       CAST(pw.w + 2 AS BIGINT) AS text_words,
       CAST(pw.ch + 5 AS BIGINT) AS word_chars
FROM e JOIN pw ON pw.event_id = e.event_id
"""

QUERIES_R11["pdf_text_xrefstream"] = q_pdf_text_xrefstream
ORACLES_R11["pdf_text_xrefstream"] = _PDF_XREFSTREAM_ORACLE


def q_tiff_decode_lzw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIFF LZW decode driver-checked end-to-end (TIFF 6.0 §13):
    per event a 40x9 TIFF — grayscale LE LZW + Predictor 2
    (horizontal differencing, the libtiff default pairing) on even
    ids, RGB BIG-endian LZW without predictor on odd — is serialized
    by the real early-change MSB-first encoder
    (testing/fixtures._tiff_lzw_encode) and inverted by
    operators/multimodal._tiff_lzw_decode (early-change width bumps
    pinned against the GIF convention in tests/test_r11_formats).
    The oracle replays the planted sample rule exactly."""
    from ..operators.multimodal import decode_tiff_meta
    from ..testing.fixtures import make_tiff

    payloads = synth_docs(
        spark, sf_dir,
        lambda i: make_tiff(i % 1000, variant=4 + i % 2, w=40, h=9),
        residue=4,
    )
    return decode_tiff_meta(payloads).drop("decode_error")


_TIFF_LZW_ORACLE = f"""
WITH e AS (
  SELECT event_id, event_id % 1000 AS seed,
         CASE WHEN event_id % 2 = 1 THEN 3 ELSE 1 END AS spp
  FROM events WHERE event_id % {_FLAC_MOD} = 4
),
px AS (
  SELECT e.event_id,
         (e.seed + 11*x.x + 17*y.y + 7*c.c) % 256 AS v
  FROM e,
       LATERAL (SELECT unnest(range(0, 9)) AS y) y,
       LATERAL (SELECT unnest(range(0, 40)) AS x) x,
       LATERAL (SELECT unnest(range(0, e.spp)) AS c) c
)
SELECT e.event_id AS doc_id,
       CAST(40 AS INTEGER) AS width,
       CAST(9 AS INTEGER) AS height,
       CAST(e.spp AS INTEGER) AS channels,
       CAST(sum(px.v) AS BIGINT) AS px_sum,
       round(CAST(sum(px.v) AS DOUBLE) / (360.0 * e.spp), 6)
           AS mean_px
FROM e JOIN px ON px.event_id = e.event_id
GROUP BY e.event_id, e.spp
"""

QUERIES_R11["tiff_decode_lzw"] = q_tiff_decode_lzw
ORACLES_R11["tiff_decode_lzw"] = _TIFF_LZW_ORACLE


def q_mp3_decode_short(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MP3 WINDOW SWITCHING driver-checked end-to-end (r11, closing
    the r10 verdict's short-block gate): mono streams whose granules
    follow the real encoder attack sequence long -> start -> short ->
    stop (testing/fixtures.mp3_short_granule_rules; short granules
    alternate pure and MIXED by seed, with planted subblock_gain,
    (sfb, window) short scalefactors, the dist10 implicit region rule
    and scfsi pinned to zero on short frames), decoded by the full
    integer byte path (operators/mp3.py — side-info ws branch,
    short/mixed scalefactor layouts, per-window requant exponents
    E = gg - 210 - 8*subblock_gain[w] - mult*sf[b][w]). The DuckDB
    oracle replays every planted rule in closed form incl. the
    part2_3_length bit accounting and reservoir pointers, so a green
    row proves the decoder inverts the window-switching encoder
    bit-exactly. Half the payloads carry an ID3v2 tag."""
    from ..operators.mp3 import decode_mp3_features
    from ..testing.fixtures import make_mp3

    payloads = synth_docs(
        spark, sf_dir,
        lambda i: make_mp3(i % 1000, n_frames=2 + i % 3, short=True,
                           id3=i % 2 == 0),
        residue=5,
    )
    return decode_mp3_features(payloads).drop("decode_error")


def _mp3_short_oracle_sql() -> str:
    """Closed-form replay of the make_mp3(short=True) planted rules
    (mono, lane 5): block_type G%4, mixed = bt2 & (seed+f)%2,
    short-band (sfb, window) mapping over the Table B.8 44.1 kHz
    SHORT boundaries, per-window exponents with subblock_gain, the
    dist10 implicit region rule (ws granules keep table 1 through
    big_values; bt0 granules cut to table 0 at line 90), scfsi
    sharing on long frames only, and the reservoir pointer sums."""
    lb = [0, 4, 8, 12, 16, 20, 24, 30, 36, 44, 52, 62, 74, 90,
          110, 134, 162, 196, 238, 288, 342, 418, 576]
    sb = [0, 4, 8, 12, 16, 22, 30, 40, 52, 66, 84, 106, 136, 192]
    lrows = ", ".join(f"({b}, {lb[b]}, {lb[b + 1]})"
                      for b in range(22))
    srows = ", ".join(
        f"({s}, {3 * sb[s]}, {3 * sb[s + 1]}, {sb[s + 1] - sb[s]})"
        for s in range(13))
    return f"""
WITH e AS (
  SELECT event_id, event_id % 1000 AS seed, 2 + event_id % 3 AS nf
  FROM events WHERE event_id % {_FLAC_MOD} = 5
),
lsfb(band, lo, hi) AS (VALUES {lrows}),
ssfb(band, lo3, hi3, w3) AS (VALUES {srows}),
g AS (
  SELECT e.event_id, e.seed, e.nf, f.f, gr.gr,
         (2*f.f + gr.gr) % 4 AS bt,
         CASE WHEN (2*f.f + gr.gr) % 4 = 2
                   AND (e.seed + f.f) % 2 = 1
              THEN 1 ELSE 0 END AS mixed,
         40 + (e.seed*3 + f.f*7 + gr.gr*11) % 16 AS bv,
         120 + (e.seed*7 + f.f*13 + gr.gr*29) % 100 AS gg,
         (e.seed + f.f + gr.gr) % 2 AS sfs,
         2 + (e.seed + f.f + gr.gr) % 3 AS nq,
         CASE WHEN f.f % 2 = 0 THEN (e.seed + f.f*3) % 16
              ELSE 0 END AS scfsi
  FROM e,
       LATERAL (SELECT unnest(range(0, e.nf)) AS f) f,
       LATERAL (SELECT unnest(range(0, 2)) AS gr) gr
),
-- long-band scalefactors for bt<>2 granules (scfsi sharing) and the
-- 8 long bands of mixed granules
sflong AS (
  SELECT g.event_id, g.f, g.gr, s.band,
         CASE WHEN g.bt <> 2 AND g.gr = 1 AND sh.shared = 1
              THEN (g.seed + 3*s.band + 5*g.f) % 4
              ELSE (g.seed + 3*s.band + 17*g.gr + 5*g.f) % 4
              END AS sfac,
         CASE WHEN g.bt <> 2 AND g.gr = 1 AND sh.shared = 1
              THEN 0 ELSE 2 END AS txbits
  FROM g, lsfb s,
       LATERAL (SELECT CASE WHEN s.band < 6 THEN (g.scfsi // 8) % 2
                            WHEN s.band < 11 THEN (g.scfsi // 4) % 2
                            WHEN s.band < 16 THEN (g.scfsi // 2) % 2
                            ELSE g.scfsi % 2 END AS shared) sh
  WHERE (g.bt <> 2 AND s.band < 21)
     OR (g.bt = 2 AND g.mixed = 1 AND s.band < 8)
),
-- short (band, window) scalefactors: bands 0-11 pure, 3-11 mixed
sfshort AS (
  SELECT g.event_id, g.f, g.gr, b.band, w.w,
         (g.seed + 3*b.band + 5*w.w + 17*g.gr + 7*g.f) % 4 AS sfac
  FROM g,
       LATERAL (SELECT unnest(range(CASE WHEN g.mixed = 1 THEN 3
                                         ELSE 0 END, 12)) AS band) b,
       LATERAL (SELECT unnest(range(0, 3)) AS w) w
  WHERE g.bt = 2
),
lines AS (
  SELECT g.*, i.i,
         ((g.seed + 5*g.f + 3*g.gr + 7*i.i) % 3) - 1 AS v, 0 AS is_c1
  FROM g, LATERAL (SELECT unnest(range(0,
         least(2*g.bv, CASE WHEN g.bt = 0 THEN 90 ELSE 576 END)))
         AS i) i
  UNION ALL
  SELECT g.*, i.i,
         ((g.seed + 11*g.f + 7*g.gr + 3*i.i) % 3) - 1, 1
  FROM g, LATERAL (SELECT unnest(range(2*g.bv, 2*g.bv + 4*g.nq)) AS i) i
),
lv AS (
  SELECT l.event_id, l.v, l.is_c1,
    CASE WHEN l.bt = 2 AND (l.mixed = 0 OR l.i >= 36) THEN
      (SELECT (l.gg - 210)
              - 8*((l.seed + l.f + 2*l.gr
                    + 3*((l.i - s.lo3) // s.w3)) % 8)
              - 2*(l.sfs + 1)
                * (SELECT COALESCE(max(ss.sfac), 0) FROM sfshort ss
                    WHERE ss.event_id = l.event_id AND ss.f = l.f
                      AND ss.gr = l.gr AND ss.band = s.band
                      AND ss.w = (l.i - s.lo3) // s.w3)
         FROM ssfb s WHERE l.i >= s.lo3 AND l.i < s.hi3)
    ELSE
      (SELECT (l.gg - 210) - 2*(l.sfs + 1)
              * (SELECT COALESCE(max(sl.sfac), 0) FROM sflong sl
                  WHERE sl.event_id = l.event_id AND sl.f = l.f
                    AND sl.gr = l.gr AND sl.band = s.band)
         FROM lsfb s WHERE l.i >= s.lo AND l.i < s.hi)
    END AS e
  FROM lines l WHERE l.v <> 0
),
pairbits AS (
  SELECT g.event_id, g.f, g.gr,
         sum(CASE WHEN p.x = 0 AND p.y = 0 THEN 1
                  WHEN p.x = 1 AND p.y = 0 THEN 2
                  ELSE 3 END + p.x + p.y) AS hb
  FROM g,
       LATERAL (SELECT unnest(range(0,
          least(g.bv, CASE WHEN g.bt = 0 THEN 45 ELSE g.bv END)))
          AS k) k,
       LATERAL (SELECT
         abs(((g.seed + 5*g.f + 3*g.gr + 14*k.k) % 3) - 1) AS x,
         abs(((g.seed + 5*g.f + 3*g.gr + 14*k.k + 7) % 3) - 1) AS y
       ) p
  GROUP BY 1, 2, 3
),
granbits AS (
  SELECT g.event_id, g.f, g.gr,
         CASE WHEN g.bt = 2 AND g.mixed = 1 THEN 70
              WHEN g.bt = 2 THEN 72
              ELSE (SELECT sum(sl.txbits) FROM sflong sl
                     WHERE sl.event_id = g.event_id AND sl.f = g.f
                       AND sl.gr = g.gr) END
         + pb.hb + 4*g.nq
         + (SELECT COALESCE(sum(abs(l.v)), 0) FROM lines l
             WHERE l.event_id = g.event_id AND l.f = g.f
               AND l.gr = g.gr AND l.is_c1 = 1)
         AS p23
  FROM g JOIN pairbits pb
    ON pb.event_id = g.event_id AND pb.f = g.f AND pb.gr = g.gr
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
  SELECT l.event_id,
         sum(abs(l.v)) AS abs_sum,
         sum(l.v) AS signed_sum,
         sum(CASE WHEN l.is_c1 = 1 THEN abs(l.v) ELSE 0 END) AS c1_abs,
         sum(CASE WHEN l.v <> 0 THEN 1 ELSE 0 END) AS nonzero
  FROM lines l GROUP BY 1
),
expo AS (
  SELECT lv.event_id,
         sum(CASE WHEN lv.v > 0 THEN lv.e ELSE -lv.e END) AS exp_sum
  FROM lv GROUP BY 1
),
sfsum AS (
  SELECT e.event_id,
         COALESCE((SELECT sum(sl.sfac) FROM sflong sl
                    WHERE sl.event_id = e.event_id), 0)
         + COALESCE((SELECT sum(ss.sfac) FROM sfshort ss
                    WHERE ss.event_id = e.event_id), 0) AS s
  FROM e
)
SELECT e.event_id AS doc_id,
       CAST(44100 AS INTEGER) AS sample_rate_hz,
       CAST(160 AS INTEGER) AS bitrate_kbps,
       CAST(1 AS INTEGER) AS channels,
       CAST(e.nf AS INTEGER) AS n_frames,
       CAST((SELECT sum(g.bv) FROM g WHERE g.event_id = e.event_id)
            AS BIGINT) AS big_values_sum,
       CAST(a.abs_sum AS BIGINT) AS spectral_abs_sum,
       CAST(a.signed_sum AS BIGINT) AS spectral_signed_sum,
       CAST(a.c1_abs AS BIGINT) AS count1_abs_sum,
       CAST(sfs.s AS BIGINT) AS scalefac_sum,
       CAST(x.exp_sum AS BIGINT) AS requant_exp_sum,
       CAST(a.nonzero AS BIGINT) AS nonzero_lines,
       CAST(r.mdb AS BIGINT) AS reservoir_bytes,
       CAST((SELECT sum(gb.p23) FROM granbits gb
              WHERE gb.event_id = e.event_id) AS BIGINT) AS part23_bits
FROM e JOIN agg a ON a.event_id = e.event_id
       JOIN expo x ON x.event_id = e.event_id
       JOIN resv r ON r.event_id = e.event_id
       JOIN sfsum sfs ON sfs.event_id = e.event_id
"""


QUERIES_R11["mp3_decode_short"] = q_mp3_decode_short
ORACLES_R11["mp3_decode_short"] = _mp3_short_oracle_sql()


def q_webp_decode_ext(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VP8L COLOR_TRANSFORM + META PREFIX CODES driver-checked (r11,
    closing two of the r10 verdict's VP8L-corner gates): per event a
    lossless stream from testing/fixtures.make_webp_ext — variant 0
    applies the per-block color transform (planted
    ColorTransformElement bytes, int8 delta math), variant 1 codes
    the image with TWO spatially-varying prefix groups via an entropy
    subimage, variant 2 chains COLOR_TRANSFORM with SUBTRACT_GREEN —
    decoded by operators/webp.py and replayed per-pixel by the
    shared webp_pixel_rule oracle (the transforms must invert to the
    same planted raster as webp_decode)."""
    from ..operators.webp import decode_webp_meta
    from ..testing.fixtures import make_webp_ext

    payloads = synth_docs(
        spark, sf_dir, lambda i: make_webp_ext(i % 1000), residue=6
    )
    return decode_webp_meta(payloads).drop("decode_error")


_WEBP_EXT_ORACLE = f"""
WITH e AS (
  SELECT event_id, event_id % 1000 AS seed,
         10 + (event_id % 1000) % 9 AS w,
         8 + (event_id % 1000) % 7 AS h,
         (event_id % 1000) % 3 AS variant
  FROM events WHERE event_id % {_FLAC_MOD} = 6
),
px AS (
  SELECT e.event_id,
           (e.seed + 11*x.x
            + 17*(y.y - CASE WHEN y.y % 4 = 3 THEN 1 ELSE 0 END))
           % 256
         + (3*e.seed + 7*x.x
            + 5*(y.y - CASE WHEN y.y % 4 = 3 THEN 1 ELSE 0 END))
           % 256
         + (e.seed
            + 13*(y.y - CASE WHEN y.y % 4 = 3 THEN 1 ELSE 0 END)
            + x.x // 3) % 256
         AS v
  FROM e,
       LATERAL (SELECT unnest(range(0, e.h)) AS y) y,
       LATERAL (SELECT unnest(range(0, e.w)) AS x) x
)
SELECT e.event_id AS doc_id,
       CAST(e.w AS INTEGER) AS width,
       CAST(e.h AS INTEGER) AS height,
       CAST(1 AS INTEGER) AS lossless,
       CAST(CASE WHEN e.variant = 0 THEN 1
                 WHEN e.variant = 1 THEN 0
                 ELSE 2 END AS INTEGER) AS n_transforms,
       CAST(p.s AS BIGINT) AS rgb_sum
FROM e JOIN (SELECT event_id, sum(v) AS s FROM px GROUP BY 1) p
  ON p.event_id = e.event_id
"""

QUERIES_R11["webp_decode_ext"] = q_webp_decode_ext
ORACLES_R11["webp_decode_ext"] = _WEBP_EXT_ORACLE


def q_mp3_decode_synth_short(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """SHORT-BLOCK MP3 synthesis driver-checked end-to-end (r11):
    sparse pure-short granules (testing/fixtures.
    mp3_synth_short_granule_rules — nonzero lines only at the three
    (band 0, window w) slots that reorder to single IMDCT-12 inputs,
    each a pure ±2^(E/4) with per-window subblock_gain/scalefactor
    exponents) run the full short synthesis chain — §2.4.3.4
    reorder, three windowed IMDCT-12s overlapped at 6-sample
    offsets, inter-granule overlap-add — and the DuckDB oracle
    recomputes EVERY subband-0 output sample with its own trig in
    the same operation order (2-term IEEE sums are exactly
    commutative; the 1000-seed margin sweep in tests/test_mp3.py
    pins every sample > 2.9e-4 lattice units from a rounding
    boundary)."""
    from ..operators.mp3 import decode_mp3_synth_features
    from ..testing.fixtures import make_mp3

    payloads = synth_docs(
        spark, sf_dir,
        lambda i: make_mp3(i % 1000, n_frames=2 + i % 3, synth_short=True),
        residue=7,
    )
    return decode_mp3_synth_features(payloads).drop("decode_error")


_MP3_SYNTH_SHORT_ORACLE = f"""
WITH e AS (
  SELECT event_id, event_id % 1000 AS seed, 2 + event_id % 3 AS nf
  FROM events WHERE event_id % {_FLAC_MOD} = 7
),
gg AS (
  SELECT e.event_id, e.seed, e.nf, G.G, G.G // 2 AS f, G.G % 2 AS gr
  FROM e, LATERAL (SELECT unnest(range(0, 2*e.nf)) AS G) G
),
par AS (
  SELECT gg.*, 198 + (seed*7 + f*13 + gr*29) % 12 AS g_gain,
         2 * ((seed + f + gr) % 2 + 1) AS mult
  FROM gg
),
-- the three planted (line, window, m) slots; every one is nonzero
contrib AS (
  SELECT par.event_id, par.G, c.w, c.m,
         CASE WHEN (par.seed + par.f + par.gr + c.i) % 2 = 0
              THEN 1.0 ELSE -1.0 END
         * pow(2.0, (par.g_gain - 210
                     - 8*((par.seed + par.f + 2*par.gr + 3*c.w) % 4)
                     - par.mult
                       * ((par.seed + 5*c.w + 17*par.gr
                           + 7*par.f) % 4)) / 4.0) AS xr
  FROM par, (VALUES (0, 0, 0), (5, 1, 1), (9, 2, 1)) c(i, w, m)
),
sv AS (
  SELECT contrib.event_id, contrib.G, j.j,
         sum(CASE WHEN j.j >= 6 + 6*contrib.w
                   AND j.j < 18 + 6*contrib.w THEN
             contrib.xr
             * (cos(pi()/24.0*(2*(j.j - 6 - 6*contrib.w) + 7)
                    *(2*contrib.m + 1))
                * sin(pi()/12.0*((j.j - 6 - 6*contrib.w) + 0.5)))
             ELSE 0.0 END) AS s
  FROM contrib, LATERAL (SELECT unnest(range(0, 36)) AS j) j
  GROUP BY 1, 2, 3
),
o AS (
  SELECT cur.event_id,
         CAST(floor((cur.s + COALESCE(pv.s, 0)) * 10000.0 + 0.5)
              AS BIGINT) AS q
  FROM sv cur LEFT JOIN sv pv
    ON pv.event_id = cur.event_id AND pv.G = cur.G - 1
   AND pv.j = cur.j + 18
  WHERE cur.j < 18
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

QUERIES_R11["mp3_decode_synth_short"] = q_mp3_decode_synth_short
ORACLES_R11["mp3_decode_synth_short"] = _MP3_SYNTH_SHORT_ORACLE


def q_pdf_text_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PDF filter-chain extraction driver-checked (r11): page
    content streams rotate through LZWDecode (real early-change
    encoder), ASCIIHexDecode, ASCII85Decode (encoded by stdlib
    base64.a85encode — an INDEPENDENT encoder, so the decoder is
    cross-validated, not round-tripped against itself) and
    RunLengthDecode, with page 0 chaining [ASCII85Decode,
    FlateDecode] (testing/fixtures.make_pdf_filters). The planted
    words are make_pdf's, so the oracle replays the same closed-form
    counts with the filter-fixture object count (3 + 2*n_pages: no
    indirect /Length object)."""
    from ..operators.pdf import extract_pdf_features
    from ..testing.fixtures import make_pdf_filters

    payloads = synth_docs(
        spark, sf_dir, lambda i: make_pdf_filters(i % 1000), residue=8
    )
    return extract_pdf_features(payloads).drop("extract_error")


_PDF_FILTERS_ORACLE = f"""
WITH e AS (
  SELECT event_id, event_id % 1000 AS seed,
         2 + (event_id % 1000) % 3 AS n_pages
  FROM events WHERE event_id % {_FLAC_MOD} = 8
),
pw AS (
  SELECT e.event_id,
         count(*) AS w,
         sum(CASE WHEN (e.seed*7 + p.p*13 + i.i*3) % 100 < 10
                  THEN 2 ELSE 3 END) AS ch
  FROM e,
       LATERAL (SELECT unnest(range(0, e.n_pages)) AS p) p,
       LATERAL (SELECT unnest(range(0, 5 + (e.seed + p.p) % 7)) AS i) i
  GROUP BY 1
)
SELECT e.event_id AS doc_id,
       CAST(e.n_pages AS INTEGER) AS n_pages,
       CAST(3 + 2*e.n_pages AS INTEGER) AS n_objects,
       CAST(pw.w + 2 AS BIGINT) AS text_words,
       CAST(pw.ch + 5 AS BIGINT) AS word_chars
FROM e JOIN pw ON pw.event_id = e.event_id
"""

QUERIES_R11["pdf_text_filters"] = q_pdf_text_filters
ORACLES_R11["pdf_text_filters"] = _PDF_FILTERS_ORACLE


def q_tiff_decode_tiled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TILED TIFF decode driver-checked (TIFF 6.0 §15): per event a
    40x20 image in 16x16 tiles (edge tiles padded and cropped) —
    grayscale LE LZW + Predictor 2 on even ids, RGB BIG-endian
    PackBits on odd — reassembled by operators/multimodal._parse_tiff
    and replayed per-sample by the planted rule."""
    from ..operators.multimodal import decode_tiff_meta
    from ..testing.fixtures import make_tiff

    payloads = synth_docs(
        spark, sf_dir,
        lambda i: make_tiff(i % 1000, variant=6 + i % 2, w=40, h=20),
        residue=9,
    )
    return decode_tiff_meta(payloads).drop("decode_error")


_TIFF_TILED_ORACLE = f"""
WITH e AS (
  SELECT event_id, event_id % 1000 AS seed,
         CASE WHEN event_id % 2 = 1 THEN 3 ELSE 1 END AS spp
  FROM events WHERE event_id % {_FLAC_MOD} = 9
),
px AS (
  SELECT e.event_id,
         (e.seed + 11*x.x + 17*y.y + 7*c.c) % 256 AS v
  FROM e,
       LATERAL (SELECT unnest(range(0, 20)) AS y) y,
       LATERAL (SELECT unnest(range(0, 40)) AS x) x,
       LATERAL (SELECT unnest(range(0, e.spp)) AS c) c
)
SELECT e.event_id AS doc_id,
       CAST(40 AS INTEGER) AS width,
       CAST(20 AS INTEGER) AS height,
       CAST(e.spp AS INTEGER) AS channels,
       CAST(sum(px.v) AS BIGINT) AS px_sum,
       round(CAST(sum(px.v) AS DOUBLE) / (800.0 * e.spp), 6)
           AS mean_px
FROM e JOIN px ON px.event_id = e.event_id
GROUP BY e.event_id, e.spp
"""

QUERIES_R11["tiff_decode_tiled"] = q_tiff_decode_tiled
ORACLES_R11["tiff_decode_tiled"] = _TIFF_TILED_ORACLE


def q_snappy_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL snappy decode driver-checked end-to-end (r11; the
    Hadoop/Parquet-ecosystem codec): per event a FRAMING-format
    stream (testing/fixtures.make_snappy — compressed + uncompressed
    data chunks with masked CRC-32C verified, padding chunks,
    mid-stream repeated identifiers) whose block payloads come from
    the real greedy hash-table compressor, decoded by
    operators/snappy.py (tag stream: literals, copy-1/2/4,
    byte-serial overlap copies), with the planted per-chunk payload
    rules replayed byte-exactly by the oracle. The CRC-32C
    implementation is pinned against published check vectors in
    tests/test_r11_formats.py."""
    from ..operators.snappy import decode_snappy_meta
    from ..testing.fixtures import make_snappy

    payloads = synth_docs(
        spark, sf_dir, lambda i: make_snappy(i % 1000), residue=2
    )
    # crc32c_payload is pinned by pytest golden vectors; a closed-form
    # SQL replay of CRC-32C would need a 256-entry table fold per byte
    return decode_snappy_meta(payloads).drop("decode_error",
                                             "crc32c_payload")


_SNAPPY_ORACLE = f"""
WITH e AS (
  SELECT event_id, event_id % 1000 AS seed, 2 + (event_id % 1000) % 4 AS nk
  FROM events WHERE event_id % {_FLAC_MOD} = 2
),
ck AS (
  SELECT e.event_id, e.seed, k.k,
         200 + (e.seed*13 + 29*k.k) % 400 AS n
  FROM e, LATERAL (SELECT unnest(range(0, e.nk)) AS k) k
),
-- regime k%3=0: unit-7 repetition; k%3=1: arithmetic bytes;
-- k%3=2: 'tokNN' words joined by spaces, truncated to n
b01 AS (
  SELECT ck.event_id, ck.n AS nb,
         sum(CASE WHEN ck.k % 3 = 0
                  THEN (ck.seed + ck.k + (j.j % 7)) % 256
                  ELSE (ck.seed*31 + ck.k*7 + j.j*11
                        + (j.j*j.j) % 251) % 256 END) AS s
  FROM ck, LATERAL (SELECT unnest(range(0, ck.n)) AS j) j
  WHERE ck.k % 3 < 2
  GROUP BY 1, ck.k, 2
),
txt AS (
  SELECT ck.event_id, ck.k, ck.n,
         left(string_agg('tok' || CAST((ck.seed + ck.k*5 + w.w) % 50
                                       AS VARCHAR), ' '
                         ORDER BY w.w), ck.n) AS s
  FROM ck, LATERAL (SELECT unnest(range(0, ck.n // 6)) AS w) w
  WHERE ck.k % 3 = 2
  GROUP BY 1, 2, 3
),
b2 AS (
  SELECT txt.event_id, length(txt.s) AS nb,
         sum(ord(substr(txt.s, CAST(p.p + 1 AS INTEGER), 1))) AS s
  FROM txt, LATERAL (SELECT unnest(range(0, length(txt.s))) AS p) p
  GROUP BY 1, txt.k, 2
),
allb AS (
  SELECT event_id, nb, s FROM b01
  UNION ALL SELECT event_id, nb, s FROM b2
)
SELECT e.event_id AS doc_id,
       CAST(sum(a.nb) AS BIGINT) AS n_bytes,
       CAST(e.nk AS BIGINT) AS n_data_chunks,
       CAST(e.nk // 2 + CASE WHEN e.seed % 5 = 0 THEN 1 ELSE 0 END
            AS BIGINT) AS n_skipped_chunks,
       CAST(sum(a.s) AS BIGINT) AS byte_sum
FROM e JOIN allb a ON a.event_id = e.event_id
GROUP BY e.event_id, e.nk, e.seed
"""

QUERIES_R11["snappy_extract"] = q_snappy_extract
ORACLES_R11["snappy_extract"] = _SNAPPY_ORACLE


def q_charset_transcode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Charset sniffing + transcoding driver-checked (r11; the
    WHATWG-style crawl front door): per event the same planted text
    serialized in encoding variant seed%6 — UTF-8 bare / UTF-8+BOM /
    UTF-16-LE+BOM / UTF-16-BE+BOM / bare windows-1252 (heuristic
    fallback) / windows-1252 behind an HTML meta charset prescan —
    decoded by operators/charset.py (BOM > header > meta > UTF-16
    zero-stripe > UTF-8 trial > cp1252 fallback ladder), with the
    oracle rebuilding the text character-for-character in SQL and
    replaying encoding/evidence ids, char count, exact codepoint sum
    and the non-ASCII tally."""
    from ..operators.charset import extract_transcoded
    from ..testing.fixtures import make_encoded_doc

    payloads = synth_docs(
        spark, sf_dir, lambda i: make_encoded_doc(i % 1000), residue=0
    )
    return extract_transcoded(payloads).drop("decode_error")


_CHARSET_ORACLE = f"""
WITH e AS (
  SELECT event_id, event_id % 1000 AS seed,
         10 + (event_id % 1000) % 10 AS nw,
         (event_id % 1000) % 6 AS v
  FROM events WHERE event_id % {_FLAC_MOD} = 0
),
toks AS (
  SELECT e.event_id, w.w,
         'w' || CAST((e.seed*7 + 3*w.w) % 100 AS VARCHAR)
         || CASE WHEN w.w % 3 = 0
                 THEN chr(CAST(224 + (e.seed + w.w) % 20 AS INTEGER))
                 ELSE '' END AS tok
  FROM e, LATERAL (SELECT unnest(range(0, e.nw)) AS w) w
),
body AS (
  SELECT t.event_id, string_agg(t.tok, ' ' ORDER BY t.w) AS s
  FROM toks t GROUP BY 1
),
doc AS (
  SELECT e.event_id, e.v, e.nw,
         CASE WHEN e.v = 5 THEN
           '<html><head><meta charset=windows-1252></head><body>'
           || b.s || '</body></html>'
         ELSE b.s END AS s
  FROM e JOIN body b ON b.event_id = e.event_id
),
cps AS (
  SELECT d.event_id,
         sum(ord(substr(d.s, CAST(p.p + 1 AS INTEGER), 1))) AS cp
  FROM doc d, LATERAL (SELECT unnest(range(0, length(d.s))) AS p) p
  GROUP BY 1
)
SELECT d.event_id AS doc_id,
       CAST(CASE WHEN d.v IN (0, 1) THEN 1 WHEN d.v = 2 THEN 2
                 WHEN d.v = 3 THEN 3 ELSE 6 END AS BIGINT)
           AS encoding_id,
       CAST(CASE WHEN d.v = 0 THEN 4 WHEN d.v IN (1, 2, 3) THEN 1
                 WHEN d.v = 4 THEN 6 ELSE 3 END AS BIGINT)
           AS evidence_id,
       CAST(length(d.s) AS BIGINT) AS n_chars,
       CAST(c.cp AS BIGINT) AS cp_sum,
       CAST(0 AS BIGINT) AS n_replacements,
       CAST((d.nw + 2) // 3 AS BIGINT) AS n_non_ascii
FROM doc d JOIN cps c ON c.event_id = d.event_id
"""

QUERIES_R11["charset_transcode"] = q_charset_transcode
ORACLES_R11["charset_transcode"] = _CHARSET_ORACLE


def q_zstd_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL zstd decode driver-checked end-to-end (r11; the dominant
    data-lake / Common Crawl codec): per event a frame set produced
    by *libzstd itself* (pyarrow inside the synth map — levels 1/3/
    9/19, multi-frame + skippable-frame variants, a 4-stream-Huffman
    size regime) is decoded by the pure-Python RFC 8878 path
    (operators/zstd.py: FSE table descriptions, Huffman literals,
    interleaved sequence states, repeat offsets, XXH64 checksums),
    and the oracle replays the planted content rules in closed form.
    Cross-validation, not self-round-trip: libzstd wrote the bytes."""
    from ..operators.zstd import decode_zstd_meta
    from ..testing.fixtures import make_zstd

    payloads = synth_docs(
        spark, sf_dir, lambda i: make_zstd(i % 1000), residue=4
    )
    return decode_zstd_meta(payloads).drop("decode_error")


_ZSTD_ORACLE = f"""
WITH e AS (
  SELECT event_id, event_id % 1000 AS seed,
         180 + (event_id % 1000) % 120
           + CASE WHEN (event_id % 1000) % 5 = 4 THEN 1400 ELSE 0 END
           AS n_a,
         40 + (event_id % 1000) % 30 AS n_t
  FROM events WHERE event_id % {_FLAC_MOD} = 4
),
sums AS (
  SELECT e.event_id,
         (SELECT sum((5*e.seed + 13*i.i) % 251)
          FROM (SELECT unnest(range(0, e.n_a)) AS i) i) AS s_a,
         (SELECT sum((7*e.seed + 17*i.i) % 253)
          FROM (SELECT unnest(range(0, e.n_t)) AS i) i) AS s_t
  FROM e
)
SELECT e.event_id AS doc_id,
       CAST(CASE WHEN e.seed % 3 = 0 THEN 2 ELSE 1 END AS INTEGER)
           AS n_frames,
       CAST(3*e.n_a + e.n_t AS BIGINT) AS content_len,
       CAST(3*s.s_a + s.s_t AS BIGINT) AS content_sum
FROM e JOIN sums s ON s.event_id = e.event_id
"""

QUERIES_R11["zstd_extract"] = q_zstd_extract
ORACLES_R11["zstd_extract"] = _ZSTD_ORACLE


def q_webdataset_zst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``.tar.zst`` WebDataset shard chain driver-checked (r11): the
    r10 WebDataset fixture (real ustar members, real baseline JPEGs)
    is compressed by *libzstd* (pyarrow, level cycling 1/3/9/19) in
    the synth map; the query then chains the pure-Python RFC 8878
    unwrap (operators/zstd.py) into the existing tar/JPEG sample
    walker (operators/tar.decode_webdataset) — the exact read path a
    training loader uses on zstd-compressed shards.  Both maps are
    Arrow mapInPandas; no shuffle enters the chain.  Lane
    id % 10 == 9."""
    from ..operators.tar import decode_webdataset
    from ..operators.zstd import unwrap_zstd
    from ..testing.fixtures import make_webdataset

    def make(i: int) -> bytes:
        import pyarrow as _pa

        seed = i % 1000
        codec = _pa.Codec("zstd", compression_level=[1, 3, 9, 19][seed % 4])
        return codec.compress(make_webdataset(seed), asbytes=True)

    shards = synth_docs(spark, sf_dir, make, residue=9)
    return decode_webdataset(unwrap_zstd(shards).drop("decode_error"))


def _webdataset_zst_oracle_sql() -> str:
    from ..testing.fixtures import (
        JPEG_AC_TEMPLATES,
        jpeg_template_round_sums,
    )

    rs = jpeg_template_round_sums()
    n_t = len(JPEG_AC_TEMPLATES)
    rs_arr = "[" + ", ".join(f"{v}::BIGINT" for v in rs) + "]"
    return f"""
WITH e AS (
  SELECT event_id, event_id % 1000 AS seed, 2 + event_id % 1000 % 3 AS n
  FROM events WHERE event_id % {_FLAC_MOD} = 9
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


QUERIES_R11["webdataset_zst"] = q_webdataset_zst
ORACLES_R11["webdataset_zst"] = _webdataset_zst_oracle_sql()


def q_parquet_footer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet footer introspection driver-checked (r11): per event a
    REAL parquet file written by parquet-cpp (pyarrow in the synth
    map — codecs none/snappy/gzip/zstd, dictionary on/off, 40-row
    row groups) whose footer is parsed by the pure-Python Thrift
    compact protocol walker (operators/parquet_raw.py), and the
    oracle replays row counts, layout and the first-INT64-column
    min/max statistics in closed form.  The same reader round-trips
    the driver's own /root/testdata tables in pytest.  Lane
    id % 10 == 1."""
    from ..operators.parquet_raw import decode_parquet_meta
    from ..testing.fixtures import make_parquet_file

    payloads = synth_docs(
        spark, sf_dir, lambda i: make_parquet_file(i % 1000), residue=1
    )
    return decode_parquet_meta(payloads).drop("decode_error")


_PARQUET_FOOTER_ORACLE = f"""
WITH e AS (
  SELECT event_id, event_id % 1000 AS seed,
         50 + (event_id % 1000) % 100 AS n
  FROM events WHERE event_id % {_FLAC_MOD} = 1
),
vals AS (
  SELECT e.event_id,
         min((e.seed*7 + 11*i.i) % 1000) AS mn,
         max((e.seed*7 + 11*i.i) % 1000) AS mx
  FROM e, LATERAL (SELECT unnest(range(0, e.n)) AS i) i
  WHERE i.i % 9 <> 8
  GROUP BY 1
)
SELECT e.event_id AS doc_id,
       CAST(e.n AS BIGINT) AS num_rows,
       CAST((e.n + 39) // 40 AS INTEGER) AS n_row_groups,
       CAST(2 AS INTEGER) AS n_leaf_columns,
       CAST(2 * e.n AS BIGINT) AS chunk_values_sum,
       CAST(CASE e.seed % 4 WHEN 0 THEN 0 WHEN 1 THEN 1
                            WHEN 2 THEN 2 ELSE 6 END AS INTEGER)
           AS codec_id,
       CAST(v.mn AS BIGINT) AS stat_min_i64,
       CAST(v.mx AS BIGINT) AS stat_max_i64
FROM e JOIN vals v ON v.event_id = e.event_id
"""

QUERIES_R11["parquet_footer"] = q_parquet_footer
ORACLES_R11["parquet_footer"] = _PARQUET_FOOTER_ORACLE


def q_parquet_scan_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw parquet COLUMN materialization driver-checked (r11): the
    same parquet-cpp files as ``parquet_footer``, but the query reads
    the planted int64 column straight from the page bytes —
    page-header thrift, RLE/bit-packed definition levels, PLAIN or
    RLE_DICTIONARY values, pages decompressed by the engine's own
    snappy/zstd/gzip byte paths — and the oracle replays count /
    null-count / sum in closed form.  Lane id % 10 == 3."""
    from ..operators.parquet_raw import decode_parquet_column_sum
    from ..testing.fixtures import make_parquet_file

    payloads = synth_docs(
        spark, sf_dir, lambda i: make_parquet_file(i % 1000), residue=3
    )
    return decode_parquet_column_sum(payloads, "v").drop("decode_error")


_PARQUET_SCAN_ORACLE = f"""
WITH e AS (
  SELECT event_id, event_id % 1000 AS seed,
         50 + (event_id % 1000) % 100 AS n
  FROM events WHERE event_id % {_FLAC_MOD} = 3
),
vals AS (
  SELECT e.event_id,
         sum(CASE WHEN i.i % 9 = 8 THEN 0
                  ELSE (e.seed*7 + 11*i.i) % 1000 END) AS s,
         sum(CASE WHEN i.i % 9 = 8 THEN 1 ELSE 0 END) AS nn
  FROM e, LATERAL (SELECT unnest(range(0, e.n)) AS i) i
  GROUP BY 1
)
SELECT e.event_id AS doc_id,
       CAST(e.n AS BIGINT) AS n_values,
       CAST(v.nn AS BIGINT) AS n_nulls,
       CAST(v.s AS BIGINT) AS value_sum
FROM e JOIN vals v ON v.event_id = e.event_id
"""

QUERIES_R11["parquet_scan_raw"] = q_parquet_scan_raw
ORACLES_R11["parquet_scan_raw"] = _PARQUET_SCAN_ORACLE


def q_orc_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC metadata introspection driver-checked (r11): per event a
    REAL ORC file written by the Apache ORC C++ writer (pyarrow in
    the synth map — codecs uncompressed/zlib/snappy/lz4/zstd, the
    compressed chunks decoded by the engine's own byte paths), whose
    postscript/footer protobufs are read by the deterministic wire
    reader (operators/orc_meta.py), and the oracle replays row
    counts, type-tree size, codec id and the signed
    IntegerStatistics min/max/sum in closed form.  Lane
    id % 10 == 5."""
    from ..operators.orc_meta import decode_orc_meta
    from ..testing.fixtures import make_orc_file

    payloads = synth_docs(
        spark, sf_dir, lambda i: make_orc_file(i % 1000), residue=5
    )
    return decode_orc_meta(payloads).drop("decode_error")


_ORC_META_ORACLE = f"""
WITH e AS (
  SELECT event_id, event_id % 1000 AS seed,
         100 + (event_id % 1000) % 200 AS n
  FROM events WHERE event_id % {_FLAC_MOD} = 5
),
vals AS (
  SELECT e.event_id,
         min((e.seed*11 + 13*i.i) % 5000 - 1000) AS mn,
         max((e.seed*11 + 13*i.i) % 5000 - 1000) AS mx,
         sum((e.seed*11 + 13*i.i) % 5000 - 1000) AS s
  FROM e, LATERAL (SELECT unnest(range(0, e.n)) AS i) i
  WHERE i.i % 11 <> 10
  GROUP BY 1
)
SELECT e.event_id AS doc_id,
       CAST(e.n AS BIGINT) AS num_rows,
       CAST(1 AS INTEGER) AS n_stripes,
       CAST(CASE e.seed % 5 WHEN 0 THEN 0 WHEN 1 THEN 1 WHEN 2 THEN 2
                            WHEN 3 THEN 4 ELSE 5 END AS INTEGER)
           AS compression_id,
       CAST(3 AS INTEGER) AS n_types,
       CAST(e.n AS BIGINT) AS stripe_rows_sum,
       CAST(v.mn AS BIGINT) AS int_min,
       CAST(v.mx AS BIGINT) AS int_max,
       CAST(v.s AS BIGINT) AS int_sum
FROM e JOIN vals v ON v.event_id = e.event_id
"""

QUERIES_R11["orc_meta"] = q_orc_meta
ORACLES_R11["orc_meta"] = _ORC_META_ORACLE


def q_avro_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Avro object-container decode driver-checked (r11): per event a
    container with planted records (nullable-union longs, strings,
    25-record blocks, codecs null/deflate/snappy with the big-endian
    CRC-32 suffix) is decoded by the schema-directed binary reader
    (operators/avro.py — container grammar and primitives pinned
    against the Avro spec's worked examples in tests/test_avro.py),
    and the oracle replays record/block/null counts and sums in
    closed form.  Lane id % 10 == 7."""
    from ..operators.avro import decode_avro_meta
    from ..testing.fixtures import make_avro

    payloads = synth_docs(
        spark, sf_dir, lambda i: make_avro(i % 1000), residue=7
    )
    return decode_avro_meta(payloads, "u", "label").drop("decode_error")


_AVRO_ORACLE = f"""
WITH e AS (
  SELECT event_id, event_id % 1000 AS seed,
         60 + (event_id % 1000) % 90 AS n
  FROM events WHERE event_id % {_FLAC_MOD} = 7
),
vals AS (
  SELECT e.event_id,
         sum(CASE WHEN i.i % 6 = 5 THEN 0
                  ELSE (e.seed + 3*i.i) % 500 END) AS us,
         sum(CASE WHEN i.i % 6 = 5 THEN 1 ELSE 0 END) AS nn,
         sum(3 + length(CAST((e.seed + i.i) % 23 AS VARCHAR))) AS sb
  FROM e, LATERAL (SELECT unnest(range(0, e.n)) AS i) i
  GROUP BY 1
)
SELECT e.event_id AS doc_id,
       CAST(e.n AS BIGINT) AS n_records,
       CAST((e.n + 24) // 25 AS INTEGER) AS n_blocks,
       CAST(e.seed % 3 AS INTEGER) AS codec_id,
       CAST(v.us AS BIGINT) AS long_sum,
       CAST(v.sb AS BIGINT) AS str_bytes,
       CAST(v.nn AS BIGINT) AS n_nulls
FROM e JOIN vals v ON v.event_id = e.event_id
"""

QUERIES_R11["avro_decode"] = q_avro_decode
ORACLES_R11["avro_decode"] = _AVRO_ORACLE


def q_iceberg_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg snapshot walk driver-checked (r11): per event a
    metadata bundle (metadata.json + Avro manifest list + Avro
    manifests in a checksummed tar standing in for the object
    store) is resolved current-snapshot-first through THREE engine
    byte paths chained — tar walk, JSON, schema-directed Avro —
    dropping DELETED entries exactly like a scan planner, and the
    oracle replays the live-file inventory in closed form.  A stale
    snapshot is planted to force real id resolution.  Lane
    id % 10 == 8."""
    from ..operators.iceberg import decode_iceberg_snapshot
    from ..testing.fixtures import make_iceberg

    payloads = synth_docs(
        spark, sf_dir, lambda i: make_iceberg(i % 1000), residue=8
    )
    return decode_iceberg_snapshot(payloads).drop("decode_error")


_ICEBERG_ORACLE = f"""
WITH e AS (
  SELECT event_id, event_id % 1000 AS seed,
         1 + (event_id % 1000) % 3 AS nm
  FROM events WHERE event_id % {_FLAC_MOD} = 8
),
entries AS (
  SELECT e.event_id, e.seed, e.nm, m.m, f.f,
         (e.seed + m.m + f.f) % 5 = 4 AS deleted,
         100 + (e.seed*7 + 31*m.m + 13*f.f) % 900 AS rc,
         1000 + (e.seed*11 + 17*m.m + 7*f.f) % 9000 AS fs
  FROM e,
       LATERAL (SELECT unnest(range(0, e.nm)) AS m) m,
       LATERAL (SELECT unnest(range(0, 2 + (e.seed + m.m) % 4)) AS f) f
)
SELECT en.event_id AS doc_id,
       CAST(1000 + en.seed AS BIGINT) AS snapshot_id,
       CAST(en.nm AS INTEGER) AS n_manifests,
       CAST(sum(CASE WHEN en.deleted THEN 0 ELSE 1 END) AS INTEGER)
           AS n_live_files,
       CAST(sum(CASE WHEN en.deleted THEN 1 ELSE 0 END) AS INTEGER)
           AS n_deleted_files,
       CAST(sum(CASE WHEN en.deleted THEN 0 ELSE en.rc END) AS BIGINT)
           AS total_records,
       CAST(sum(CASE WHEN en.deleted THEN 0 ELSE en.fs END) AS BIGINT)
           AS total_bytes
FROM entries en
GROUP BY en.event_id, en.seed, en.nm
"""

QUERIES_R11["iceberg_snapshot"] = q_iceberg_snapshot
ORACLES_R11["iceberg_snapshot"] = _ICEBERG_ORACLE


def q_delta_log_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-style transaction-log fold driver-checked (r11): every
    event becomes one JSON action line (add or remove, built
    JVM-side with format_string — no Python anywhere in this query),
    and operators/lakehouse.delta_log_snapshot reconciles per-table
    live file sets with the protocol's latest-action-wins replay
    rule (from_json + window argmax + hash aggregation, fully
    declarative).  The oracle replays the same fold with SQL window
    functions."""
    from ..operators.lakehouse import delta_log_snapshot

    e = load_events(spark, sf_dir).select("event_id")
    log = e.select(
        (F.col("event_id") % 37).cast("long").alias("table_id"),
        F.col("event_id").cast("long").alias("version"),
        F.when(
            (F.col("event_id") % 1000) % 4 == 3,
            F.format_string(
                '{"remove":{"path":"f%d","deletionTimestamp":1}}',
                (F.col("event_id") / F.lit(37)).cast("long") % 25),
        ).otherwise(
            F.format_string(
                '{"add":{"path":"f%d","size":%d,"dataChange":true}}',
                (F.col("event_id") / F.lit(37)).cast("long") % 25,
                F.lit(10) + (F.col("event_id") % 1000) % 90),
        ).alias("line"),
    )
    return delta_log_snapshot(log)


_DELTA_ORACLE = """
WITH log AS (
  SELECT event_id % 37 AS table_id,
         event_id AS version,
         (event_id // 37) % 25 AS path_id,
         (event_id % 1000) % 4 = 3 AS is_remove,
         10 + (event_id % 1000) % 90 AS sz
  FROM events
),
latest AS (
  SELECT table_id, path_id, is_remove, sz,
         row_number() OVER (PARTITION BY table_id, path_id
                            ORDER BY version DESC) AS rn
  FROM log
),
live AS (
  SELECT table_id,
         sum(CASE WHEN NOT is_remove THEN 1 ELSE 0 END) AS n_live,
         sum(CASE WHEN NOT is_remove THEN sz ELSE 0 END) AS lb
  FROM latest WHERE rn = 1 GROUP BY 1
),
tot AS (
  SELECT table_id, max(version) AS lv, count(*) AS na
  FROM log GROUP BY 1
)
SELECT t.table_id,
       CAST(coalesce(l.n_live, 0) AS BIGINT) AS n_live_files,
       CAST(coalesce(l.lb, 0) AS BIGINT) AS live_bytes,
       CAST(t.lv AS BIGINT) AS last_version,
       CAST(t.na AS BIGINT) AS n_actions
FROM tot t LEFT JOIN live l ON l.table_id = t.table_id
"""

QUERIES_R11["delta_log_snapshot"] = q_delta_log_snapshot
ORACLES_R11["delta_log_snapshot"] = _DELTA_ORACLE


def q_warc_zstd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``.warc.zst`` chain driver-checked (r11; the Common Crawl
    export format): a plain WARC archive (the r10 fixture's
    concatenated layout) is split at a frame boundary and compressed
    as TWO independent zstd frames by libzstd (pyarrow in the synth
    map) behind a skippable frame standing in the spec's dictionary
    slot — exactly the multi-frame shape real ``.warc.zst`` readers
    see — then the query chains the RFC 8878 unwrap into the full
    WARC record/HTTP parser.  Lane id % 10 == 6 (seed remapped to
    the fixture's plain layout: ``2*(seed % 500) + 1``)."""
    from ..operators.warc import extract_warc_features
    from ..operators.zstd import unwrap_zstd
    from ..testing.fixtures import make_warc

    def make(i: int) -> bytes:
        import pyarrow as _pa

        seed = i % 1000
        plain = make_warc(2 * (seed % 500) + 1)
        codec = _pa.Codec("zstd", compression_level=[1, 3, 9, 19][seed % 4])
        cut = len(plain) // 2
        skip = ((0x184D2A5D).to_bytes(4, "little")
                + (4).to_bytes(4, "little") + b"DICT")
        return (skip + codec.compress(plain[:cut], asbytes=True)
                + codec.compress(plain[cut:], asbytes=True))

    shards = synth_docs(spark, sf_dir, make, residue=6)
    return extract_warc_features(
        unwrap_zstd(shards).drop("decode_error")).drop("decode_error")


_WARC_ZSTD_ORACLE = f"""
WITH e AS (
  SELECT event_id,
         2*((event_id % 1000) % 500) + 1 AS seed,
         2 + (2*((event_id % 1000) % 500) + 1) % 3 AS n
  FROM events WHERE event_id % {_FLAC_MOD} = 6
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

QUERIES_R11["warc_zstd"] = q_warc_zstd
ORACLES_R11["warc_zstd"] = _WARC_ZSTD_ORACLE


def q_orc_scan_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw ORC COLUMN materialization driver-checked (r11): the same
    Apache-ORC-written files as ``orc_meta``, but the query decodes
    the planted int64 column from the stripe bytes — stripe-footer
    protobufs, PRESENT boolean-RLE (planted nulls), RLEv2
    SHORT_REPEAT/DIRECT/DELTA/PATCHED_BASE runs, chunks decompressed
    by the engine's own zlib/snappy/lz4/zstd paths — and the oracle
    replays count / null-count / sum in closed form.  Lane
    id % 10 == 2 (shared payload rules with lane-5 ``orc_meta``)."""
    from ..operators.orc_meta import decode_orc_column_sum
    from ..testing.fixtures import make_orc_file

    payloads = synth_docs(
        spark, sf_dir, lambda i: make_orc_file(i % 1000), residue=2
    )
    return decode_orc_column_sum(payloads, "v").drop("decode_error")


_ORC_SCAN_ORACLE = f"""
WITH e AS (
  SELECT event_id, event_id % 1000 AS seed,
         100 + (event_id % 1000) % 200 AS n
  FROM events WHERE event_id % {_FLAC_MOD} = 2
),
vals AS (
  SELECT e.event_id,
         sum(CASE WHEN i.i % 11 = 10 THEN 0
                  ELSE (e.seed*11 + 13*i.i) % 5000 - 1000 END) AS s,
         sum(CASE WHEN i.i % 11 = 10 THEN 1 ELSE 0 END) AS nn
  FROM e, LATERAL (SELECT unnest(range(0, e.n)) AS i) i
  GROUP BY 1
)
SELECT e.event_id AS doc_id,
       CAST(e.n AS BIGINT) AS n_values,
       CAST(v.nn AS BIGINT) AS n_nulls,
       CAST(v.s AS BIGINT) AS value_sum
FROM e JOIN vals v ON v.event_id = e.event_id
"""

QUERIES_R11["orc_scan_raw"] = q_orc_scan_raw
ORACLES_R11["orc_scan_raw"] = _ORC_SCAN_ORACLE


def q_orc_scan_strings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw ORC STRING column materialization driver-checked (r11):
    the shared ORC fixture's ``w`` column decoded from LENGTH/DATA
    streams (DIRECT_V2, even seeds) or index/LENGTH/DICTIONARY_DATA
    streams (DICTIONARY_V2, odd seeds — forced via the writer's
    dictionary threshold), and the oracle replays count / distinct /
    character tally in closed form.  Lane id % 10 == 3."""
    from ..operators.orc_meta import decode_orc_string_sum
    from ..testing.fixtures import make_orc_file

    payloads = synth_docs(
        spark, sf_dir, lambda i: make_orc_file(i % 1000), residue=3
    )
    return decode_orc_string_sum(payloads, "w").drop("decode_error")


_ORC_STR_ORACLE = f"""
WITH e AS (
  SELECT event_id, event_id % 1000 AS seed,
         100 + (event_id % 1000) % 200 AS n
  FROM events WHERE event_id % {_FLAC_MOD} = 3
),
toks AS (
  SELECT e.event_id, (e.seed*3 + 7*i.i) % 29 AS t
  FROM e, LATERAL (SELECT unnest(range(0, e.n)) AS i) i
)
SELECT e.event_id AS doc_id,
       CAST(e.n AS BIGINT) AS n_values,
       CAST((SELECT count(DISTINCT t.t) FROM toks t
              WHERE t.event_id = e.event_id) AS BIGINT) AS n_distinct,
       CAST((SELECT sum(3 + length(CAST(t.t AS VARCHAR))) FROM toks t
              WHERE t.event_id = e.event_id) AS BIGINT) AS char_sum
FROM e
"""

QUERIES_R11["orc_scan_strings"] = q_orc_scan_strings
ORACLES_R11["orc_scan_strings"] = _ORC_STR_ORACLE


def q_arrow_ipc_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow IPC (Feather v2) decode driver-checked (r11): per event
    real pyarrow-written IPC bytes (FILE format on even seeds with
    the trailing FlatBuffers footer, STREAM format on odd; bodies
    raw / zstd / lz4 — compressed buffers inflate through the
    engine's own frame decoders) are walked by the from-scratch
    FlatBuffers reader (operators/arrow_ipc.py: vtables, unions,
    struct vectors, record-batch buffer assembly), and the oracle
    replays layout and the nullable int column's count/nulls/sum in
    closed form.  Lane id % 10 == 0."""
    from ..operators.arrow_ipc import decode_arrow_meta
    from ..testing.fixtures import make_arrow_ipc

    payloads = synth_docs(
        spark, sf_dir, lambda i: make_arrow_ipc(i % 1000), residue=0
    )
    return decode_arrow_meta(payloads, "v").drop("decode_error")


_ARROW_ORACLE = f"""
WITH e AS (
  SELECT event_id, event_id % 1000 AS seed,
         80 + (event_id % 1000) % 150 AS n
  FROM events WHERE event_id % {_FLAC_MOD} = 0
),
vals AS (
  SELECT e.event_id,
         sum(CASE WHEN i.i % 8 = 7 THEN 0
                  ELSE (e.seed*5 + 9*i.i) % 3000 - 500 END) AS s,
         sum(CASE WHEN i.i % 8 = 7 THEN 1 ELSE 0 END) AS nn
  FROM e, LATERAL (SELECT unnest(range(0, e.n)) AS i) i
  GROUP BY 1
)
SELECT e.event_id AS doc_id,
       CAST(e.n AS BIGINT) AS num_rows,
       CAST((e.n + 39) // 40 AS INTEGER) AS n_batches,
       CAST(2 AS INTEGER) AS n_fields,
       CAST(e.n AS BIGINT) AS n_values,
       CAST(v.nn AS BIGINT) AS n_nulls,
       CAST(v.s AS BIGINT) AS value_sum
FROM e JOIN vals v ON v.event_id = e.event_id
"""

QUERIES_R11["arrow_ipc_scan"] = q_arrow_ipc_scan
ORACLES_R11["arrow_ipc_scan"] = _ARROW_ORACLE


def q_parquet_scan_lists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet LIST column assembly driver-checked (r11): per event a
    parquet-cpp file whose one-level list column (null lists, empty
    lists, null elements planted) is rebuilt from the repetition/
    definition level streams by the Dremel record assembler
    (operators/parquet_raw.parquet_read_list_column — v1 AND v2
    pages, snappy/zstd, dictionary on/off), and the oracle replays
    every tally in closed form.  Lane id % 10 == 1."""
    from ..operators.parquet_raw import decode_parquet_list_sum
    from ..testing.fixtures import make_parquet_lists

    payloads = synth_docs(
        spark, sf_dir, lambda i: make_parquet_lists(i % 1000), residue=1
    )
    return decode_parquet_list_sum(payloads, "v").drop("decode_error")


_PARQUET_LISTS_ORACLE = f"""
WITH e AS (
  SELECT event_id, event_id % 1000 AS seed,
         60 + (event_id % 1000) % 120 AS n
  FROM events WHERE event_id % {_FLAC_MOD} = 1
),
rows_ AS (
  SELECT e.event_id, e.seed, i.i,
         (e.seed + 3*i.i) % 6 AS kind,
         1 + (e.seed + i.i) % 4 AS len
  FROM e, LATERAL (SELECT unnest(range(0, e.n)) AS i) i
),
elems AS (
  SELECT r.event_id, r.i, j.j,
         (r.i + j.j) % 7 = 6 AS isnull,
         (r.seed*7 + 13*r.i + 5*j.j) % 2000 - 300 AS v
  FROM rows_ r, LATERAL (SELECT unnest(range(0, r.len)) AS j) j
  WHERE r.kind >= 2
)
SELECT e.event_id AS doc_id,
       CAST(e.n AS BIGINT) AS n_rows,
       CAST((SELECT count(*) FROM rows_ r
              WHERE r.event_id = e.event_id AND r.kind = 0)
            AS BIGINT) AS n_null_lists,
       CAST((SELECT count(*) FROM rows_ r
              WHERE r.event_id = e.event_id AND r.kind = 1)
            AS BIGINT) AS n_empty_lists,
       CAST(coalesce((SELECT count(*) FROM elems x
              WHERE x.event_id = e.event_id), 0) AS BIGINT) AS n_elems,
       CAST(coalesce((SELECT count(*) FROM elems x
              WHERE x.event_id = e.event_id AND x.isnull), 0)
            AS BIGINT) AS n_null_elems,
       CAST(coalesce((SELECT sum(x.v) FROM elems x
              WHERE x.event_id = e.event_id AND NOT x.isnull), 0)
            AS BIGINT) AS elem_sum
FROM e
"""

QUERIES_R11["parquet_scan_lists"] = q_parquet_scan_lists
ORACLES_R11["parquet_scan_lists"] = _PARQUET_LISTS_ORACLE


def q_iceberg_scan_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL lakehouse read path driver-checked (r11): per event an
    Iceberg bundle whose manifests reference REAL parquet-cpp data
    files; the query resolves the current snapshot, reads Avro
    manifests, validates each live file's manifest record_count
    against its thrift footer, and sums the data column through the
    raw page reader — FIVE engine byte paths chained (tar, JSON,
    Avro, Thrift, RLE/PLAIN pages with snappy/zstd), zero reader
    libraries.  The oracle replays the live inventory and column sum
    in closed form.  Lane id % 10 == 4."""
    from ..operators.iceberg import decode_iceberg_scan
    from ..testing.fixtures import make_iceberg_scan_bundle

    payloads = synth_docs(
        spark, sf_dir, lambda i: make_iceberg_scan_bundle(i % 1000), residue=4
    )
    return decode_iceberg_scan(payloads, "v").drop("decode_error")


_ICEBERG_SCAN_ORACLE = f"""
WITH e AS (
  SELECT event_id, event_id % 1000 AS seed,
         1 + (event_id % 1000) % 2 AS nm
  FROM events WHERE event_id % {_FLAC_MOD} = 4
),
live AS (
  SELECT e.event_id, e.seed, m.m, f.f,
         30 + (e.seed*5 + 7*m.m + 11*f.f) % 50 AS n
  FROM e,
       LATERAL (SELECT unnest(range(0, e.nm)) AS m) m,
       LATERAL (SELECT unnest(range(0, 2 + (e.seed + m.m) % 3)) AS f) f
  WHERE (e.seed + m.m + f.f) % 4 <> 3
),
sums AS (
  SELECT lv.event_id,
         count(*) AS nl,
         sum(lv.n) AS recs,
         sum((SELECT sum((lv.seed*3 + 17*lv.m + 23*lv.f + 9*i.i) % 1000)
              FROM (SELECT unnest(range(0, lv.n)) AS i) i)) AS vs
  FROM live lv GROUP BY 1
)
SELECT e.event_id AS doc_id,
       CAST(5000 + e.seed AS BIGINT) AS snapshot_id,
       CAST(s.nl AS INTEGER) AS n_live_files,
       CAST(s.recs AS BIGINT) AS records_manifest,
       CAST(s.recs AS BIGINT) AS records_footer,
       CAST(0 AS INTEGER) AS n_mismatches,
       CAST(s.vs AS BIGINT) AS value_sum
FROM e JOIN sums s ON s.event_id = e.event_id
"""

QUERIES_R11["iceberg_scan_chain"] = q_iceberg_scan_chain
ORACLES_R11["iceberg_scan_chain"] = _ICEBERG_SCAN_ORACLE


def q_msgpack_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MessagePack decode driver-checked (r11; the third schema-less
    serialization next to CBOR and protobuf): planted documents
    exercising fixints, int8, over-wide uint32/uint64, fixstr/str8,
    fixarray/array16, nested fixmaps, bin8, fixext4, float64 and
    both booleans (testing/fixtures.make_msgpack), decoded by the
    full-tag-space reader (operators/msgpack.py), with the oracle
    replaying integer sums, key/text chars, and structure tallies.
    Lane id % 10 == 9."""
    from ..operators.msgpack import extract_msgpack_features
    from ..testing.fixtures import make_msgpack

    payloads = synth_docs(
        spark, sf_dir, lambda i: make_msgpack(i % 1000), residue=9
    )
    return extract_msgpack_features(payloads).drop("extract_error")


_MSGPACK_ORACLE = f"""
WITH e AS (
  SELECT event_id, event_id % 1000 AS seed,
         2 + (event_id % 1000) % 4 AS n
  FROM events WHERE event_id % {_FLAC_MOD} = 9
),
it AS (
  SELECT e.event_id, sum((e.seed*7 + i.i) % 1000) AS vsum
  FROM e, LATERAL (SELECT unnest(range(0, e.n)) AS i) i
  GROUP BY 1
)
SELECT e.event_id AS doc_id,
       CAST(e.seed - (1 + e.seed % 50) + it.vsum
            + 4294967296 + e.seed % 100000 AS BIGINT) AS int_sum,
       CAST(33 + length(CAST((3*e.seed) % 100 AS VARCHAR))
            AS BIGINT) AS text_chars,
       CAST(1 AS INTEGER) AS n_arrays,
       CAST(2 AS INTEGER) AS n_maps,
       CAST(1 AS INTEGER) AS n_exts,
       CAST(CASE WHEN e.seed % 2 = 0 THEN 1 ELSE 0 END AS INTEGER)
           AS n_true,
       CAST(5 + e.seed % 9 AS BIGINT) AS bin_bytes,
       CAST(1 AS INTEGER) AS n_floats,
       CAST(3 AS INTEGER) AS depth_max
FROM e JOIN it ON it.event_id = e.event_id
"""

QUERIES_R11["msgpack_decode"] = q_msgpack_decode
ORACLES_R11["msgpack_decode"] = _MSGPACK_ORACLE
