"""Driver queries: the round-9 batch (compressed-audio close-outs).

- ``flac_decode_lpc`` — high-order LPC FLAC decode driver-checked:
  order-8 and order-4 quantized predictors with sign-varying
  coefficient histories (the `flac -8` shape) and Rice partition
  orders 2/1, closing the one codec corner the r8 verdict flagged as
  synthetic-only (SURVEY §2.12 FLAC row). FLAC is lossless, so the
  oracle replays the planted sample rule exactly — a green row
  proves the quantized-dot-product floor shift, the multi-partition
  residual path, and the per-partition Rice parameters all
  reconstruct the true samples.
- ``wav_decode_g711`` — mu-law / A-law telephony WAV plus 24-bit PCM
  (operators/multimodal._parse_wav, r9): exact closed-form G.711
  expansions replayed by the oracle in pure integer SQL.
- ``vorbis_decode`` — the Ogg/Vorbis byte path (operators/vorbis,
  r9): Ogg CRC framing with page-spanning packets, self-describing
  codebooks with canonical Huffman assignment, floor1 integer
  amplitude synthesis, residue VQ accumulation; the oracle replays
  the §7.2.4 integer synthesis and VQ bit-count sums in SQL.
- ``png_decode_ext`` — 16-bit samples, 1/2/4/8-bit palette images
  and Adam7 interlacing (``_parse_png``, r9 widened); exact BIGINT
  pixel sums against the planted rules.
- ``gif_decode_ext`` — local color tables, interlaced frames,
  partial-canvas compositing (``_parse_gif``, r9 widened) and
  disposal 3 restore-to-previous (r10); the oracle derives each
  pixel's VISIBLE writer from the nested rect geometry (frame 2's
  write reverts after display).
- ``jpeg_decode_12bit`` — 12-bit extended-sequential JPEG (SOF1,
  level shift 2048, uint16 raster); the oracle is the jpeg_decode
  integer arithmetic with the DC term at 64*(2048+dc).
- ``vorbis_decode_stereo`` — stereo Vorbis with square-polar channel
  coupling (§4.3.5 inverse, exact integers): interleaved type-2
  residue + per-channel floors; the oracle replays the interleave
  and the coupling CASE arithmetic.
- ``wav_decode_adpcm`` — mono IMA/DVI ADPCM (fmt 0x11) with the
  reference nibble recursion (audioop-validated); the oracle unrolls
  all 8 per-block recursion steps in SQL.
- ``wav_decode_float`` — IEEE float32 (Q15-exact scale) and
  WAVE_FORMAT_EXTENSIBLE unwrapping; planted multiples of 2**-15
  make one integer oracle cover all variants.

Scale notes: Arrow ``mapInPandas`` synth and decode passes per query,
ids hash-spread across cores (``synth_docs``/``_spread``); per-payload
cost, embarrassingly parallel at any corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.testdata import load_events
from .driver_queries_analytics import _FLAC_MOD, _spread, synth_docs

QUERIES_R9: dict = {}
ORACLES_R9: dict[str, str] = {}


def q_flac_decode_lpc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """High-order LPC FLAC driver-checked (r9): blocks cycle
    (lpc8, lpc4, lpc) — order-8 [26,-39,42,-38,28,-17,8,-2]>>5 with
    Rice partition order 2, order-4 [7,-6,2,-1]>>2 with partition
    order 1, order-2 [3,-1]>>1 — so every frame exercises the
    quantized-coefficient dot product with the arithmetic FLOOR
    shift (RFC 9639 §9.2.5) and the multi-partition residual decode
    (§9.2.7: per-partition parameters, first partition short by
    `order`). All three kinds plant the WAV sample rule, so the
    oracle is the rule's RMS — lossless equality, exact to the
    formatted 1e-6 digit. Disjoint event sample (id % 10 == 2) from
    flac_decode / flac_decode_stereo."""
    from ..operators.multimodal import decode_flac_features
    from ..testing.fixtures import make_flac

    payloads = synth_docs(
        spark, sf_dir,
        lambda i: make_flac(i % 1000, n_samples=800 + (i % 5) * 400,
                            subframe_cycle=("lpc8", "lpc4", "lpc")),
        residue=2,
    )
    return decode_flac_features(payloads, window_samples=400).select(
        "doc_id", "sample_rate_hz", "n_samples", "duration_ms",
        "n_windows",
        F.array_join(
            F.transform("rms_windows",
                        lambda x: F.format_string("%.6f", x)),
            ",",
        ).alias("rms_windows"),
    )


# every block kind (lpc8/lpc4/lpc) plants the WAV sample rule, so the
# oracle needs no block-layout CASE: v(i) = ((seed + i*257) % 2001)
# - 1000 for ALL i — the layout only affects the ENCODING, which
# decode must undo exactly (lossless)
SQL_FLAC_DECODE_LPC = f"""
WITH e AS (
  SELECT event_id, 800 + (event_id % 5) * 400 AS n,
         event_id % 1000 AS seed
  FROM events WHERE event_id % {_FLAC_MOD} = 2
),
w AS (
  SELECT event_id, n, seed, CAST(wi.w AS BIGINT) AS w
  FROM e, LATERAL (SELECT unnest(range(0, (n + 399) // 400)) AS w) wi
),
s AS (
  SELECT event_id, n, w.w,
         ((seed + i.i * 257) % 2001) - 1000 AS v
  FROM w, LATERAL (SELECT unnest(range(w.w * 400,
                                       least(n, (w.w + 1) * 400))) AS i) i
),
r AS (
  SELECT event_id, n, w,
         round(sqrt(CAST(sum(v * v) AS DOUBLE)
                    / CAST(count(*) AS DOUBLE)), 6) AS rms
  FROM s GROUP BY 1, 2, 3
)
SELECT event_id AS doc_id,
       CAST(16000 AS INTEGER) AS sample_rate_hz,
       CAST(n AS BIGINT) AS n_samples,
       CAST(n * 1000 // 16000 AS BIGINT) AS duration_ms,
       CAST(count(*) AS INTEGER) AS n_windows,
       string_agg(printf('%.6f', rms), ',' ORDER BY w) AS rms_windows
FROM r GROUP BY event_id, n
"""

QUERIES_R9["flac_decode_lpc"] = q_flac_decode_lpc
ORACLES_R9["flac_decode_lpc"] = SQL_FLAC_DECODE_LPC


def q_wav_decode_g711(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-16-bit WAV driver-checked (r9, narrowing the r8 gate):
    payloads cycle G.711 mu-law (fmt 7), G.711 A-law (fmt 6) and
    24-bit PCM by event id, decoded by the widened ``_parse_wav``
    (exact closed-form companding expansions, validated against
    CPython's audioop for all 256 codes — tests/test_multimodal.py).
    The oracle replays the expansions in pure integer SQL, so a
    green row proves the actual G.711 segment/mantissa math and the
    3-byte sign reconstruction, not just the container walk.
    Disjoint event sample (id % 10 == 3) from wav_decode."""
    from ..operators.multimodal import decode_wav_features
    from ..testing.fixtures import make_wav

    _FMTS = ("ulaw", "alaw", "pcm24")

    payloads = synth_docs(
        spark, sf_dir,
        lambda i: make_wav(400 + (i % 4) * 300, i % 1000,
                           fmt=_FMTS[(i // 10) % 3]),
        residue=3,
    )
    # energy_windows (exact BIGINT sum of squares), not the rounded
    # RMS doubles: 24-bit magnitudes hit .6f round-half ties where
    # Python's banker rounding and DuckDB's half-away disagree by one
    # ulp — the integer readout carries the identical information
    # with zero representation risk
    return decode_wav_features(payloads, window_samples=400).select(
        "doc_id", "sample_rate_hz", "n_samples", "duration_ms",
        "n_windows",
        F.array_join(
            F.transform("energy_windows",
                        lambda x: x.cast("string")),
            ",",
        ).alias("energy_windows"),
    )


# the oracle's decoded value v(i) per format (all integer):
#   mu-law: u = 255 - code; t = (u%16*8 + 132) << ((u//16)%8);
#           v = 132 - t if u >= 128 else t - 132
#   A-law:  a = code XOR 85; seg = (a//16)%8; m = a%16;
#           t = m*16+8 if seg = 0 else (m*16+264) << (seg-1);
#           v = t if a >= 128 else -t
#   pcm24:  the 16-bit rule scaled by 4096
SQL_WAV_DECODE_G711 = f"""
WITH e AS (
  SELECT event_id, 400 + (event_id % 4) * 300 AS n,
         event_id % 1000 AS seed,
         (event_id // 10) % 3 AS f
  FROM events WHERE event_id % {_FLAC_MOD} = 3
),
w AS (
  SELECT event_id, n, seed, f, CAST(wi.w AS BIGINT) AS w
  FROM e, LATERAL (SELECT unnest(range(0, (n + 399) // 400)) AS w) wi
),
s AS (
  SELECT event_id, n, w.w,
         CASE
           WHEN f = 0 THEN (
             CASE WHEN u >= 128
                  THEN 132 - ((u % 16 * 8 + 132) << ((u // 16) % 8))
                  ELSE ((u % 16 * 8 + 132) << ((u // 16) % 8)) - 132
             END)
           WHEN f = 1 THEN (
             CASE WHEN a >= 128 THEN ta ELSE -ta END)
           ELSE (((seed + i.i * 257) % 2001) - 1000) * 4096
         END AS v
  FROM w,
       LATERAL (SELECT unnest(range(w.w * 400,
                                    least(n, (w.w + 1) * 400))) AS i) i,
       LATERAL (SELECT 255 - (seed + i.i * 57) % 256 AS u,
                       xor((seed * 3 + i.i * 91) % 256, 85) AS a) g,
       LATERAL (SELECT CASE WHEN (a // 16) % 8 = 0 THEN a % 16 * 16 + 8
                            ELSE (a % 16 * 16 + 264)
                                 << ((a // 16) % 8 - 1) END AS ta) h
),
r AS (
  SELECT event_id, n, w,
         CAST(sum(v * v) AS BIGINT) AS energy
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

QUERIES_R9["wav_decode_g711"] = q_wav_decode_g711
ORACLES_R9["wav_decode_g711"] = SQL_WAV_DECODE_G711


def q_vorbis_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL Ogg/Vorbis byte-path decode driver-checked (r9 — the
    compressed-audio increment the r8 verdict ordered): a true
    minimal Vorbis stream is synthesized per sampled event
    (testing/fixtures.make_ogg_vorbis — Ogg pages with real CRC-32,
    id/comment/setup headers, three self-describing codebooks,
    floor1 + residue-type-2 configs) and decoded by
    operators/vorbis.parse_vorbis: page walk + CRC verify + packet
    reassembly (even ids span a packet across two pages), canonical
    Huffman codeword assignment, floor1 post decode with the §7.2.4
    INTEGER amplitude synthesis, residue VQ accumulation. The oracle
    replays the planted packet rules through the same integer
    synthesis in pure SQL — a green row proves the actual Huffman /
    bitpack / render_point / room arithmetic, not just framing.
    Disjoint event sample (id % 10 == 4)."""
    from ..operators.vorbis import decode_vorbis_features
    from ..testing.fixtures import make_ogg_vorbis

    payloads = synth_docs(
        spark, sf_dir,
        lambda i: make_ogg_vorbis(i % 1000, n_packets=4 + i % 5,
                                  span_page=(i % 20 == 4)),
        residue=4,
    )
    return decode_vorbis_features(payloads).select(
        "doc_id", "sample_rate_hz", "channels", "blocksize0",
        "n_codebooks", "n_audio_packets", "window_samples",
        "floor_post_sum", "floor_post_count", "residue_sum",
        "residue_nonzero",
    )


# the oracle replays the fixture's planted packet rules
# (fixtures.vorbis_packet_rules) through the floor1 §7.2.4 integer
# synthesis with the fixture's fixed X list [0, 128, 40, 90]:
# render_point is the integer slope interpolation, the room rules
# place the decoded val around the prediction; residue sums are
# bit_count of the planted VQ entries over class-1 partitions
SQL_VORBIS_DECODE = f"""
WITH e AS (
  SELECT event_id, event_id % 1000 AS seed,
         4 + event_id % 5 AS npk
  FROM events WHERE event_id % {_FLAC_MOD} = 4
),
k AS (
  SELECT event_id, seed, npk, CAST(kk.k AS BIGINT) AS k
  FROM e, LATERAL (SELECT unnest(range(0, npk)) AS k) kk
),
y AS (
  SELECT event_id, npk, seed, k,
         (seed + 11 * k) % 256 AS y0,
         (seed * 3 + 17 * k) % 256 AS y1,
         (seed + 29 * k) % 64 AS y2,
         (seed * 5 + 13 * k) % 64 AS y3
  FROM k
),
f2t AS (
  SELECT *, CASE WHEN y2 = 0 THEN p2
                 WHEN y2 >= 2 * least(256 - p2, p2) THEN
                   CASE WHEN 256 - p2 > p2 THEN y2 - p2 + p2
                        ELSE p2 - (y2 - (256 - p2)) - 1 END
                 WHEN y2 % 2 = 1 THEN p2 - (y2 + 1) // 2
                 ELSE p2 + y2 // 2 END AS f2
  FROM y, LATERAL (
    SELECT CASE WHEN y1 >= y0 THEN y0 + ((y1 - y0) * 40) // 128
                ELSE y0 - ((y0 - y1) * 40) // 128 END AS p2) q
),
f3t AS (
  SELECT *, CASE WHEN y3 = 0 THEN p3
                 WHEN y3 >= 2 * least(256 - p3, p3) THEN
                   CASE WHEN 256 - p3 > p3 THEN y3 - p3 + p3
                        ELSE p3 - (y3 - (256 - p3)) - 1 END
                 WHEN y3 % 2 = 1 THEN p3 - (y3 + 1) // 2
                 ELSE p3 + y3 // 2 END AS f3
  FROM f2t, LATERAL (
    SELECT CASE WHEN y1 >= f2 THEN f2 + ((y1 - f2) * 50) // 88
                ELSE f2 - ((f2 - y1) * 50) // 88 END AS p3) q
),
res AS (
  SELECT event_id, k,
         CAST(sum(CASE WHEN (seed + k + p.p) % 2 = 1 THEN
             bit_count((seed + 3 * k + 5 * p.p) % 16)
             + bit_count((seed * 7 + k + p.p) % 16)
           ELSE 0 END) AS BIGINT) AS rsum
  FROM k, LATERAL (SELECT unnest(range(0, 8)) AS p) p
  GROUP BY 1, 2
),
per_pkt AS (
  SELECT f.event_id, f.npk, f.y0 + f.y1 + f.f2 + f.f3 AS psum, r.rsum
  FROM f3t f JOIN res r ON f.event_id = r.event_id AND f.k = r.k
)
SELECT event_id AS doc_id,
       CAST(16000 AS INTEGER) AS sample_rate_hz,
       CAST(1 AS INTEGER) AS channels,
       CAST(256 AS INTEGER) AS blocksize0,
       CAST(3 AS INTEGER) AS n_codebooks,
       CAST(npk AS INTEGER) AS n_audio_packets,
       CAST(256 * npk AS BIGINT) AS window_samples,
       CAST(sum(psum) AS BIGINT) AS floor_post_sum,
       CAST(4 * npk AS BIGINT) AS floor_post_count,
       CAST(sum(rsum) AS BIGINT) AS residue_sum,
       CAST(sum(rsum) AS BIGINT) AS residue_nonzero
FROM per_pkt GROUP BY event_id, npk
"""

QUERIES_R9["vorbis_decode"] = q_vorbis_decode
ORACLES_R9["vorbis_decode"] = SQL_VORBIS_DECODE


def q_png_decode_ext(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The r9-widened PNG paths driver-checked: payloads cycle 16-bit
    RGB, 4-bit palette, Adam7-interlaced 8-bit RGB and 8-bit palette
    by event id (testing/fixtures.make_png_ext), decoded by the full
    ``_parse_png`` (inflate + per-pass unfiltering + bit unpacking +
    PLTE lookup + pass scatter). The readout is the exact BIGINT
    pixel-sum (no doubles — the wav_decode_g711 doctrine), which the
    oracle recomputes from the planted rules; interlacing must be
    invisible in the values (it only permutes transmission order).
    Disjoint event sample (id % 10 == 5)."""
    from collections.abc import Iterator as _It

    import numpy as _np
    import pandas as _pd

    from ..operators.multimodal import _parse_png
    from ..testing.fixtures import make_png_ext

    e = _spread(
        load_events(spark, sf_dir).select("event_id").filter(
            F.col("event_id") % _FLAC_MOD == 5
        ),
        spark,
    )
    _MODES = ("rgb16", "palette4", "adam7", "palette8")

    def _decode(batches: _It[_pd.DataFrame]) -> _It[_pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in (
                "doc_id", "width", "height", "channels", "px_sum",
                "px_count")}
            for i in pdf["event_id"]:
                i = int(i)
                raw = make_png_ext(
                    3 + i % 13, 2 + i % 7, i % 1000,
                    _MODES[(i // 10) % 4],
                )
                w, h, c, px = _parse_png(raw)
                out["doc_id"].append(i)
                out["width"].append(w)
                out["height"].append(h)
                out["channels"].append(c)
                out["px_sum"].append(int(px.sum(dtype=_np.int64)))
                out["px_count"].append(int(px.size))
            yield _pd.DataFrame(out)

    return e.mapInPandas(
        _decode,
        schema="doc_id long, width int, height int, channels int, "
               "px_sum long, px_count long",
    ).select("doc_id", "width", "height", "channels", "px_sum",
             "px_count")


# mode by (id//10)%4: 0=rgb16 (8-bit rule x 257), 1=palette4
# (16-entry planted palette), 2=adam7 (plain 8-bit rule — interlace
# only permutes transmission), 3=palette8 (256-entry palette)
SQL_PNG_DECODE_EXT = f"""
WITH e AS (
  SELECT event_id, 3 + event_id % 13 AS w, 2 + event_id % 7 AS h,
         event_id % 1000 AS seed, (event_id // 10) % 4 AS m
  FROM events WHERE event_id % {_FLAC_MOD} = 5
),
px AS (
  SELECT event_id, w, h, m,
         CASE
           WHEN m = 0 THEN ((seed + y.y*31 + x.x*7 + c.c*13) % 256) * 257
           WHEN m = 2 THEN (seed + y.y*31 + x.x*7 + c.c*13) % 256
           WHEN m = 1 THEN CASE c.c
             WHEN 0 THEN (((seed + y.y*31 + x.x*7) % 16) * 17 + seed) % 256
             WHEN 1 THEN (((seed + y.y*31 + x.x*7) % 16) * 29 + seed*3) % 256
             ELSE (((seed + y.y*31 + x.x*7) % 16) * 53 + seed*7) % 256 END
           ELSE CASE c.c
             WHEN 0 THEN (((seed + y.y*31 + x.x*7) % 256) * 17 + seed) % 256
             WHEN 1 THEN (((seed + y.y*31 + x.x*7) % 256) * 29 + seed*3) % 256
             ELSE (((seed + y.y*31 + x.x*7) % 256) * 53 + seed*7) % 256 END
         END AS v
  FROM e,
       LATERAL (SELECT unnest(range(0, h)) AS y) y,
       LATERAL (SELECT unnest(range(0, w)) AS x) x,
       LATERAL (SELECT unnest(range(0, 3)) AS c) c
)
SELECT event_id AS doc_id,
       CAST(w AS INTEGER) AS width,
       CAST(h AS INTEGER) AS height,
       CAST(3 AS INTEGER) AS channels,
       CAST(sum(v) AS BIGINT) AS px_sum,
       CAST(w * h * 3 AS BIGINT) AS px_count
FROM px GROUP BY event_id, w, h
"""

QUERIES_R9["png_decode_ext"] = q_png_decode_ext
ORACLES_R9["png_decode_ext"] = SQL_PNG_DECODE_EXT


def q_gif_decode_ext(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The r9/r10-widened GIF paths driver-checked: 4-frame GIF89a
    streams where frame 0 is full-canvas INTERLACED, frames 1/3 are
    PARTIAL rects with LOCAL color tables, frame 2 a smaller
    interlaced partial rect carrying DISPOSAL 3 (restore-to-
    previous, r10) so frame 3 composites over the canvas as it was
    BEFORE frame 2 rendered (testing/fixtures.make_gif_ext, no
    transparency so the compositing rule is last-visible-writer).
    One row per (doc, frame) with the exact BIGINT RGB sum of the
    COMPOSITED canvas; the oracle computes each pixel's visible
    writer from the nested rect geometry — frame 2 is visible ONLY
    at display time 2 — and replays the palette rules. Disjoint
    event sample (id % 10 == 6)."""
    from collections.abc import Iterator as _It

    import numpy as _np
    import pandas as _pd

    from ..operators.multimodal import _parse_gif
    from ..testing.fixtures import make_gif_ext

    e = _spread(
        load_events(spark, sf_dir).select("event_id").filter(
            F.col("event_id") % _FLAC_MOD == 6
        ),
        spark,
    )

    def _decode(batches: _It[_pd.DataFrame]) -> _It[_pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in (
                "doc_id", "frame_idx", "width", "height", "n_frames",
                "delay_cs", "rgb_sum")}
            for i in pdf["event_id"]:
                i = int(i)
                w, h, frames, delays = _parse_gif(
                    make_gif_ext(4 + i % 9, 3 + i % 5, i % 1000, 4,
                                 disposal3_last=True)
                )
                for f, px in enumerate(frames):
                    out["doc_id"].append(i)
                    out["frame_idx"].append(f)
                    out["width"].append(w)
                    out["height"].append(h)
                    out["n_frames"].append(len(frames))
                    out["delay_cs"].append(delays[f])
                    out["rgb_sum"].append(int(px.sum(dtype=_np.int64)))
            yield _pd.DataFrame(out)

    return e.mapInPandas(
        _decode,
        schema="doc_id long, frame_idx int, width int, height int, "
               "n_frames int, delay_cs int, rgb_sum long",
    )


# visible-writer geometry: frame g >= 1 covers (y, x) iff
# y >= min(g, h-1) and x >= min(2g, w-1); frame 0 covers everything.
# Frame 2 carries DISPOSAL 3 (restore-to-previous), so its write is
# visible ONLY at display time f = 2 — at f = 3 the canvas under
# frame 3's rect is what frames 0/1 left. Frames 1/3 carry the LOCAL
# palette rule, frames 0/2 the global one.
SQL_GIF_DECODE_EXT = f"""
WITH e AS (
  SELECT event_id, 4 + event_id % 9 AS w, 3 + event_id % 5 AS h,
         event_id % 1000 AS seed
  FROM events WHERE event_id % {_FLAC_MOD} = 6
),
fr AS (
  SELECT event_id, w, h, seed, CAST(ff.f AS BIGINT) AS f
  FROM e, LATERAL (SELECT unnest(range(0, 4)) AS f) ff
),
px AS (
  SELECT event_id, w, h, f,
         CASE WHEN g IN (1, 3) THEN
                (idx*11 + seed + g) % 256 + (idx*23 + seed*3 + g) % 256
                + (idx*41 + seed*7 + g) % 256
              ELSE idx + (3*idx) % 256 + (7*idx) % 256
         END AS v
  FROM fr,
       LATERAL (SELECT unnest(range(0, h)) AS y) y,
       LATERAL (SELECT unnest(range(0, w)) AS x) x,
       LATERAL (SELECT CASE
           WHEN f >= 3 AND y.y >= least(3, h - 1)
                AND x.x >= least(6, w - 1) THEN 3
           WHEN f = 2 AND y.y >= least(2, h - 1)
                AND x.x >= least(4, w - 1) THEN 2
           WHEN f >= 1 AND y.y >= least(1, h - 1)
                AND x.x >= least(2, w - 1) THEN 1
           ELSE 0 END AS g) g,
       LATERAL (SELECT (seed + g.g*17 + y.y*31 + x.x*7) % 256 AS idx) i
)
SELECT event_id AS doc_id,
       CAST(f AS INTEGER) AS frame_idx,
       CAST(w AS INTEGER) AS width,
       CAST(h AS INTEGER) AS height,
       CAST(4 AS INTEGER) AS n_frames,
       CAST(4 + f AS INTEGER) AS delay_cs,
       CAST(sum(v) AS BIGINT) AS rgb_sum
FROM px GROUP BY event_id, w, h, f
"""

QUERIES_R9["gif_decode_ext"] = q_gif_decode_ext
ORACLES_R9["gif_decode_ext"] = SQL_GIF_DECODE_EXT


def q_jpeg_decode_12bit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """12-bit JPEG driver-checked (r9, closing the precision gate):
    extended-sequential SOF1 streams with 12-bit samples (level
    shift 2048, clamp 0..4095, uint16 raster) carrying the SAME
    planted quantized coefficients as jpeg_decode — per pixel the
    unclamped IDCT output is exactly the 8-bit value + 1920, so the
    oracle is the jpeg_decode integer arithmetic with the DC term at
    64*(2048+dc) and identical AC template constants. Integer-only
    readout. Disjoint event sample (id % 10 == 7)."""
    from ..operators.multimodal import decode_jpeg_meta
    from ..testing.fixtures import make_jpeg_baseline

    payloads = synth_docs(
        spark, sf_dir,
        lambda i: make_jpeg_baseline(i % 1000, precision=12),
        residue=7,
    )
    return decode_jpeg_meta(payloads).select(
        "doc_id", "width", "height", "y_sum"
    )


def _jpeg_decode_12bit_sql() -> str:
    from ..testing.fixtures import (
        JPEG_AC_TEMPLATES,
        jpeg_template_round_sums,
    )

    rs = jpeg_template_round_sums()
    n_t = len(JPEG_AC_TEMPLATES)
    rs_arr = "[" + ", ".join(f"{v}::BIGINT" for v in rs) + "]"
    return f"""
WITH e AS (
  SELECT event_id, event_id % 1000 AS seed FROM events
  WHERE event_id % {{mod}} = 7
),
blocks AS (
  SELECT event_id, seed, CAST(b.b AS BIGINT) AS b,
         ((seed * 7 + b.b * 13) % 121) - 60 AS dc,
         (seed + b.b) % {n_t} AS t
  FROM e, LATERAL (SELECT unnest(range(0, 4)) AS b) b
)
SELECT event_id AS doc_id,
       CAST(16 AS INTEGER) AS width,
       CAST(16 AS INTEGER) AS height,
       CAST(sum(64 * (2048 + dc) + {rs_arr}[t + 1]) AS BIGINT) AS y_sum
FROM blocks GROUP BY event_id
""".replace("{mod}", str(_FLAC_MOD))


SQL_JPEG_DECODE_12BIT = _jpeg_decode_12bit_sql()

QUERIES_R9["jpeg_decode_12bit"] = q_jpeg_decode_12bit
ORACLES_R9["jpeg_decode_12bit"] = SQL_JPEG_DECODE_12BIT


def q_vorbis_decode_stereo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STEREO Vorbis with square-polar channel coupling
    driver-checked (r9): streams carry a (magnitude=0, angle=1)
    coupling step, per-channel floor1 posts (channel 1 at seed+499),
    and a type-2 residue whose planted slots land interleaved on the
    2-channel vector — so the decoder must run the §4.3.5 inverse
    coupling (an exact integer transform) to recover the per-channel
    values. The oracle replays the interleave, the bit-vector VQ
    entries and the coupling CASE arithmetic in SQL. Disjoint event
    sample (id % 10 == 8)."""
    from ..operators.vorbis import decode_vorbis_features
    from ..testing.fixtures import make_ogg_vorbis

    payloads = synth_docs(
        spark, sf_dir,
        lambda i: make_ogg_vorbis(i % 1000, n_packets=3 + i % 4, stereo=True),
        residue=8,
    )
    return decode_vorbis_features(payloads).select(
        "doc_id", "sample_rate_hz", "channels", "n_audio_packets",
        "window_samples", "floor_post_sum", "floor_post_count",
        "residue_sum", "residue_nonzero",
    )


# floor posts: channel 0 at `seed`, channel 1 at `seed + 499`
# (VORBIS_STEREO_SEED_SHIFT), both through the §7.2.4 synthesis.
# residue: slot 8p+w of the interleaved vector carries bit w of e1
# (w<4) / bit w-4 of e2 (w>=4) on class-1 partitions; magnitude
# m = slot 2j, angle a = slot 2j+1; inverse coupling (m,a ∈ {0,1}):
# (1,1)->(1,0), (1,0)->(1,1), (0,1)->(0,1), (0,0)->(0,0)
SQL_VORBIS_DECODE_STEREO = f"""
WITH e AS (
  SELECT event_id, event_id % 1000 AS seed,
         3 + event_id % 4 AS npk
  FROM events WHERE event_id % {_FLAC_MOD} = 8
),
k AS (
  SELECT event_id, seed, npk, CAST(kk.k AS BIGINT) AS k
  FROM e, LATERAL (SELECT unnest(range(0, npk)) AS k) kk
),
ch AS (
  SELECT event_id, npk, k,
         seed + c.c * 499 AS cseed, seed AS seed0
  FROM k, LATERAL (SELECT unnest(range(0, 2)) AS c) c
),
y AS (
  SELECT event_id, npk, k, seed0,
         (cseed + 11 * k) % 256 AS y0,
         (cseed * 3 + 17 * k) % 256 AS y1,
         (cseed + 29 * k) % 64 AS y2,
         (cseed * 5 + 13 * k) % 64 AS y3
  FROM ch
),
f2t AS (
  SELECT *, CASE WHEN y2 = 0 THEN p2
                 WHEN y2 >= 2 * least(256 - p2, p2) THEN
                   CASE WHEN 256 - p2 > p2 THEN y2 - p2 + p2
                        ELSE p2 - (y2 - (256 - p2)) - 1 END
                 WHEN y2 % 2 = 1 THEN p2 - (y2 + 1) // 2
                 ELSE p2 + y2 // 2 END AS f2
  FROM y, LATERAL (
    SELECT CASE WHEN y1 >= y0 THEN y0 + ((y1 - y0) * 40) // 128
                ELSE y0 - ((y0 - y1) * 40) // 128 END AS p2) q
),
f3t AS (
  SELECT *, CASE WHEN y3 = 0 THEN p3
                 WHEN y3 >= 2 * least(256 - p3, p3) THEN
                   CASE WHEN 256 - p3 > p3 THEN y3 - p3 + p3
                        ELSE p3 - (y3 - (256 - p3)) - 1 END
                 WHEN y3 % 2 = 1 THEN p3 - (y3 + 1) // 2
                 ELSE p3 + y3 // 2 END AS f3
  FROM f2t, LATERAL (
    SELECT CASE WHEN y1 >= f2 THEN f2 + ((y1 - f2) * 50) // 88
                ELSE f2 - ((f2 - y1) * 50) // 88 END AS p3) q
),
posts AS (
  SELECT event_id, npk,
         CAST(sum(y0 + y1 + f2 + f3) AS BIGINT) AS psum
  FROM f3t GROUP BY 1, 2
),
pairs AS (
  SELECT event_id, k.k, j.j,
         CASE WHEN (seed + k.k + (2 * j.j) // 8) % 2 = 1 THEN
           CASE WHEN (2 * j.j) % 8 < 4
                THEN ((seed + 3 * k.k + 5 * ((2 * j.j) // 8)) % 16
                      >> ((2 * j.j) % 8)) & 1
                ELSE ((seed * 7 + k.k + (2 * j.j) // 8) % 16
                      >> ((2 * j.j) % 8 - 4)) & 1 END
           ELSE 0 END AS m,
         CASE WHEN (seed + k.k + (2 * j.j + 1) // 8) % 2 = 1 THEN
           CASE WHEN (2 * j.j + 1) % 8 < 4
                THEN ((seed + 3 * k.k + 5 * ((2 * j.j + 1) // 8)) % 16
                      >> ((2 * j.j + 1) % 8)) & 1
                ELSE ((seed * 7 + k.k + (2 * j.j + 1) // 8) % 16
                      >> ((2 * j.j + 1) % 8 - 4)) & 1 END
           ELSE 0 END AS a
  FROM k, LATERAL (SELECT unnest(range(0, 32)) AS j) j
),
coupled AS (
  SELECT event_id,
         CAST(sum(CASE WHEN m = 1 AND a = 1 THEN 1
                       WHEN m = 1 AND a = 0 THEN 2
                       WHEN m = 0 AND a = 1 THEN 1
                       ELSE 0 END) AS BIGINT) AS rsum,
         CAST(sum(CASE WHEN m = 1 AND a = 1 THEN 1
                       WHEN m = 1 AND a = 0 THEN 2
                       WHEN m = 0 AND a = 1 THEN 1
                       ELSE 0 END) AS BIGINT) AS rnz
  FROM pairs GROUP BY 1
)
SELECT p.event_id AS doc_id,
       CAST(16000 AS INTEGER) AS sample_rate_hz,
       CAST(2 AS INTEGER) AS channels,
       CAST(p.npk AS INTEGER) AS n_audio_packets,
       CAST(256 * p.npk AS BIGINT) AS window_samples,
       p.psum AS floor_post_sum,
       CAST(8 * p.npk AS BIGINT) AS floor_post_count,
       c.rsum AS residue_sum,
       c.rnz AS residue_nonzero
FROM posts p JOIN coupled c ON p.event_id = c.event_id
"""

QUERIES_R9["vorbis_decode_stereo"] = q_vorbis_decode_stereo
ORACLES_R9["vorbis_decode_stereo"] = SQL_VORBIS_DECODE_STEREO


def q_wav_decode_adpcm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IMA/DVI ADPCM WAV driver-checked (r9): mono fmt-0x11 streams
    with 8-byte blocks (int16 predictor + step index header, 8
    nibbles low-first), decoded by the reference nibble recursion
    (validated bit-exact against CPython's audioop —
    tests/test_multimodal.py). The oracle UNROLLS the 8 recursion
    steps per block in pure SQL (step-table lookup, bit-gated diff,
    int16/index clamps), so a green row proves the actual stateful
    decode arithmetic. Integer energy readout. Disjoint event sample
    (id % 10 == 9)."""
    from ..operators.multimodal import decode_wav_features
    from ..testing.fixtures import make_wav

    payloads = synth_docs(
        spark, sf_dir,
        lambda i: make_wav(2 + i % 3, i % 1000, fmt="ima"),
        residue=9,
    )
    return decode_wav_features(payloads, window_samples=400).select(
        "doc_id", "sample_rate_hz", "n_samples", "n_windows",
        F.array_join(
            F.transform("energy_windows",
                        lambda x: x.cast("string")),
            ",",
        ).alias("energy_windows"),
    )


def _wav_adpcm_sql() -> str:
    from ..operators.multimodal import _IMA_INDEX_ADJ, _IMA_STEPS

    steps_arr = "[" + ", ".join(str(v) for v in _IMA_STEPS) + "]"
    adj_arr = "[" + ", ".join(str(v) for v in _IMA_INDEX_ADJ) + "]"
    # unroll the 8 nibble steps as chained LATERALs; step j consumes
    # nibble nb_j = (seed + 11*b + 13*j) % 16 and carries (p_j, i_j)
    laterals = []
    energy_terms = ["p0 * p0"]
    for j in range(8):
        pj, ij, nj = f"p{j}", f"i{j}", f"nb{j}"
        laterals.append(
            f"LATERAL (SELECT (seed + 11 * b + 13 * {j}) % 16 AS {nj},"
            f" st[{ij} + 1] AS s{j}) q{j}a,\n"
            f"       LATERAL (SELECT (s{j} >> 3)"
            f" + CASE WHEN {nj} & 1 = 1 THEN s{j} >> 2 ELSE 0 END"
            f" + CASE WHEN {nj} & 2 = 2 THEN s{j} >> 1 ELSE 0 END"
            f" + CASE WHEN {nj} & 4 = 4 THEN s{j} ELSE 0 END AS d{j})"
            f" q{j}b,\n"
            f"       LATERAL (SELECT least(32767, greatest(-32768,"
            f" CASE WHEN {nj} & 8 = 8 THEN {pj} - d{j}"
            f" ELSE {pj} + d{j} END)) AS p{j + 1},"
            f" least(88, greatest(0,"
            f" {ij} + adj[({nj} & 7) + 1])) AS i{j + 1}) q{j}c"
        )
        energy_terms.append(f"p{j + 1} * p{j + 1}")
    return f"""
WITH e AS (
  SELECT event_id, event_id % 1000 AS seed,
         2 + event_id % 3 AS nblocks
  FROM events WHERE event_id % {{mod}} = 9
),
blk AS (
  SELECT event_id, seed, nblocks, CAST(bb.b AS BIGINT) AS b,
         {steps_arr} AS st, {adj_arr} AS adj,
         ((seed * 3 + 101 * bb.b) % 2001) - 1000 AS p0,
         (seed + 7 * bb.b) % 89 AS i0
  FROM e, LATERAL (SELECT unnest(range(0, nblocks)) AS b) bb
),
dec AS (
  SELECT event_id, nblocks,
         {' + '.join(energy_terms)} AS block_energy
  FROM blk,
       {','.join(laterals)}
)
SELECT event_id AS doc_id,
       CAST(16000 AS INTEGER) AS sample_rate_hz,
       CAST(9 * nblocks AS BIGINT) AS n_samples,
       CAST(1 AS INTEGER) AS n_windows,
       CAST(CAST(sum(block_energy) AS BIGINT) AS VARCHAR)
         AS energy_windows
FROM dec GROUP BY event_id, nblocks
""".replace("{mod}", str(_FLAC_MOD))


SQL_WAV_DECODE_ADPCM = _wav_adpcm_sql()

QUERIES_R9["wav_decode_adpcm"] = q_wav_decode_adpcm
ORACLES_R9["wav_decode_adpcm"] = SQL_WAV_DECODE_ADPCM


def q_wav_decode_float(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IEEE-float and WAVE_FORMAT_EXTENSIBLE WAV driver-checked
    (r9): payloads cycle plain float32, extensible-wrapped PCM16 and
    extensible-wrapped float32 by event id. Planted float samples
    are exact multiples of 2**-15, so the Q15 decode reconstructs
    the SAME integers as the PCM16 rule — one oracle covers all
    three variants, proving the float scale and the SubFormat GUID
    unwrap carry no value drift. Event sample id % 20 == 15."""
    from ..operators.multimodal import decode_wav_features
    from ..testing.fixtures import make_wav

    def make(i: int) -> bytes:
        variant = (i // 20) % 3
        return make_wav(
            300 + (i % 4) * 200, i % 1000,
            fmt="pcm16" if variant == 1 else "float32",
            extensible=variant > 0,
        )

    payloads = synth_docs(spark, sf_dir, make, residue=15, modulus=20)
    return decode_wav_features(payloads, window_samples=400).select(
        "doc_id", "sample_rate_hz", "n_samples", "n_windows",
        F.array_join(
            F.transform("energy_windows",
                        lambda x: x.cast("string")),
            ",",
        ).alias("energy_windows"),
    )


SQL_WAV_DECODE_FLOAT = """
WITH e AS (
  SELECT event_id, 300 + (event_id % 4) * 200 AS n,
         event_id % 1000 AS seed
  FROM events WHERE event_id % 20 = 15
),
w AS (
  SELECT event_id, n, seed, CAST(wi.w AS BIGINT) AS w
  FROM e, LATERAL (SELECT unnest(range(0, (n + 399) // 400)) AS w) wi
),
s AS (
  SELECT event_id, n, w.w,
         ((seed + i.i * 257) % 2001) - 1000 AS v
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
       CAST(count(*) AS INTEGER) AS n_windows,
       string_agg(CAST(energy AS VARCHAR), ',' ORDER BY w)
         AS energy_windows
FROM r GROUP BY event_id, n
"""

QUERIES_R9["wav_decode_float"] = q_wav_decode_float
ORACLES_R9["wav_decode_float"] = SQL_WAV_DECODE_FLOAT
