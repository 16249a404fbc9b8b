"""Round-10 session-3 driver queries: the crawl-format long tail.

Each query follows the planted-rule discipline of the FLAC/MP3/Vorbis
byte paths (driver_queries_analytics / _r10): a deterministic fixture
is synthesized per event id inside ``mapInPandas``, the REAL decoder
inverts it, and the DuckDB oracle replays the planted rules in closed
form — a green row proves the decoder read the bytes. All oracle
output columns are INTEGER/BIGINT (the test_oracle_types audit).

No counterpart surface exists in the reference repo
(mydatastack/google-analytics-to-s3); this is the beyond-reference
LLM-training-data-pipeline surface the build plan mandates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.testdata import load_events
from .driver_queries_analytics import _FLAC_MOD, _spread, synth_docs

QUERIES_R10B: dict = {}
ORACLES_R10B: dict[str, str] = {}


def q_qoi_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL QOI decode driver-checked end-to-end: per event a QOI
    image of ``qoi_pixel_rule`` pixels is serialized by the reference
    greedy encoder (testing/fixtures.make_qoi — RUN/INDEX/DIFF/LUMA/
    literal chunks all exercised), decoded by the full spec decoder
    (operators/qoi.py), and the oracle recomputes width/height/
    channels/pixel-sum from the same closed-form rule."""
    from ..operators.qoi import decode_qoi_meta
    from ..testing.fixtures import make_qoi

    payloads = synth_docs(
        spark, sf_dir,
        lambda i: make_qoi(i % 1000, w=8 + i % 1000 % 7, h=6 + i % 1000 % 5,
                           channels=3 + i % 1000 % 2),
        residue=6,
    )
    return decode_qoi_meta(payloads).drop("decode_error")


_QOI_ORACLE = f"""
WITH e AS (
  SELECT event_id, event_id % 1000 AS seed,
         8 + (event_id % 1000) % 7 AS w,
         6 + (event_id % 1000) % 5 AS h,
         3 + (event_id % 1000) % 2 AS ch
  FROM events WHERE event_id % {_FLAC_MOD} = 6
),
px AS (
  SELECT e.event_id,
         CASE WHEN c.c = 3 THEN (e.seed + 3*y.y) % 256
              WHEN y.y % 3 = 0
                THEN (e.seed + 11*x.x + 17*y.y + 7*c.c) % 256
              WHEN y.y % 3 = 1
                THEN (5*e.seed + 29*y.y + 7*c.c
                      + CASE WHEN x.x % 2 = 1 THEN 77 ELSE 0 END) % 256
              ELSE (e.seed + 13*y.y + 7*c.c + x.x // 4) % 256
         END AS v
  FROM e,
       LATERAL (SELECT unnest(range(0, e.h)) AS y) y,
       LATERAL (SELECT unnest(range(0, e.w)) AS x) x,
       LATERAL (SELECT unnest(range(0, e.ch)) AS c) c
)
SELECT e.event_id AS doc_id,
       CAST(e.w AS INTEGER) AS width,
       CAST(e.h AS INTEGER) AS height,
       CAST(e.ch AS INTEGER) AS channels,
       CAST(p.s AS BIGINT) AS px_sum
FROM e JOIN (SELECT event_id, sum(v) AS s FROM px GROUP BY 1) p
  ON p.event_id = e.event_id
"""

QUERIES_R10B["qoi_decode"] = q_qoi_decode
ORACLES_R10B["qoi_decode"] = _QOI_ORACLE


def q_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL HTML→text extraction driver-checked end-to-end: per event
    a tag-soup page with planted counts is synthesized
    (testing/fixtures.make_html — script/style/noscript/comment junk,
    entities, an unclosed tag), the stdlib-parser extractor strips it
    (operators/html.py), and the oracle replays the planted word/char
    counts in closed form. Whitespace-invariant stats only, so the
    check is robust to block-boundary conventions."""
    from ..operators.html import extract_html_features
    from ..testing.fixtures import make_html

    pages = synth_docs(
        spark, sf_dir,
        lambda i: make_html(i % 1000),
        residue=7, dtype="string",
    )
    return extract_html_features(pages, html_col="payload").drop(
        "extract_error")


_HTML_ORACLE = f"""
WITH e AS (
  SELECT event_id, event_id % 1000 AS seed,
         3 + (event_id % 1000) % 5 AS n_paras,
         1 + (event_id % 1000) % 3 AS n_head,
         (event_id % 1000) % 4 AS n_links
  FROM events WHERE event_id % {_FLAC_MOD} = 7
),
pw AS (
  SELECT e.event_id,
         count(*) AS w,
         sum(CASE WHEN (e.seed*7 + p.p*13 + i.i*3) % 100 < 10
                  THEN 2 ELSE 3 END) AS ch
  FROM e,
       LATERAL (SELECT unnest(range(0, e.n_paras)) AS p) p,
       LATERAL (SELECT unnest(range(0, 4 + (e.seed + p.p) % 6)) AS i) i
  GROUP BY 1
)
SELECT e.event_id AS doc_id,
       'Doc ' || CAST(e.seed AS VARCHAR) AS title,
       CAST(e.n_links AS INTEGER) AS n_links,
       CAST(e.n_head AS INTEGER) AS n_headings,
       CAST(e.n_paras AS INTEGER) AS n_paras,
       CAST(pw.w + 1 + e.n_head + e.n_links AS BIGINT) AS text_words,
       CAST(pw.ch + CASE WHEN e.seed % 2 = 0 THEN 3 ELSE 2 END
            + 2*e.n_head + 2*e.n_links AS BIGINT) AS word_chars
FROM e JOIN pw ON pw.event_id = e.event_id
"""

QUERIES_R10B["html_extract"] = q_html_extract
ORACLES_R10B["html_extract"] = _HTML_ORACLE


def q_lz4_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL LZ4 frame decode driver-checked end-to-end: per event a
    frame of lz4_content_rule bytes (a repeated segment — real LZ77
    matches — plus an incompressible tail) is compressed by the
    fixture's greedy block compressor and framed with xxh32 HC/block/
    content checksums (testing/fixtures.make_lz4, every 3rd block via
    the stored escape), decoded by the full frame+block parser
    (operators/lz4.py, checksums verified), and the oracle replays
    content length/sum and block count in closed form."""
    from ..operators.lz4 import decode_lz4_meta
    from ..testing.fixtures import make_lz4

    payloads = synth_docs(
        spark, sf_dir, lambda i: make_lz4(i % 1000), residue=8
    )
    return decode_lz4_meta(payloads).drop("decode_error")


_LZ4_ORACLE = f"""
WITH e AS (
  SELECT event_id, event_id % 1000 AS seed,
         200 + (event_id % 1000) % 100 AS n_a,
         50 + (event_id % 1000) % 20 AS n_t
  FROM events WHERE event_id % {_FLAC_MOD} = 8
),
sums AS (
  SELECT e.event_id,
         (SELECT sum((e.seed + 7*i.i) % 251)
          FROM (SELECT unnest(range(0, e.n_a)) AS i) i) AS s_a,
         (SELECT sum((3*e.seed + 11*i.i) % 251)
          FROM (SELECT unnest(range(0, e.n_t)) AS i) i) AS s_t
  FROM e
)
SELECT e.event_id AS doc_id,
       CAST((3*e.n_a + e.n_t + 511) // 512 AS INTEGER) AS n_blocks,
       CAST(3*e.n_a + e.n_t AS BIGINT) AS content_len,
       CAST(3*s.s_a + s.s_t AS BIGINT) AS content_sum
FROM e JOIN sums s ON s.event_id = e.event_id
"""

QUERIES_R10B["lz4_extract"] = q_lz4_extract
ORACLES_R10B["lz4_extract"] = _LZ4_ORACLE


def q_pdf_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL PDF text extraction driver-checked end-to-end: per event
    a PDF 1.4 with planted words is serialized (testing/fixtures.
    make_pdf — FlateDecode streams, an indirect /Length, kerned TJ
    arrays splitting a token mid-word, octal + hex string tokens,
    incremental-update /Prev chains on seed%4==0), parsed by the real
    xref/COS/content-lexer path (operators/pdf.py), and the oracle
    replays page/object/word/char counts in closed form."""
    from ..operators.pdf import extract_pdf_features
    from ..testing.fixtures import make_pdf

    payloads = synth_docs(
        spark, sf_dir, lambda i: make_pdf(i % 1000), residue=9
    )
    return extract_pdf_features(payloads).drop("extract_error")


_PDF_ORACLE = f"""
WITH e AS (
  SELECT event_id, event_id % 1000 AS seed,
         2 + (event_id % 1000) % 3 AS n_pages
  FROM events WHERE event_id % {_FLAC_MOD} = 9
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
       CAST(4 + 2*e.n_pages AS INTEGER) AS n_objects,
       CAST(pw.w + 2 AS BIGINT) AS text_words,
       CAST(pw.ch + 5 AS BIGINT) AS word_chars
FROM e JOIN pw ON pw.event_id = e.event_id
"""

QUERIES_R10B["pdf_text"] = q_pdf_text
ORACLES_R10B["pdf_text"] = _PDF_ORACLE


def q_webp_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL WebP (VP8L lossless) decode driver-checked end-to-end:
    per event a VP8L bitstream is serialized by the fixture encoder
    (testing/fixtures.make_webp — canonical prefix codes with the
    19-slot code-length code and 17/18 zero runs, 6-bit color cache,
    LZ77 row copies, and per-variant SUBTRACT_GREEN / PREDICTOR (all
    14 modes) / delta-coded COLOR_INDEXING transforms), decoded by
    the real bit path (operators/webp.py), and the oracle replays the
    planted pixel/palette rules in closed form."""
    from ..operators.webp import decode_webp_meta
    from ..testing.fixtures import make_webp

    payloads = synth_docs(
        spark, sf_dir, lambda i: make_webp(i % 1000), residue=0
    )
    return decode_webp_meta(payloads).drop("decode_error")


_WEBP_ORACLE = f"""
WITH e AS (
  SELECT event_id, event_id % 1000 AS seed,
         10 + (event_id % 1000) % 9 AS w,
         8 + (event_id % 1000) % 7 AS h,
         (event_id % 1000) % 4 AS variant
  FROM events WHERE event_id % {_FLAC_MOD} = 0
),
px AS (
  SELECT e.event_id,
         CASE WHEN e.variant = 3 THEN
             (e.seed + 31*((x.x + 2*y.y) % (17 + e.seed % 8))) % 256
           + (5*e.seed + 13*((x.x + 2*y.y) % (17 + e.seed % 8))) % 256
           + (e.seed + 7*((x.x + 2*y.y) % (17 + e.seed % 8))) % 256
         ELSE
             (e.seed + 11*x.x
              + 17*(y.y - CASE WHEN y.y % 4 = 3 THEN 1 ELSE 0 END))
             % 256
           + (3*e.seed + 7*x.x
              + 5*(y.y - CASE WHEN y.y % 4 = 3 THEN 1 ELSE 0 END))
             % 256
           + (e.seed
              + 13*(y.y - CASE WHEN y.y % 4 = 3 THEN 1 ELSE 0 END)
              + x.x // 3) % 256
         END AS v
  FROM e,
       LATERAL (SELECT unnest(range(0, e.h)) AS y) y,
       LATERAL (SELECT unnest(range(0, e.w)) AS x) x
)
SELECT e.event_id AS doc_id,
       CAST(e.w AS INTEGER) AS width,
       CAST(e.h AS INTEGER) AS height,
       CAST(1 AS INTEGER) AS lossless,
       CAST(CASE WHEN e.variant = 0 THEN 0 ELSE 1 END AS INTEGER)
           AS n_transforms,
       CAST(p.s AS BIGINT) AS rgb_sum
FROM e JOIN (SELECT event_id, sum(v) AS s FROM px GROUP BY 1) p
  ON p.event_id = e.event_id
"""

QUERIES_R10B["webp_decode"] = q_webp_decode
ORACLES_R10B["webp_decode"] = _WEBP_ORACLE


def q_mkv_demux(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL Matroska/WebM demux driver-checked end-to-end: per event
    an EBML container with planted track/cluster/block counts is
    serialized (testing/fixtures.make_mkv — SimpleBlock AND
    BlockGroup>Block paths, interleaved video/audio), walked by the
    real vint/element parser (operators/mkv.py), and the oracle
    replays every count and per-track byte total in closed form."""
    from ..operators.mkv import demux_mkv_features
    from ..testing.fixtures import make_mkv

    payloads = synth_docs(
        spark, sf_dir, lambda i: make_mkv(i % 1000), residue=1
    )
    return demux_mkv_features(payloads).drop("decode_error")


_MKV_ORACLE = f"""
WITH e AS (
  SELECT event_id, event_id % 1000 AS seed,
         2 + (event_id % 1000) % 2 AS nc
  FROM events WHERE event_id % {_FLAC_MOD} = 1
),
v AS (
  SELECT e.event_id, count(*) AS nb,
         sum(40 + (e.seed + 7*c.c + 3*j.j) % 13) AS vb
  FROM e,
       LATERAL (SELECT unnest(range(0, e.nc)) AS c) c,
       LATERAL (SELECT unnest(range(0, 3 + (e.seed + c.c) % 3)) AS j) j
  GROUP BY 1
),
a AS (
  SELECT e.event_id, count(*) AS nb,
         sum(30 + (e.seed + 5*c.c + 7*j.j) % 17) AS ab
  FROM e,
       LATERAL (SELECT unnest(range(0, e.nc)) AS c) c,
       LATERAL (SELECT unnest(range(0, 2 + (e.seed + c.c) % 2)) AS j) j
  GROUP BY 1
)
SELECT e.event_id AS doc_id,
       CAST(1000000 AS INTEGER) AS timecode_scale,
       CAST(2 AS INTEGER) AS n_tracks,
       CAST(e.nc AS INTEGER) AS n_clusters,
       CAST(v.nb + a.nb AS INTEGER) AS n_blocks,
       CAST(v.vb AS BIGINT) AS video_bytes,
       CAST(a.ab AS BIGINT) AS audio_bytes
FROM e JOIN v ON v.event_id = e.event_id
       JOIN a ON a.event_id = e.event_id
"""

QUERIES_R10B["mkv_demux"] = q_mkv_demux
ORACLES_R10B["mkv_demux"] = _MKV_ORACLE


def q_mkv_decode_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matroska -> MP3 chained decode (the MP4/AVI chain discipline):
    per event a WebM-style container whose A_MPEG/L3 track carries a
    REAL MP3 stream split into 150-byte SimpleBlocks
    (testing/fixtures.make_mkv_mp3), the demuxer reassembles the
    elementary stream byte-exactly (operators/mkv.py), and the real
    Layer III decoder (operators/mp3.py) inverts it — verified by the
    same closed-form MP3 oracle as mp3_decode."""
    from ..operators.mkv import extract_mkv_track_df
    from ..operators.mp3 import decode_mp3_features
    from ..testing.fixtures import make_mkv_mp3

    containers = synth_docs(
        spark, sf_dir,
        lambda i: make_mkv_mp3(i % 1000, n_frames=2 + i % 3),
        residue=2,
    )
    streams = extract_mkv_track_df(containers, "A_MPEG")
    return decode_mp3_features(streams).drop("decode_error")


QUERIES_R10B["mkv_decode_audio"] = q_mkv_decode_audio


def _register_mkv_audio_oracle() -> None:
    from .driver_queries_r10 import _mp3_oracle_sql

    ORACLES_R10B["mkv_decode_audio"] = _mp3_oracle_sql(2, 1)


_register_mkv_audio_oracle()


def q_ts_demux(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL MPEG-TS demux driver-checked end-to-end: per event a
    transport stream (testing/fixtures.make_mpegts — PAT/PMT with
    real CRC-32/MPEG-2, PES packetization, adaptation-field stuffing,
    continuity counters) is walked by the real packet parser
    (operators/mpegts.py); the oracle replays program/stream counts
    and the reassembled private-stream byte total in closed form."""
    from ..operators.mpegts import demux_ts_features
    from ..testing.fixtures import make_mpegts

    payloads = synth_docs(
        spark, sf_dir,
        lambda i: make_mpegts(i % 1000, n_frames=2 + i % 3),
        residue=3,
    )
    # n_packets varies with the MP3 stream's encoded byte length
    # (reservoir-dependent), which has no closed form — drop it from
    # the graded surface; the MP3 chain is value-checked by
    # ts_decode_audio
    return demux_ts_features(payloads).drop("decode_error",
                                            "n_packets")


_TS_ORACLE = f"""
SELECT event_id AS doc_id,
       CAST(1 AS INTEGER) AS n_programs,
       CAST(2 AS INTEGER) AS n_streams,
       CAST(400 + (event_id % 1000) % 200 AS BIGINT) AS private_bytes
FROM events WHERE event_id % {_FLAC_MOD} = 3
"""

QUERIES_R10B["ts_demux"] = q_ts_demux
ORACLES_R10B["ts_demux"] = _TS_ORACLE


def q_ts_decode_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MPEG-TS -> MP3 chained decode: the PES reassembly must be
    byte-exact for the real Layer III decoder to invert the planted
    spectra — verified by the same closed-form MP3 oracle as
    mp3_decode (the MP4/AVI/MKV chain discipline)."""
    from ..operators.mp3 import decode_mp3_features
    from ..operators.mpegts import extract_ts_audio_df
    from ..testing.fixtures import make_mpegts

    containers = synth_docs(
        spark, sf_dir,
        lambda i: make_mpegts(i % 1000, n_frames=2 + i % 3),
        residue=4,
    )
    streams = extract_ts_audio_df(containers)
    return decode_mp3_features(streams).drop("decode_error")


QUERIES_R10B["ts_decode_audio"] = q_ts_decode_audio


def _register_ts_audio_oracle() -> None:
    from .driver_queries_r10 import _mp3_oracle_sql

    ORACLES_R10B["ts_decode_audio"] = _mp3_oracle_sql(4, 1)


_register_ts_audio_oracle()


def q_flv_demux(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL FLV demux driver-checked end-to-end: per event an FLV
    with interleaved MP3 audio and planted video tags is serialized
    (testing/fixtures.make_flv — PreviousTagSize back-pointers all
    correct), walked by the real tag parser (operators/flv.py), and
    the oracle replays the planted video counts/bytes/timestamps."""
    from ..operators.flv import demux_flv_features
    from ..testing.fixtures import make_flv

    payloads = synth_docs(
        spark, sf_dir,
        lambda i: make_flv(i % 1000, n_frames=2 + i % 3),
        residue=5,
    )
    return demux_flv_features(payloads).drop("decode_error")


_FLV_ORACLE = f"""
WITH e AS (
  SELECT event_id, event_id % 1000 AS seed,
         4 + (event_id % 1000) % 3 AS nv
  FROM events WHERE event_id % {_FLAC_MOD} = 5
),
v AS (
  SELECT e.event_id,
         sum(50 + (e.seed + j.j) % 23) AS vb
  FROM e, LATERAL (SELECT unnest(range(0, e.nv)) AS j) j
  GROUP BY 1
)
SELECT e.event_id AS doc_id,
       CAST(1 AS INTEGER) AS has_audio,
       CAST(1 AS INTEGER) AS has_video,
       CAST(e.nv AS INTEGER) AS n_video,
       CAST(v.vb AS BIGINT) AS video_bytes,
       CAST(1000 + 33*(e.nv - 1) AS INTEGER) AS max_ts
FROM e JOIN v ON v.event_id = e.event_id
"""

QUERIES_R10B["flv_demux"] = q_flv_demux
ORACLES_R10B["flv_demux"] = _FLV_ORACLE


def q_flv_decode_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FLV -> MP3 chained decode: sound-format-2 tag payloads
    reassemble byte-exactly and the real Layer III decoder inverts
    the planted spectra — verified by the shared MP3 oracle."""
    from ..operators.flv import extract_flv_audio_df
    from ..operators.mp3 import decode_mp3_features
    from ..testing.fixtures import make_flv

    containers = synth_docs(
        spark, sf_dir,
        lambda i: make_flv(i % 1000, n_frames=2 + i % 3),
        residue=6,
    )
    streams = extract_flv_audio_df(containers)
    return decode_mp3_features(streams).drop("decode_error")


QUERIES_R10B["flv_decode_audio"] = q_flv_decode_audio


def _register_flv_audio_oracle() -> None:
    from .driver_queries_r10 import _mp3_oracle_sql

    ORACLES_R10B["flv_decode_audio"] = _mp3_oracle_sql(6, 1)


_register_flv_audio_oracle()


def _q_subtitles(spark: SparkSession, sf_dir: str, mod: int,
                 fmt: str) -> DataFrame:
    from ..operators.subtitles import extract_subtitle_features
    from ..testing.fixtures import make_srt, make_vtt

    make = make_srt if fmt == "srt" else make_vtt
    pages = synth_docs(
        spark, sf_dir, lambda i: make(i % 1000), residue=mod, dtype="string"
    )
    return extract_subtitle_features(pages, fmt=fmt).drop(
        "extract_error")


def q_srt_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL SubRip extraction driver-checked: planted cues with CRLF,
    split payload lines and a junk block (testing/fixtures.make_srt)
    through the real cue parser (operators/subtitles.py); the oracle
    replays cue count, summed durations, and word/char counts."""
    return _q_subtitles(spark, sf_dir, 7, "srt")


def q_vtt_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL WebVTT extraction driver-checked: the SAME planted cues
    as make_srt but wrapped in NOTE/STYLE blocks, cue ids, cue
    settings and inline <b>/<c>/<v>/karaoke markup — the tag stripper
    must recover identical counts (testing/fixtures.make_vtt)."""
    return _q_subtitles(spark, sf_dir, 8, "vtt")


def _subtitle_oracle(mod: int) -> str:
    return f"""
WITH e AS (
  SELECT event_id, event_id % 1000 AS seed,
         4 + (event_id % 1000) % 5 AS nc
  FROM events WHERE event_id % {_FLAC_MOD} = {mod}
),
w AS (
  SELECT e.event_id,
         count(*) AS words,
         sum(1 + CASE WHEN (e.seed*3 + i.i*7 + j.j*5) % 100 < 10
                      THEN 1 ELSE 2 END) AS chars
  FROM e,
       LATERAL (SELECT unnest(range(0, e.nc)) AS i) i,
       LATERAL (SELECT unnest(range(0, 3 + (e.seed + i.i) % 4)) AS j) j
  GROUP BY 1
),
d AS (
  SELECT e.event_id,
         sum(500 + (e.seed + i.i) % 1500) AS dur
  FROM e, LATERAL (SELECT unnest(range(0, e.nc)) AS i) i
  GROUP BY 1
)
SELECT e.event_id AS doc_id,
       CAST(e.nc AS INTEGER) AS n_cues,
       CAST(d.dur AS BIGINT) AS duration_ms,
       CAST(w.words AS BIGINT) AS text_words,
       CAST(w.chars AS BIGINT) AS word_chars
FROM e JOIN w ON w.event_id = e.event_id
       JOIN d ON d.event_id = e.event_id
"""


QUERIES_R10B["srt_extract"] = q_srt_extract
ORACLES_R10B["srt_extract"] = _subtitle_oracle(7)
QUERIES_R10B["vtt_extract"] = q_vtt_extract
ORACLES_R10B["vtt_extract"] = _subtitle_oracle(8)


def q_robots_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL Robots Exclusion Protocol evaluation driver-checked: per
    event a planted robots.txt (testing/fixtures.make_robots —
    comments, junk lines, mixed field case, wildcard + $-anchored
    rules, crawl delay, * fallback group, sitemaps) is parsed and the
    fixed ROBOTS_PROBES path set scored for ua 'bot-a' under RFC 9309
    longest-match/allow-tie semantics (operators/robots.py); the
    oracle replays every count in closed form."""
    from ..operators.robots import evaluate_robots
    from ..testing.fixtures import ROBOTS_PROBES, make_robots

    pages = synth_docs(
        spark, sf_dir,
        lambda i: make_robots(i % 1000),
        residue=9, dtype="string",
    )
    return evaluate_robots(pages, "bot-a", ROBOTS_PROBES).drop(
        "extract_error")


_ROBOTS_ORACLE = f"""
SELECT event_id AS doc_id,
       CAST(2 AS INTEGER) AS n_groups,
       CAST(2 + (event_id % 1000) % 3 + 3 AS INTEGER) AS n_rules,
       CAST(1 + (event_id % 1000) % 2 AS INTEGER) AS n_sitemaps,
       CAST(5 - (2 + (event_id % 1000) % 3) + 3 AS INTEGER)
           AS n_allowed,
       CAST(1 + (event_id % 1000) % 5 AS INTEGER) AS crawl_delay
FROM events WHERE event_id % {_FLAC_MOD} = 9
"""

QUERIES_R10B["robots_eval"] = q_robots_eval
ORACLES_R10B["robots_eval"] = _ROBOTS_ORACLE


def q_jpeg_exif(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL EXIF extraction driver-checked: per event a JPEG marker
    stream with a planted APP1 TIFF tree (testing/fixtures.
    make_jpeg_exif — both byte orders, IFD0 ASCII/SHORT tags and the
    Exif sub-IFD pointer) is walked by the real marker+IFD parser
    (operators/exif.py); the oracle replays every planted field."""
    from ..operators.exif import extract_exif
    from ..testing.fixtures import make_jpeg_exif

    payloads = synth_docs(
        spark, sf_dir, lambda i: make_jpeg_exif(i % 1000), residue=0
    )
    return extract_exif(payloads).drop("extract_error")


_EXIF_ORACLE = f"""
SELECT event_id AS doc_id,
       'Cam' || CAST((event_id % 1000) % 50 AS VARCHAR) AS make,
       CAST(1 + (event_id % 1000) % 8 AS INTEGER) AS orientation,
       CAST(2010 + (event_id % 1000) % 15 AS INTEGER) AS year,
       CAST(640 + (event_id % 1000) % 100 AS INTEGER) AS pixel_x,
       CAST(480 + (event_id % 1000) % 100 AS INTEGER) AS pixel_y,
       CAST(100 * (1 + (event_id % 1000) % 8) AS INTEGER) AS iso
FROM events WHERE event_id % {_FLAC_MOD} = 0
"""

QUERIES_R10B["jpeg_exif"] = q_jpeg_exif
ORACLES_R10B["jpeg_exif"] = _EXIF_ORACLE


def q_id3_tags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL ID3v2 extraction driver-checked: per event a v2.3 (plain
    frame sizes) or v2.4 (syncsafe) tag with latin-1/utf-8/utf-16
    text frames over a genuine MP3 stream (testing/fixtures.
    make_id3_mp3), read by the real tag parser (operators/id3.py);
    the oracle replays version, frame count, the decoded strings, the
    TYER/TDRC year, and the summed text length."""
    from ..operators.id3 import extract_id3
    from ..testing.fixtures import make_id3_mp3

    payloads = synth_docs(
        spark, sf_dir, lambda i: make_id3_mp3(i % 1000), residue=1
    )
    return extract_id3(payloads).drop("extract_error")


_ID3_ORACLE = f"""
WITH e AS (
  SELECT event_id, event_id % 1000 AS seed
  FROM events WHERE event_id % {_FLAC_MOD} = 1
)
SELECT event_id AS doc_id,
       CAST(CASE WHEN seed % 2 = 1 THEN 4 ELSE 3 END AS INTEGER)
           AS version,
       CAST(4 AS INTEGER) AS n_frames,
       'Title ' || CAST(seed AS VARCHAR) AS title,
       'Artist ' || CAST(seed % 100 AS VARCHAR) AS artist,
       CAST(1990 + seed % 35 AS INTEGER) AS year,
       CAST(6 + length(CAST(seed AS VARCHAR))
            + 7 + length(CAST(seed % 100 AS VARCHAR))
            + 6 + length(CAST(seed % 20 AS VARCHAR))
            + 4 AS BIGINT) AS text_chars
FROM e
"""

QUERIES_R10B["id3_tags"] = q_id3_tags
ORACLES_R10B["id3_tags"] = _ID3_ORACLE


def q_crawl_html_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The crawl composition end-to-end: WARC archives whose
    responses carry REAL HTML (testing/fixtures.make_warc_html, gzip
    members on odd seeds) explode 1→N through the content-type-aware
    row reader (operators/warc.warc_html_rows), each page runs the
    real tag-soup extractor (operators/html.py), and the per-archive
    rollup is DECLARATIVE DataFrame code (groupBy + sum/count/max —
    Catalyst plans the partial aggregation). The oracle replays the
    planted per-page word/link counts in closed form."""
    from ..operators.html import extract_html_features
    from ..operators.warc import warc_html_rows
    from ..testing.fixtures import make_warc_html

    containers = synth_docs(
        spark, sf_dir, lambda i: make_warc_html(i % 1000), residue=2
    )
    rows = warc_html_rows(containers)
    feats = extract_html_features(rows, id_col="row_id",
                                  html_col="html")
    return (
        feats
        .withColumn("archive_id", F.expr("doc_id div 1000000"))
        .groupBy("archive_id")
        .agg(
            F.count("*").cast("int").alias("n_docs"),
            F.sum("text_words").cast("long").alias("total_words"),
            F.sum("n_links").cast("long").alias("total_links"),
            F.max("n_headings").cast("int").alias("max_headings"),
        )
        .withColumnRenamed("archive_id", "doc_id")
    )


_CRAWL_HTML_ORACLE = f"""
WITH e AS (
  SELECT event_id, event_id % 1000 AS seed,
         2 + (event_id % 1000) % 3 AS nd
  FROM events WHERE event_id % {_FLAC_MOD} = 2
),
pages AS (
  SELECT e.event_id, (e.seed*17 + 31*i.i) % 1000 AS ps
  FROM e, LATERAL (SELECT unnest(range(0, e.nd)) AS i) i
),
pw AS (
  SELECT p.event_id, p.ps,
         (SELECT count(*) + 0
          FROM (SELECT unnest(range(0, 3 + p.ps % 5)) AS pp) pp,
               LATERAL (SELECT unnest(range(0, 4 + (p.ps + pp.pp) % 6))
                        AS w) w)
         + 1 + (1 + p.ps % 3) + (p.ps % 4) AS words
  FROM pages p
)
SELECT e.event_id AS doc_id,
       CAST(e.nd AS INTEGER) AS n_docs,
       CAST((SELECT sum(pw.words) FROM pw
              WHERE pw.event_id = e.event_id) AS BIGINT) AS total_words,
       CAST((SELECT sum(p.ps % 4) FROM pages p
              WHERE p.event_id = e.event_id) AS BIGINT) AS total_links,
       CAST((SELECT max(1 + p.ps % 3) FROM pages p
              WHERE p.event_id = e.event_id) AS INTEGER)
           AS max_headings
FROM e
"""

QUERIES_R10B["crawl_html_pipeline"] = q_crawl_html_pipeline
ORACLES_R10B["crawl_html_pipeline"] = _CRAWL_HTML_ORACLE


def q_lz4_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode-then-declarative: LZ4 frames wrapping planted JSONL
    (testing/fixtures.make_lz4_jsonl) decompress in one Arrow map
    (operators/lz4.py, checksums verified); everything after is
    JVM-side Spark — split/explode lines, ``from_json`` with an
    explicit schema, groupBy aggregation. The oracle replays the
    planted records in closed form."""
    from collections.abc import Iterator as _It

    import pandas as _pd

    from ..operators.lz4 import parse_lz4_frame
    from ..testing.fixtures import make_lz4_jsonl

    e = _spread(
        load_events(spark, sf_dir).select("event_id").filter(
            F.col("event_id") % _FLAC_MOD == 3
        ),
        spark,
    )

    def _synth_and_decode(
            batches: _It[_pd.DataFrame]) -> _It[_pd.DataFrame]:
        for pdf in batches:
            ids: list = []
            texts: list = []
            for i in pdf["event_id"]:
                content, _ = parse_lz4_frame(
                    make_lz4_jsonl(int(i) % 1000))
                ids.append(int(i))
                texts.append(content.decode("utf-8"))
            yield _pd.DataFrame({
                "doc_id": _pd.Series(ids, dtype="int64"),
                "text": _pd.Series(texts, dtype=object),
            })

    docs = e.mapInPandas(_synth_and_decode,
                         schema="doc_id long, text string")
    lines = docs.select(
        "doc_id",
        F.explode(F.split(F.col("text"), "\n")).alias("line"),
    )
    parsed = lines.select(
        "doc_id",
        F.from_json(
            F.col("line"),
            "id INT, lang STRING, tokens INT, quality INT",
        ).alias("r"),
    )
    return (
        parsed
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("int").alias("n_lines"),
            F.sum("r.tokens").cast("long").alias("tokens_sum"),
            F.sum(F.when(F.col("r.quality") >= 50, 1).otherwise(0))
             .cast("int").alias("high_quality"),
            F.countDistinct("r.lang").cast("int").alias("langs"),
        )
    )


_LZ4_DOCS_ORACLE = f"""
WITH e AS (
  SELECT event_id, event_id % 1000 AS seed,
         5 + (event_id % 1000) % 5 AS nr
  FROM events WHERE event_id % {_FLAC_MOD} = 3
),
r AS (
  SELECT e.event_id,
         10 + (e.seed + i.i) % 90 AS tokens,
         (e.seed*7 + i.i*13) % 100 AS q,
         (e.seed + 2*i.i) % 4 AS lang
  FROM e, LATERAL (SELECT unnest(range(0, e.nr)) AS i) i
)
SELECT e.event_id AS doc_id,
       CAST(e.nr AS INTEGER) AS n_lines,
       CAST(sum(r.tokens) AS BIGINT) AS tokens_sum,
       CAST(sum(CASE WHEN r.q >= 50 THEN 1 ELSE 0 END) AS INTEGER)
           AS high_quality,
       CAST(count(DISTINCT r.lang) AS INTEGER) AS langs
FROM e JOIN r ON r.event_id = e.event_id
GROUP BY e.event_id, e.nr
"""

QUERIES_R10B["lz4_documents"] = q_lz4_documents
ORACLES_R10B["lz4_documents"] = _LZ4_DOCS_ORACLE


def q_png_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL PNG metadata extraction driver-checked: per event a real
    PNG raster with planted tEXt/zTXt/iTXt (latin-1, zlib, UTF-8 with
    both compression flags) and an eXIf chunk (testing/fixtures.
    make_png_meta, all CRCs real) is walked by the chunk parser
    (operators/pngmeta.py, CRC-verified, shared EXIF TIFF walk); the
    oracle replays every planted field."""
    from ..operators.pngmeta import extract_png_metadata
    from ..testing.fixtures import make_png_meta

    payloads = synth_docs(
        spark, sf_dir, lambda i: make_png_meta(i % 1000), residue=4
    )
    return extract_png_metadata(payloads).drop("extract_error")


_PNG_META_ORACLE = f"""
WITH e AS (
  SELECT event_id, event_id % 1000 AS seed
  FROM events WHERE event_id % {_FLAC_MOD} = 4
)
SELECT event_id AS doc_id,
       CAST(3 AS INTEGER) AS n_texts,
       'Img ' || CAST(seed AS VARCHAR) AS title,
       CAST(30 + seed % 40 AS BIGINT) AS desc_chars,
       CAST(2 * (5 + seed % 7) AS BIGINT) AS comment_chars,
       CAST(1 + seed % 8 AS INTEGER) AS exif_orientation,
       CAST(100 * (1 + seed % 8) AS INTEGER) AS exif_iso
FROM e
"""

QUERIES_R10B["png_metadata"] = q_png_metadata
ORACLES_R10B["png_metadata"] = _PNG_META_ORACLE


def q_svg_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL SVG feature extraction driver-checked: per event a
    planted vector document (testing/fixtures.make_svg — shapes,
    paths, text nodes, nested groups, comments, a script element on
    seed%3==0) is parsed namespace-agnostically (operators/svg.py);
    the oracle replays dimensions, element tallies and text stats."""
    from ..operators.svg import extract_svg_features
    from ..testing.fixtures import make_svg

    pages = synth_docs(
        spark, sf_dir, lambda i: make_svg(i % 1000), residue=5, dtype="string"
    )
    return extract_svg_features(pages).drop("extract_error")


_SVG_ORACLE = f"""
WITH e AS (
  SELECT event_id, event_id % 1000 AS seed,
         3 + (event_id % 1000) % 4 AS nr,
         2 + (event_id % 1000) % 3 AS np,
         1 + (event_id % 1000) % 2 AS nt
  FROM events WHERE event_id % {_FLAC_MOD} = 5
),
w AS (
  SELECT e.event_id,
         sum(1 + CASE WHEN (e.seed*3 + 63 + (3*t.t + j.j)*5) % 100
                      < 10 THEN 1 ELSE 2 END) AS chars
  FROM e,
       LATERAL (SELECT unnest(range(0, e.nt)) AS t) t,
       LATERAL (SELECT unnest(range(0, 3)) AS j) j
  GROUP BY 1
)
SELECT e.event_id AS doc_id,
       CAST(100 + e.seed % 50 AS INTEGER) AS width,
       CAST(80 + e.seed % 40 AS INTEGER) AS height,
       CAST(3 + e.nr + e.np + e.nt
            + CASE WHEN e.seed % 3 = 0 THEN 1 ELSE 0 END
            AS INTEGER) AS n_elements,
       CAST(e.np AS INTEGER) AS n_paths,
       CAST(e.nr AS INTEGER) AS n_shapes,
       CAST(e.nt AS INTEGER) AS n_text,
       CAST(CASE WHEN e.seed % 3 = 0 THEN 1 ELSE 0 END AS INTEGER)
           AS has_script,
       CAST(3 * e.nt AS BIGINT) AS text_words,
       CAST(w.chars AS BIGINT) AS word_chars
FROM e JOIN w ON w.event_id = e.event_id
"""

QUERIES_R10B["svg_features"] = q_svg_features
ORACLES_R10B["svg_features"] = _SVG_ORACLE


def q_jsonld_harvest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """schema.org JSON-LD harvest driver-checked: per event an HTML
    page with planted ld+json blocks (testing/fixtures.
    make_html_jsonld — Article/Product/Person cycle, one broken-JSON
    block on even seeds, a plain script that must not count) runs the
    collector + JSON typing (operators/html.extract_jsonld); the
    oracle replays block/type/name-length tallies."""
    from ..operators.html import extract_jsonld
    from ..testing.fixtures import make_html_jsonld

    pages = synth_docs(
        spark, sf_dir,
        lambda i: make_html_jsonld(i % 1000),
        residue=6, dtype="string",
    )
    return extract_jsonld(pages, html_col="payload").drop("extract_error")


_JSONLD_ORACLE = f"""
WITH e AS (
  SELECT event_id, event_id % 1000 AS seed,
         1 + (event_id % 1000) % 3 AS nv
  FROM events WHERE event_id % {_FLAC_MOD} = 6
),
t AS (
  SELECT e.event_id,
         sum(CASE WHEN (e.seed + b.b) % 3 = 0 THEN 1 ELSE 0 END)
             AS arts,
         sum(CASE WHEN (e.seed + b.b) % 3 = 1 THEN 1 ELSE 0 END)
             AS prods
  FROM e, LATERAL (SELECT unnest(range(0, e.nv)) AS b) b
  GROUP BY 1
)
SELECT e.event_id AS doc_id,
       CAST(e.nv + CASE WHEN e.seed % 2 = 0 THEN 1 ELSE 0 END
            AS INTEGER) AS n_blocks,
       CAST(e.nv AS INTEGER) AS n_valid,
       CAST(t.arts AS INTEGER) AS n_articles,
       CAST(t.prods AS INTEGER) AS n_products,
       CAST(e.nv * (7 + length(CAST(e.seed AS VARCHAR))) AS BIGINT)
           AS name_chars
FROM e JOIN t ON t.event_id = e.event_id
"""

QUERIES_R10B["jsonld_harvest"] = q_jsonld_harvest
ORACLES_R10B["jsonld_harvest"] = _JSONLD_ORACLE


def q_apng_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL APNG decode driver-checked (the GIF-animation check shape
    applied to PNG): 4-frame streams with nested frame rects where
    frame 1 disposes to BACKGROUND, frame 2 to PREVIOUS and frame 3's
    data spans two fdAT chunks (testing/fixtures.make_apng); each
    frame decodes through the full PNG raster path and composites per
    the fcTL ops (operators/apng.py). One row per (doc, display
    time) with the exact BIGINT RGB sum of the COMPOSITED canvas; the
    oracle computes each pixel's visible writer from the dispose
    semantics — inside frame 1's rect the canvas is ZERO at display
    times 2 and 3 except where frames 2/3 cover it."""
    from ..operators.apng import decode_apng_frames
    from ..testing.fixtures import make_apng

    payloads = synth_docs(
        spark, sf_dir, lambda i: make_apng(i % 1000), residue=7
    )
    return decode_apng_frames(payloads)


_APNG_ORACLE = f"""
WITH e AS (
  SELECT event_id, event_id % 1000 AS seed,
         8 + (event_id % 1000) % 6 AS w,
         6 + (event_id % 1000) % 5 AS h
  FROM events WHERE event_id % {_FLAC_MOD} = 7
),
px AS (
  SELECT e.event_id, e.w, e.h, e.seed, f.f,
         CASE WHEN g.g = -1 THEN 0 ELSE
           (e.seed + 17*g.g + 31*y.y + 7*x.x) % 256
           + (e.seed + 17*g.g + 31*y.y + 7*x.x + 13) % 256
           + (e.seed + 17*g.g + 31*y.y + 7*x.x + 26) % 256
         END AS v
  FROM e,
       LATERAL (SELECT unnest(range(0, 4)) AS f) f,
       LATERAL (SELECT unnest(range(0, e.h)) AS y) y,
       LATERAL (SELECT unnest(range(0, e.w)) AS x) x,
       LATERAL (SELECT CASE
           WHEN f.f = 0 THEN 0
           WHEN f.f = 1 THEN
             CASE WHEN y.y >= 1 AND x.x >= 2 THEN 1 ELSE 0 END
           WHEN f.f = 2 THEN
             CASE WHEN y.y >= 2 AND x.x >= 4 THEN 2
                  WHEN y.y >= 1 AND x.x >= 2 THEN -1 ELSE 0 END
           ELSE
             CASE WHEN y.y >= 3 AND x.x >= 6 THEN 3
                  WHEN y.y >= 1 AND x.x >= 2 THEN -1 ELSE 0 END
         END AS g) g
)
SELECT event_id AS doc_id,
       CAST(f AS INTEGER) AS frame_idx,
       CAST(w AS INTEGER) AS width,
       CAST(h AS INTEGER) AS height,
       CAST(4 AS INTEGER) AS n_frames,
       CAST(seed % 3 AS INTEGER) AS n_plays,
       CAST(2 + f AS INTEGER) AS delay_num,
       CAST(sum(v) AS BIGINT) AS rgb_sum
FROM px GROUP BY event_id, w, h, seed, f
"""

QUERIES_R10B["apng_decode"] = q_apng_decode
ORACLES_R10B["apng_decode"] = _APNG_ORACLE


def q_email_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL RFC 5322 / MIME extraction driver-checked: per event a
    nested multipart message (testing/fixtures.make_eml —
    quoted-printable body with soft line breaks and =C3=A9 escapes,
    a text/html alternative, base64 attachments) is parsed
    (operators/mime.py) and the oracle replays headers, part/
    attachment counts and the decoded text stats in closed form."""
    from ..operators.mime import extract_email_features
    from ..testing.fixtures import make_eml

    payloads = synth_docs(
        spark, sf_dir, lambda i: make_eml(i % 1000), residue=8
    )
    return extract_email_features(payloads).drop("extract_error")


_EMAIL_ORACLE = f"""
WITH e AS (
  SELECT event_id, event_id % 1000 AS seed,
         6 + (event_id % 1000) % 5 AS nw
  FROM events WHERE event_id % {_FLAC_MOD} = 8
),
w AS (
  SELECT e.event_id,
         sum(1 + CASE WHEN (e.seed*3 + 28 + 5*j.j) % 100 < 10
                      THEN 1 ELSE 2 END) AS chars
  FROM e, LATERAL (SELECT unnest(range(0, e.nw)) AS j) j
  GROUP BY 1
)
SELECT e.event_id AS doc_id,
       'Re: Msg ' || CAST(e.seed AS VARCHAR) AS subject,
       'ex' || CAST(e.seed % 10 AS VARCHAR) || '.test' AS from_domain,
       CAST(2 + e.seed % 3 AS INTEGER) AS n_parts,
       CAST(e.seed % 3 AS INTEGER) AS n_attachments,
       CAST(1 AS INTEGER) AS has_html,
       CAST(e.nw + 1 AS BIGINT) AS text_words,
       CAST(w.chars + 4 AS BIGINT) AS word_chars
FROM e JOIN w ON w.event_id = e.event_id
"""

QUERIES_R10B["email_extract"] = q_email_extract
ORACLES_R10B["email_extract"] = _EMAIL_ORACLE


def _q_feeds(spark: SparkSession, sf_dir: str, mod: int,
             which: str) -> DataFrame:
    from ..operators.feeds import (
        extract_feed_features,
        extract_sitemap_features,
    )
    from ..testing.fixtures import make_feed, make_sitemap

    make = make_sitemap if which == "sitemap" else make_feed
    pages = synth_docs(
        spark, sf_dir, lambda i: make(i % 1000), residue=mod, dtype="string"
    )
    fn = extract_sitemap_features if which == "sitemap" \
        else extract_feed_features
    return fn(pages).drop("extract_error")


def q_sitemap_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL sitemap parsing driver-checked: urlset entries with
    lastmod on even indices, sitemapindex files on seed%5==0
    (testing/fixtures.make_sitemap), parsed namespace-agnostically
    (operators/feeds.py); the oracle replays counts and the latest
    lastmod year."""
    return _q_feeds(spark, sf_dir, 9, "sitemap")


def q_feed_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL RSS 2.0 / Atom parsing driver-checked: the SAME planted
    items flow through both grammars (Atom on odd seeds); the oracle
    replays item/link counts and title text stats."""
    return _q_feeds(spark, sf_dir, 3, "feed")


_SITEMAP_ORACLE = f"""
WITH e AS (
  SELECT event_id, event_id % 1000 AS seed
  FROM events WHERE event_id % {_FLAC_MOD} = 9
),
u AS (
  SELECT e.event_id,
         count(*) FILTER (WHERE i.i % 2 = 0) AS n_lm,
         max(CASE WHEN i.i % 2 = 0
                  THEN 2015 + (e.seed + i.i) % 10 END) AS yr
  FROM e, LATERAL (SELECT unnest(range(0, 5 + e.seed % 6)) AS i) i
  WHERE e.seed % 5 <> 0
  GROUP BY 1
)
SELECT e.event_id AS doc_id,
       CAST(CASE WHEN e.seed % 5 = 0 THEN 1 ELSE 0 END AS INTEGER)
           AS is_index,
       CAST(CASE WHEN e.seed % 5 = 0 THEN 3 + e.seed % 3
                 ELSE 5 + e.seed % 6 END AS INTEGER) AS n_urls,
       CAST(CASE WHEN e.seed % 5 = 0 THEN 0 ELSE u.n_lm END
            AS INTEGER) AS n_with_lastmod,
       CAST(u.yr AS INTEGER) AS latest_year
FROM e LEFT JOIN u ON u.event_id = e.event_id
"""

_FEED_ORACLE = f"""
WITH e AS (
  SELECT event_id, event_id % 1000 AS seed,
         3 + (event_id % 1000) % 4 AS n
  FROM events WHERE event_id % {_FLAC_MOD} = 3
),
w AS (
  SELECT e.event_id,
         sum(1 + CASE WHEN (e.seed*3 + 42 + 5*i.i) % 100 < 10
                      THEN 1 ELSE 2 END) AS wchars
  FROM e, LATERAL (SELECT unnest(range(0, e.n)) AS i) i
  GROUP BY 1
)
SELECT e.event_id AS doc_id,
       CAST(e.seed % 2 AS INTEGER) AS is_atom,
       'Feed ' || CAST(e.seed AS VARCHAR) AS feed_title,
       CAST(e.n AS INTEGER) AS n_items,
       CAST(e.n AS INTEGER) AS n_links,
       CAST(3 * e.n AS BIGINT) AS title_words,
       CAST(e.n * (4 + length(CAST(e.seed AS VARCHAR))) + w.wchars
            AS BIGINT) AS title_chars
FROM e JOIN w ON w.event_id = e.event_id
"""

QUERIES_R10B["sitemap_parse"] = q_sitemap_parse
ORACLES_R10B["sitemap_parse"] = _SITEMAP_ORACLE
QUERIES_R10B["feed_parse"] = q_feed_parse
ORACLES_R10B["feed_parse"] = _FEED_ORACLE


def q_mbox_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mailing-list composition end-to-end: RFC 4155 mbox
    archives (testing/fixtures.make_mbox — From_ separators, >From
    body quoting) explode 1→N (operators/mime.mbox_rows), each
    message runs the real MIME extractor, and the per-archive rollup
    (message count, word totals, attachment totals, distinct sender
    domains) is DECLARATIVE groupBy code. The oracle replays the
    per-message planted rules in closed form."""
    from ..operators.mime import extract_email_features, mbox_rows
    from ..testing.fixtures import make_mbox

    archives = synth_docs(
        spark, sf_dir, lambda i: make_mbox(i % 1000), residue=1
    )
    rows = mbox_rows(archives)
    feats = extract_email_features(rows, id_col="row_id")
    return (
        feats
        .withColumn("archive_id", F.expr("doc_id div 100"))
        .groupBy("archive_id")
        .agg(
            F.count("*").cast("int").alias("n_messages"),
            F.sum("text_words").cast("long").alias("total_words"),
            F.sum("n_attachments").cast("int")
             .alias("total_attachments"),
            F.countDistinct("from_domain").cast("int")
             .alias("n_domains"),
        )
        .withColumnRenamed("archive_id", "doc_id")
    )


_MBOX_ORACLE = f"""
WITH e AS (
  SELECT event_id, event_id % 1000 AS seed,
         2 + (event_id % 1000) % 3 AS nm
  FROM events WHERE event_id % {_FLAC_MOD} = 1
),
m AS (
  SELECT e.event_id, (e.seed*13 + 7*mm.m) % 1000 AS ms
  FROM e, LATERAL (SELECT unnest(range(0, e.nm)) AS m) mm
)
SELECT e.event_id AS doc_id,
       CAST(e.nm AS INTEGER) AS n_messages,
       CAST((SELECT sum(7 + m.ms % 5) FROM m
              WHERE m.event_id = e.event_id) AS BIGINT) AS total_words,
       CAST((SELECT sum(m.ms % 3) FROM m
              WHERE m.event_id = e.event_id) AS INTEGER)
           AS total_attachments,
       CAST((SELECT count(DISTINCT m.ms % 10) FROM m
              WHERE m.event_id = e.event_id) AS INTEGER) AS n_domains
FROM e
"""

QUERIES_R10B["mbox_pipeline"] = q_mbox_pipeline
ORACLES_R10B["mbox_pipeline"] = _MBOX_ORACLE


def q_protobuf_walk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-less protobuf wire-format walk driver-checked: planted
    messages with two-byte varints, a text field whose first byte
    forms a group-type key (submessage heuristic can never
    false-positive), a genuine nested message, fixed32/64 fields and
    a multi-byte field-200 key (testing/fixtures.make_protobuf),
    walked by operators/protowire.py; the oracle replays every
    tally."""
    from ..operators.protowire import extract_protobuf_features
    from ..testing.fixtures import make_protobuf

    payloads = synth_docs(
        spark, sf_dir, lambda i: make_protobuf(i % 1000), residue=2
    )
    return extract_protobuf_features(payloads).drop("extract_error")


_PROTO_ORACLE = f"""
WITH e AS (
  SELECT event_id, event_id % 1000 AS seed,
         2 + (event_id % 1000) % 3 AS nrep
  FROM events WHERE event_id % {_FLAC_MOD} = 2
),
r AS (
  SELECT e.event_id, sum((e.seed + j.j) % 128) AS rep_sum
  FROM e, LATERAL (SELECT unnest(range(0, e.nrep)) AS j) j
  GROUP BY 1
)
SELECT e.event_id AS doc_id,
       CAST(5 + e.nrep AS INTEGER) AS n_fields,
       CAST(200 AS INTEGER) AS max_field,
       CAST(2 + e.nrep AS INTEGER) AS n_varint,
       CAST(1 AS INTEGER) AS n_len,
       CAST(1 AS INTEGER) AS n_sub,
       CAST(100 + e.seed % 900 + r.rep_sum + e.seed % 32 AS BIGINT)
           AS varint_sum,
       CAST(5 + length(CAST(e.seed AS VARCHAR)) AS BIGINT)
           AS len_bytes,
       CAST(2 AS INTEGER) AS depth_max
FROM e JOIN r ON r.event_id = e.event_id
"""

QUERIES_R10B["protobuf_walk"] = q_protobuf_walk
ORACLES_R10B["protobuf_walk"] = _PROTO_ORACLE


def q_cbor_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL CBOR decode driver-checked: planted documents exercising
    every definite-length major type — multi-byte uints, negatives,
    nested arrays/maps, text/byte strings, a bool, tag(1), float64
    (testing/fixtures.make_cbor) — decoded per RFC 8949
    (operators/cbor.py); the oracle replays integer sums, text
    lengths (map keys included) and structure tallies."""
    from ..operators.cbor import extract_cbor_features
    from ..testing.fixtures import make_cbor

    payloads = synth_docs(
        spark, sf_dir, lambda i: make_cbor(i % 1000), residue=4
    )
    return extract_cbor_features(payloads).drop("extract_error")


_CBOR_ORACLE = f"""
WITH e AS (
  SELECT event_id, event_id % 1000 AS seed,
         2 + (event_id % 1000) % 4 AS n
  FROM events WHERE event_id % {_FLAC_MOD} = 4
),
it AS (
  SELECT e.event_id,
         sum((e.seed*7 + i.i) % 1000) AS vsum,
         sum(2 + 1 + CASE WHEN (3*e.seed + 5*i.i) % 100 < 10
                          THEN 1 ELSE 2 END) AS chars
  FROM e, LATERAL (SELECT unnest(range(0, e.n)) AS i) i
  GROUP BY 1
)
SELECT e.event_id AS doc_id,
       CAST(e.seed - (1 + e.seed % 50) + it.vsum + e.seed % 100000
            AS BIGINT) AS int_sum,
       CAST(20 + it.chars AS BIGINT) AS text_chars,
       CAST(1 AS INTEGER) AS n_arrays,
       CAST(1 + e.n AS INTEGER) AS n_maps,
       CAST(1 AS INTEGER) AS n_tags,
       CAST(CASE WHEN e.seed % 2 = 0 THEN 1 ELSE 0 END AS INTEGER)
           AS n_true,
       CAST(4 AS INTEGER) AS depth_max
FROM e JOIN it ON it.event_id = e.event_id
"""

QUERIES_R10B["cbor_decode"] = q_cbor_decode
ORACLES_R10B["cbor_decode"] = _CBOR_ORACLE


def q_mime_sniff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The decode dispatcher driver-checked on a MIXED corpus: each
    event synthesizes one of 12 real formats (by seed%12, using the
    same fixture writers the per-format queries verify), and the
    magic-byte sniffer (operators/sniff.py) must route every payload
    to its family — the oracle is the routing rule itself."""
    from ..operators.sniff import sniff_formats
    from ..testing import fixtures as fx

    makers = [
        lambda s: fx.make_png(6, 5, s),
        fx.make_jpeg_exif,
        lambda s: fx.make_qoi(s, 8, 6, 3),
        lambda s: fx.make_bmp(s, 0),
        lambda s: fx.make_tiff(s, 0),
        fx.make_pdf,
        fx.make_lz4,
        lambda s: fx.make_html(s).encode(),
        lambda s: fx.make_vtt(s).encode(),
        lambda s: fx.make_sitemap(s).encode(),
        lambda s: fx.make_svg(s).encode(),
        fx.make_mbox,
    ]

    payloads = synth_docs(
        spark, sf_dir, lambda i: makers[i % 1000 % 12](i % 1000), residue=5
    )
    return sniff_formats(payloads)


_SNIFF_ORACLE = f"""
SELECT event_id AS doc_id,
       CASE (event_id % 1000) % 12
         WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' WHEN 2 THEN 'qoi'
         WHEN 3 THEN 'bmp' WHEN 4 THEN 'tiff' WHEN 5 THEN 'pdf'
         WHEN 6 THEN 'lz4' WHEN 7 THEN 'html' WHEN 8 THEN 'webvtt'
         WHEN 9 THEN 'sitemap' WHEN 10 THEN 'svg' ELSE 'mbox'
       END AS format
FROM events WHERE event_id % {_FLAC_MOD} = 5
"""

QUERIES_R10B["mime_sniff"] = q_mime_sniff
ORACLES_R10B["mime_sniff"] = _SNIFF_ORACLE


def q_h264_ipcm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL H.264 structural decode driver-checked: Annex B streams
    (testing/fixtures.make_h264 — baseline SPS, PPS with deblocking
    control, IDR all-I_PCM slices whose planted (0,0,1) PCM prefixes
    force genuine 0x000003 emulation-prevention bytes) run the full
    NAL/exp-Golomb/SPS/PPS/slice-header path and exact I_PCM sample
    readout (operators/h264.py); CAVLC/CABAC residuals stay honest
    named gates. The oracle replays dimensions and sample sums."""
    from ..operators.h264 import decode_h264_ipcm
    from ..testing.fixtures import make_h264

    payloads = synth_docs(
        spark, sf_dir, lambda i: make_h264(i % 1000), residue=6
    )
    return decode_h264_ipcm(payloads).drop("decode_error")


def _h264_oracle(mod: int, n_nals: int = 3) -> str:
    return f"""
WITH e AS (
  SELECT event_id, event_id % 1000 AS seed,
         1 + (event_id % 1000) % 2 AS wm,
         1 + ((event_id % 1000) // 2) % 2 AS hm
  FROM events WHERE event_id % {_FLAC_MOD} = {mod}
),
luma AS (
  SELECT e.event_id,
         sum(CASE WHEN j.j = 2 THEN 1
                  WHEN j.j < 2 THEN 0
                  ELSE (e.seed + 31*m.m + 7*j.j) % 256 END) AS s
  FROM e,
       LATERAL (SELECT unnest(range(0, e.wm * e.hm)) AS m) m,
       LATERAL (SELECT unnest(range(0, 256)) AS j) j
  GROUP BY 1
),
chroma AS (
  SELECT e.event_id,
         sum((3*e.seed + 17*m.m + 5*j.j) % 256) AS s
  FROM e,
       LATERAL (SELECT unnest(range(0, e.wm * e.hm)) AS m) m,
       LATERAL (SELECT unnest(range(0, 128)) AS j) j
  GROUP BY 1
)
SELECT e.event_id AS doc_id,
       CAST(16 * e.wm AS INTEGER) AS width,
       CAST(16 * e.hm AS INTEGER) AS height,
       CAST(e.wm * e.hm AS INTEGER) AS n_mbs,
       CAST({n_nals} AS INTEGER) AS n_nals,
       CAST(66 AS INTEGER) AS profile,
       CAST(30 AS INTEGER) AS level,
       CAST(l.s AS BIGINT) AS luma_sum,
       CAST(c.s AS BIGINT) AS chroma_sum
FROM e JOIN luma l ON l.event_id = e.event_id
       JOIN chroma c ON c.event_id = e.event_id
"""


QUERIES_R10B["h264_ipcm"] = q_h264_ipcm
ORACLES_R10B["h264_ipcm"] = _h264_oracle(6)


def q_mkv_decode_video(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matroska -> H.264 chained decode (the MP4/MKV convention done
    for real): the V_MPEG4/ISO/AVC track ships SPS/PPS OUT-OF-BAND in
    an avcC CodecPrivate and its SimpleBlock frames as 4-byte
    length-prefixed NALs (testing/fixtures.make_mkv_h264); the chain
    parses the avcC record, rewraps to Annex B (operators/mkv.
    extract_mkv_avc_annexb), and the real H.264 path decodes the
    I_PCM samples — verified by the shared closed-form oracle."""
    from ..operators.h264 import decode_h264_ipcm
    from ..operators.mkv import extract_mkv_avc_df
    from ..testing.fixtures import make_mkv_h264

    containers = synth_docs(
        spark, sf_dir, lambda i: make_mkv_h264(i % 1000), residue=7
    )
    streams = extract_mkv_avc_df(containers)
    return decode_h264_ipcm(streams).drop("decode_error")


QUERIES_R10B["mkv_decode_video"] = q_mkv_decode_video
ORACLES_R10B["mkv_decode_video"] = _h264_oracle(7)


def q_mp4_decode_video(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MP4 -> H.264 chained decode: the avc1 VisualSampleEntry's
    avcC box (out-of-band SPS/PPS per ISO 14496-15) plus the track's
    length-prefixed samples (one IDR + one SEI the decoder skips)
    rewrap to Annex B (operators/mp4.extract_mp4_avc_annexb) and the
    real I_PCM path inverts the planted samples — verified by the
    shared closed-form oracle (n_nals = 4: SPS, PPS, IDR, SEI)."""
    from ..operators.h264 import decode_h264_ipcm
    from ..operators.mp4 import extract_mp4_avc_df
    from ..testing.fixtures import make_mp4_avc

    containers = synth_docs(
        spark, sf_dir, lambda i: make_mp4_avc(i % 1000), residue=8
    )
    streams = extract_mp4_avc_df(containers)
    return decode_h264_ipcm(streams).drop("decode_error")


QUERIES_R10B["mp4_decode_video"] = q_mp4_decode_video
ORACLES_R10B["mp4_decode_video"] = _h264_oracle(8, n_nals=4)


def q_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode cleanup driver-checked: planted dirty text
    (testing/fixtures.make_mojibake — UTF-8-as-Latin-1 'Ã©'
    mojibake, embedded C0 controls, NFD combining sequences) runs the
    ftfy-class repair (operators/textnorm.py: per-token latin-1/utf-8
    round trip, control/zero-width strip, TR#15 NFC); the oracle
    replays every repair count and the exact output length."""
    from ..operators.textnorm import normalize_text_features
    from ..testing.fixtures import make_mojibake

    pages = synth_docs(
        spark, sf_dir,
        lambda i: make_mojibake(i % 1000),
        residue=9, dtype="string",
    )
    return normalize_text_features(pages).drop("extract_error")


_TEXTNORM_ORACLE = f"""
WITH e AS (
  SELECT event_id, event_id % 1000 AS seed,
         4 + (event_id % 1000) % 4 AS nc,
         1 + (event_id % 1000) % 3 AS nm,
         (event_id % 1000) % 4 AS nk,
         1 + (event_id % 1000) % 2 AS nn
  FROM events WHERE event_id % {_FLAC_MOD} = 9
),
w AS (
  SELECT e.event_id,
         sum(1 + length(CAST((3*e.seed + 5*j.j) % 100 AS VARCHAR)))
             AS clean_chars
  FROM e, LATERAL (SELECT unnest(range(0, e.nc)) AS j) j
  GROUP BY 1
)
SELECT e.event_id AS doc_id,
       CAST(e.nm AS INTEGER) AS repaired_tokens,
       CAST(e.nk AS INTEGER) AS stripped_controls,
       CAST(e.nn AS INTEGER) AS composed_points,
       CAST(w.clean_chars + 5*e.nm + 2*e.nk + 2*e.nn
            + (e.nc + e.nm + e.nk + e.nn - 1) AS BIGINT) AS out_chars
FROM e JOIN w ON w.event_id = e.event_id
"""

QUERIES_R10B["text_normalize"] = q_text_normalize
ORACLES_R10B["text_normalize"] = _TEXTNORM_ORACLE


def q_opus_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL OggOpus metadata driver-checked: CRC-verified Ogg pages
    (the shared RFC 3533 walk) feed the RFC 7845 OpusHead parse
    (both channel-mapping families) and OpusTags VorbisComment
    (testing/fixtures.make_oggopus); the oracle replays every field.
    SILK/CELT audio decode stays an honest named gate."""
    from ..operators.audiometa import extract_opus_meta
    from ..testing.fixtures import make_oggopus

    payloads = synth_docs(
        spark, sf_dir, lambda i: make_oggopus(i % 1000), residue=0
    )
    return extract_opus_meta(payloads).drop("extract_error")


_OPUS_ORACLE = f"""
WITH e AS (
  SELECT event_id, event_id % 1000 AS seed
  FROM events WHERE event_id % {_FLAC_MOD} = 0
)
SELECT event_id AS doc_id,
       CAST(CASE WHEN seed % 2 = 0 THEN 1 + (seed // 2) % 2
                 ELSE 3 + seed % 3 END AS INTEGER) AS channels,
       CAST(312 + seed % 100 AS INTEGER) AS pre_skip,
       CAST(48000 AS INTEGER) AS input_rate,
       CAST(3 AS INTEGER) AS n_comments,
       'Track ' || CAST(seed AS VARCHAR) AS title,
       CAST(29 + length(CAST(seed AS VARCHAR))
            + length(CAST(seed % 50 AS VARCHAR)) AS BIGINT)
           AS comment_chars,
       CAST(2 + seed % 3 AS INTEGER) AS n_audio_packets
FROM e
"""

QUERIES_R10B["opus_meta"] = q_opus_meta
ORACLES_R10B["opus_meta"] = _OPUS_ORACLE


def q_flac_tags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL FLAC metadata driver-checked: streams whose audio still
    decodes (the splice keeps make_flac's frames intact) gain
    VorbisComment, SEEKTABLE (real + placeholder points), PADDING and
    on even seeds a PNG PICTURE block whose cover chains through the
    REAL raster decoder for an exact pixel sum
    (testing/fixtures.make_flac_tagged, operators/audiometa.py)."""
    from ..operators.audiometa import extract_flac_tags
    from ..testing.fixtures import make_flac_tagged

    payloads = synth_docs(
        spark, sf_dir, lambda i: make_flac_tagged(i % 1000), residue=1
    )
    return extract_flac_tags(payloads).drop("extract_error")


_FLAC_TAGS_ORACLE = f"""
WITH e AS (
  SELECT event_id, event_id % 1000 AS seed
  FROM events WHERE event_id % {_FLAC_MOD} = 1
),
px AS (
  SELECT e.event_id,
         sum((e.seed + 31*y.y + 7*x.x + 13*c.c) % 256) AS s
  FROM e,
       LATERAL (SELECT unnest(range(0, 3)) AS y) y,
       LATERAL (SELECT unnest(range(0, 4)) AS x) x,
       LATERAL (SELECT unnest(range(0, 3)) AS c) c
  WHERE e.seed % 2 = 0
  GROUP BY 1
)
SELECT e.event_id AS doc_id,
       CAST(4 + CASE WHEN e.seed % 2 = 0 THEN 1 ELSE 0 END
            AS INTEGER) AS n_blocks,
       CAST(2 AS INTEGER) AS n_comments,
       'Song ' || CAST(e.seed AS VARCHAR) AS title,
       CAST(2 + e.seed % 3 AS INTEGER) AS seekpoints,
       CAST(e.seed % 2 AS INTEGER) AS placeholder_points,
       CAST(10 + e.seed % 50 AS BIGINT) AS padding_bytes,
       CASE WHEN e.seed % 2 = 0 THEN 'image/png' END AS picture_mime,
       CAST(px.s AS BIGINT) AS picture_rgb_sum
FROM e LEFT JOIN px ON px.event_id = e.event_id
"""

QUERIES_R10B["flac_tags"] = q_flac_tags
ORACLES_R10B["flac_tags"] = _FLAC_TAGS_ORACLE


def q_multi_format_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dispatcher end-to-end: a MIXED image corpus (PNG / QOI /
    BMP by seed%3, each format's own planted rule) runs sniff +
    route + REAL per-format decode in ONE Arrow pass
    (operators/sniff.route_and_decode_images); the oracle replays
    each format's pixel rule behind the same seed%3 routing — a green
    row proves detection AND all three decoders agree with their
    rules in a single mixed scan."""
    from ..operators.sniff import route_and_decode_images
    from ..testing.fixtures import make_bmp, make_png, make_qoi

    makers = [lambda s: make_png(6, 5, s),
              lambda s: make_qoi(s, 8, 6, 3),
              lambda s: make_bmp(s, 0)]
    payloads = synth_docs(
        spark, sf_dir, lambda i: makers[i % 1000 % 3](i % 1000), residue=2
    )
    return route_and_decode_images(payloads).drop("decode_error")


_MULTI_FORMAT_ORACLE = f"""
WITH e AS (
  SELECT event_id, event_id % 1000 AS seed,
         (event_id % 1000) % 3 AS fmt
  FROM events WHERE event_id % {_FLAC_MOD} = 2
),
png AS (
  SELECT e.event_id,
         sum((e.seed + 31*y.y + 7*x.x + 13*c.c) % 256) AS s
  FROM e,
       LATERAL (SELECT unnest(range(0, 5)) AS y) y,
       LATERAL (SELECT unnest(range(0, 6)) AS x) x,
       LATERAL (SELECT unnest(range(0, 3)) AS c) c
  WHERE e.fmt = 0 GROUP BY 1
),
qoi AS (
  SELECT e.event_id,
         sum(CASE WHEN y.y % 3 = 0
                THEN (e.seed + 11*x.x + 17*y.y + 7*c.c) % 256
              WHEN y.y % 3 = 1
                THEN (5*e.seed + 29*y.y + 7*c.c
                      + CASE WHEN x.x % 2 = 1 THEN 77 ELSE 0 END)
                     % 256
              ELSE (e.seed + 13*y.y + 7*c.c + x.x // 4) % 256
         END) AS s
  FROM e,
       LATERAL (SELECT unnest(range(0, 6)) AS y) y,
       LATERAL (SELECT unnest(range(0, 8)) AS x) x,
       LATERAL (SELECT unnest(range(0, 3)) AS c) c
  WHERE e.fmt = 1 GROUP BY 1
),
bmp AS (
  SELECT e.event_id,
         sum((e.seed + 7*x.x + 13*y.y + 5*c.c) % 256) AS s
  FROM e,
       LATERAL (SELECT unnest(range(0, 7)) AS y) y,
       LATERAL (SELECT unnest(range(0, 13)) AS x) x,
       LATERAL (SELECT unnest(range(0, 3)) AS c) c
  WHERE e.fmt = 2 GROUP BY 1
)
SELECT e.event_id AS doc_id,
       CASE e.fmt WHEN 0 THEN 'png' WHEN 1 THEN 'qoi'
                  ELSE 'bmp' END AS format,
       CAST(coalesce(p.s, q.s, b.s) AS BIGINT) AS px_sum
FROM e LEFT JOIN png p ON p.event_id = e.event_id
       LEFT JOIN qoi q ON q.event_id = e.event_id
       LEFT JOIN bmp b ON b.event_id = e.event_id
"""

QUERIES_R10B["multi_format_pipeline"] = q_multi_format_pipeline
ORACLES_R10B["multi_format_pipeline"] = _MULTI_FORMAT_ORACLE


def q_tar_longnames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GNU/PAX long-name tar support driver-checked: archives with
    >100-char member names written by CPython's tarfile (an
    INDEPENDENT writer — GNU typeflag-L headers on even seeds, PAX x
    extended headers on odd) read by the real ustar walk
    (operators/tar.py); the oracle replays member counts, name
    lengths, sizes and byte sums."""
    from ..operators.tar import extract_tar_features
    from ..testing.fixtures import make_tar_longnames

    payloads = synth_docs(
        spark, sf_dir, lambda i: make_tar_longnames(i % 1000), residue=3
    )
    out = extract_tar_features(payloads)
    drop = [c for c in out.columns
            if c not in ("doc_id", "n_members", "size_sum",
                         "byte_sum", "name_len_sum")]
    return out.drop(*drop)


_TAR_LONG_ORACLE = f"""
WITH e AS (
  SELECT event_id, event_id % 1000 AS seed,
         2 + (event_id % 1000) % 3 AS nm
  FROM events WHERE event_id % {_FLAC_MOD} = 3
),
m AS (
  SELECT e.event_id,
         sum(2 + length(CAST(e.seed AS VARCHAR)) + 110
             + (e.seed + mm.m) % 40 + 6) AS names,
         sum(20 + (e.seed + mm.m) % 30) AS sizes
  FROM e, LATERAL (SELECT unnest(range(0, e.nm)) AS m) mm
  GROUP BY 1
),
b AS (
  SELECT e.event_id,
         sum((e.seed + 5*mm.m + j.j) % 256) AS bytes
  FROM e,
       LATERAL (SELECT unnest(range(0, e.nm)) AS m) mm,
       LATERAL (SELECT unnest(range(0, 20 + (e.seed + mm.m) % 30))
                AS j) j
  GROUP BY 1
)
SELECT e.event_id AS doc_id,
       CAST(e.nm AS BIGINT) AS n_members,
       CAST(m.sizes AS BIGINT) AS size_sum,
       CAST(b.bytes AS BIGINT) AS byte_sum,
       CAST(m.names AS BIGINT) AS name_len_sum
FROM e JOIN m ON m.event_id = e.event_id
       JOIN b ON b.event_id = e.event_id
"""

QUERIES_R10B["tar_longnames"] = q_tar_longnames
ORACLES_R10B["tar_longnames"] = _TAR_LONG_ORACLE


def q_script_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Homograph / script-mix screening driver-checked: planted
    multi-script text (testing/fixtures.make_script_mix — Latin,
    Cyrillic and Greek tokens, Latin tokens carrying one Cyrillic
    'а', a script-neutral digits token) runs the per-token script
    analysis (operators/textnorm.script_mix); the oracle replays the
    token/mixed/non-Latin/script tallies."""
    from ..operators.textnorm import script_mix_features
    from ..testing.fixtures import make_script_mix

    pages = synth_docs(
        spark, sf_dir,
        lambda i: make_script_mix(i % 1000),
        residue=4, dtype="string",
    )
    return script_mix_features(pages).drop("extract_error")


_SCRIPT_MIX_ORACLE = f"""
WITH e AS (
  SELECT event_id, event_id % 1000 AS seed
  FROM events WHERE event_id % {_FLAC_MOD} = 4
)
SELECT event_id AS doc_id,
       CAST((3 + seed % 4) + (1 + seed % 3) + (seed % 3)
            + (1 + seed % 2) AS INTEGER) AS n_tokens,
       CAST(1 + seed % 2 AS INTEGER) AS n_mixed,
       CAST((1 + seed % 3) + (seed % 3) AS INTEGER) AS n_nonlatin,
       CAST(2 + CASE WHEN seed % 3 > 0 THEN 1 ELSE 0 END AS INTEGER)
           AS n_scripts
FROM e
"""

QUERIES_R10B["script_mix"] = q_script_mix
ORACLES_R10B["script_mix"] = _SCRIPT_MIX_ORACLE


def q_zip64_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ZIP64 reading driver-checked: archives whose central entries
    saturate their 32-bit size/offset slots (0x0001 extra fields)
    and whose EOCD defers to a ZIP64 EOCD record via the locator
    (testing/fixtures.make_zip64 — the layout any >4 GiB archive
    uses, exercised at fixture scale as the spec allows; CPython
    zipfile reads the same fixtures in pytest). Same planted entry
    rules as zip_extract on a disjoint lane."""
    from ..operators.zip import extract_zip_features
    from ..testing.fixtures import make_zip64

    payloads = synth_docs(
        spark, sf_dir, lambda i: make_zip64(i % 1000), residue=5
    )
    return extract_zip_features(payloads).drop("decode_error")


_ZIP64_ORACLE = f"""
WITH e AS (
  SELECT event_id, event_id % 1000 AS seed,
         3 + (event_id % 1000) % 3 AS n
  FROM events WHERE event_id % {_FLAC_MOD} = 5
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

QUERIES_R10B["zip64_extract"] = q_zip64_extract
ORACLES_R10B["zip64_extract"] = _ZIP64_ORACLE
