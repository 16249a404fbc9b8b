"""Round-12 driver queries: the lakehouse gaps ranked top by the r11
verdict — general Dremel nested-column assembly for raw parquet,
Delta checkpoint bootstrap through the engine's OWN parquet reader,
Iceberg v2 positional deletes, and ORC timestamp/decimal columns.

Same planted-rule discipline as the r10/r11 plans: a deterministic
fixture is synthesized per event id inside ``mapInPandas`` (written
by the REAL upstream writer — parquet-cpp / ORC C++ via pyarrow — so
a green row proves the byte path reads real files, not a private
dialect), the engine's reader inverts it, and the DuckDB oracle
replays the planted rules in closed form.

No counterpart surface exists in the reference repo
(mydatastack/google-analytics-to-s3); this is the beyond-reference
LLM-training-data-pipeline surface the build plan mandates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.testdata import load_events
from .driver_queries_analytics import _FLAC_MOD, _spread, synth_docs

QUERIES_R12: dict = {}
ORACLES_R12: dict[str, str] = {}


def q_parquet_scan_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    """General Dremel record assembly driver-checked (r12): per event
    a parquet-cpp file whose single column is a NESTED
    struct{a, tags: list<string>, pts: list<struct{x,y}>,
    m: map<string,int64>} with null structs / null lists / null
    elements / empty containers planted, rebuilt from the four leaf
    columns' repetition/definition level streams by the general
    assembler (operators/parquet_raw.parquet_read_nested — v1 AND v2
    pages, snappy/zstd, dictionary on/off, 32-row row groups), and
    the oracle replays every tally in closed form.  The same
    assembler exact-matches parquet-cpp's own ``to_pylist`` over
    struct / list-of-list / list-of-struct / map shapes in pytest.
    Lane id % 10 == 5."""
    from ..operators.parquet_raw import decode_parquet_nested_stats
    from ..testing.fixtures import make_parquet_nested

    payloads = synth_docs(
        spark, sf_dir, lambda i: make_parquet_nested(i % 1000), residue=5
    )
    return decode_parquet_nested_stats(payloads, "v").drop("decode_error")


_NESTED_ORACLE_TEMPLATE = """
WITH e AS (
  SELECT event_id, event_id % 1000 AS seed,
         40 + (event_id % 1000) % 80 AS n
  FROM events WHERE event_id % {mod} = {lane}
),
rows_ AS (
  SELECT e.event_id, e.seed, i.i,
         (e.seed + 5*i.i) % 7 = 0 AS is_null
  FROM e, LATERAL (SELECT unnest(range(0, e.n)) AS i) i
),
live AS (SELECT * FROM rows_ WHERE NOT is_null),
tags AS (
  SELECT l.event_id,
         count(*) AS n_tags,
         sum(CASE WHEN (l.i + j.j) % 5 = 4 THEN 0
             ELSE 1 + length(CAST((l.seed + 7*l.i + 3*j.j) % 50
                                  AS VARCHAR)) END) AS chars
  FROM live l,
       LATERAL (SELECT unnest(range(0, (l.seed + 2*l.i) % 4)) AS j) j
  WHERE (l.seed + l.i) % 6 <> 0
  GROUP BY 1
),
pts AS (
  SELECT l.event_id,
         count(*) AS pts_n,
         sum((l.seed + 13*l.i + 7*k.k) % 500) AS x_sum,
         sum(CASE WHEN (l.i + k.k) % 3 = 0 THEN 1 ELSE 0 END) AS y_nulls
  FROM live l,
       LATERAL (SELECT unnest(range(0, (l.seed + 3*l.i) % 3)) AS k) k
  GROUP BY 1
),
ments AS (
  SELECT l.event_id,
         count(*) AS m_entries,
         sum(CASE WHEN (l.i + g.e) % 7 = 6 THEN 0
             ELSE (l.seed + 9*l.i + 4*g.e) % 300 END) AS m_val_sum
  FROM live l,
       LATERAL (SELECT unnest(range(0, (l.seed + l.i) % 3)) AS e) g
  GROUP BY 1
)
SELECT e.event_id AS doc_id,
       CAST(e.n AS BIGINT) AS n_rows,
       CAST((SELECT count(*) FROM rows_ r
              WHERE r.event_id = e.event_id AND r.is_null)
            AS BIGINT) AS n_null_rows,
       CAST(coalesce((SELECT sum(CASE WHEN l.i % 5 = 3 THEN 0
                          ELSE (l.seed*3 + 11*l.i) % 1000 END)
              FROM live l WHERE l.event_id = e.event_id), 0)
            AS BIGINT) AS a_sum,
       CAST(coalesce(t.n_tags, 0) AS BIGINT) AS n_tags,
       CAST(coalesce(t.chars, 0) AS BIGINT) AS tags_chars,
       CAST(coalesce(p.pts_n, 0) AS BIGINT) AS pts_n,
       CAST(coalesce(p.x_sum, 0) AS BIGINT) AS x_sum,
       CAST(coalesce(p.y_nulls, 0) AS BIGINT) AS y_nulls,
       CAST(coalesce(m.m_entries, 0) AS BIGINT) AS m_entries,
       CAST(coalesce(m.m_val_sum, 0) AS BIGINT) AS m_val_sum
FROM e
LEFT JOIN tags t ON t.event_id = e.event_id
LEFT JOIN pts p ON p.event_id = e.event_id
LEFT JOIN ments m ON m.event_id = e.event_id
"""

QUERIES_R12["parquet_scan_nested"] = q_parquet_scan_nested
ORACLES_R12["parquet_scan_nested"] = _NESTED_ORACLE_TEMPLATE.format(
    mod=_FLAC_MOD, lane=5)


def q_delta_checkpoint_snapshot(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Delta CHECKPOINT bootstrap driver-checked (r12): per event a
    tar bundle of a ``_delta_log`` whose checkpoint is a REAL parquet
    file written by parquet-cpp (add/remove as nested struct columns,
    two all-null protocol/metaData rows planted) — the real reader
    path for large logs: ``_last_checkpoint`` JSON → checkpoint
    parquet through the engine's OWN Dremel assembler
    (operators/parquet_raw.parquet_read_nested) → fold only the JSON
    commits after the checkpoint version
    (operators/lakehouse.parse_delta_checkpoint).  The oracle replays
    the full-log fold in closed form — green means bootstrap-from-
    checkpoint and fold-from-genesis agree, which is the protocol's
    correctness condition for checkpoints.  Lane id % 10 == 7."""
    from ..operators.lakehouse import decode_delta_checkpoint
    from ..testing.fixtures import make_delta_checkpoint_bundle

    payloads = synth_docs(
        spark, sf_dir,
        lambda i: make_delta_checkpoint_bundle(i % 1000),
        residue=7,
    )
    return decode_delta_checkpoint(payloads).drop("decode_error")


_DELTA_CKPT_ORACLE = f"""
WITH e AS (
  SELECT event_id, event_id % 1000 AS seed,
         10 + (event_id % 1000) % 5 AS v,
         13 + (event_id % 1000) % 5 + (event_id % 1000) % 4 AS last
  FROM events WHERE event_id % {_FLAC_MOD} = 7
),
acts AS (
  SELECT e.event_id, e.v, e.last, w.w, j.j,
         (e.seed + 5*w.w + 3*j.j) % 20 AS pid,
         (e.seed + w.w + j.j) % 4 = 3 AS is_rm,
         100 + (e.seed + 7*w.w + j.j) % 900 AS sz
  FROM e,
       LATERAL (SELECT unnest(range(0, e.last + 1)) AS w) w,
       LATERAL (SELECT unnest(range(0, 2)) AS j) j
),
latest AS (
  SELECT *, row_number() OVER (PARTITION BY event_id, pid
                               ORDER BY w DESC, j DESC) AS rn
  FROM acts
),
live AS (
  SELECT event_id,
         sum(CASE WHEN NOT is_rm THEN 1 ELSE 0 END) AS nl,
         sum(CASE WHEN NOT is_rm THEN sz ELSE 0 END) AS lb
  FROM latest WHERE rn = 1 GROUP BY 1
),
ckpt AS (
  SELECT event_id, count(DISTINCT pid) AS np
  FROM acts WHERE w <= v GROUP BY 1
)
SELECT e.event_id AS doc_id,
       CAST(e.v AS BIGINT) AS checkpoint_version,
       CAST(e.last AS BIGINT) AS last_version,
       CAST(c.np + 2 AS BIGINT) AS n_ckpt_rows,
       CAST(2 * (e.last - e.v) AS BIGINT) AS n_json_actions,
       CAST(l.nl AS BIGINT) AS n_live_files,
       CAST(l.lb AS BIGINT) AS live_bytes
FROM e
JOIN live l ON l.event_id = e.event_id
JOIN ckpt c ON c.event_id = e.event_id
"""

QUERIES_R12["delta_checkpoint_snapshot"] = q_delta_checkpoint_snapshot
ORACLES_R12["delta_checkpoint_snapshot"] = _DELTA_CKPT_ORACLE


def q_iceberg_scan_deletes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg FORMAT-V2 positional deletes driver-checked (r12): per
    event a bundle whose manifest list carries ``content`` (0 data /
    1 deletes) and whose delete manifest points at a REAL parquet
    position-delete file (file_path/pos, engine-read) — the scan
    builds the delete map, drops deleted positions from live data
    files, and must NOT apply dangling deletes planted against
    status-2 (dead) files.  The oracle replays file layout, delete
    positions and the post-delete column sum in closed form; the
    post-delete sum provably differs from the no-delete scan on every
    seed (pytest).  Lane id % 10 == 9."""
    from ..operators.iceberg import decode_iceberg_scan_deletes
    from ..testing.fixtures import make_iceberg_v2_bundle

    payloads = synth_docs(
        spark, sf_dir, lambda i: make_iceberg_v2_bundle(i % 1000), residue=9
    )
    return decode_iceberg_scan_deletes(payloads, "v").drop("decode_error")


_ICEBERG_DELETES_ORACLE = f"""
WITH e AS (
  SELECT event_id, event_id % 1000 AS seed
  FROM events WHERE event_id % {_FLAC_MOD} = 9
),
mf AS (
  SELECT e.event_id, e.seed, m.m, f.f,
         30 + (e.seed*5 + 7*m.m + 11*f.f) % 50 AS n,
         (e.seed + m.m + f.f) % 4 <> 3 AS live,
         (e.seed + m.m + f.f) % 5 AS dm
  FROM e,
       LATERAL (SELECT unnest(range(0, 1 + e.seed % 2)) AS m) m,
       LATERAL (SELECT unnest(range(0, 2 + (e.seed + m.m) % 3)) AS f) f
),
rows_ AS (
  SELECT mf.event_id, mf.live, i.i % 5 = mf.dm AS del_,
         (mf.seed*3 + 17*mf.m + 23*mf.f + 9*i.i) % 1000 AS v
  FROM mf, LATERAL (SELECT unnest(range(0, mf.n)) AS i) i
)
SELECT e.event_id AS doc_id,
       CAST(7000 + e.seed AS BIGINT) AS snapshot_id,
       CAST((SELECT count(*) FROM mf
              WHERE mf.event_id = e.event_id AND mf.live)
            AS INTEGER) AS n_data_files,
       CAST(1 AS INTEGER) AS n_delete_files,
       CAST((SELECT count(*) FROM rows_ r
              WHERE r.event_id = e.event_id AND r.del_)
            AS BIGINT) AS n_positions,
       CAST((SELECT count(*) FROM rows_ r
              WHERE r.event_id = e.event_id AND r.del_ AND r.live)
            AS BIGINT) AS n_deleted_applied,
       CAST((SELECT count(*) FROM rows_ r
              WHERE r.event_id = e.event_id AND NOT r.del_ AND r.live)
            AS BIGINT) AS records_after,
       CAST((SELECT sum(r.v) FROM rows_ r
              WHERE r.event_id = e.event_id AND NOT r.del_ AND r.live)
            AS BIGINT) AS value_sum
FROM e
"""

QUERIES_R12["iceberg_scan_deletes"] = q_iceberg_scan_deletes
ORACLES_R12["iceberg_scan_deletes"] = _ICEBERG_DELETES_ORACLE


def q_orc_scan_timestamps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC TIMESTAMP + DECIMAL scan driver-checked (r12): per event
    an ORC file written by the Apache ORC C++ writer whose timestamp
    column straddles the spec's 2015 epoch (negative relative
    seconds) with the full nanosecond scale-bit menu, and whose
    decimal column carries signed unscaled varint significands +
    per-value scales — both read straight from the DATA/SECONDARY
    streams (operators/orc_meta.orc_read_timestamp_column /
    orc_read_decimal_column; this round's closestFixedBits
    PATCHED_BASE fix is on this path).  The oracle replays range,
    sub-second tallies and the unscaled decimal sum in closed form.
    Lane id % 10 == 2."""
    from ..operators.orc_meta import decode_orc_ts_dec
    from ..testing.fixtures import make_orc_ts_dec

    payloads = synth_docs(
        spark, sf_dir, lambda i: make_orc_ts_dec(i % 1000), residue=2
    )
    return decode_orc_ts_dec(payloads, "ts", "d").drop("decode_error")


_ORC_TSDEC_ORACLE = f"""
WITH e AS (
  SELECT event_id, event_id % 1000 AS seed,
         50 + (event_id % 1000) % 100 AS n
  FROM events WHERE event_id % {_FLAC_MOD} = 2
),
rows_ AS (
  SELECT e.event_id, i.i,
         (e.seed + i.i) % 9 = 8 AS is_null,
         1400000000 + (e.seed*13 + 7*i.i) % 500000000 AS sec,
         CASE (e.seed + 3*i.i) % 5
           WHEN 0 THEN 0 WHEN 1 THEN 1 WHEN 2 THEN 1000
           WHEN 3 THEN 123000000 ELSE 987654321 END AS nanos,
         (e.seed*7 + 11*i.i) % 2000000 - 1000000 AS cents
  FROM e, LATERAL (SELECT unnest(range(0, e.n)) AS i) i
),
live AS (SELECT * FROM rows_ WHERE NOT is_null)
SELECT e.event_id AS doc_id,
       CAST(e.n AS BIGINT) AS n_values,
       CAST(2 * (SELECT count(*) FROM rows_ r
                  WHERE r.event_id = e.event_id AND r.is_null)
            AS BIGINT) AS n_nulls,
       CAST((SELECT min(l.sec * 1000000000 + l.nanos) FROM live l
              WHERE l.event_id = e.event_id) AS BIGINT) AS ts_min_ns,
       CAST((SELECT max(l.sec * 1000000000 + l.nanos) FROM live l
              WHERE l.event_id = e.event_id) AS BIGINT) AS ts_max_ns,
       CAST((SELECT count(*) FROM live l
              WHERE l.event_id = e.event_id AND l.nanos > 0)
            AS BIGINT) AS ts_subsec,
       CAST((SELECT sum(l.nanos) FROM live l
              WHERE l.event_id = e.event_id) AS BIGINT) AS subsec_sum,
       CAST((SELECT sum(l.cents) FROM live l
              WHERE l.event_id = e.event_id) AS BIGINT) AS dec_sum
FROM e
"""

QUERIES_R12["orc_scan_timestamps"] = q_orc_scan_timestamps
ORACLES_R12["orc_scan_timestamps"] = _ORC_TSDEC_ORACLE


def q_zstd_dict_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """zstd DICTIONARY frames driver-checked (r12; the Kafka/parquet
    trained-dictionary shape that previously quarantined): libzstd
    trains a REAL dictionary (ZDICT via ctypes, deterministic
    samples) and compresses each event's planted content against it
    (ZSTD_compress_usingDict, levels 3/9/19) — the pure-Python RFC
    8878 §5 path (operators/zstd.parse_zstd_dict) parses the entropy
    tables / rep offsets / content, seeds the frame context, and
    decodes; every frame provably reaches into the dictionary window
    (pytest blanks the content and all frames fail).  The oracle
    replays the planted bytes in closed form.  Lane id % 10 == 8."""
    from ..operators.zstd import decode_zstd_meta, parse_zstd_dict
    from ..testing.fixtures import make_zstd_dict_frame, zstd_training_dict

    dict_bytes = zstd_training_dict()
    did = parse_zstd_dict(dict_bytes)["dict_id"]

    payloads = synth_docs(
        spark, sf_dir, lambda i: make_zstd_dict_frame(i % 1000), residue=8
    )
    return decode_zstd_meta(
        payloads, dictionaries={did: dict_bytes}).drop("decode_error")


def _zstd_dict_oracle_sql() -> str:
    from ..testing.fixtures import ZSTD_DICT_SENTINEL

    return f"""
WITH e AS (
  SELECT event_id, event_id % 1000 AS seed,
         50 + (event_id % 1000) % 120 AS n
  FROM events WHERE event_id % {_FLAC_MOD} = 8
),
sums AS (
  SELECT e.event_id,
         (SELECT sum((5*e.seed + 13*i.i) % 251)
          FROM (SELECT unnest(range(0, e.n)) AS i) i) AS s
  FROM e
)
SELECT e.event_id AS doc_id,
       CAST(1 AS INTEGER) AS n_frames,
       CAST({len(ZSTD_DICT_SENTINEL)} + e.n AS BIGINT) AS content_len,
       CAST({sum(ZSTD_DICT_SENTINEL)} + s.s AS BIGINT) AS content_sum
FROM e JOIN sums s ON s.event_id = e.event_id
"""


QUERIES_R12["zstd_dict_extract"] = q_zstd_dict_extract
ORACLES_R12["zstd_dict_extract"] = _zstd_dict_oracle_sql()


def q_parquet_scan_int96(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Legacy INT96 timestamps driver-checked (r12; the Hive/Spark-1.x
    layout real lakehouses still carry): per event a parquet-cpp file
    written with ``use_deprecated_int96_timestamps`` — Julian day +
    SIGNED nanos-of-day, decoded to int64 ns since the Unix epoch by
    the raw reader (gate opened this round; pre-1970 rows planted),
    across none/snappy/gzip/zstd/LZ4_RAW pages (the LZ4_RAW codec
    gate also opened this round), v1+v2 pages, dictionary on/off.
    The oracle replays range and sub-second tallies in closed form.
    Lane id % 10 == 6."""
    from ..operators.parquet_raw import decode_parquet_ts96
    from ..testing.fixtures import make_parquet_int96

    payloads = synth_docs(
        spark, sf_dir, lambda i: make_parquet_int96(i % 1000), residue=6
    )
    return decode_parquet_ts96(payloads, "ts").drop("decode_error")


_PARQUET_INT96_ORACLE = f"""
WITH e AS (
  SELECT event_id, event_id % 1000 AS seed,
         40 + (event_id % 1000) % 80 AS n
  FROM events WHERE event_id % {_FLAC_MOD} = 6
),
rows_ AS (
  SELECT e.event_id, i.i,
         (e.seed + i.i) % 9 = 8 AS is_null,
         1300000000 + (e.seed*11 + 13*i.i) % 700000000
           - CASE WHEN (e.seed + i.i) % 7 = 3
                  THEN 1600000000 ELSE 0 END AS sec,
         CASE (e.seed + 3*i.i) % 5
           WHEN 0 THEN 0 WHEN 1 THEN 1 WHEN 2 THEN 1000
           WHEN 3 THEN 123000000 ELSE 987654321 END AS nanos
  FROM e, LATERAL (SELECT unnest(range(0, e.n)) AS i) i
),
live AS (SELECT * FROM rows_ WHERE NOT is_null)
SELECT e.event_id AS doc_id,
       CAST(e.n AS BIGINT) AS n_values,
       CAST((SELECT count(*) FROM rows_ r
              WHERE r.event_id = e.event_id AND r.is_null)
            AS BIGINT) AS n_nulls,
       CAST((SELECT min(l.sec * 1000000000 + l.nanos) FROM live l
              WHERE l.event_id = e.event_id) AS BIGINT) AS ts_min_ns,
       CAST((SELECT max(l.sec * 1000000000 + l.nanos) FROM live l
              WHERE l.event_id = e.event_id) AS BIGINT) AS ts_max_ns,
       CAST((SELECT count(*) FROM live l
              WHERE l.event_id = e.event_id AND l.nanos > 0)
            AS BIGINT) AS ts_subsec,
       CAST((SELECT sum(l.nanos) FROM live l
              WHERE l.event_id = e.event_id) AS BIGINT) AS subsec_sum
FROM e
"""

QUERIES_R12["parquet_scan_int96"] = q_parquet_scan_int96
ORACLES_R12["parquet_scan_int96"] = _PARQUET_INT96_ORACLE


def q_orc_scan_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC NESTED columns driver-checked (r12): the SAME planted
    struct{a, tags: list<string>, pts: list<struct>, m: map} rows as
    ``parquet_scan_nested``, written by the Apache ORC C++ writer and
    rebuilt by the recursive column-tree materializer
    (operators/orc_meta.orc_read_nested_column — PRESENT bool-RLE at
    every level, LENGTH RLEv2 for lists/maps, string DIRECT/
    DICTIONARY leaves, 5 chunk codecs).  One closed-form oracle thus
    exercises two independent byte paths; pytest additionally pins
    the ORC and parquet readers record-for-record equal on every
    seed.  Lane id % 10 == 3."""
    from ..operators.orc_meta import decode_orc_nested_stats
    from ..testing.fixtures import make_orc_nested

    payloads = synth_docs(
        spark, sf_dir, lambda i: make_orc_nested(i % 1000), residue=3
    )
    return decode_orc_nested_stats(payloads, "v").drop("decode_error")


QUERIES_R12["orc_scan_nested"] = q_orc_scan_nested
ORACLES_R12["orc_scan_nested"] = _NESTED_ORACLE_TEMPLATE.format(
    mod=_FLAC_MOD, lane=3)


def q_iceberg_scan_eq_deletes(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Iceberg v2 EQUALITY deletes driver-checked (r12): the delete
    manifest's content=2 entry lists VALUES in a REAL parquet file
    (column resolved through the table schema's field ids), and the
    scan drops matching rows ONLY from data files whose
    sequence_number is strictly lower than the delete's — the spec's
    ordering rule, exercised by planting matchable values in
    later-sequence files that must survive (93 such files across the
    pytest seeds).  The oracle replays layout, sequence rule and the
    post-delete sum in closed form.  Lane id % 10 == 0."""
    from ..operators.iceberg import decode_iceberg_scan_eq
    from ..testing.fixtures import make_iceberg_eq_bundle

    payloads = synth_docs(
        spark, sf_dir, lambda i: make_iceberg_eq_bundle(i % 1000), residue=0
    )
    return decode_iceberg_scan_eq(payloads, "v").drop("decode_error")


_ICEBERG_EQ_ORACLE = f"""
WITH e AS (
  SELECT event_id, event_id % 1000 AS seed
  FROM events WHERE event_id % {_FLAC_MOD} = 0
),
mf AS (
  SELECT e.event_id, e.seed, m.m, f.f,
         30 + (e.seed*5 + 7*m.m + 11*f.f) % 50 AS n,
         (e.seed + m.m + f.f) % 4 <> 3 AS live,
         1 + (e.seed + m.m + f.f) % 4 AS seq
  FROM e,
       LATERAL (SELECT unnest(range(0, 1 + e.seed % 2)) AS m) m,
       LATERAL (SELECT unnest(range(0, 2 + (e.seed + m.m) % 3)) AS f) f
),
rows_ AS (
  SELECT mf.event_id, mf.live,
         mf.seq < 3 AND
           (mf.seed*3 + 17*mf.m + 23*mf.f + 9*i.i) % 1000 % 13
             = mf.seed % 13 AS del_,
         (mf.seed*3 + 17*mf.m + 23*mf.f + 9*i.i) % 1000 AS v
  FROM mf, LATERAL (SELECT unnest(range(0, mf.n)) AS i) i
)
SELECT e.event_id AS doc_id,
       CAST(8000 + e.seed AS BIGINT) AS snapshot_id,
       CAST((SELECT count(*) FROM mf
              WHERE mf.event_id = e.event_id AND mf.live)
            AS INTEGER) AS n_data_files,
       CAST(1 AS INTEGER) AS n_delete_files,
       CAST((SELECT count(*) FROM rows_ r
              WHERE r.event_id = e.event_id AND r.del_ AND r.live)
            AS BIGINT) AS n_eq_deleted,
       CAST((SELECT count(*) FROM rows_ r
              WHERE r.event_id = e.event_id AND NOT r.del_ AND r.live)
            AS BIGINT) AS records_after,
       CAST((SELECT sum(r.v) FROM rows_ r
              WHERE r.event_id = e.event_id AND NOT r.del_ AND r.live)
            AS BIGINT) AS value_sum
FROM e
"""

QUERIES_R12["iceberg_scan_eq_deletes"] = q_iceberg_scan_eq_deletes
ORACLES_R12["iceberg_scan_eq_deletes"] = _ICEBERG_EQ_ORACLE


def q_arrow_nested_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow IPC NESTED columns driver-checked (r12): the SAME
    planted struct{a, tags, pts, m} rows as ``parquet_scan_nested`` /
    ``orc_scan_nested``, written as Arrow IPC (file AND stream
    layouts, none/zstd/lz4 body compression, 32-row batches) and
    rebuilt by the depth-first node/buffer tree materializer
    (operators/arrow_ipc.arrow_read_nested — this round's tree walk
    also fixed a latent misalignment where a flat column AFTER a
    nested one silently decoded the wrong buffers).  One closed-form
    oracle now exercises THREE independent byte paths; pytest pins
    all three readers record-for-record equal.  Lane id % 10 == 1."""
    from ..operators.arrow_ipc import decode_arrow_nested_stats
    from ..testing.fixtures import make_arrow_nested

    payloads = synth_docs(
        spark, sf_dir, lambda i: make_arrow_nested(i % 1000), residue=1
    )
    return decode_arrow_nested_stats(payloads, "v").drop("decode_error")


QUERIES_R12["arrow_nested_scan"] = q_arrow_nested_scan
ORACLES_R12["arrow_nested_scan"] = _NESTED_ORACLE_TEMPLATE.format(
    mod=_FLAC_MOD, lane=1)


def q_sqlite_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQLite database-file scan driver-checked (r12): per event a
    REAL database built by the stdlib sqlite3 module (an independent
    in-env producer) whose table b-tree — interior pages, cell
    pointer arrays, the spilled-payload U/X/M/K rule with overflow
    chains at 512-byte pages, all serial types, the INTEGER PRIMARY
    KEY rowid alias — is walked from raw bytes by
    operators/sqlite.py.  The oracle replays the planted typed
    tallies in closed form.  Lane id % 10 == 4."""
    from ..operators.sqlite import decode_sqlite_scan
    from ..testing.fixtures import make_sqlite_db

    payloads = synth_docs(
        spark, sf_dir, lambda i: make_sqlite_db(i % 1000), residue=4
    )
    return decode_sqlite_scan(payloads, "t").drop("decode_error")


_SQLITE_ORACLE = f"""
WITH e AS (
  SELECT event_id, event_id % 1000 AS seed,
         30 + (event_id % 1000) % 60 AS n
  FROM events WHERE event_id % {_FLAC_MOD} = 4
),
rows_ AS (
  SELECT e.event_id, e.seed, i.i,
         CASE WHEN (e.seed + i.i) % 9 = 8 THEN NULL
              ELSE (e.seed*7 + 13*i.i) % 100000 - 50000 END AS v,
         CASE WHEN (e.seed + i.i) % 7 = 6 THEN NULL
              WHEN i.i % 10 = 5 THEN 2000 + e.seed % 100
              ELSE (e.seed + 3*i.i) % 40 END AS slen,
         CASE WHEN (e.seed + i.i) % 11 = 10 THEN NULL
              ELSE (e.seed + 2*i.i) % 30 END AS blen,
         CASE WHEN (e.seed + i.i) % 5 = 4 THEN NULL
              ELSE (e.seed + 11*i.i) % 4000 - 2000 END AS f4
  FROM e, LATERAL (SELECT unnest(range(0, e.n)) AS i) i
)
SELECT e.event_id AS doc_id,
       CAST(2 AS BIGINT) AS n_tables,
       CAST(e.n AS BIGINT) AS n_rows,
       CAST(e.n * (e.n + 1) / 2
            + coalesce((SELECT sum(r.v) FROM rows_ r
                         WHERE r.event_id = e.event_id), 0)
            AS BIGINT) AS int_sum,
       CAST(coalesce((SELECT sum(r.slen) FROM rows_ r
                       WHERE r.event_id = e.event_id), 0)
            AS BIGINT) AS text_chars,
       CAST(coalesce((SELECT sum(r.blen) FROM rows_ r
                       WHERE r.event_id = e.event_id), 0)
            AS BIGINT) AS blob_bytes,
       CAST((SELECT count(*) FROM rows_ r
              WHERE r.event_id = e.event_id AND r.v IS NULL)
            + (SELECT count(*) FROM rows_ r
                WHERE r.event_id = e.event_id AND r.slen IS NULL)
            + (SELECT count(*) FROM rows_ r
                WHERE r.event_id = e.event_id AND r.blen IS NULL)
            + (SELECT count(*) FROM rows_ r
                WHERE r.event_id = e.event_id AND r.f4 IS NULL)
            AS BIGINT) AS n_nulls,
       CAST(coalesce((SELECT sum(r.f4) FROM rows_ r
                       WHERE r.event_id = e.event_id), 0)
            AS BIGINT) AS f_sum_x4
FROM e
"""

QUERIES_R12["sqlite_scan"] = q_sqlite_scan
ORACLES_R12["sqlite_scan"] = _SQLITE_ORACLE


def q_parquet_page_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet PAGE-INDEX pruning driver-checked (r12): per event a
    parquet-cpp file written WITH ColumnIndex/OffsetIndex (4 KiB
    pages, 3 row groups), scanned with a per-event range predicate —
    the reader prunes pages by the index min/max and seeks straight
    to the survivors (operators/parquet_raw.parquet_read_int_range),
    never touching pruned page bytes.  The oracle replays the
    filtered count/sum in closed form; ``skipped_pages > 0`` is
    asserted per row (the layout guarantees ~85% of pages prune).
    Lane id % 10 == 9."""
    from collections.abc import Iterator as _It

    import pandas as _pd

    from ..operators.parquet_raw import decode_parquet_range_scan
    from ..testing.fixtures import make_parquet_paged

    e = _spread(
        load_events(spark, sf_dir).select("event_id").filter(
            F.col("event_id") % _FLAC_MOD == 9
        ),
        spark,
    )

    def _synth(batches: _It[_pd.DataFrame]) -> _It[_pd.DataFrame]:
        for pdf in batches:
            seeds = [int(i) % 1000 for i in pdf["event_id"]]
            yield _pd.DataFrame({
                "doc_id": pdf["event_id"].astype("int64"),
                "payload": [make_parquet_paged(s) for s in seeds],
                "lo": [(s % 10) * 74000 for s in seeds],
                "hi": [(s % 10) * 74000 + 111000 for s in seeds],
            })

    payloads = e.mapInPandas(
        _synth, schema="doc_id long, payload binary, lo long, hi long")
    scanned = decode_parquet_range_scan(payloads, "v")
    return scanned.select(
        "doc_id", "n_match", "value_sum",
        (F.col("skipped_pages") > 0).cast("int").alias("pruned"),
    )


_PAGE_PRUNE_ORACLE = f"""
WITH e AS (
  SELECT event_id, event_id % 1000 AS seed,
         ((event_id % 1000) % 10) * 74000 AS lo,
         ((event_id % 1000) % 10) * 74000 + 111000 AS hi
  FROM events WHERE event_id % {_FLAC_MOD} = 9
),
rows_ AS (
  SELECT e.event_id,
         37*i.i + e.seed % 37 AS v
  FROM e, LATERAL (SELECT unnest(range(0, 20000)) AS i) i
  WHERE (e.seed + i.i) % 53 <> 0
)
SELECT e.event_id AS doc_id,
       CAST((SELECT count(*) FROM rows_ r
              WHERE r.event_id = e.event_id
                AND r.v BETWEEN e.lo AND e.hi)
            AS BIGINT) AS n_match,
       CAST(coalesce((SELECT sum(r.v) FROM rows_ r
              WHERE r.event_id = e.event_id
                AND r.v BETWEEN e.lo AND e.hi), 0)
            AS BIGINT) AS value_sum,
       CAST(1 AS INTEGER) AS pruned
FROM e
"""

QUERIES_R12["parquet_page_prune"] = q_parquet_page_prune
ORACLES_R12["parquet_page_prune"] = _PAGE_PRUNE_ORACLE


def q_gzip_extract_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """From-scratch DEFLATE driver-checked (r12): per event gzip
    members produced by the stdlib zlib (levels 0-9, FNAME/FHCRC/
    FEXTRA header fields, multi-member streams) are inverted by the
    pure-Python RFC 1951/1950/1952 path (operators/inflate.py —
    canonical Huffman from bit-length counts, dynamic code-length
    codes with 16/17/18 repeats, overlap-safe LZ77, Adler-32 and
    CRC-32 from their spec definitions).  Cross-validation, not
    self-round-trip: the stdlib wrote every byte.  The oracle replays
    the planted content in closed form.  Lane id % 10 == 2."""
    from ..operators.inflate import decode_gzip_members
    from ..testing.fixtures import make_gzip_members

    payloads = synth_docs(
        spark, sf_dir, lambda i: make_gzip_members(i % 1000), residue=2
    )
    return decode_gzip_members(payloads).drop("decode_error")


_GZIP_ORACLE = f"""
WITH e AS (
  SELECT event_id, event_id % 1000 AS seed,
         180 + (event_id % 1000) % 120 AS n_a,
         100 + (event_id % 1000) % 200 AS n_b,
         CASE WHEN (event_id % 1000) % 3 = 0 THEN 2 ELSE 1 END AS nm
  FROM events WHERE event_id % {_FLAC_MOD} = 2
),
sums AS (
  SELECT e.event_id,
         (SELECT sum((7*e.seed + 11*i.i) % 251)
          FROM (SELECT unnest(range(0, e.n_a)) AS i) i) AS s_a
  FROM e
)
SELECT e.event_id AS doc_id,
       CAST(e.nm AS INTEGER) AS n_members,
       CAST(e.nm * (e.n_a + e.n_b) AS BIGINT) AS content_len,
       CAST(e.nm * (s.s_a + e.n_b * (e.seed % 251)) AS BIGINT)
           AS content_sum
FROM e JOIN sums s ON s.event_id = e.event_id
"""

QUERIES_R12["gzip_extract_raw"] = q_gzip_extract_raw
ORACLES_R12["gzip_extract_raw"] = _GZIP_ORACLE


def q_bzip2_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """From-scratch bzip2 driver-checked (r12; the Wikipedia-dump
    container): per event streams produced by the stdlib bz2 module
    (levels 1-9, multi-stream concatenation) are inverted by the
    pure-Python BWT/MTF/RLE/Huffman path (operators/bzip2.py — unary
    MTF selectors, delta-coded group tables with 50-symbol switching,
    bijective RUNA/RUNB runs, successor-vector inverse BWT, RLE1,
    both the block and combined-stream bzip2 CRCs verified).
    Cross-validation, not self-round-trip: the stdlib wrote every
    byte.  The oracle replays the planted content in closed form.
    Lane id % 10 == 5."""
    from ..operators.bzip2 import decode_bzip2_meta
    from ..testing.fixtures import make_bzip2

    payloads = synth_docs(
        spark, sf_dir, lambda i: make_bzip2(i % 1000), residue=5
    )
    return decode_bzip2_meta(payloads).drop("decode_error")


_BZIP2_ORACLE = f"""
WITH e AS (
  SELECT event_id, event_id % 1000 AS seed,
         200 + (event_id % 1000) % 150 AS n_a,
         120 + (event_id % 1000) % 99 AS n_b,
         CASE WHEN (event_id % 1000) % 4 = 0 THEN 2 ELSE 1 END AS nm
  FROM events WHERE event_id % {_FLAC_MOD} = 5
),
sums AS (
  SELECT e.event_id,
         (SELECT sum((9*e.seed + 17*i.i) % 253)
          FROM (SELECT unnest(range(0, e.n_a)) AS i) i) AS s_a
  FROM e
)
SELECT e.event_id AS doc_id,
       CAST(e.nm AS INTEGER) AS n_blocks,
       CAST(e.nm * (e.n_a + e.n_b) AS BIGINT) AS content_len,
       CAST(e.nm * (s.s_a + e.n_b * (e.seed % 253)) AS BIGINT)
           AS content_sum
FROM e JOIN sums s ON s.event_id = e.event_id
"""

QUERIES_R12["bzip2_extract"] = q_bzip2_extract
ORACLES_R12["bzip2_extract"] = _BZIP2_ORACLE


def q_xz_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """From-scratch XZ/LZMA driver-checked (r12; the kernel/Debian/
    research-mirror dump container, completing the gzip/bzip2/zstd/xz
    family): per event streams produced by the stdlib lzma module
    (presets 0-9, all four check types, custom lc/lp/pb) are inverted
    by the pure-Python range-coder path (operators/xz.py — 11-bit
    adaptive probabilities, the full 12-state LZMA machine with
    matched literals and rep history, LZMA2 chunk resets, xz block
    headers with CRC32/CRC64/SHA-256 verification and index/footer
    validation).  Cross-validation, not self-round-trip.  The oracle
    replays the planted content in closed form.  Lane id % 10 == 7."""
    from ..operators.xz import decode_xz_meta
    from ..testing.fixtures import make_xz

    payloads = synth_docs(
        spark, sf_dir, lambda i: make_xz(i % 1000), residue=7
    )
    return decode_xz_meta(payloads).drop("decode_error")


_XZ_ORACLE = f"""
WITH e AS (
  SELECT event_id, event_id % 1000 AS seed,
         220 + (event_id % 1000) % 180 AS n_a,
         90 + (event_id % 1000) % 77 AS n_b
  FROM events WHERE event_id % {_FLAC_MOD} = 7
),
sums AS (
  SELECT e.event_id,
         (SELECT sum((11*e.seed + 23*i.i) % 249)
          FROM (SELECT unnest(range(0, e.n_a)) AS i) i) AS s_a
  FROM e
)
SELECT e.event_id AS doc_id,
       CAST(1 AS INTEGER) AS n_blocks,
       CAST(e.n_a + e.n_b AS BIGINT) AS content_len,
       CAST(s.s_a + e.n_b * (e.seed % 249) AS BIGINT) AS content_sum
FROM e JOIN sums s ON s.event_id = e.event_id
"""

QUERIES_R12["xz_extract"] = q_xz_extract
ORACLES_R12["xz_extract"] = _XZ_ORACLE


def q_delta_scan_dv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta DELETION VECTORS driver-checked (r12; the modern
    Databricks-writer read path): per event a Delta log whose add
    actions carry inline ("u") deletion vectors — Z85 (pinned on the
    ZeroMQ RFC's own vector) wrapping RoaringBitmapArray bitmaps
    (array AND run containers planted; the roaring spec has no
    independent in-env producer, honesty-noted in
    operators/roaring.py) — applied to REAL parquet files before
    aggregation.  Size and cardinality descriptor fields are
    validated; positions beyond the file quarantine.  The oracle
    replays the planted deletions in closed form.  Lane
    id % 10 == 3."""
    from ..operators.lakehouse import decode_delta_scan_dv
    from ..testing.fixtures import make_delta_dv_bundle

    payloads = synth_docs(
        spark, sf_dir, lambda i: make_delta_dv_bundle(i % 1000), residue=3
    )
    return decode_delta_scan_dv(payloads, "v").drop("decode_error")


_DELTA_DV_ORACLE = f"""
WITH e AS (
  SELECT event_id, event_id % 1000 AS seed,
         2 + (event_id % 1000) % 3 AS nf
  FROM events WHERE event_id % {_FLAC_MOD} = 3
),
rows_ AS (
  SELECT e.event_id, f.f, i.i,
         (e.seed*7 + 13*f.f + 9*i.i) % 1000 AS v,
         i.i % 5 = (e.seed + f.f) % 5
           OR (f.f = 1 AND i.i >= 10
               AND i.i < 10 + e.seed % 8) AS del_
  FROM e,
       LATERAL (SELECT unnest(range(0, e.nf)) AS f) f,
       LATERAL (SELECT unnest(range(
           0, 40 + (e.seed*3 + 11*f.f) % 60)) AS i) i
)
SELECT e.event_id AS doc_id,
       CAST(e.nf AS INTEGER) AS n_files,
       CAST(e.nf AS INTEGER) AS n_dv,
       CAST((SELECT count(*) FROM rows_ r
              WHERE r.event_id = e.event_id AND r.del_)
            AS BIGINT) AS n_deleted,
       CAST((SELECT count(*) FROM rows_ r
              WHERE r.event_id = e.event_id AND NOT r.del_)
            AS BIGINT) AS records_after,
       CAST((SELECT sum(r.v) FROM rows_ r
              WHERE r.event_id = e.event_id AND NOT r.del_)
            AS BIGINT) AS value_sum
FROM e
"""

QUERIES_R12["delta_scan_dv"] = q_delta_scan_dv
ORACLES_R12["delta_scan_dv"] = _DELTA_DV_ORACLE
