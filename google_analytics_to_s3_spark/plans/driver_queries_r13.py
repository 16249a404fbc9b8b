"""Round-13 driver queries: lakehouse gate-openings (Iceberg
composite equality-delete keys, Delta column mapping, SQLite WAL
replay, Parquet bloom filters, ORC writer timezones) — each one a
REAL byte path cross-validated against an independent in-env
producer, registered with a closed-form DuckDB oracle.

Reference scope note: the reference engine (sessionization/main.py)
reads only JSON/parquet; this module is the SURVEY §2.12 extension
surface a 100 TB training-data pipeline needs (modern lakehouse
tables arrive as Iceberg/Delta with deletes, app exports as SQLite,
columnar files with bloom filters/page indexes to exploit).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.testdata import load_events
from .driver_queries_analytics import _FLAC_MOD, _spread, synth_docs

QUERIES_R13: dict = {}
ORACLES_R13: dict = {}


def q_iceberg_scan_eq_multi(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """Iceberg v2 COMPOSITE-KEY equality deletes (r13): the delete
    file's ``equality_ids`` names TWO schema fields (k1, k2 — the
    Flink-CDC default shape) whose value PAIRS delete matching rows;
    the planted pair rule ``(k1 + k2) % 4 == seed % 4`` is not
    expressible on either column alone, so a reader that compares a
    single column fails the oracle.  Manifest entries additionally
    carry NULL sequence numbers that must inherit the manifest-list
    entry's sequence (the v2 inheritance rule) — defaulting null to 0
    would over-apply the delete and shift every sum.  Lane
    id % 10 == 2."""
    from ..operators.iceberg import decode_iceberg_scan_eq
    from ..testing.fixtures import make_iceberg_eq_multi_bundle

    payloads = synth_docs(
        spark, sf_dir,
        lambda i: make_iceberg_eq_multi_bundle(i % 1000),
        residue=2,
    )
    return decode_iceberg_scan_eq(payloads, "v").drop("decode_error")


_ICEBERG_EQM_ORACLE = f"""
WITH e AS (
  SELECT event_id, event_id % 1000 AS seed
  FROM events WHERE event_id % {_FLAC_MOD} = 2
),
mf AS (
  SELECT e.event_id, e.seed, m.m, f.f,
         30 + (e.seed*5 + 7*m.m + 11*f.f) % 50 AS n,
         (e.seed + m.m + f.f) % 4 <> 3 AS live,
         CASE WHEN (e.seed + f.f) % 2 = 0
              THEN 1 + (e.seed + m.m) % 4
              ELSE 1 + (e.seed + m.m + f.f) % 4 END AS seq
  FROM e,
       LATERAL (SELECT unnest(range(0, 1 + e.seed % 2)) AS m) m,
       LATERAL (SELECT unnest(range(0, 2 + (e.seed + m.m) % 3)) AS f) f
),
rows_ AS (
  SELECT mf.event_id, mf.live,
         mf.seq < 3 AND
           (((mf.seed + 5*i.i + mf.f) % 20)
            + ((mf.seed*2 + 3*i.i + mf.m) % 15)) % 4 = mf.seed % 4
           AS del_,
         (mf.seed*3 + 17*mf.m + 23*mf.f + 9*i.i) % 1000 AS v
  FROM mf, LATERAL (SELECT unnest(range(0, mf.n)) AS i) i
)
SELECT e.event_id AS doc_id,
       CAST(8100 + e.seed AS BIGINT) AS snapshot_id,
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

QUERIES_R13["iceberg_scan_eq_multi"] = q_iceberg_scan_eq_multi
ORACLES_R13["iceberg_scan_eq_multi"] = _ICEBERG_EQM_ORACLE


def q_delta_column_mapping(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    """Delta COLUMN MAPPING driver-checked (r13): data files store
    columns under physical ``col-<n>`` names resolved through
    metaData.schemaString's ``delta.columnMapping.physicalName``
    (name mode, even seeds) or the parquet schema's ``field_id``
    (id mode, odd seeds, protocol minReaderVersion 3 +
    readerFeatures=[columnMapping] — the protocol gate path); each
    file also plants a DECOY column under the LOGICAL name whose
    values (+1000) would shift the sum if the reader skipped the
    mapping, and a tombstoned file that must not be scanned.  Lane
    id % 10 == 3."""
    from ..operators.lakehouse import decode_delta_column_mapping
    from ..testing.fixtures import make_delta_cm_bundle

    payloads = synth_docs(
        spark, sf_dir, lambda i: make_delta_cm_bundle(i % 1000), residue=3
    )
    return decode_delta_column_mapping(payloads, "v") \
        .drop("decode_error")


_DELTA_CM_ORACLE = f"""
WITH e AS (
  SELECT event_id, event_id % 1000 AS seed
  FROM events WHERE event_id % {_FLAC_MOD} = 3
),
ff AS (
  SELECT e.event_id, e.seed, f.f,
         20 + (e.seed*3 + 7*f.f) % 40 AS n
  FROM e, LATERAL (SELECT unnest(range(0, 1 + e.seed % 3)) AS f) f
),
rows_ AS (
  SELECT ff.event_id,
         CASE WHEN (ff.seed + ff.f + i.i) % 11 = 10 THEN NULL
              ELSE (ff.seed*5 + 11*ff.f + 3*i.i) % 500 END AS v
  FROM ff, LATERAL (SELECT unnest(range(0, ff.n)) AS i) i
)
SELECT e.event_id AS doc_id,
       CASE WHEN e.seed % 2 = 0 THEN 'name' ELSE 'id' END
         AS mapping_mode,
       CAST(CASE WHEN e.seed % 2 = 0 THEN 2 ELSE 3 END AS INTEGER)
         AS min_reader_version,
       CAST(1 + e.seed % 3 AS INTEGER) AS n_files,
       CAST((SELECT count(*) FROM rows_ r
              WHERE r.event_id = e.event_id) AS BIGINT) AS records,
       CAST((SELECT sum(r.v) FROM rows_ r
              WHERE r.event_id = e.event_id) AS BIGINT) AS value_sum
FROM e
"""

QUERIES_R13["delta_column_mapping"] = q_delta_column_mapping
ORACLES_R13["delta_column_mapping"] = _DELTA_CM_ORACLE


def q_orc_scan_tz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC NON-UTC writer timezones driver-checked (r13): stripe
    footers carry writerTimezone PRC (constant +8) or EET (DST), and
    the reader applies the Java ORC conversion rule — base =
    2015-01-01 in the writer zone, utc = m + writer_offset(m) — so
    PRC reads back unchanged while EET summer values shift +3600 s,
    pinned against Spark's own JVM ORC reader and replayed in closed
    form by the oracle.  Lane id % 10 == 4."""
    from ..operators.orc_meta import decode_orc_ts_utc
    from ..testing.fixtures import make_orc_tz

    payloads = synth_docs(
        spark, sf_dir, lambda i: make_orc_tz(i % 1000), residue=4
    )
    return decode_orc_ts_utc(payloads, "ts").drop("decode_error")


_ORC_TZ_ORACLE = f"""
WITH e AS (
  SELECT event_id, event_id % 1000 AS seed
  FROM events WHERE event_id % {_FLAC_MOD} = 4
),
rows_ AS (
  SELECT e.event_id,
         (seed + i.i) % 13 = 12 AS isnull_,
         (CASE WHEN (seed + 7*i.i) % 3 = 0 THEN 1591315200
               ELSE 1578182400 END
          + (seed*13 + 11*i.i) % 1000000
          + CASE WHEN seed % 3 <> 0 AND (seed + 7*i.i) % 3 = 0
                 THEN 3600 ELSE 0 END) AS sec,
         ((seed*3 + 17*i.i) % 1000000) * 1000 AS subns
  FROM e, LATERAL (SELECT unnest(range(0, 25 + e.seed % 40)) AS i) i
)
SELECT e.event_id AS doc_id,
       CAST(25 + e.seed % 40 AS BIGINT) AS n_values,
       CAST((SELECT count(*) FROM rows_ r
              WHERE r.event_id = e.event_id AND r.isnull_)
            AS BIGINT) AS n_nulls,
       (SELECT min(r.sec * 1000000000 + r.subns) FROM rows_ r
         WHERE r.event_id = e.event_id AND NOT r.isnull_)
         AS ts_min_ns,
       (SELECT max(r.sec * 1000000000 + r.subns) FROM rows_ r
         WHERE r.event_id = e.event_id AND NOT r.isnull_)
         AS ts_max_ns,
       CAST((SELECT sum(r.sec) FROM rows_ r
              WHERE r.event_id = e.event_id AND NOT r.isnull_)
            AS BIGINT) AS sec_sum,
       CAST((SELECT sum(r.subns) FROM rows_ r
              WHERE r.event_id = e.event_id AND NOT r.isnull_)
            AS BIGINT) AS subsec_sum
FROM e
"""

QUERIES_R13["orc_scan_tz"] = q_orc_scan_tz
ORACLES_R13["orc_scan_tz"] = _ORC_TZ_ORACLE


def q_sqlite_scan_wal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQLite WAL replay driver-checked (r13): a LIVE WAL-mode
    database pair (main file + non-empty ``-wal``) built by the
    stdlib sqlite3 producer — phase-2 inserts/update/delete live only
    in committed WAL frames (cumulative checksums, salt generations,
    last-valid-commit recovery), so a main-file-only read returns the
    stale phase-1 state and fails the oracle.  Lane id % 10 == 5."""
    from ..operators.sqlite import decode_sqlite_wal_scan
    from ..testing.fixtures import make_sqlite_wal_bundle

    payloads = synth_docs(
        spark, sf_dir, lambda i: make_sqlite_wal_bundle(i % 1000), residue=5
    )
    return decode_sqlite_wal_scan(payloads, "t").drop("decode_error")


_SQLITE_WAL_ORACLE = f"""
WITH e AS (
  SELECT event_id, event_id % 1000 AS seed
  FROM events WHERE event_id % {_FLAC_MOD} = 5
),
p1 AS (
  SELECT e.event_id,
         i.i + 1 AS id,
         (e.seed*7 + 3*i.i) % 1000
           + CASE WHEN (i.i + 1) % 7 = e.seed % 7
                  THEN 10000 ELSE 0 END AS v,
         (e.seed + i.i) % 5 AS chars,
         (i.i + 1) % 13 = e.seed % 13 AS deleted
  FROM e, LATERAL (SELECT unnest(range(0, 30 + e.seed % 20)) AS i) i
),
p2 AS (
  SELECT e.event_id,
         1000 + i.i AS id,
         (e.seed*11 + 5*i.i) % 1000 AS v,
         1 AS chars
  FROM e, LATERAL (SELECT unnest(range(0, 10 + e.seed % 10)) AS i) i
),
allrows AS (
  SELECT event_id, id, v, chars FROM p1 WHERE NOT deleted
  UNION ALL
  SELECT event_id, id, v, chars FROM p2
)
SELECT e.event_id AS doc_id,
       CAST(1 AS BIGINT) AS n_tables,
       CAST((SELECT count(*) FROM allrows a
              WHERE a.event_id = e.event_id) AS BIGINT) AS n_rows,
       CAST((SELECT sum(a.id + a.v) FROM allrows a
              WHERE a.event_id = e.event_id) AS BIGINT) AS int_sum,
       CAST((SELECT sum(a.chars) FROM allrows a
              WHERE a.event_id = e.event_id) AS BIGINT) AS text_chars,
       CAST(0 AS BIGINT) AS blob_bytes,
       CAST(0 AS BIGINT) AS n_nulls,
       CAST(0 AS BIGINT) AS f_sum_x4
FROM e
"""

QUERIES_R13["sqlite_scan_wal"] = q_sqlite_scan_wal
ORACLES_R13["sqlite_scan_wal"] = _SQLITE_WAL_ORACLE


def q_parquet_bloom_probe(spark: SparkSession,
                          sf_dir: str) -> DataFrame:
    """Parquet BLOOM FILTERS driver-checked (r13): split-block bloom
    bitsets (XXHASH over PLAIN int64, the published salt constants —
    insert logic pinned byte-for-byte against Spark's parquet-mr in
    pytest) skip row groups during point lookups; per event the probe
    list carries one present + one absent value per group, and a
    false NEGATIVE (wrong hash/block/salt math) would drop found_sum
    and fail the oracle.  Lane id % 10 == 6."""
    from collections.abc import Iterator as _It

    import pandas as _pd

    from ..operators.parquet_raw import decode_parquet_bloom_probe
    from ..testing.fixtures import make_parquet_bloom

    e = _spread(
        load_events(spark, sf_dir).select("event_id").filter(
            F.col("event_id") % _FLAC_MOD == 6
        ),
        spark,
    )

    def _synth(batches: _It[_pd.DataFrame]) -> _It[_pd.DataFrame]:
        for pdf in batches:
            payloads, probes = [], []
            for i in pdf["event_id"]:
                data, pr = make_parquet_bloom(int(i) % 1000)
                payloads.append(data)
                probes.append(list(pr))
            yield _pd.DataFrame({
                "doc_id": pdf["event_id"].astype("int64"),
                "payload": payloads,
                "probes": probes,
            })

    payloads = e.mapInPandas(
        _synth, schema="doc_id long, payload binary, probes array<long>")
    return decode_parquet_bloom_probe(payloads, "v") \
        .drop("decode_error")


_PARQUET_BLOOM_ORACLE = f"""
WITH e AS (
  SELECT event_id, event_id % 1000 AS seed
  FROM events WHERE event_id % {_FLAC_MOD} = 6
),
g AS (
  SELECT e.event_id, e.seed, gg.g,
         CASE WHEN ((e.seed + gg.g) % 40) % 25 < 15
              THEN 2 ELSE 1 END AS mult
  FROM e, LATERAL (SELECT unnest(range(0, 3 + e.seed % 2)) AS g) gg
)
SELECT e.event_id AS doc_id,
       CAST(3 + e.seed % 2 AS INTEGER) AS n_groups,
       CAST(2 * (3 + e.seed % 2) AS INTEGER) AS n_probes,
       CAST(3 + e.seed % 2 AS BIGINT) AS present_pairs,
       CAST((SELECT sum(g.mult) FROM g
              WHERE g.event_id = e.event_id) AS BIGINT) AS found_sum
FROM e
"""

QUERIES_R13["parquet_bloom_probe"] = q_parquet_bloom_probe
ORACLES_R13["parquet_bloom_probe"] = _PARQUET_BLOOM_ORACLE


def q_arrow_dict_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow IPC DELTA dictionaries driver-checked (r13): pyarrow's
    stream writer ships growing dictionaries as isDelta=1 APPEND
    batches (a REAL producer path — the categorical-column shape of
    long-running feeds); the reader must append, never replace, or
    every post-delta index mis-maps and cat_sum shifts.  Lane
    id % 10 == 7."""
    from ..operators.arrow_ipc import decode_arrow_dict_stats
    from ..testing.fixtures import make_arrow_dict_delta

    payloads = synth_docs(
        spark, sf_dir, lambda i: make_arrow_dict_delta(i % 1000), residue=7
    )
    return decode_arrow_dict_stats(payloads, "d", "x") \
        .drop("decode_error")


_ARROW_DICT_ORACLE = f"""
WITH e AS (
  SELECT event_id, event_id % 1000 AS seed
  FROM events WHERE event_id % {_FLAC_MOD} = 7
),
rows_ AS (
  SELECT e.event_id,
         (e.seed + 5*i.i + b.b) % (3 + 2*b.b) AS j,
         (e.seed*3 + 7*i.i + 11*b.b) % 500 AS x
  FROM e,
       LATERAL (SELECT unnest(range(0, 2 + e.seed % 3)) AS b) b,
       LATERAL (SELECT unnest(range(0, 20)) AS i) i
)
SELECT e.event_id AS doc_id,
       CAST(20 * (2 + e.seed % 3) AS BIGINT) AS n_rows,
       CAST((SELECT sum(r.j) FROM rows_ r
              WHERE r.event_id = e.event_id) AS BIGINT) AS cat_sum,
       CAST((SELECT count(DISTINCT r.j) FROM rows_ r
              WHERE r.event_id = e.event_id) AS BIGINT) AS n_distinct,
       CAST((SELECT sum(r.x) FROM rows_ r
              WHERE r.event_id = e.event_id) AS BIGINT) AS x_sum
FROM e
"""

QUERIES_R13["arrow_dict_delta"] = q_arrow_dict_delta
ORACLES_R13["arrow_dict_delta"] = _ARROW_DICT_ORACLE


def q_parquet_scan_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet DECIMAL over FIXED_LEN_BYTE_ARRAY driver-checked
    (r13): parquet-cpp's decimal128 layout — big-endian
    two's-complement FLBA at widths 4/8/13 (precision 9/18/30) —
    sign-decodes to unscaled ints at the declared scale; negative
    values prove the sign fold.  Lane id % 10 == 8."""
    from ..operators.parquet_raw import decode_parquet_decimal
    from ..testing.fixtures import make_parquet_decimal

    payloads = synth_docs(
        spark, sf_dir, lambda i: make_parquet_decimal(i % 1000), residue=8
    )
    return decode_parquet_decimal(payloads, "d").drop("decode_error")


_PARQUET_DEC_ORACLE = f"""
WITH e AS (
  SELECT event_id, event_id % 1000 AS seed
  FROM events WHERE event_id % {_FLAC_MOD} = 8
),
rows_ AS (
  SELECT e.event_id,
         (e.seed + i.i) % 9 = 8 AS isnull_,
         (e.seed*13 + 7*i.i) % 200000 - 100000 AS u
  FROM e, LATERAL (SELECT unnest(range(0, 30 + e.seed % 30)) AS i) i
)
SELECT e.event_id AS doc_id,
       CAST(30 + e.seed % 30 AS BIGINT) AS n_values,
       CAST((SELECT count(*) FROM rows_ r
              WHERE r.event_id = e.event_id AND r.isnull_)
            AS BIGINT) AS n_nulls,
       CAST(2 + e.seed % 3 AS INTEGER) AS scale,
       CAST((SELECT sum(r.u) FROM rows_ r
              WHERE r.event_id = e.event_id AND NOT r.isnull_)
            AS BIGINT) AS unscaled_sum,
       CAST((SELECT min(r.u) FROM rows_ r
              WHERE r.event_id = e.event_id AND NOT r.isnull_)
            AS BIGINT) AS unscaled_min,
       CAST((SELECT max(r.u) FROM rows_ r
              WHERE r.event_id = e.event_id AND NOT r.isnull_)
            AS BIGINT) AS unscaled_max
FROM e
"""

QUERIES_R13["parquet_scan_fixed"] = q_parquet_scan_fixed
ORACLES_R13["parquet_scan_fixed"] = _PARQUET_DEC_ORACLE


def q_parquet_crc_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet PAGE CRCs driver-checked (r13): every page of the
    chunk (parquet-cpp ``write_page_checksum``, 1 KB pages → many
    pages, dictionary pages included) verifies its CRC-32 over the
    compressed bytes BEFORE decode — a mismatch quarantines the
    payload (pytest proves a single flipped page byte is caught) —
    then the column reads.  ``crc_complete`` pins that every page
    actually carried a checksum.  Lane id % 10 == 9."""
    from ..operators.parquet_raw import decode_parquet_crc_scan
    from ..testing.fixtures import make_parquet_crc

    payloads = synth_docs(
        spark, sf_dir, lambda i: make_parquet_crc(i % 1000), residue=9
    )
    out = decode_parquet_crc_scan(payloads, "v").drop("decode_error")
    # page COUNTS are a writer detail (not closed-form); the oracle
    # pins the deterministic facts: every page checksummed + values
    return out.select(
        "doc_id",
        ((F.col("n_pages") == F.col("n_crc"))
         & (F.col("n_pages") > 0)).alias("crc_complete"),
        "n_values", "value_sum",
    )


_PARQUET_CRC_ORACLE = f"""
WITH e AS (
  SELECT event_id, event_id % 1000 AS seed
  FROM events WHERE event_id % {_FLAC_MOD} = 9
),
rows_ AS (
  SELECT e.event_id,
         (e.seed + i.i) % 11 = 10 AS isnull_,
         (e.seed*3 + 7*i.i) % 1000 AS v
  FROM e, LATERAL (SELECT unnest(range(0, 3000)) AS i) i
)
SELECT e.event_id AS doc_id,
       TRUE AS crc_complete,
       CAST(3000 AS BIGINT) AS n_values,
       CAST((SELECT sum(r.v) FROM rows_ r
              WHERE r.event_id = e.event_id AND NOT r.isnull_)
            AS BIGINT) AS value_sum
FROM e
"""

QUERIES_R13["parquet_crc_scan"] = q_parquet_crc_scan
ORACLES_R13["parquet_crc_scan"] = _PARQUET_CRC_ORACLE


def q_delta_partition_prune(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """Delta PARTITION PRUNING driver-checked (r13): the per-document
    predicate ``p ∈ [doc_id % 5, +3]`` evaluates against the log's
    ``partitionValues`` strings only (partition columns are absent
    from the data files), tombstoned partitions stay pruned, and
    files_read < files_total proves bytes were skipped — all in
    closed form.  Lane id % 10 == 0."""
    from ..operators.lakehouse import decode_delta_partition_prune
    from ..testing.fixtures import make_delta_pp_bundle

    payloads = synth_docs(
        spark, sf_dir, lambda i: make_delta_pp_bundle(i % 1000), residue=0
    )
    return decode_delta_partition_prune(payloads, "v", "p", 5) \
        .drop("decode_error")


_DELTA_PP_ORACLE = f"""
WITH e AS (
  SELECT event_id, event_id % 1000 AS seed, event_id % 5 AS lo
  FROM events WHERE event_id % {_FLAC_MOD} = 0
),
parts AS (
  SELECT e.event_id, e.seed, e.lo, pp.p,
         15 + (e.seed + pp.p) % 10 AS n,
         pp.p <> e.seed % 8 AS live,
         pp.p BETWEEN e.lo AND e.lo + 3 AS hit
  FROM e, LATERAL (SELECT unnest(range(0, 8)) AS p) pp
),
rows_ AS (
  SELECT parts.event_id,
         (parts.seed*5 + 7*parts.p + 3*i.i) % 500 AS v
  FROM parts, LATERAL (SELECT unnest(range(0, parts.n)) AS i) i
  WHERE parts.live AND parts.hit
)
SELECT e.event_id AS doc_id,
       CAST(7 AS INTEGER) AS files_total,
       CAST((SELECT count(*) FROM parts
              WHERE parts.event_id = e.event_id
                AND parts.live AND parts.hit)
            AS INTEGER) AS files_read,
       CAST((SELECT count(*) FROM rows_ r
              WHERE r.event_id = e.event_id) AS BIGINT) AS records,
       CAST((SELECT sum(r.v) FROM rows_ r
              WHERE r.event_id = e.event_id) AS BIGINT) AS value_sum
FROM e
"""

QUERIES_R13["delta_partition_prune"] = q_delta_partition_prune
ORACLES_R13["delta_partition_prune"] = _DELTA_PP_ORACLE


def q_iceberg_metrics_prune(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """Iceberg COLUMN-METRICS pruning driver-checked (r13): manifest
    entries carry lower/upper bounds (the spec's 8-byte-LE
    single-value serialization per field id); the per-document window
    ``v ∈ [(doc_id % 6)*100 + 10, +150]`` prunes files whose bounds
    miss it WITHOUT touching their bytes, a bounds-less file is
    conservatively scanned, and true bounds make the matched tallies
    equal a full scan's — all closed-form.  Lane id % 10 == 1."""
    from ..operators.iceberg import decode_iceberg_metrics_prune
    from ..testing.fixtures import make_iceberg_mp_bundle

    payloads = synth_docs(
        spark, sf_dir, lambda i: make_iceberg_mp_bundle(i % 1000), residue=1
    )
    return decode_iceberg_metrics_prune(payloads, "v", 6, 150) \
        .drop("decode_error")


_ICEBERG_MP_ORACLE = f"""
WITH e AS (
  SELECT event_id, event_id % 1000 AS seed,
         (event_id % 6) * 100 + 10 AS lo
  FROM events WHERE event_id % {_FLAC_MOD} = 1
),
ff AS (
  SELECT e.event_id, e.seed, e.lo, f.f,
         20 + (e.seed + f.f) % 10 AS n,
         f.f = 5 OR NOT (100*f.f + 79 < e.lo OR 100*f.f > e.lo + 150)
           AS read_
  FROM e, LATERAL (SELECT unnest(range(0, 6)) AS f) f
),
rows_ AS (
  SELECT ff.event_id, ff.lo,
         100*ff.f + (ff.seed*3 + 7*i.i) % 80 AS v
  FROM ff, LATERAL (SELECT unnest(range(0, ff.n)) AS i) i
  WHERE ff.read_
)
SELECT e.event_id AS doc_id,
       CAST(6 AS INTEGER) AS files_total,
       CAST((SELECT count(*) FROM ff
              WHERE ff.event_id = e.event_id AND ff.read_)
            AS INTEGER) AS files_read,
       CAST((SELECT count(*) FROM rows_ r
              WHERE r.event_id = e.event_id
                AND r.v BETWEEN r.lo AND r.lo + 150)
            AS BIGINT) AS matched_rows,
       CAST(coalesce((SELECT sum(r.v) FROM rows_ r
              WHERE r.event_id = e.event_id
                AND r.v BETWEEN r.lo AND r.lo + 150), 0)
            AS BIGINT) AS matched_sum
FROM e
"""

QUERIES_R13["iceberg_metrics_prune"] = q_iceberg_metrics_prune
ORACLES_R13["iceberg_metrics_prune"] = _ICEBERG_MP_ORACLE


def q_orc_scan_unions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC UNION columns driver-checked (r13): the byte-RLE tag
    stream routes rows between a long branch and a string branch
    (dense child slots, per the spec) — misrouted tags or slot
    misalignment shift long_sum/str_chars.  Written by the Apache
    ORC C++ writer.  Lane id % 10 == 4."""
    from ..operators.orc_meta import decode_orc_union_stats
    from ..testing.fixtures import make_orc_union

    payloads = synth_docs(
        spark, sf_dir, lambda i: make_orc_union(i % 1000), residue=4
    )
    return decode_orc_union_stats(payloads, "u").drop("decode_error")


_ORC_UNION_ORACLE = f"""
WITH e AS (
  SELECT event_id, event_id % 1000 AS seed
  FROM events WHERE event_id % {_FLAC_MOD} = 4
),
rows_ AS (
  SELECT e.event_id,
         (e.seed + 3*i.i) % 2 AS tag,
         (e.seed*7 + 5*i.i) % 1000 AS v,
         1 + (e.seed + i.i) % 3 AS chars
  FROM e, LATERAL (SELECT unnest(range(0, 60 + e.seed % 40)) AS i) i
)
SELECT e.event_id AS doc_id,
       CAST(60 + e.seed % 40 AS BIGINT) AS n_rows,
       CAST((SELECT count(*) FROM rows_ r
              WHERE r.event_id = e.event_id AND r.tag = 0)
            AS BIGINT) AS n_tag0,
       CAST((SELECT sum(r.v) FROM rows_ r
              WHERE r.event_id = e.event_id AND r.tag = 0)
            AS BIGINT) AS long_sum,
       CAST((SELECT sum(r.chars) FROM rows_ r
              WHERE r.event_id = e.event_id AND r.tag = 1)
            AS BIGINT) AS str_chars
FROM e
"""

QUERIES_R13["orc_scan_unions"] = q_orc_scan_unions
ORACLES_R13["orc_scan_unions"] = _ORC_UNION_ORACLE


def q_avro_codec_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Avro heavy-codec containers (r13): the object-container codec
    gate opens for ``bzip2`` / ``xz`` / ``zstandard`` — each block's
    payload is produced by an INDEPENDENT real compressor (stdlib
    bz2, stdlib lzma FORMAT_XZ with CRC32/CRC64/none checks, libzstd
    via pyarrow) and inverted by the engine's own from-scratch
    decoders (operators/bzip2.py, xz.py, zstd.py) inside the Avro
    container walk (operators/avro.py).  The oracle replays record /
    block / null counts, the nullable-union long sum, and the UTF-8
    string byte tally in closed form.  Lane id % 10 == 4."""
    from ..operators.avro import decode_avro_meta
    from ..testing.fixtures import make_avro_heavy

    payloads = synth_docs(
        spark, sf_dir, lambda i: make_avro_heavy(i % 1000), residue=4
    )
    return decode_avro_meta(payloads, "u", "label").drop("decode_error")


_AVRO_HEAVY_ORACLE = f"""
WITH e AS (
  SELECT event_id, event_id % 1000 AS seed,
         40 + (event_id % 1000) % 70 AS n
  FROM events WHERE event_id % {_FLAC_MOD} = 4
),
vals AS (
  SELECT e.event_id,
         sum(CASE WHEN i.i % 5 = 4 THEN 0
                  ELSE (2*e.seed + 7*i.i) % 400 END) AS us,
         sum(CASE WHEN i.i % 5 = 4 THEN 1 ELSE 0 END) AS nn,
         sum(2 + length(CAST((e.seed + 2*i.i) % 19 AS VARCHAR))) AS sb
  FROM e, LATERAL (SELECT unnest(range(0, e.n)) AS i) i
  GROUP BY 1
)
SELECT e.event_id AS doc_id,
       CAST(e.n AS BIGINT) AS n_records,
       CAST((e.n + 19) // 20 AS INTEGER) AS n_blocks,
       CAST(3 + e.seed % 3 AS INTEGER) AS codec_id,
       CAST(v.us AS BIGINT) AS long_sum,
       CAST(v.sb AS BIGINT) AS str_bytes,
       CAST(v.nn AS BIGINT) AS n_nulls
FROM e JOIN vals v ON v.event_id = e.event_id
"""

QUERIES_R13["avro_codec_family"] = q_avro_codec_family
ORACLES_R13["avro_codec_family"] = _AVRO_HEAVY_ORACLE


def q_delta_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta TIMESTAMP AS OF (r13): six timestamped commits per
    bundle; each document resolves a mid-commit instant to its
    version (round DOWN per the protocol), folds add/remove actions
    only up to it, and scans the surviving files' parquet bytes with
    the engine's own reader (operators/lakehouse.py:
    parse_delta_time_travel).  A reader that folds the whole log
    returns today's live set and misses every planted
    resolved-version row.  Lane id % 10 == 5."""
    from ..operators.lakehouse import decode_delta_time_travel
    from ..testing.fixtures import (
        _DELTA_TT_BASE,
        _DELTA_TT_STEP,
        _DELTA_TT_VERSIONS,
        make_delta_tt_bundle,
    )

    payloads = synth_docs(
        spark, sf_dir, lambda i: make_delta_tt_bundle(i % 1000), residue=5
    )
    return decode_delta_time_travel(
        payloads, "x", _DELTA_TT_BASE, _DELTA_TT_STEP,
        _DELTA_TT_VERSIONS).drop("live_bytes", "decode_error")


_DELTA_TT_ORACLE = f"""
WITH e AS (
  SELECT event_id, event_id % 1000 AS seed, event_id % 6 AS r
  FROM events WHERE event_id % {_FLAC_MOD} = 5
),
live AS (
  SELECT e.event_id, e.seed, e.r, v.v, 10 + (e.seed + v.v) % 6 AS n
  FROM e, LATERAL (SELECT unnest(range(0, e.r + 1)) AS v) v
  WHERE NOT (v.v + 2 <= e.r AND (e.seed + v.v + 2) % 3 = 0)
),
vals AS (
  SELECT l.event_id,
         count(DISTINCT l.v) AS nf,
         count(*) AS recs,
         sum((l.seed*3 + 5*l.v + 7*i.i) % 400) AS vs
  FROM live l, LATERAL (SELECT unnest(range(0, l.n)) AS i) i
  GROUP BY 1
)
SELECT e.event_id AS doc_id,
       CAST(e.r AS INTEGER) AS resolved_version,
       CAST(5 AS INTEGER) AS last_version,
       CAST(v.nf AS INTEGER) AS n_live_files,
       CAST(v.recs AS BIGINT) AS records,
       CAST(v.vs AS BIGINT) AS value_sum
FROM e JOIN vals v ON v.event_id = e.event_id
"""

QUERIES_R13["delta_time_travel"] = q_delta_time_travel
ORACLES_R13["delta_time_travel"] = _DELTA_TT_ORACLE


def q_iceberg_time_travel(spark: SparkSession,
                          sf_dir: str) -> DataFrame:
    """Iceberg TIMESTAMP AS OF (r13): the bundle's ``snapshot-log``
    holds five timestamped history entries; each document resolves a
    mid-step instant to its snapshot ordinal, walks THAT snapshot's
    manifest list (not the current one), and scans its files through
    the engine's own Avro + parquet byte paths
    (operators/iceberg.py:parse_iceberg_time_travel).  Snapshots
    both add files and drop one (ordinal s drops file s-2 on even
    seed+s), so reading the current snapshot fails the oracle in
    both directions.  Lane id % 10 == 6."""
    from ..operators.iceberg import decode_iceberg_time_travel
    from ..testing.fixtures import (
        _ICEBERG_TT_BASE,
        _ICEBERG_TT_SNAPSHOTS,
        _ICEBERG_TT_STEP,
        make_iceberg_tt_bundle,
    )

    payloads = synth_docs(
        spark, sf_dir, lambda i: make_iceberg_tt_bundle(i % 1000), residue=6
    )
    return decode_iceberg_time_travel(
        payloads, "x", _ICEBERG_TT_BASE, _ICEBERG_TT_STEP,
        _ICEBERG_TT_SNAPSHOTS).drop("decode_error")


_ICEBERG_TT_ORACLE = f"""
WITH e AS (
  SELECT event_id, event_id % 1000 AS seed, event_id % 5 AS r
  FROM events WHERE event_id % {_FLAC_MOD} = 6
),
live AS (
  SELECT e.event_id, e.seed, f.f, 12 + (e.seed + f.f) % 5 AS n
  FROM e, LATERAL (SELECT unnest(range(0, e.r + 1)) AS f) f
  WHERE NOT (f.f = e.r - 2 AND (e.seed + e.r) % 2 = 0)
),
vals AS (
  SELECT l.event_id,
         count(DISTINCT l.f) AS nf,
         count(*) AS recs,
         sum((l.seed*5 + 3*l.f + 11*i.i) % 300) AS vs
  FROM live l, LATERAL (SELECT unnest(range(0, l.n)) AS i) i
  GROUP BY 1
)
SELECT e.event_id AS doc_id,
       CAST(9000 + e.r AS BIGINT) AS resolved_snapshot,
       CAST(5 AS INTEGER) AS n_snapshots,
       CAST(v.nf AS INTEGER) AS n_files,
       CAST(v.recs AS BIGINT) AS records,
       CAST(v.vs AS BIGINT) AS value_sum
FROM e JOIN vals v ON v.event_id = e.event_id
"""

QUERIES_R13["iceberg_time_travel"] = q_iceberg_time_travel
ORACLES_R13["iceberg_time_travel"] = _ICEBERG_TT_ORACLE


def q_iceberg_bucket_prune(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    """Iceberg bucket[4] partition pruning (r13): a point lookup
    hashes the target with the SPEC's murmur3_x86_32 (pinned against
    Appendix B's hash(34L)=2017239379 in tests/test_iceberg.py) and
    plans ONLY the matching bucket's file — files_read is 1 of 4 and
    the planted multiplicity k = 1 + seed % 3 of the (even) target
    value proves the RIGHT file was read: the fixture routes values
    with an independently re-coded murmur3, so a hash bug reads a
    wrong bucket and tallies zero matches.  Lane id % 10 == 8."""
    from ..operators.iceberg import decode_iceberg_bucket_prune
    from ..testing.fixtures import (
        _ICEBERG_BK_MOD,
        _ICEBERG_BK_MUL,
        make_iceberg_bucket_bundle,
    )

    payloads = synth_docs(
        spark, sf_dir,
        lambda i: make_iceberg_bucket_bundle(i % 1000),
        residue=8,
    )
    return decode_iceberg_bucket_prune(
        payloads, "v", _ICEBERG_BK_MUL,
        _ICEBERG_BK_MOD).drop("decode_error")


_ICEBERG_BK_ORACLE = f"""
WITH e AS (
  SELECT event_id, event_id % 1000 AS seed,
         2 * ((event_id * 7) % 500) AS t
  FROM events WHERE event_id % {_FLAC_MOD} = 8
)
SELECT event_id AS doc_id,
       CAST(4 AS INTEGER) AS files_total,
       CAST(1 AS INTEGER) AS files_read,
       CAST(1 + seed % 3 AS BIGINT) AS matched_rows,
       CAST((1 + seed % 3) * t AS BIGINT) AS matched_sum
FROM e
"""

QUERIES_R13["iceberg_bucket_prune"] = q_iceberg_bucket_prune
ORACLES_R13["iceberg_bucket_prune"] = _ICEBERG_BK_ORACLE


def q_hudi_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hudi Copy-on-Write snapshot read (r13) — the lakehouse trio
    completes next to Delta and Iceberg: the .hoodie timeline is
    folded to the completed-commit set (an inflight commit's
    already-written base file carries poison values that must be
    skipped), base files group by fileId, and ONLY each group's
    latest completed file slice is scanned through the engine's own
    parquet reader (operators/hudi.py).  Ignoring the timeline
    tallies the poison; ignoring slice selection double-counts every
    rewritten group — the oracle distinguishes both.  Lane
    id % 10 == 9."""
    from ..operators.hudi import decode_hudi_snapshot
    from ..testing.fixtures import make_hudi_bundle

    payloads = synth_docs(
        spark, sf_dir, lambda i: make_hudi_bundle(i % 1000), residue=9
    )
    return decode_hudi_snapshot(payloads, "v").drop("decode_error")


_HUDI_ORACLE = f"""
WITH e AS (
  SELECT event_id, event_id % 1000 AS seed
  FROM events WHERE event_id % {_FLAC_MOD} = 9
),
grp AS (
  SELECT e.event_id, e.seed, g.g,
         CASE WHEN (e.seed + g.g) % 2 = 1 THEN 1 ELSE 2 END AS cmax
  FROM e, LATERAL (SELECT unnest(range(0, 4)) AS g) g
),
sl AS (
  SELECT event_id, seed, g, cmax,
         8 + (seed + g + cmax) % 5 AS n
  FROM grp
),
vals AS (
  SELECT s.event_id,
         count(*) AS recs,
         sum((s.seed*7 + 11*s.g + 5*s.cmax + 3*i.i) % 600) AS vs
  FROM sl s, LATERAL (SELECT unnest(range(0, s.n)) AS i) i
  GROUP BY 1
)
SELECT e.event_id AS doc_id,
       CAST(3 AS INTEGER) AS n_commits,
       CAST(1 AS INTEGER) AS n_pending,
       CAST(9 AS INTEGER) AS n_base_files,
       CAST(4 AS INTEGER) AS n_file_groups,
       CAST(1 AS INTEGER) AS n_skipped_pending,
       CAST(0 AS INTEGER) AS n_replaced_groups,
       CAST(v.recs AS BIGINT) AS records,
       CAST(v.vs AS BIGINT) AS value_sum
FROM e JOIN vals v ON v.event_id = e.event_id
"""

QUERIES_R13["hudi_snapshot"] = q_hudi_snapshot
ORACLES_R13["hudi_snapshot"] = _HUDI_ORACLE


def q_avro_schema_evolution(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """Avro SCHEMA RESOLUTION (r13) — the Kafka-consumer path: each
    container is written under an outgrown WRITER schema and decoded
    under the service's current READER schema
    (operators/avro.py:_decode_resolved, the spec's resolved-decoding
    algorithm).  One query exercises field reordering (match by
    name, walk in writer order), int→long + float→double +
    string→bytes promotions, a dropped writer-only field, a
    defaulted reader-only field, and union-member promotion — a
    reader that ignores resolution either crashes on the reordered
    walk or returns writer-typed values that fail the oracle's
    sums.  Lane id % 10 == 3."""
    from ..operators.avro import decode_avro_evolution
    from ..testing.fixtures import (
        _AVRO_READER_SCHEMA_JSON,
        make_avro_evolved,
    )

    payloads = synth_docs(
        spark, sf_dir, lambda i: make_avro_evolved(i % 1000), residue=3
    )
    return decode_avro_evolution(
        payloads, _AVRO_READER_SCHEMA_JSON).drop("decode_error")


_AVRO_EVO_ORACLE = f"""
WITH e AS (
  SELECT event_id, event_id % 1000 AS seed,
         30 + (event_id % 1000) % 50 AS n
  FROM events WHERE event_id % {_FLAC_MOD} = 3
),
vals AS (
  SELECT e.event_id,
         sum((e.seed*13 + 9*i.i) % 8000) AS ids,
         sum((e.seed + 3*i.i) % 40) AS x4,
         sum(1 + (e.seed + i.i) % 4) AS tb,
         sum(CASE WHEN i.i % 7 = 6 THEN 0
                  ELSE (e.seed + 2*i.i) % 300 END) AS us,
         sum(CASE WHEN i.i % 7 = 6 THEN 1 ELSE 0 END) AS nn
  FROM e, LATERAL (SELECT unnest(range(0, e.n)) AS i) i
  GROUP BY 1
)
SELECT e.event_id AS doc_id,
       CAST(e.n AS BIGINT) AS n_records,
       CAST(v.ids AS BIGINT) AS id_sum,
       CAST(v.x4 AS BIGINT) AS x4_sum,
       CAST(v.tb AS BIGINT) AS tag_bytes,
       CAST(7 * e.n AS BIGINT) AS bonus_sum,
       CAST(v.us AS BIGINT) AS u_sum,
       CAST(v.nn AS BIGINT) AS n_nulls
FROM e JOIN vals v ON v.event_id = e.event_id
"""

QUERIES_R13["avro_schema_evolution"] = q_avro_schema_evolution
ORACLES_R13["avro_schema_evolution"] = _AVRO_EVO_ORACLE


def q_lz4_frame_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LZ4 frames from the REAL producer (r13): liblz4 (pyarrow's
    LZ4F codec) compresses planted content; the engine's own frame
    walker + block decoder + XXH32 (operators/lz4.py) inverts it.
    Complements ``lz4_extract`` (fixture's spec encoder) with
    production frames — frame-descriptor flags as liblz4 emits them.
    The oracle replays content length and exact byte sum in closed
    form.  Lane id % 10 == 1."""
    from ..operators.lz4 import decode_lz4_meta
    from ..testing.fixtures import make_lz4_real

    payloads = synth_docs(
        spark, sf_dir, lambda i: make_lz4_real(i % 1000), residue=1
    )
    return decode_lz4_meta(payloads).drop("decode_error")


_LZ4_REAL_ORACLE = f"""
WITH e AS (
  SELECT event_id, event_id % 1000 AS seed,
         150 + (event_id % 1000) % 100 AS na,
         30 + (event_id % 1000) % 40 AS nt
  FROM events WHERE event_id % {_FLAC_MOD} = 1
),
sa AS (
  SELECT e.event_id,
         sum((3*e.seed + 11*i.i) % 251) AS s_a
  FROM e, LATERAL (SELECT unnest(range(0, e.na)) AS i) i
  GROUP BY 1
),
st AS (
  SELECT e.event_id,
         sum((5*e.seed + 7*i.i) % 253) AS s_t
  FROM e, LATERAL (SELECT unnest(range(0, e.nt)) AS i) i
  GROUP BY 1
)
SELECT e.event_id AS doc_id,
       CAST(1 AS INTEGER) AS n_blocks,
       CAST(3*e.na + e.nt AS BIGINT) AS content_len,
       CAST(3*sa.s_a + st.s_t AS BIGINT) AS content_sum
FROM e
JOIN sa ON sa.event_id = e.event_id
JOIN st ON st.event_id = e.event_id
"""

QUERIES_R13["lz4_frame_extract"] = q_lz4_frame_extract
ORACLES_R13["lz4_frame_extract"] = _LZ4_REAL_ORACLE


def q_iceberg_truncate_prune(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """Iceberg truncate[100] partition pruning (r13) — the
    contiguous-range complement of ``iceberg_bucket_prune``: a range
    predicate keeps only the files whose truncate partition value
    can intersect it (``p <= hi AND p+W-1 >= lo``), survivors are
    scanned through the engine's own parquet reader, and true
    in-bucket data makes the pruning lossless so the oracle replays
    files_read and the matched tallies in closed form.  Lane
    id % 10 == 7."""
    from ..operators.iceberg import decode_iceberg_truncate_prune
    from ..testing.fixtures import make_iceberg_trunc_bundle

    payloads = synth_docs(
        spark, sf_dir, lambda i: make_iceberg_trunc_bundle(i % 1000), residue=7
    )
    return decode_iceberg_truncate_prune(
        payloads, "v", 6, 150).drop("decode_error")


_ICEBERG_TR_ORACLE = f"""
WITH e AS (
  SELECT event_id, event_id % 1000 AS seed,
         (event_id % 6) * 100 + 10 AS lo,
         (event_id % 6) * 100 + 160 AS hi
  FROM events WHERE event_id % {_FLAC_MOD} = 7
),
f AS (
  SELECT e.*, ff.f, 18 + (e.seed + ff.f) % 8 AS n,
         (100*ff.f <= e.hi AND 100*ff.f + 99 >= e.lo) AS survives
  FROM e, LATERAL (SELECT unnest(range(0, 6)) AS f) ff
),
m AS (
  SELECT f.event_id,
         count(*) FILTER (WHERE f.survives
           AND 100*f.f + (f.seed*3 + 7*i.i) % 100 BETWEEN f.lo AND f.hi)
           AS mr,
         COALESCE(sum(100*f.f + (f.seed*3 + 7*i.i) % 100)
           FILTER (WHERE f.survives
             AND 100*f.f + (f.seed*3 + 7*i.i) % 100
                 BETWEEN f.lo AND f.hi), 0) AS ms,
         count(DISTINCT f.f) FILTER (WHERE f.survives) AS fr
  FROM f, LATERAL (SELECT unnest(range(0, f.n)) AS i) i
  GROUP BY 1
)
SELECT e.event_id AS doc_id,
       CAST(6 AS INTEGER) AS files_total,
       CAST(m.fr AS INTEGER) AS files_read,
       CAST(m.mr AS BIGINT) AS matched_rows,
       CAST(m.ms AS BIGINT) AS matched_sum
FROM e JOIN m ON m.event_id = e.event_id
"""

QUERIES_R13["iceberg_truncate_prune"] = q_iceberg_truncate_prune
ORACLES_R13["iceberg_truncate_prune"] = _ICEBERG_TR_ORACLE


def q_delta_checkpoint_v2(spark: SparkSession,
                          sf_dir: str) -> DataFrame:
    """Delta V2 (sidecar) checkpoints (r13): the top-level
    UUID-named checkpoint parquet carries checkpointMetadata (whose
    version must equal the resolved checkpoint version), sidecar
    pointers with byte-size verification, and its own state rows;
    the add/remove state lives in ``_delta_log/_sidecars/`` parquets
    — ALL read through the engine's own nested Dremel reader — then
    JSON commits after the checkpoint version replay on top
    (operators/lakehouse.py:parse_delta_checkpoint_v2).  The oracle
    replays the fold in closed form.  Lane id % 10 == 0."""
    from ..operators.lakehouse import decode_delta_checkpoint_v2
    from ..testing.fixtures import make_delta_v2ckpt_bundle

    payloads = synth_docs(
        spark, sf_dir, lambda i: make_delta_v2ckpt_bundle(i % 1000), residue=0
    )
    return decode_delta_checkpoint_v2(payloads).drop("decode_error")


_DELTA_V2_ORACLE = f"""
WITH e AS (
  SELECT event_id, event_id % 1000 AS seed
  FROM events WHERE event_id % {_FLAC_MOD} = 0
),
base AS (
  SELECT e.event_id, e.seed,
         count(*) FILTER (WHERE (e.seed + i.i) % 4 <> 1) AS n_base,
         COALESCE(sum(1000 + 37*i.i + e.seed % 7)
           FILTER (WHERE (e.seed + i.i) % 4 <> 1), 0) AS b_base,
         max(CASE WHEN i.i = e.seed % 10
                   AND (e.seed + i.i) % 4 <> 1
              THEN 1000 + 37*i.i + e.seed % 7 END) AS removed_size
  FROM e, LATERAL (SELECT unnest(range(0, 10)) AS i) i
  GROUP BY 1, 2
)
SELECT b.event_id AS doc_id,
       CAST(5 AS INTEGER) AS checkpoint_version,
       CAST(7 AS INTEGER) AS last_version,
       CAST(2 AS INTEGER) AS n_sidecars,
       CAST(11 AS INTEGER) AS n_state_rows,
       CAST(2 + b.seed % 2 AS INTEGER) AS n_json_actions,
       CAST(b.n_base + 2 + b.seed % 2
            - CASE WHEN b.removed_size IS NOT NULL THEN 1 ELSE 0 END
            AS INTEGER) AS n_live_files,
       CAST(b.b_base - COALESCE(b.removed_size, 0)
            + 777 + b.seed % 5 + 1500 + b.seed % 9
            + CASE WHEN b.seed % 2 = 1
                   THEN 2000 + b.seed % 3 ELSE 0 END
            AS BIGINT) AS live_bytes
FROM base b
"""

QUERIES_R13["delta_checkpoint_v2"] = q_delta_checkpoint_v2
ORACLES_R13["delta_checkpoint_v2"] = _DELTA_V2_ORACLE


def q_parquet_write_roundtrip(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """From-scratch parquet WRITER (r13) — the read/write symmetry
    closes: per document the engine writes planted nullable
    int64/double/string/boolean columns as a complete parquet file
    (operators/parquet_write.py — hand-written thrift-compact
    footer, RLE def-levels, PLAIN v1 pages, the engine's OWN snappy
    compressor on odd seeds, two row groups on odd seeds) and
    parquet-cpp (pyarrow) — the INDEPENDENT reader — reads it back
    in the same Arrow map; ``own_agree`` additionally pins the
    engine's own reader to the identical id column.  A wrong byte
    anywhere (footer, levels, page, snappy frame) fails the foreign
    read-back and thus the oracle.  Lane id % 10 == 2."""
    from ..operators.parquet_write import decode_parquet_roundtrip
    from ..testing.fixtures import parquet_rt_codec, parquet_rt_columns

    e = _spread(
        load_events(spark, sf_dir).select("event_id").filter(
            F.col("event_id") % _FLAC_MOD == 2
        ).withColumnRenamed("event_id", "doc_id"),
        spark,
    )
    return decode_parquet_roundtrip(
        e, parquet_rt_columns, parquet_rt_codec).drop(
        "n_bytes", "decode_error")


_PQ_WRITE_ORACLE = f"""
WITH e AS (
  SELECT event_id, event_id % 1000 AS seed,
         40 + (event_id % 1000) % 30 AS n
  FROM events WHERE event_id % {_FLAC_MOD} = 2
),
vals AS (
  SELECT e.event_id,
         sum(CASE WHEN (e.seed + i.i) % 8 = 7 THEN 0
                  ELSE (e.seed*9 + 5*i.i) % 7000 END) AS ids,
         sum(CASE WHEN (e.seed + i.i) % 8 = 7 THEN 1 ELSE 0 END) AS nn,
         sum(CASE WHEN (e.seed + i.i) % 10 = 9 THEN 0
                  ELSE (e.seed + 3*i.i) % 50 END) AS x2,
         sum(CASE WHEN i.i % 6 = 5 THEN 0
                  ELSE 1 + (e.seed + i.i) % 4 END) AS sb,
         sum(CASE WHEN (e.seed + i.i) % 7 <> 6
                   AND (e.seed + i.i) % 3 = 0
              THEN 1 ELSE 0 END) AS bt
  FROM e, LATERAL (SELECT unnest(range(0, e.n)) AS i) i
  GROUP BY 1
)
SELECT e.event_id AS doc_id,
       CAST(e.n AS BIGINT) AS n_rows,
       CAST(v.ids AS BIGINT) AS id_sum,
       CAST(v.x2 AS BIGINT) AS x2_sum,
       CAST(v.sb AS BIGINT) AS s_bytes,
       CAST(v.bt AS BIGINT) AS b_true,
       CAST(v.nn AS BIGINT) AS n_nulls,
       CAST(1 AS INTEGER) AS own_agree
FROM e JOIN vals v ON v.event_id = e.event_id
"""

QUERIES_R13["parquet_write_roundtrip"] = q_parquet_write_roundtrip
ORACLES_R13["parquet_write_roundtrip"] = _PQ_WRITE_ORACLE


def q_arrow_write_roundtrip(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """From-scratch Arrow IPC STREAM writer (r13) — the engine
    BUILDS FlatBuffers without the Arrow library (bottom-up builder:
    vtables, alignment-stable front insertion, encapsulated-message
    framing with EOS; operators/arrow_write.py) and pyarrow — the
    INDEPENDENT consumer — reads every stream back inside the same
    Arrow map; ``own_agree`` pins the engine's own FlatBuffers
    walker to the identical id column.  Odd seeds split rows across
    multiple record batches.  A wrong vtable slot, misaligned
    buffer, or bad offset fails the foreign read-back and thus the
    oracle.  Lane id % 10 == 6."""
    from ..operators.arrow_write import decode_arrow_roundtrip
    from ..testing.fixtures import arrow_rt_batch, arrow_rt_columns

    e = _spread(
        load_events(spark, sf_dir).select("event_id").filter(
            F.col("event_id") % _FLAC_MOD == 6
        ).withColumnRenamed("event_id", "doc_id"),
        spark,
    )
    return decode_arrow_roundtrip(
        e, arrow_rt_columns, arrow_rt_batch).drop("decode_error")


_ARROW_WRITE_ORACLE = f"""
WITH e AS (
  SELECT event_id, event_id % 1000 AS seed,
         30 + (event_id % 1000) % 25 AS n
  FROM events WHERE event_id % {_FLAC_MOD} = 6
),
vals AS (
  SELECT e.event_id,
         sum(CASE WHEN (e.seed + i.i) % 8 = 7 THEN 0
                  ELSE (e.seed*9 + 5*i.i) % 7000 END) AS ids,
         sum(CASE WHEN (e.seed + i.i) % 8 = 7 THEN 1 ELSE 0 END) AS nn,
         sum(CASE WHEN (e.seed + i.i) % 10 = 9 THEN 0
                  ELSE (e.seed + 3*i.i) % 50 END) AS x2,
         sum(CASE WHEN i.i % 6 = 5 THEN 0
                  ELSE 2 * (1 + (e.seed + i.i) % 3) END) AS sb,
         sum(CASE WHEN (e.seed + i.i) % 7 <> 6
                   AND (e.seed + i.i) % 3 = 0
              THEN 1 ELSE 0 END) AS bt
  FROM e, LATERAL (SELECT unnest(range(0, e.n)) AS i) i
  GROUP BY 1
)
SELECT e.event_id AS doc_id,
       CAST(e.n AS BIGINT) AS n_rows,
       CAST(CASE WHEN e.seed % 2 = 1
                 THEN (e.n + 9) // 10 ELSE 1 END
            AS INTEGER) AS n_batches,
       CAST(v.ids AS BIGINT) AS id_sum,
       CAST(v.x2 AS BIGINT) AS x2_sum,
       CAST(v.sb AS BIGINT) AS s_bytes,
       CAST(v.bt AS BIGINT) AS b_true,
       CAST(v.nn AS BIGINT) AS n_nulls,
       CAST(1 AS INTEGER) AS own_agree
FROM e JOIN vals v ON v.event_id = e.event_id
"""

QUERIES_R13["arrow_write_roundtrip"] = q_arrow_write_roundtrip
ORACLES_R13["arrow_write_roundtrip"] = _ARROW_WRITE_ORACLE


def q_codec_write_roundtrip(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """Compressor family WRITE path (r13): the engine emits zstd
    frames (store/RLE blocks + XXH64 checksum,
    operators/zstd.py:compress_zstd_store), LZ4 frames (real
    block sequences, LZ4F framing, liblz4-validated —
    operators/lz4.py:write_lz4_frame), LZMA range-encoded ALONE streams (real shift-low carry
    encoder, order-1 literal contexts) + stored .xz containers
    (operators/xz.py, stdlib-lzma-validated), full bzip2 streams
    (RLE1 → prefix-doubling BWT → MTF → RLE2 →
    canonical Huffman, operators/bzip2.py:bzip2_compress,
    stdlib-bz2-validated), gzip members and zlib
    streams (REAL fixed-Huffman DEFLATE with greedy hash-chain LZ77,
    own CRC-32/Adler-32 trailers, operators/inflate.py) — and the
    INDEPENDENT consumers (libzstd via pyarrow, stdlib zlib) plus
    the engine's own decoders decompress every emission in the same
    Arrow map.  Planted content mixes byte runs, pseudo-random
    spans and far copies so real matches are emitted, and the
    oracle pins content length/sum and all parity flags.  Lane
    id % 10 == 8."""
    from ..operators.inflate import decode_codec_write_roundtrip
    from ..testing.fixtures import codec_rt_content

    e = _spread(
        load_events(spark, sf_dir).select("event_id").filter(
            F.col("event_id") % _FLAC_MOD == 8
        ).withColumnRenamed("event_id", "doc_id"),
        spark,
    )
    return decode_codec_write_roundtrip(
        e, codec_rt_content).drop("decode_error")


_CODEC_WRITE_ORACLE = f"""
WITH e AS (
  SELECT event_id, event_id % 1000 AS seed,
         60 + (event_id % 1000) % 50 AS na,
         120 + (event_id % 1000) % 80 AS nb
  FROM events WHERE event_id % {_FLAC_MOD} = 8
),
sb AS (
  SELECT e.event_id, sum((3*e.seed + 7*i.i) % 251) AS s_b
  FROM e, LATERAL (SELECT unnest(range(0, e.nb)) AS i) i
  GROUP BY 1
)
SELECT e.event_id AS doc_id,
       CAST(2*e.na + 2*e.nb AS BIGINT) AS content_len,
       CAST(2*e.na*(e.seed % 251) + 2*sb.s_b AS BIGINT)
         AS content_sum,
       CAST(1 AS INTEGER) AS zstd_foreign_ok,
       CAST(1 AS INTEGER) AS gzip_foreign_ok,
       CAST(1 AS INTEGER) AS zlib_foreign_ok,
       CAST(1 AS INTEGER) AS lz4_foreign_ok,
       CAST(1 AS INTEGER) AS bz2_foreign_ok,
       CAST(1 AS INTEGER) AS xz_foreign_ok,
       CAST(1 AS INTEGER) AS own_ok
FROM e JOIN sb ON sb.event_id = e.event_id
"""

QUERIES_R13["codec_write_roundtrip"] = q_codec_write_roundtrip
ORACLES_R13["codec_write_roundtrip"] = _CODEC_WRITE_ORACLE


def q_csv_sniff_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV dialect sniffing + RFC 4180 parse (r13): stdlib
    csv.writer — the independent producer — emits documents across
    four delimiters, CRLF/LF, minimal quoting with embedded
    delimiters / doubled quotes / in-field newlines, nullable int
    cells, and a planted ragged row; the engine sniffs the dialect
    (field-count-consistency scoring), detects the header by type
    dissonance, parses with a byte-level quote state machine, and
    type-infers columns (operators/csvx.py).  The oracle replays
    dialect, shape, per-type column counts and the id-column sum in
    closed form.  Lane id % 10 == 4."""
    from ..operators.csvx import decode_csv_stats
    from ..testing.fixtures import make_csv_doc

    payloads = synth_docs(
        spark, sf_dir, lambda i: make_csv_doc(i % 1000), residue=4
    )
    return decode_csv_stats(payloads, "id").drop("decode_error")


_CSV_ORACLE = f"""
WITH e AS (
  SELECT event_id, event_id % 1000 AS seed,
         20 + (event_id % 1000) % 30 AS n
  FROM events WHERE event_id % {_FLAC_MOD} = 4
),
vals AS (
  SELECT e.event_id,
         sum(CASE WHEN (e.seed + i.i) % 9 = 8 THEN 0
                  ELSE (e.seed*7 + 3*i.i) % 5000 END) AS ids,
         sum(CASE WHEN (e.seed + i.i) % 9 = 8 THEN 1 ELSE 0 END) AS nn
  FROM e, LATERAL (SELECT unnest(range(0, e.n)) AS i) i
  GROUP BY 1
)
SELECT e.event_id AS doc_id,
       CAST(e.seed % 4 AS INTEGER) AS delim_id,
       CAST(1 AS INTEGER) AS quoted,
       CAST(4 AS INTEGER) AS n_columns,
       CAST(e.n AS BIGINT) AS n_rows,
       CAST(CASE WHEN e.seed % 5 = 0 THEN 1 ELSE 0 END AS BIGINT)
         AS n_ragged,
       CAST(1 AS INTEGER) AS n_int_cols,
       CAST(1 AS INTEGER) AS n_double_cols,
       CAST(2 AS INTEGER) AS n_string_cols,
       CAST(v.ids AS BIGINT) AS int_sum,
       CAST(v.nn AS BIGINT) AS int_nulls
FROM e JOIN vals v ON v.event_id = e.event_id
"""

QUERIES_R13["csv_sniff_scan"] = q_csv_sniff_scan
ORACLES_R13["csv_sniff_scan"] = _CSV_ORACLE


def q_iceberg_day_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg day-transform pruning (r13) — daily partitioning is
    the highest-volume real Iceberg layout: a 1.5-day timestamp
    window plans exactly 2 of 6 daily files (the spec's day
    transform maps timestamp-micros to epoch-day ordinals), and the
    in-file predicate then drops the first day's rows (all before
    the window start) so only the second day's rows tally — the
    oracle distinguishes transform pruning from row filtering.
    Lane id % 10 == 0."""
    from ..operators.iceberg import decode_iceberg_day_prune
    from ..testing.fixtures import (
        _ICEBERG_DAY_BASE,
        _ICEBERG_DAY_N,
        make_iceberg_day_bundle,
    )

    payloads = synth_docs(
        spark, sf_dir, lambda i: make_iceberg_day_bundle(i % 1000), residue=0
    )
    return decode_iceberg_day_prune(
        payloads, "ts", _ICEBERG_DAY_BASE,
        _ICEBERG_DAY_N).drop("decode_error")


_ICEBERG_DAY_ORACLE = f"""
WITH e AS (
  SELECT event_id, event_id % 1000 AS seed,
         event_id % 5 AS w
  FROM events WHERE event_id % {_FLAC_MOD} = 0
),
nf AS (
  SELECT e.event_id, e.seed, e.w,
         16 + (e.seed + e.w + 1) % 8 AS n1
  FROM e
),
vals AS (
  SELECT f.event_id,
         sum((19701 + f.w) * 86400000000
             + ((f.seed*3 + 7*i.i) % 1000) * 1000) AS s1
  FROM nf f, LATERAL (SELECT unnest(range(0, f.n1)) AS i) i
  GROUP BY 1
)
SELECT f.event_id AS doc_id,
       CAST(6 AS INTEGER) AS files_total,
       CAST(2 AS INTEGER) AS files_read,
       CAST(f.n1 AS BIGINT) AS matched_rows,
       CAST(v.s1 AS BIGINT) AS matched_sum
FROM nf f JOIN vals v ON v.event_id = f.event_id
"""

QUERIES_R13["iceberg_day_prune"] = q_iceberg_day_prune
ORACLES_R13["iceberg_day_prune"] = _ICEBERG_DAY_ORACLE


def q_hudi_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hudi INCREMENTAL query (r13) — the format's signature
    consumption pattern: per document a two-commit window
    ``(begin, end]`` is resolved against the timeline, each
    in-window commit's HoodieCommitMetadata enumerates exactly the
    base files it wrote, in-window file slices collapse to the
    latest per file group, and only those parquet bytes are scanned
    (operators/hudi.py:parse_hudi_incremental).  A reader that
    re-scans the whole table (snapshot semantics) or ignores
    in-window slice collapse fails the closed-form oracle.  Lane
    id % 10 == 9."""
    from ..operators.hudi import decode_hudi_incremental
    from ..testing.fixtures import _HUDI_TS0, make_hudi_bundle

    payloads = synth_docs(
        spark, sf_dir, lambda i: make_hudi_bundle(i % 1000), residue=9
    )
    return decode_hudi_incremental(
        payloads, "v", _HUDI_TS0, 3).drop("decode_error")


_HUDI_INC_ORACLE = f"""
WITH e AS (
  SELECT event_id, event_id % 1000 AS seed, event_id % 3 AS w
  FROM events WHERE event_id % {_FLAC_MOD} = 9
),
grp AS (
  -- latest in-window slice per group; window commits are
  -- {{w, w+1}} ∩ {{0,1,2}}; commit 0 writes all groups, commit
  -- c>0 writes g iff (seed+g+c) % 2 == 0
  SELECT e.event_id, e.seed, e.w, g.g,
         CASE
           WHEN e.w = 0 THEN
             CASE WHEN (e.seed + g.g + 1) % 2 = 0 THEN 1 ELSE 0 END
           WHEN e.w = 1 THEN
             CASE WHEN (e.seed + g.g + 1) % 2 = 0 THEN 1 ELSE 2 END
           ELSE
             CASE WHEN (e.seed + g.g + 2) % 2 = 0 THEN 2 END
         END AS cmax
  FROM e, LATERAL (SELECT unnest(range(0, 4)) AS g) g
),
touched AS (
  SELECT * FROM grp WHERE cmax IS NOT NULL
),
sl AS (
  SELECT event_id, seed, g, cmax,
         8 + (seed + g + cmax) % 5 AS n
  FROM touched
),
vals AS (
  SELECT s.event_id,
         count(DISTINCT s.g) AS ng,
         count(*) AS recs,
         sum((s.seed*7 + 11*s.g + 5*s.cmax + 3*i.i) % 600) AS vs
  FROM sl s, LATERAL (SELECT unnest(range(0, s.n)) AS i) i
  GROUP BY 1
)
SELECT e.event_id AS doc_id,
       CAST(3 AS INTEGER) AS n_commits_total,
       CAST(CASE WHEN e.w = 2 THEN 1 ELSE 2 END AS INTEGER)
         AS n_commits_window,
       CAST(CASE WHEN e.w = 0 THEN 6 WHEN e.w = 1 THEN 4
                 ELSE 2 END AS INTEGER) AS n_window_files,
       CAST(CASE WHEN e.w = 2 THEN 2 ELSE 4 END AS INTEGER)
         AS n_groups_touched,
       CAST(v.recs AS BIGINT) AS records,
       CAST(v.vs AS BIGINT) AS value_sum
FROM e JOIN vals v ON v.event_id = e.event_id
"""

QUERIES_R13["hudi_incremental"] = q_hudi_incremental
ORACLES_R13["hudi_incremental"] = _HUDI_INC_ORACLE


def q_hudi_cluster_snapshot(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """Hudi CLUSTERING (r13): a completed ``replacecommit``
    rewrites file groups 0+1 into one clustered file and retires
    the originals via ``partitionToReplaceFileIds`` — the snapshot
    must include the clustered file, keep groups 2+3's latest
    slices, hide BOTH replaced groups, and still skip the inflight
    poison (operators/hudi.py:parse_hudi_snapshot, replacecommit
    gate opened).  A reader that ignores replacement double-counts
    two groups; one that drops the clustering commit loses rows —
    the oracle distinguishes all of it.  Lane id % 10 == 3."""
    from ..operators.hudi import decode_hudi_snapshot
    from ..testing.fixtures import make_hudi_cluster_bundle

    payloads = synth_docs(
        spark, sf_dir, lambda i: make_hudi_cluster_bundle(i % 1000), residue=3
    )
    return decode_hudi_snapshot(payloads, "v").drop("decode_error")


_HUDI_CL_ORACLE = f"""
WITH e AS (
  SELECT event_id, event_id % 1000 AS seed
  FROM events WHERE event_id % {_FLAC_MOD} = 3
),
cl AS (
  SELECT e.event_id, count(*) AS n_cl,
         sum((e.seed*11 + 9*i.i) % 700) AS s_cl
  FROM e, LATERAL (SELECT unnest(range(0, 20 + e.seed % 6)) AS i) i
  GROUP BY 1
),
grp AS (
  SELECT e.event_id, e.seed, g.g,
         CASE WHEN (e.seed + g.g) % 2 = 1 THEN 1 ELSE 2 END AS cmax
  FROM e, LATERAL (SELECT unnest(range(2, 4)) AS g) g
),
sl AS (
  SELECT event_id, seed, g, cmax, 8 + (seed + g + cmax) % 5 AS n
  FROM grp
),
keep AS (
  SELECT s.event_id, count(*) AS recs,
         sum((s.seed*7 + 11*s.g + 5*s.cmax + 3*i.i) % 600) AS vs
  FROM sl s, LATERAL (SELECT unnest(range(0, s.n)) AS i) i
  GROUP BY 1
)
SELECT e.event_id AS doc_id,
       CAST(4 AS INTEGER) AS n_commits,
       CAST(1 AS INTEGER) AS n_pending,
       CAST(10 AS INTEGER) AS n_base_files,
       CAST(3 AS INTEGER) AS n_file_groups,
       CAST(1 AS INTEGER) AS n_skipped_pending,
       CAST(2 AS INTEGER) AS n_replaced_groups,
       CAST(c.n_cl + k.recs AS BIGINT) AS records,
       CAST(c.s_cl + k.vs AS BIGINT) AS value_sum
FROM e
JOIN cl c ON c.event_id = e.event_id
JOIN keep k ON k.event_id = e.event_id
"""

QUERIES_R13["hudi_cluster_snapshot"] = q_hudi_cluster_snapshot
ORACLES_R13["hudi_cluster_snapshot"] = _HUDI_CL_ORACLE


def q_avro_logical_types(spark: SparkSession,
                         sf_dir: str) -> DataFrame:
    """Avro LOGICAL TYPES (r13): date / timestamp-micros / decimal
    over bytes AND fixed / uuid materialize into real Python values
    during the schema-directed walk (operators/avro.py:_logical_*,
    the fastavro-compatible layer) and the wrapper converts them
    back to exact integers — a reader that skips materialization,
    mis-scales a decimal, or drops a fixed-decimal annotation fails
    the closed-form oracle.  Lane id % 10 == 1."""
    from ..operators.avro import decode_avro_logical
    from ..testing.fixtures import make_avro_logical

    payloads = synth_docs(
        spark, sf_dir, lambda i: make_avro_logical(i % 1000), residue=1
    )
    return decode_avro_logical(payloads).drop("decode_error")


_AVRO_LOGICAL_ORACLE = f"""
WITH e AS (
  SELECT event_id, event_id % 1000 AS seed,
         25 + (event_id % 1000) % 30 AS n
  FROM events WHERE event_id % {_FLAC_MOD} = 1
),
vals AS (
  SELECT e.event_id,
         sum(19000 + (e.seed + 3*i.i) % 2000) AS days_,
         sum(1600000000000000 +
             (e.seed*7 + 11*i.i) % 1000000000) AS tsu,
         sum((e.seed*13 + 9*i.i) % 200000 - 100000) AS dec_,
         sum((e.seed*3 + 5*i.i) % 1000000) AS fx,
         sum((e.seed*5 + 13*i.i) % 100000000) AS tl
  FROM e, LATERAL (SELECT unnest(range(0, e.n)) AS i) i
  GROUP BY 1
)
SELECT e.event_id AS doc_id,
       CAST(e.n AS BIGINT) AS n_records,
       CAST(v.days_ AS BIGINT) AS day_sum,
       CAST(v.tsu AS BIGINT) AS ts_us_sum,
       CAST(v.dec_ AS BIGINT) AS dec_unscaled_sum,
       CAST(v.fx AS BIGINT) AS fx_unscaled_sum,
       CAST(v.tl AS BIGINT) AS uuid_tl_sum
FROM e JOIN vals v ON v.event_id = e.event_id
"""

QUERIES_R13["avro_logical_types"] = q_avro_logical_types
ORACLES_R13["avro_logical_types"] = _AVRO_LOGICAL_ORACLE


def q_orc_row_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC row-index pruning (r13) — the ORC analog of parquet's
    page index: the stripe's ROW_INDEX stream (one entry per
    1000-row group: seek positions + zigzag Integer min/max) prunes
    a range scan to 1 of 4 row groups, and the survivor is decoded
    by SEEKING straight to its run boundary (byte offset + in-run
    skip) — ``values_decoded`` proves pruned groups' values were
    never materialized.  Files come from the Apache ORC C++ writer.
    Lane id % 10 == 5."""
    from ..operators.orc_meta import decode_orc_row_prune
    from ..testing.fixtures import (
        _ORC_RI_GROUPS,
        _ORC_RI_SPAN,
        make_orc_ri,
    )

    payloads = synth_docs(
        spark, sf_dir, lambda i: make_orc_ri(i % 1000), residue=5
    )
    return decode_orc_row_prune(
        payloads, "v", _ORC_RI_GROUPS, _ORC_RI_SPAN).drop(
        "decode_error")


_ORC_RI_ORACLE = f"""
WITH e AS (
  SELECT event_id, event_id % 1000 AS seed,
         event_id % 4 AS w
  FROM events WHERE event_id % {_FLAC_MOD} = 5
),
vals AS (
  SELECT e.event_id,
         count(*) FILTER (WHERE (e.seed*3 + 7*i.i) % 900 >= 10
                            AND (e.seed*3 + 7*i.i) % 900 <= 50010)
           AS mr,
         COALESCE(sum(e.w*100000 + (e.seed*3 + 7*i.i) % 900)
           FILTER (WHERE (e.seed*3 + 7*i.i) % 900 >= 10
                     AND (e.seed*3 + 7*i.i) % 900 <= 50010), 0)
           AS ms
  FROM e, LATERAL (SELECT unnest(range(0, 1000)) AS i) i
  GROUP BY 1
)
SELECT e.event_id AS doc_id,
       CAST(4 AS INTEGER) AS groups_total,
       CAST(1 AS INTEGER) AS groups_read,
       CAST(1000 AS BIGINT) AS values_decoded,
       CAST(v.mr AS BIGINT) AS matched_rows,
       CAST(v.ms AS BIGINT) AS matched_sum
FROM e JOIN vals v ON v.event_id = e.event_id
"""

QUERIES_R13["orc_row_prune"] = q_orc_row_prune
ORACLES_R13["orc_row_prune"] = _ORC_RI_ORACLE
