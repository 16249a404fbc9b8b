"""Apache Iceberg snapshot walking — public Iceberg table spec
(iceberg.apache.org/spec): table-metadata JSON → manifest list
(Avro) → manifest files (Avro) → live data-file inventory.

Lakehouse tables don't list directories; readers resolve the current
snapshot through a metadata chain.  This module walks that chain
with the engine's own byte paths — JSON (stdlib), the tar bundle
walk (operators/tar.py) standing in for the object store's key space,
the Avro container reader (operators/avro.py) for manifest lists and
manifests, and the raw parquet reader (operators/parquet_raw.py) for
data and delete files.

Every ``parse_iceberg_*`` reader goes through ONE walk, and so gets
every one of its gates:

- :func:`_open_table` — the tar bundle and its ``metadata.json``
  (missing member and bad JSON are named errors);
- :func:`_snapshot` — the snapshot by ``current-snapshot-id``, or AS
  OF a timestamp through ``snapshot-log``; a dangling id is named;
- :func:`_manifests` — the snapshot's manifest list: every manifest
  present and ``manifest_length`` equal to its size; manifest
  ``content`` is 0 (data) or 1 (deletes), and delete manifests are
  refused ("delete manifests gated") unless the reader applies them —
  a reader that did not would count delete rows as data;
- :func:`_entries` / :func:`_live` — manifest entries: ``status`` 0
  EXISTING / 1 ADDED / 2 DELETED (anything else is named), a null
  ``sequence_number`` inherits the manifest's (v2 inheritance), and
  DELETED entries drop out of the live inventory like a real scan
  planner;
- :func:`_partition_field` and :func:`_prune_scan` — the pruning
  readers' single-field partition spec and their one plan-then-scan
  loop (a bucket point lookup is the window ``[target, target]``).

The Avro schemas here are the spec's field subset sufficient for
scan planning; extra fields pass through the schema-directed reader
untouched.  Every failure is a named ``ValueError`` (quarantined by
the wrapper).
"""

from __future__ import annotations

import json
from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from .avro import avro_decode_container
from .parquet_raw import parquet_file_meta, parquet_read_column
from .tar import parse_tar
from .payload_memo import decode_map

__all__ = ["parse_iceberg_snapshot", "decode_iceberg_snapshot",
           "parse_iceberg_scan", "decode_iceberg_scan",
           "parse_iceberg_scan_deletes", "decode_iceberg_scan_deletes",
           "parse_iceberg_scan_eq", "decode_iceberg_scan_eq",
           "parse_iceberg_metrics_prune",
           "decode_iceberg_metrics_prune",
           "parse_iceberg_time_travel", "decode_iceberg_time_travel",
           "murmur3_32", "iceberg_bucket",
           "parse_iceberg_bucket_prune", "decode_iceberg_bucket_prune",
           "iceberg_truncate", "parse_iceberg_truncate_prune",
           "decode_iceberg_truncate_prune",
           "parse_iceberg_day_prune", "decode_iceberg_day_prune"]


# --------------------------------------------------------------------------
# The walk: bundle → metadata → snapshot → manifests → entries.

def _open_table(bundle: bytes) -> tuple[dict, dict]:
    """The bundle's members by name, and its parsed metadata.json."""
    files = {m["name"]: m["data"] for m in parse_tar(bundle)}
    meta_raw = files.get("metadata.json")
    if meta_raw is None:
        raise ValueError("iceberg: bundle missing metadata.json")
    try:
        meta = json.loads(meta_raw)
    except json.JSONDecodeError as e:
        raise ValueError(f"iceberg: bad metadata JSON ({e})") from None
    return files, meta


def _snapshot(meta: dict, as_of_ts: int | None = None) -> dict:
    """The current snapshot, or with ``as_of_ts`` (epoch millis) the
    one the LATEST ``snapshot-log`` entry at or before it names."""
    if as_of_ts is None:
        sid, which = meta.get("current-snapshot-id"), "current"
    else:
        sid, which = None, "resolved"
        for entry in meta.get("snapshot-log") or []:
            ts = entry.get("timestamp-ms")
            if not isinstance(ts, int):
                raise ValueError("iceberg: snapshot-log entry lacks "
                                 "timestamp-ms")
            if ts <= as_of_ts:
                sid = entry.get("snapshot-id")
        if sid is None:
            raise ValueError("iceberg: timestamp precedes table history")
    snap = next((s for s in meta.get("snapshots", [])
                 if s.get("snapshot-id") == sid), None)
    if snap is None:
        raise ValueError(f"iceberg: {which} snapshot id not found")
    return snap


def _manifests(files: dict, snap: dict,
               deletes: bool = False) -> list[tuple[dict, bytes]]:
    """The snapshot's (manifest-list entry, manifest bytes) pairs, each
    checked before any is read; delete manifests only for a reader
    that applies them (``deletes``)."""
    ml_key = snap.get("manifest-list")
    ml_raw = files.get(ml_key)
    if ml_raw is None:
        raise ValueError(f"iceberg: manifest list {ml_key!r} missing")
    out = []
    for entry in avro_decode_container(ml_raw)[1]:
        path = entry.get("manifest_path")
        man_raw = files.get(path)
        if man_raw is None:
            raise ValueError(f"iceberg: manifest {path!r} missing")
        if entry.get("manifest_length") not in (None, len(man_raw)):
            raise ValueError("iceberg: manifest length mismatch")
        content = entry.get("content") or 0
        if content not in (0, 1):
            raise ValueError(f"iceberg: manifest content {content} gated")
        if content == 1 and not deletes:
            raise ValueError("iceberg: delete manifests gated here")
        out.append((entry, man_raw))
    return out


def _entries(manifests: list[tuple[dict, bytes]]
             ) -> Iterator[tuple[int, int | None, int, dict]]:
    """``(manifest content, sequence number, status, data_file)`` per
    manifest entry; a null sequence number inherits the manifest's."""
    for entry, man_raw in manifests:
        content = entry.get("content") or 0
        for me in avro_decode_container(man_raw)[1]:
            status = me.get("status")
            if status not in (0, 1, 2):
                raise ValueError(f"iceberg: bad entry status {status!r}")
            seq = me.get("sequence_number")
            if seq is None:
                seq = entry.get("sequence_number")
            yield content, seq, status, me.get("data_file") or {}


def _live(manifests: list[tuple[dict, bytes]]
          ) -> Iterator[tuple[int, int | None, dict]]:
    """:func:`_entries` without the DELETED ones."""
    for content, seq, status, df in _entries(manifests):
        if status != 2:
            yield content, seq, df


def _file(files: dict, df: dict, what: str = "data file") -> bytes:
    """The bytes of the file a manifest entry names."""
    path = df.get("file_path")
    blob = files.get(path)
    if blob is None:
        raise ValueError(f"iceberg: {what} missing ({path!r})")
    return blob


def _field_id(meta: dict, column: str) -> int:
    """The table schema's field id of ``column``."""
    field_id = next((f.get("id") for f in
                     (meta.get("schema") or {}).get("fields", [])
                     if f.get("name") == column), None)
    if field_id is None:
        raise ValueError(f"iceberg: no schema field {column!r}")
    return field_id


def _partition_field(meta: dict, column: str,
                     transform: str) -> tuple[str, int | None]:
    """The default spec's one partition field — its name and the
    transform's ``[N]`` argument (None for ``day``) — which must apply
    ``transform`` to ``column``."""
    spec_id = meta.get("default-spec-id", 0)
    spec = next((s for s in meta.get("partition-specs", [])
                 if s.get("spec-id") == spec_id), None)
    if spec is None:
        raise ValueError("iceberg: default partition spec missing")
    pfields = spec.get("fields") or []
    if len(pfields) != 1:
        raise ValueError("iceberg: multi-field partition spec gated")
    pf = pfields[0]
    tr = pf.get("transform") or ""
    if transform == "day":
        ok = tr == transform
    else:  # the spec's `bucket[N]` / `truncate[W]` forms
        ok = tr.startswith(transform + "[") and tr.endswith("]")
    if not ok:
        raise ValueError(f"iceberg: transform {tr!r} gated")
    arg = int(tr[len(transform) + 1:-1]) if tr != transform else None
    if arg is not None and arg <= 0:
        raise ValueError(f"iceberg: bad transform {tr!r}")
    if pf.get("source-id") != _field_id(meta, column):
        raise ValueError("iceberg: partition source is not the "
                         "scan column")
    return pf.get("name"), arg


def _partition_value(df: dict, name: str) -> int:
    p = (df.get("partition") or {}).get(name)
    if not isinstance(p, int):
        raise ValueError(f"iceberg: partition tuple missing {name!r}")
    return p


def _prune_scan(files: dict, meta: dict, column: str, lo: int, hi: int,
                keep: Callable[[dict], bool]) -> dict:
    """Plan the current snapshot's live files with ``keep`` (a pruned
    file's bytes are never touched), scan the survivors' ``column``
    and tally the values in ``[lo, hi]``."""
    files_total = files_read = matched_rows = matched_sum = 0
    for _content, _seq, df in _live(_manifests(files, _snapshot(meta))):
        files_total += 1
        if not keep(df):
            continue
        files_read += 1
        for v in parquet_read_column(_file(files, df), column):
            if v is not None and lo <= v <= hi:
                matched_rows += 1
                matched_sum += v
    return {
        "files_total": files_total,
        "files_read": files_read,
        "matched_rows": matched_rows,
        "matched_sum": matched_sum,
    }


# --------------------------------------------------------------------------
# Readers.

def parse_iceberg_snapshot(bundle: bytes) -> dict:
    """Walk an Iceberg metadata bundle (tar of metadata.json +
    manifest-list/manifest Avro files) to the live data-file set."""
    files, meta = _open_table(bundle)
    snap = _snapshot(meta)
    manifests = _manifests(files, snap)
    n_live = n_deleted = 0
    total_records = total_bytes = 0
    for _content, _seq, status, df in _entries(manifests):
        if status == 2:
            n_deleted += 1
            continue
        n_live += 1
        total_records += int(df.get("record_count") or 0)
        total_bytes += int(df.get("file_size_in_bytes") or 0)
    return {
        "snapshot_id": snap.get("snapshot-id"),
        "n_manifests": len(manifests),
        "n_live_files": n_live,
        "n_deleted_files": n_deleted,
        "total_records": total_records,
        "total_bytes": total_bytes,
    }


ICEBERG_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("snapshot_id", LongType()),
    StructField("n_manifests", IntegerType()),
    StructField("n_live_files", IntegerType()),
    StructField("n_deleted_files", IntegerType()),
    StructField("total_records", LongType()),
    StructField("total_bytes", LongType()),
    StructField("decode_error", StringType()),
])


_SCAN_ERRORS = (ValueError, IndexError, TypeError, AttributeError,
                KeyError)
_PRUNE_ERRORS = (ValueError, IndexError, KeyError, TypeError)

# the pruning reads' shared output: files considered vs opened, plus
# the matched rows' count and value sum
_PRUNE_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("files_total", IntegerType()),
    StructField("files_read", IntegerType()),
    StructField("matched_rows", LongType()),
    StructField("matched_sum", LongType()),
    StructField("decode_error", StringType()),
])


def decode_iceberg_snapshot(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """Arrow ``mapInPandas`` wrapper over
    :func:`parse_iceberg_snapshot`; per-payload quarantine, no
    shuffle."""
    return decode_map(df, lambda p: parse_iceberg_snapshot(bytes(p)),
                      ICEBERG_SCHEMA,
                      (ValueError, IndexError, TypeError, AttributeError),
                      id_col, payload_col)


def parse_iceberg_scan(bundle: bytes, column: str) -> dict:
    """The full lakehouse read path in one walk: resolve the current
    snapshot (metadata JSON), read Avro manifests, and for every LIVE
    data file open its REAL parquet bytes — validating the manifest's
    ``record_count`` against the footer and materializing ``column``
    through the raw page reader (operators/parquet_raw).  Five engine
    byte paths chained: tar, JSON, Avro, Thrift footers, RLE/PLAIN
    pages (snappy/zstd through our own codecs)."""
    files, meta = _open_table(bundle)
    snap = _snapshot(meta)
    n_live = 0
    records_manifest = 0
    records_footer = 0
    mismatches = 0
    value_sum = 0
    for _content, _seq, df in _live(_manifests(files, snap)):
        blob = _file(files, df)
        n_live += 1
        rc = int(df.get("record_count") or 0)
        records_manifest += rc
        fm = parquet_file_meta(blob)
        records_footer += fm["num_rows"]
        if fm["num_rows"] != rc:
            mismatches += 1
        vals = parquet_read_column(blob, column)
        value_sum += sum(v for v in vals if v is not None)
    return {
        "snapshot_id": snap.get("snapshot-id"),
        "n_live_files": n_live,
        "records_manifest": records_manifest,
        "records_footer": records_footer,
        "n_mismatches": mismatches,
        "value_sum": value_sum,
    }


ICEBERG_SCAN_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("snapshot_id", LongType()),
    StructField("n_live_files", IntegerType()),
    StructField("records_manifest", LongType()),
    StructField("records_footer", LongType()),
    StructField("n_mismatches", IntegerType()),
    StructField("value_sum", LongType()),
    StructField("decode_error", StringType()),
])


def decode_iceberg_scan(
    df: DataFrame, column: str,
    id_col: str = "doc_id", payload_col: str = "payload",
) -> DataFrame:
    """Arrow ``mapInPandas`` wrapper over :func:`parse_iceberg_scan`;
    per-payload quarantine, no shuffle."""
    return decode_map(df, lambda p: parse_iceberg_scan(bytes(p), column),
                      ICEBERG_SCAN_SCHEMA, _SCAN_ERRORS, id_col,
                      payload_col)


# --------------------------------------------------------------------------
# Format v2: positional row-level deletes (r12).
#
# Iceberg v2 snapshots carry TWO kinds of manifests (spec §Manifests):
# the manifest-list entry's ``content`` field is 0 for data manifests
# and 1 for delete manifests.  A position-delete file is itself a
# real parquet file with columns ``file_path`` (string) and ``pos``
# (long), sorted by (file_path, pos); at scan time a reader drops the
# listed row positions from the matching data files.  Equality
# deletes (content=2 data_file entries) are handled by
# parse_iceberg_scan_eq below (single and composite keys).


def parse_iceberg_scan_deletes(bundle: bytes, column: str) -> dict:
    """The v2 read path: resolve the snapshot, split manifests by
    ``content``, build the position-delete map from REAL parquet
    delete files (engine's own raw reader), then scan live data files
    with deleted positions dropped."""
    files, meta = _open_table(bundle)
    snap = _snapshot(meta)
    live = list(_live(_manifests(files, snap, deletes=True)))
    # pass 1: position-delete map (path -> set of row positions)
    deletes: dict[str, set[int]] = {}
    n_delete_files = 0
    n_positions = 0
    for _content, _seq, df in (e for e in live if e[0] == 1):
        blob = _file(files, df, "delete file")
        n_delete_files += 1
        paths = parquet_read_column(blob, "file_path")
        poss = parquet_read_column(blob, "pos")
        if len(paths) != len(poss):
            raise ValueError("iceberg: ragged position-delete file")
        rc = df.get("record_count")
        if rc is not None and int(rc) != len(paths):
            raise ValueError("iceberg: delete record_count mismatch")
        for p, pos in zip(paths, poss):
            if p is None or pos is None:
                raise ValueError("iceberg: null in position delete")
            key = p.decode() if isinstance(p, bytes) else p
            deletes.setdefault(key, set()).add(int(pos))
            n_positions += 1
    # pass 2: scan live data files, dropping deleted positions
    n_data_files = 0
    records_after = 0
    value_sum = 0
    n_deleted_applied = 0
    for _content, _seq, df in (e for e in live if e[0] == 0):
        blob = _file(files, df)
        n_data_files += 1
        fm = parquet_file_meta(blob)
        if fm["num_rows"] != int(df.get("record_count") or 0):
            raise ValueError("iceberg: record_count mismatch")
        dead = deletes.get(df.get("file_path"), ())
        vals = parquet_read_column(blob, column)
        for i, v in enumerate(vals):
            if i in dead:
                n_deleted_applied += 1
                continue
            records_after += 1
            if v is not None:
                value_sum += v
    return {
        "snapshot_id": snap.get("snapshot-id"),
        "n_data_files": n_data_files,
        "n_delete_files": n_delete_files,
        "n_positions": n_positions,
        "n_deleted_applied": n_deleted_applied,
        "records_after": records_after,
        "value_sum": value_sum,
    }


ICEBERG_DELETES_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("snapshot_id", LongType()),
    StructField("n_data_files", IntegerType()),
    StructField("n_delete_files", IntegerType()),
    StructField("n_positions", LongType()),
    StructField("n_deleted_applied", LongType()),
    StructField("records_after", LongType()),
    StructField("value_sum", LongType()),
    StructField("decode_error", StringType()),
])


def decode_iceberg_scan_deletes(
    df: DataFrame, column: str,
    id_col: str = "doc_id", payload_col: str = "payload",
) -> DataFrame:
    """Arrow ``mapInPandas`` wrapper over
    :func:`parse_iceberg_scan_deletes`; per-payload quarantine, no
    shuffle."""
    return decode_map(
        df, lambda p: parse_iceberg_scan_deletes(bytes(p), column),
        ICEBERG_DELETES_SCHEMA, _SCAN_ERRORS, id_col, payload_col)


def parse_iceberg_scan_eq(bundle: bytes, column: str) -> dict:
    """Iceberg v2 EQUALITY deletes: delete manifests whose entries
    carry ``content=2`` data files list VALUES (columns named by
    ``equality_ids``, resolved through the table schema's field ids —
    single OR composite keys, the Flink-CDC default shape); a data
    row is deleted when its key tuple matches — but only in data
    files whose ``sequence_number`` is strictly LOWER than the delete
    file's (the spec's ordering rule).  A null ``sequence_number`` on
    a manifest entry inherits the manifest-list entry's sequence
    number, per the v2 inheritance rule — never defaulted to 0, which
    would over-apply equality deletes."""
    files, meta = _open_table(bundle)
    snap = _snapshot(meta)
    field_names = {f.get("id"): f.get("name")
                   for f in (meta.get("schema") or {}).get("fields", [])}
    data_entries: list = []
    # (delete_seq, key column names, set of key value tuples)
    eq_deletes: list = []
    n_delete_files = 0
    for content, seq, df in _live(_manifests(files, snap, deletes=True)):
        if seq is None:
            raise ValueError(
                "iceberg: no sequence number on entry or manifest")
        if content == 0:
            data_entries.append((seq, df))
            continue
        if df.get("content") != 2:
            raise ValueError(
                "iceberg: non-equality entry in delete manifest "
                "gated here (use parse_iceberg_scan_deletes)")
        ids = df.get("equality_ids") or []
        if not ids:
            raise ValueError("iceberg: delete file missing "
                             "equality_ids")
        key_cols = []
        for fid in ids:
            col = field_names.get(fid)
            if col is None:
                raise ValueError("iceberg: equality field id unknown")
            key_cols.append(col)
        blob = _file(files, df, "delete file")
        n_delete_files += 1
        key_vals = [parquet_read_column(blob, c) for c in key_cols]
        if len({len(v) for v in key_vals}) > 1:
            raise ValueError("iceberg: ragged equality delete file")
        tuples = set(zip(*key_vals))
        if any(None in t for t in tuples):
            raise ValueError("iceberg: null equality delete value")
        eq_deletes.append((seq, tuple(key_cols), tuples))
    n_data_files = 0
    n_eq_deleted = 0
    records_after = 0
    value_sum = 0
    for seq, df in data_entries:
        blob = _file(files, df)
        n_data_files += 1
        fm = parquet_file_meta(blob)
        if fm["num_rows"] != int(df.get("record_count") or 0):
            raise ValueError("iceberg: record_count mismatch")
        live = [(cols, s) for dseq, cols, s in eq_deletes if seq < dseq]
        needed = {c for cols, _ in live for c in cols}
        needed.add(column)
        col_data = {c: parquet_read_column(blob, c) for c in needed}
        vals = col_data[column]
        for i, v in enumerate(vals):
            dead = any(
                tuple(col_data[c][i] for c in cols) in s
                for cols, s in live)
            if dead:
                n_eq_deleted += 1
                continue
            records_after += 1
            if v is not None:
                value_sum += v
    return {
        "snapshot_id": snap.get("snapshot-id"),
        "n_data_files": n_data_files,
        "n_delete_files": n_delete_files,
        "n_eq_deleted": n_eq_deleted,
        "records_after": records_after,
        "value_sum": value_sum,
    }


ICEBERG_EQ_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("snapshot_id", LongType()),
    StructField("n_data_files", IntegerType()),
    StructField("n_delete_files", IntegerType()),
    StructField("n_eq_deleted", LongType()),
    StructField("records_after", LongType()),
    StructField("value_sum", LongType()),
    StructField("decode_error", StringType()),
])


def decode_iceberg_scan_eq(
    df: DataFrame, column: str,
    id_col: str = "doc_id", payload_col: str = "payload",
) -> DataFrame:
    """Arrow ``mapInPandas`` wrapper over
    :func:`parse_iceberg_scan_eq`; per-payload quarantine, no
    shuffle."""
    return decode_map(
        df, lambda p: parse_iceberg_scan_eq(bytes(p), column),
        ICEBERG_EQ_SCHEMA, _SCAN_ERRORS, id_col, payload_col)


def parse_iceberg_metrics_prune(bundle: bytes, column: str,
                                lo: int, hi: int) -> dict:
    """Iceberg scan planning with COLUMN METRICS (spec §Manifests):
    each data-file entry carries per-field ``lower_bounds`` /
    ``upper_bounds`` (the spec's single-value binary serialization —
    8-byte little-endian for longs); a file whose [lower, upper]
    range misses [lo, hi] is PRUNED without touching its bytes, and a
    file with no bound for the field is conservatively scanned.
    Returns files_total / files_read plus the matched row count and
    sum over survivors — true bounds make pruning lossless, so the
    tallies equal a full scan's and the oracle replays them in
    closed form."""
    files, meta = _open_table(bundle)
    field_id = _field_id(meta, column)

    def _bound(df: dict, which: str):
        for kv in df.get(which) or []:
            if kv.get("key") == field_id:
                raw = kv.get("value")
                if not isinstance(raw, bytes) or len(raw) != 8:
                    raise ValueError("iceberg: bad bound value")
                return int.from_bytes(raw, "little", signed=True)
        return None

    def keep(df: dict) -> bool:
        lower = _bound(df, "lower_bounds")
        upper = _bound(df, "upper_bounds")
        return lower is None or upper is None \
            or not (upper < lo or lower > hi)

    return _prune_scan(files, meta, column, lo, hi, keep)


def decode_iceberg_metrics_prune(
    df: DataFrame, column: str, lo_mod: int, width: int,
    id_col: str = "doc_id", payload_col: str = "payload",
) -> DataFrame:
    """Arrow ``mapInPandas`` wrapper over
    :func:`parse_iceberg_metrics_prune` with the per-document window
    ``lo = (doc_id % lo_mod) * 100 + 10, hi = lo + width``;
    per-bundle quarantine, no shuffle."""

    def _parse(payload, m: int) -> dict:
        lo = m * 100 + 10
        return parse_iceberg_metrics_prune(
            bytes(payload), column, lo, lo + width)

    return decode_map(df, _parse, _PRUNE_SCHEMA, _SCAN_ERRORS, id_col,
                      payload_col, key_of_id=lambda i: i % lo_mod)


# --------------------------------------------------------------------------
# Time travel (r13) — snapshot resolution via the snapshot log.
#
# The spec's `snapshot-log` is the table's linear history:
# [{timestamp-ms, snapshot-id}] appended per commit.  A
# `TIMESTAMP AS OF t` read resolves the LATEST log entry with
# timestamp-ms <= t and scans THAT snapshot's manifest list — the
# current snapshot must not leak in.

def parse_iceberg_time_travel(bundle: bytes, column: str,
                              as_of_ts: int) -> dict:
    """Walk an Iceberg bundle AS OF ``as_of_ts`` (epoch millis):
    resolve the snapshot through ``snapshot-log``, then scan that
    snapshot's data files through the engine's own parquet reader,
    summing ``column``."""
    files, meta = _open_table(bundle)
    snap = _snapshot(meta, as_of_ts)
    n_files = 0
    records = 0
    value_sum = 0
    for _content, _seq, df in _live(_manifests(files, snap)):
        blob = _file(files, df)
        n_files += 1
        for v in parquet_read_column(blob, column):
            records += 1
            if v is not None:
                value_sum += v
    return {
        "resolved_snapshot": snap.get("snapshot-id"),
        "n_snapshots": len(meta.get("snapshots", [])),
        "n_files": n_files,
        "records": records,
        "value_sum": value_sum,
    }


def decode_iceberg_time_travel(
    df: DataFrame, column: str, ts_base: int, ts_step: int,
    n_points: int,
    id_col: str = "doc_id", payload_col: str = "payload",
) -> DataFrame:
    """Arrow ``mapInPandas`` wrapper over
    :func:`parse_iceberg_time_travel` — per document the as-of
    instant is ``ts_base + ts_step*(doc_id % n_points) +
    ts_step//2``; per-bundle quarantine, no shuffle."""
    schema = StructType([
        StructField("doc_id", LongType()),
        StructField("resolved_snapshot", LongType()),
        StructField("n_snapshots", IntegerType()),
        StructField("n_files", IntegerType()),
        StructField("records", LongType()),
        StructField("value_sum", LongType()),
        StructField("decode_error", StringType()),
    ])

    def _parse(payload, p: int) -> dict:
        return parse_iceberg_time_travel(
            bytes(payload), column, ts_base + ts_step * p + ts_step // 2)

    return decode_map(df, _parse, schema, _PRUNE_ERRORS, id_col,
                      payload_col, key_of_id=lambda i: i % n_points)


# --------------------------------------------------------------------------
# Bucket-transform partition pruning (r13).
#
# Iceberg's `bucket[N]` partition transform (spec §Partition
# Transforms + Appendix B): the partition value is
# `(murmur3_x86_32(serialized v) & Integer.MAX_VALUE) % N`, where
# int/long sources serialize as 8-byte little-endian (ints hash as
# longs so the transform is widening-stable).  A point lookup
# `v = t` plans ONLY the files whose partition tuple carries
# bucket(t) — the hash function is part of the on-disk contract, so
# a reader with the wrong murmur3 plans the wrong file set and finds
# zero matches (the oracle's multiplicity check catches exactly
# that).

def murmur3_32(data: bytes, seed: int = 0) -> int:
    """murmur3_x86_32 (public domain algorithm; Iceberg Appendix B
    requires it with seed 0).  Returns a SIGNED 32-bit int, matching
    Java's int so the `& Integer.MAX_VALUE` idiom reads literally."""
    c1, c2 = 0xCC9E2D51, 0x1B873593
    h = seed & 0xFFFFFFFF
    n = len(data)
    for off in range(0, n - 3, 4):
        k = int.from_bytes(data[off:off + 4], "little")
        k = (k * c1) & 0xFFFFFFFF
        k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
        k = (k * c2) & 0xFFFFFFFF
        h ^= k
        h = ((h << 13) | (h >> 19)) & 0xFFFFFFFF
        h = (h * 5 + 0xE6546B64) & 0xFFFFFFFF
    tail = n & ~3
    k = 0
    rem = n - tail
    if rem >= 3:
        k ^= data[tail + 2] << 16
    if rem >= 2:
        k ^= data[tail + 1] << 8
    if rem >= 1:
        k ^= data[tail]
        k = (k * c1) & 0xFFFFFFFF
        k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
        k = (k * c2) & 0xFFFFFFFF
        h ^= k
    h ^= n
    h ^= h >> 16
    h = (h * 0x85EBCA6B) & 0xFFFFFFFF
    h ^= h >> 13
    h = (h * 0xC2B2AE35) & 0xFFFFFFFF
    h ^= h >> 16
    return h - (1 << 32) if h >= (1 << 31) else h


def iceberg_bucket(value: int, n_buckets: int) -> int:
    """`bucket[N]` of an int/long value per the Iceberg spec:
    murmur3_x86_32 over the 8-byte little-endian two's-complement
    serialization, `& Integer.MAX_VALUE`, `% N`."""
    raw = (value & ((1 << 64) - 1)).to_bytes(8, "little")
    return (murmur3_32(raw) & 0x7FFFFFFF) % n_buckets


def parse_iceberg_bucket_prune(bundle: bytes, column: str,
                               target: int) -> dict:
    """Point-lookup scan planning over a bucket-partitioned Iceberg
    table: read the default partition spec, compute ``bucket(target)``
    with the spec's murmur3, and scan ONLY manifest entries whose
    partition tuple matches — pruned files' bytes are never
    touched."""
    files, meta = _open_table(bundle)
    name, n_buckets = _partition_field(meta, column, "bucket")
    want = iceberg_bucket(target, n_buckets)
    return _prune_scan(files, meta, column, target, target,
                       lambda df: _partition_value(df, name) == want)


def decode_iceberg_bucket_prune(
    df: DataFrame, column: str, target_mul: int, target_mod: int,
    id_col: str = "doc_id", payload_col: str = "payload",
) -> DataFrame:
    """Arrow ``mapInPandas`` wrapper over
    :func:`parse_iceberg_bucket_prune` — per document the lookup
    target is ``2*((doc_id*target_mul) % target_mod)`` (the fixture's
    planted-even domain); per-bundle quarantine, no shuffle."""
    return decode_map(
        df, lambda p, k: parse_iceberg_bucket_prune(bytes(p), column, 2 * k),
        _PRUNE_SCHEMA, _PRUNE_ERRORS, id_col, payload_col,
        key_of_id=lambda i: (i * target_mul) % target_mod)


# --------------------------------------------------------------------------
# Truncate-transform pruning (r13).
#
# `truncate[W]` on an integer source (spec §Partition Transforms):
# the partition value is `v - (((v % W) + W) % W)` (floor to the
# bucket start, correct for negatives).  A range predicate
# `lo <= v <= hi` keeps exactly the files whose partition value `p`
# satisfies `p <= hi AND p + W - 1 >= lo` — contiguous-range
# pruning, the complement of bucket[N]'s point-lookup hashing.

def iceberg_truncate(value: int, width: int) -> int:
    """`truncate[W]` of an int/long value per the Iceberg spec."""
    return value - (((value % width) + width) % width)


def parse_iceberg_truncate_prune(bundle: bytes, column: str,
                                 lo: int, hi: int) -> dict:
    """Range-scan planning over a truncate-partitioned Iceberg
    table: keep only files whose `truncate[W]` partition value can
    intersect [lo, hi], scan survivors through the engine's own
    parquet reader, and tally matches."""
    files, meta = _open_table(bundle)
    name, width = _partition_field(meta, column, "truncate")

    def keep(df: dict) -> bool:
        p = _partition_value(df, name)
        return p <= hi and p + width - 1 >= lo

    return _prune_scan(files, meta, column, lo, hi, keep)


def decode_iceberg_truncate_prune(
    df: DataFrame, column: str, lo_mod: int, span: int,
    id_col: str = "doc_id", payload_col: str = "payload",
) -> DataFrame:
    """Arrow ``mapInPandas`` wrapper over
    :func:`parse_iceberg_truncate_prune` with the per-document
    window ``lo = (doc_id % lo_mod)*100 + 10, hi = lo + span``;
    per-bundle quarantine, no shuffle."""

    def _parse(payload, m: int) -> dict:
        lo = m * 100 + 10
        return parse_iceberg_truncate_prune(
            bytes(payload), column, lo, lo + span)

    return decode_map(df, _parse, _PRUNE_SCHEMA, _PRUNE_ERRORS, id_col,
                      payload_col, key_of_id=lambda i: i % lo_mod)


# --------------------------------------------------------------------------
# Date-transform pruning (r13) — `day[ts]` (spec §Partition
# Transforms): the partition value of a timestamp-micros source is
# its epoch-day ordinal; daily partitioning is the highest-volume
# real-world Iceberg layout, and a time-range scan keeps exactly
# the files whose day window can intersect it.

_MICROS_PER_DAY = 86_400_000_000


def parse_iceberg_day_prune(bundle: bytes, column: str,
                            lo: int, hi: int) -> dict:
    """Range-scan planning over a day-partitioned Iceberg table:
    keep files whose ``day`` partition value can intersect the
    [lo, hi] timestamp-micros window, scan survivors with the
    engine's own parquet reader, tally matches."""
    files, meta = _open_table(bundle)
    name, _ = _partition_field(meta, column, "day")

    def keep(df: dict) -> bool:
        day_lo = _partition_value(df, name) * _MICROS_PER_DAY
        return day_lo <= hi and day_lo + _MICROS_PER_DAY - 1 >= lo

    return _prune_scan(files, meta, column, lo, hi, keep)


def decode_iceberg_day_prune(
    df: DataFrame, column: str, base_day: int, n_days: int,
    id_col: str = "doc_id", payload_col: str = "payload",
) -> DataFrame:
    """Arrow ``mapInPandas`` wrapper over
    :func:`parse_iceberg_day_prune` — per document the window is
    1.5 days starting mid-day ``base_day + doc_id % n_days``;
    per-bundle quarantine, no shuffle."""

    def _parse(payload, d: int) -> dict:
        lo = (base_day + d) * _MICROS_PER_DAY + _MICROS_PER_DAY // 2
        hi = lo + (3 * _MICROS_PER_DAY) // 2 - 1
        return parse_iceberg_day_prune(bytes(payload), column, lo, hi)

    return decode_map(df, _parse, _PRUNE_SCHEMA, _PRUNE_ERRORS, id_col,
                      payload_col, key_of_id=lambda i: i % n_days)
