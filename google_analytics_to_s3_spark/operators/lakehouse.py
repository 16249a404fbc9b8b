"""Delta Lake transaction-log reads — public Delta Lake
transaction-log protocol (delta.io PROTOCOL.md): a table's live file
set is the fold of its JSON action log.

Two shapes live here.

``delta_log_snapshot`` is a fully DECLARATIVE operator over a log
already spread one action line per row: ``from_json`` parses the
action lines JVM-side, and the last-writer-wins reconciliation is a
``max_by`` hash aggregation — no Python in the hot path, so
Catalyst/AQE own the physical plan.  A path's liveness is decided by
its LATEST action in ``(version, line_no)`` order (re-adding a
removed path resurrects it, removing an added one kills it, exactly
the protocol's replay rule); ``metaData``/``protocol``/``commitInfo``
carry no file-liveness information and drop out.  Output: per-table
live-file count, live byte total, latest version, and action count.
Catalyst runs a map-side partial pass, so the exchange carries at
most one row per (table, path) per scan partition: O(file inventory)
shuffle, not O(actions).  At the 50M-action probe (PERF.md r11) the
wall-clock gain over the row_number window is modest (140.2 s vs
155.3 s — the JSON parse dominates there), but the window variant
must shuffle EVERY action, which is the term that blows up at 100 TB
of log.

The ``parse_delta_*`` readers take one table's ``_delta_log`` (and
data files) as a tar bundle, and all go through ONE walk, so every
reader gets every gate:

- :func:`_open_log` — the bundle's members by name;
- :func:`_last_checkpoint` — the checkpoint readers' ``_last_checkpoint``
  JSON and its version;
- :func:`_commits` — the ``_delta_log/<v>.json`` commits (digit stems
  only), contiguous from version 0, or from ``v+1`` after a
  checkpoint at ``v``; a gap is named ("commit gap");
- :func:`_fold` — the add/remove/metaData/protocol replay (optionally
  only through a version), ending in the protocol gate of "Reader
  Requirements": ``minReaderVersion`` 1-3 only, and at 3 only the
  ``readerFeatures`` implemented here.  Reading on past a protocol
  this reader does not implement is silent corruption.
"""

from __future__ import annotations

import json
import re
from collections.abc import Iterator
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from .parquet_raw import (
    parquet_file_meta,
    parquet_read_column,
    parquet_read_nested,
)
from .payload_memo import decode_map
from .tar import parse_tar

__all__ = ["delta_log_snapshot", "parse_delta_checkpoint",
           "decode_delta_checkpoint", "parse_delta_scan_dv",
           "decode_delta_scan_dv", "parse_delta_column_mapping",
           "decode_delta_column_mapping",
           "parse_delta_partition_prune",
           "decode_delta_partition_prune",
           "parse_delta_time_travel", "decode_delta_time_travel",
           "parse_delta_checkpoint_v2", "decode_delta_checkpoint_v2"]

_DELTA_ERRORS = (ValueError, IndexError, KeyError, TypeError)

_ACTION_SCHEMA = ("add struct<path:string,size:bigint,"
                  "dataChange:boolean>, "
                  "remove struct<path:string,deletionTimestamp:bigint>")


def delta_log_snapshot(
    log: DataFrame,
    table_col: str = "table_id",
    version_col: str = "version",
    line_col: str = "line",
    line_no_col: str | None = None,
) -> DataFrame:
    """Fold a Delta-style JSON action log into per-table snapshot
    stats.  ``log`` carries one action line per row; ``line_no_col``
    (optional) breaks ties within a version, matching in-commit
    action order."""
    tie = F.col(line_no_col) if line_no_col else F.lit(0)
    parsed = (
        log
        .withColumn("_a", F.from_json(F.col(line_col), _ACTION_SCHEMA))
        .withColumn("_path", F.coalesce(F.col("_a.add.path"),
                                        F.col("_a.remove.path")))
        .withColumn("_tie", tie)
    )
    actions = parsed.filter(F.col("_path").isNotNull())
    # latest-action-wins via max_by, NOT a window: hash aggregation
    # gets a map-side partial pass, so the exchange carries one row
    # per (table, path) per input partition — O(inventory), not
    # O(actions).  A row_number window would shuffle the whole log.
    latest = actions.groupBy(table_col, "_path").agg(
        F.max_by(
            F.struct(
                F.col("_a.add.path").isNotNull().alias("live"),
                F.col("_a.add.size").alias("size"),
            ),
            F.struct(F.col(version_col).alias("v"),
                     F.col("_tie").alias("t")),
        ).alias("_last")
    )
    per_table = latest.groupBy(table_col).agg(
        F.sum(F.when(F.col("_last.live"), 1).otherwise(0))
         .cast("long").alias("n_live_files"),
        F.sum(F.when(F.col("_last.live"), F.col("_last.size"))
               .otherwise(0))
         .cast("long").alias("live_bytes"),
    )
    totals = actions.groupBy(table_col).agg(
        F.max(version_col).cast("long").alias("last_version"),
        F.count(F.lit(1)).alias("n_actions"),
    )
    return per_table.join(totals, table_col)


# --------------------------------------------------------------------------
# The walk: bundle → [_last_checkpoint] → commits → fold + protocol gate.

_LOG = "_delta_log/"
_CKPT_NAME = _LOG + "_last_checkpoint"

# PROTOCOL.md "Reader Requirements": supported are minReaderVersion 1
# (basic), 2 (column mapping), and 3 with readerFeatures within this
# set.
_SUPPORTED_READER_FEATURES = {"columnMapping", "deletionVectors"}


@dataclass
class _Table:
    """A folded log: path → its latest add action (None once
    removed), the last ``metaData`` and ``protocol`` actions, and the
    number of add/remove actions replayed from JSON."""

    files: dict[str, dict | None] = field(default_factory=dict)
    metadata: dict | None = None
    protocol: dict | None = None
    n_file_actions: int = 0

    def live(self) -> dict[str, dict]:
        return {p: a for p, a in self.files.items() if a is not None}


def _open_log(bundle: bytes) -> dict:
    """The bundle's members by name."""
    return {m["name"]: m["data"] for m in parse_tar(bundle)}


def _last_checkpoint(files: dict) -> tuple[dict, int]:
    """``_last_checkpoint``'s JSON and the checkpoint version."""
    lc_raw = files.get(_CKPT_NAME)
    if lc_raw is None:
        raise ValueError("delta: bundle missing _last_checkpoint")
    try:
        lc = json.loads(lc_raw)
    except json.JSONDecodeError as e:
        raise ValueError(f"delta: bad _last_checkpoint ({e})") from None
    v = lc.get("version")
    if not isinstance(v, int) or v < 0:
        raise ValueError("delta: bad checkpoint version")
    return lc, v


def _commits(files: dict, after: int = -1) -> list[tuple[int, bytes]]:
    """The ``_delta_log/<v>.json`` commits with ``v > after`` in
    version order; they must run from ``after + 1`` without a gap.
    Without a checkpoint (``after`` -1) there is at least one."""
    commits = []
    for name, data in files.items():
        if not (name.startswith(_LOG) and name.endswith(".json")):
            continue
        stem = name[len(_LOG):-len(".json")]
        if stem.isdigit() and int(stem) > after:
            commits.append((int(stem), data))
    commits.sort()
    for i, (v, _data) in enumerate(commits):
        if v != after + 1 + i:
            raise ValueError(f"delta: commit gap before version {v}")
    if after < 0 and not commits:
        raise ValueError("delta: bundle has no commits")
    return commits


def _actions(commit: bytes) -> Iterator[dict]:
    """One commit file's actions, one JSON object per line."""
    for line in commit.splitlines():
        if not line.strip():
            continue
        try:
            yield json.loads(line)
        except json.JSONDecodeError as e:
            raise ValueError(f"delta: bad commit line ({e})") from None


def _fold(commits: list[tuple[int, bytes]], table: _Table | None = None,
          upto: int | None = None) -> _Table:
    """Replay the commits' actions (through version ``upto``) over
    ``table``, then refuse a protocol this reader does not
    implement."""
    if table is None:
        table = _Table()
    for v, data in commits:
        if upto is not None and v > upto:
            break
        for a in _actions(data):
            if a.get("add"):
                table.files[a["add"]["path"]] = a["add"]
                table.n_file_actions += 1
            elif a.get("remove"):
                table.files[a["remove"]["path"]] = None
                table.n_file_actions += 1
            elif a.get("metaData"):
                table.metadata = a["metaData"]
            elif a.get("protocol"):
                table.protocol = a["protocol"]
    if table.protocol is not None:
        mrv = table.protocol.get("minReaderVersion") or 1
        if mrv not in (1, 2, 3):
            raise ValueError(
                f"delta: minReaderVersion {mrv} unsupported")
        if mrv == 3:
            feats = set(table.protocol.get("readerFeatures") or [])
            extra = feats - _SUPPORTED_READER_FEATURES
            if extra:
                raise ValueError(
                    "delta: unsupported readerFeatures "
                    f"{sorted(extra)}")
    return table


def _fold_checkpoint(blob: bytes, table: _Table) -> tuple[int, int]:
    """Load a checkpoint parquet's add/remove rows into ``table``
    (engine's own nested reader); returns (rows, add/remove rows)."""
    adds = parquet_read_nested(blob, "add")
    removes = parquet_read_nested(blob, "remove")
    n_file_rows = 0
    for add_s, rem_s in zip(adds, removes):
        if add_s is not None and add_s.get("path") is not None:
            table.files[add_s["path"]] = add_s
            n_file_rows += 1
        elif rem_s is not None and rem_s.get("path") is not None:
            table.files[rem_s["path"]] = None
            n_file_rows += 1
    return len(adds), n_file_rows


def _file(files: dict, path: str) -> bytes:
    blob = files.get(path)
    if blob is None:
        raise ValueError(f"delta: data file {path!r} missing")
    return blob


def _live_bytes(live: dict[str, dict]) -> int:
    return sum(a.get("size") or 0 for a in live.values())


# --------------------------------------------------------------------------
# Checkpoint bootstrap (r12) — the real reader path for large logs.
#
# A reader of a big Delta table never folds the whole JSON log: it
# reads `_last_checkpoint`, loads `<v>.checkpoint.parquet` (the folded
# state at version v), and replays only the JSON commits AFTER v
# (delta.io PROTOCOL.md "Checkpoints").  The checkpoint parquet's
# add/remove columns are NESTED structs — read here through the
# engine's OWN raw-parquet Dremel assembler (operators/parquet_raw.
# parquet_read_nested), composing two from-scratch byte paths.
#
# Scale: one bundle is one table's *_delta_log* — planning state is
# O(live files), done in a single Arrow map task per table, no
# shuffle.  The declarative `delta_log_snapshot` above remains the
# full-log-fold path; this is the bootstrap a real reader uses so the
# fold length is O(commits since last checkpoint), not O(history).

def parse_delta_checkpoint(bundle: bytes) -> dict:
    """Bootstrap a Delta snapshot from a tar bundle of its
    ``_delta_log``: ``_last_checkpoint`` JSON → checkpoint parquet
    (single-file OR the protocol's multi-part
    ``<v>.checkpoint.<i>.<parts>.parquet`` layout, engine's own
    nested reader) → fold the JSON commits after the checkpoint
    version with last-writer-wins replay."""
    files = _open_log(bundle)
    lc, v = _last_checkpoint(files)
    parts = lc.get("parts")
    if parts is None:
        ckpt_keys = [f"{_LOG}{v:020d}.checkpoint.parquet"]
    else:
        # multi-part checkpoint: <v>.checkpoint.<i>.<parts>.parquet,
        # 1-based part index (the protocol's large-table layout)
        if not isinstance(parts, int) or parts <= 0:
            raise ValueError("delta: bad checkpoint parts")
        ckpt_keys = [
            f"{_LOG}{v:020d}.checkpoint.{i:010d}.{parts:010d}.parquet"
            for i in range(1, parts + 1)]
    table = _Table()
    n_ckpt_rows = 0
    for ckpt_key in ckpt_keys:
        ckpt = files.get(ckpt_key)
        if ckpt is None:
            raise ValueError(f"delta: checkpoint {ckpt_key!r} missing")
        n_ckpt_rows += _fold_checkpoint(ckpt, table)[0]
    if lc.get("size") not in (None, n_ckpt_rows):
        raise ValueError("delta: _last_checkpoint size mismatch")
    commits = _commits(files, after=v)
    live = _fold(commits, table).live()
    return {
        "checkpoint_version": v,
        "last_version": commits[-1][0] if commits else v,
        "n_ckpt_rows": n_ckpt_rows,
        "n_json_actions": table.n_file_actions,
        "n_live_files": len(live),
        "live_bytes": _live_bytes(live),
    }


def decode_delta_checkpoint(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload",
) -> DataFrame:
    """Arrow ``mapInPandas`` wrapper over
    :func:`parse_delta_checkpoint`; per-bundle quarantine, no
    shuffle."""
    schema = StructType([
        StructField("doc_id", LongType()),
        StructField("checkpoint_version", LongType()),
        StructField("last_version", LongType()),
        StructField("n_ckpt_rows", LongType()),
        StructField("n_json_actions", LongType()),
        StructField("n_live_files", LongType()),
        StructField("live_bytes", LongType()),
        StructField("decode_error", StringType()),
    ])
    return decode_map(df, lambda p: parse_delta_checkpoint(bytes(p)),
                      schema, _DELTA_ERRORS, id_col, payload_col)


def parse_delta_scan_dv(bundle: bytes, column: str) -> dict:
    """Scan a Delta table WITH DELETION VECTORS (PROTOCOL.md): fold
    the JSON log, and for every live add action carrying a
    ``deletionVector`` descriptor decode the inline Z85 →
    RoaringBitmapArray positions (operators/roaring.py) and drop
    those rows from the REAL parquet file before aggregating — the
    read path of a modern (Databricks-writer) Delta table."""
    from .roaring import parse_deletion_vector

    files = _open_log(bundle)
    n_files = n_dv = n_deleted = records_after = value_sum = 0
    for path, add in _fold(_commits(files)).live().items():
        blob = _file(files, path)
        n_files += 1
        fm = parquet_file_meta(blob)
        dead: set[int] = set()
        dv = add.get("deletionVector")
        if dv:
            n_dv += 1
            dead = parse_deletion_vector(
                dv.get("storageType"), dv.get("pathOrInlineDv"),
                dv.get("sizeInBytes"), dv.get("cardinality"))
            if dead and max(dead) >= fm["num_rows"]:
                raise ValueError("delta: deletion vector position "
                                 "beyond file rows")
        for i, v in enumerate(parquet_read_column(blob, column)):
            if i in dead:
                n_deleted += 1
                continue
            records_after += 1
            if v is not None:
                value_sum += v
    return {
        "n_files": n_files,
        "n_dv": n_dv,
        "n_deleted": n_deleted,
        "records_after": records_after,
        "value_sum": value_sum,
    }


def decode_delta_scan_dv(
    df: DataFrame, column: str,
    id_col: str = "doc_id", payload_col: str = "payload",
) -> DataFrame:
    """Arrow ``mapInPandas`` wrapper over :func:`parse_delta_scan_dv`;
    per-bundle quarantine, no shuffle."""
    schema = StructType([
        StructField("doc_id", LongType()),
        StructField("n_files", IntegerType()),
        StructField("n_dv", IntegerType()),
        StructField("n_deleted", LongType()),
        StructField("records_after", LongType()),
        StructField("value_sum", LongType()),
        StructField("decode_error", StringType()),
    ])
    return decode_map(df, lambda p: parse_delta_scan_dv(bytes(p), column),
                      schema, _DELTA_ERRORS, id_col, payload_col)


# --------------------------------------------------------------------------
# Column mapping (r13).
#
# Modern Databricks-written tables default to
# `delta.columnMapping.mode = name`: parquet data files store columns
# under stable PHYSICAL names (`col-<uuid>`), and the table schema
# (metaData.schemaString) carries each field's
# `delta.columnMapping.physicalName` / `delta.columnMapping.id`
# metadata.  A reader that looks up logical names directly reads
# nothing — or worse, a stale column after a rename.  `id` mode
# resolves through the parquet schema's field_id instead.

def parse_delta_column_mapping(bundle: bytes, column: str) -> dict:
    """Scan a Delta table under ``delta.columnMapping.mode`` name/id:
    fold the JSON log (metaData + protocol + add/remove, gated on an
    unsupported protocol), resolve the logical ``column`` to its
    physical parquet column (by physicalName metadata in name mode,
    by parquet field_id in id mode), and aggregate the live files."""
    files = _open_log(bundle)
    table = _fold(_commits(files))
    meta = table.metadata
    if meta is None:
        raise ValueError("delta: no metaData action in log")
    conf = meta.get("configuration") or {}
    mode = conf.get("delta.columnMapping.mode", "none")
    try:
        schema_fields = json.loads(
            meta.get("schemaString") or "{}").get("fields") or []
    except json.JSONDecodeError as e:
        raise ValueError(f"delta: bad schemaString ({e})") from None
    fld = next((f for f in schema_fields if f.get("name") == column),
               None)
    if fld is None:
        raise ValueError(f"delta: no column {column!r} in schema")
    fmeta = fld.get("metadata") or {}
    if mode == "none":
        physical = column
        field_id = None
    elif mode == "name":
        physical = fmeta.get("delta.columnMapping.physicalName")
        if not physical:
            raise ValueError(
                "delta: columnMapping=name but field has no "
                "physicalName")
        field_id = None
    elif mode == "id":
        field_id = fmeta.get("delta.columnMapping.id")
        if not isinstance(field_id, int):
            raise ValueError(
                "delta: columnMapping=id but field has no id")
        physical = None
    else:
        raise ValueError(f"delta: columnMapping mode {mode!r} gated")
    n_files = records = 0
    value_sum = 0
    for path in table.live():
        blob = _file(files, path)
        n_files += 1
        phys = physical
        if phys is None:  # id mode: match parquet field_id
            matches = [s["name"] for s in parquet_file_meta(blob)["schema"]
                       if not s["num_children"]
                       and s.get("field_id") == field_id]
            if len(matches) != 1:
                raise ValueError(
                    f"delta: field id {field_id} matches "
                    f"{len(matches)} parquet columns")
            phys = matches[0]
        for v in parquet_read_column(blob, phys):
            records += 1
            if v is not None:
                value_sum += v
    return {
        "mapping_mode": mode,
        "min_reader_version": (table.protocol or {}).get(
            "minReaderVersion", 1),
        "n_files": n_files,
        "records": records,
        "value_sum": value_sum,
    }


def decode_delta_column_mapping(
    df: DataFrame, column: str,
    id_col: str = "doc_id", payload_col: str = "payload",
) -> DataFrame:
    """Arrow ``mapInPandas`` wrapper over
    :func:`parse_delta_column_mapping`; per-bundle quarantine, no
    shuffle."""
    schema = StructType([
        StructField("doc_id", LongType()),
        StructField("mapping_mode", StringType()),
        StructField("min_reader_version", IntegerType()),
        StructField("n_files", IntegerType()),
        StructField("records", LongType()),
        StructField("value_sum", LongType()),
        StructField("decode_error", StringType()),
    ])
    return decode_map(
        df, lambda p: parse_delta_column_mapping(bytes(p), column),
        schema, _DELTA_ERRORS, id_col, payload_col)


def parse_delta_partition_prune(bundle: bytes, column: str,
                                part_col: str, lo: int,
                                hi: int) -> dict:
    """Partition pruning over a Delta log: fold add/remove actions,
    keep only live files whose ``partitionValues[part_col]`` (stored
    as a STRING in the log, per PROTOCOL.md) falls in [lo, hi], and
    scan ONLY those parquet files — partition columns are not stored
    in the data files, so the log is the only place this predicate
    can be evaluated, and a reader that scans everything reads
    files_total > files_read bytes for nothing."""
    files = _open_log(bundle)
    live = _fold(_commits(files)).live()
    files_read = records = 0
    value_sum = 0
    for path, add in live.items():
        pv = (add.get("partitionValues") or {}).get(part_col)
        if pv is None:
            raise ValueError(
                f"delta: add without partition value {part_col!r}")
        if not lo <= int(pv) <= hi:
            continue  # pruned: the file's bytes are never touched
        files_read += 1
        for v in parquet_read_column(_file(files, path), column):
            records += 1
            if v is not None:
                value_sum += v
    return {
        "files_total": len(live),
        "files_read": files_read,
        "records": records,
        "value_sum": value_sum,
    }


def decode_delta_partition_prune(
    df: DataFrame, column: str, part_col: str, lo_mod: int,
    id_col: str = "doc_id", payload_col: str = "payload",
) -> DataFrame:
    """Arrow ``mapInPandas`` wrapper over
    :func:`parse_delta_partition_prune` with the per-document window
    ``lo = doc_id % lo_mod, hi = lo + 3``; per-bundle quarantine, no
    shuffle."""
    schema = StructType([
        StructField("doc_id", LongType()),
        StructField("files_total", IntegerType()),
        StructField("files_read", IntegerType()),
        StructField("records", LongType()),
        StructField("value_sum", LongType()),
        StructField("decode_error", StringType()),
    ])

    def _parse(payload, lo: int) -> dict:
        return parse_delta_partition_prune(
            bytes(payload), column, part_col, lo, lo + 3)

    return decode_map(df, _parse, schema, _DELTA_ERRORS, id_col,
                      payload_col, key_of_id=lambda i: i % lo_mod)


# --------------------------------------------------------------------------
# Time travel (r13) — version resolution by commit timestamp.
#
# Delta's `VERSION AS OF` / `TIMESTAMP AS OF` (PROTOCOL.md + the
# delta.io time-travel docs): a timestamp query resolves to the
# LATEST commit whose commitInfo timestamp is <= the requested
# instant, then reads the snapshot folded at that version — later
# commits must not leak into the scan.  A reader that folds the whole
# log (ignoring the as-of bound) returns today's table, which the
# oracle distinguishes whenever any file was added or removed after
# the resolved version.

def parse_delta_time_travel(bundle: bytes, column: str,
                            as_of_ts: int) -> dict:
    """Fold a Delta log bundle AS OF ``as_of_ts`` (epoch millis):
    resolve the version via commitInfo timestamps, replay add/remove
    actions up to it, and scan the live files' parquet bytes through
    the engine's own reader, summing ``column``."""
    files = _open_log(bundle)
    commits = _commits(files)
    # resolve: latest version whose commitInfo.timestamp <= as_of_ts
    resolved = None
    for v, data in commits:
        ts = next((a["commitInfo"].get("timestamp")
                   for a in _actions(data)
                   if a.get("commitInfo") is not None), None)
        if not isinstance(ts, int):
            raise ValueError(f"delta: commit {v} lacks commitInfo "
                             "timestamp")
        if ts <= as_of_ts:
            resolved = v
    if resolved is None:
        raise ValueError("delta: timestamp precedes first commit")
    live = _fold(commits, upto=resolved).live()
    records = 0
    value_sum = 0
    for path in live:
        for v in parquet_read_column(_file(files, path), column):
            records += 1
            if v is not None:
                value_sum += v
    return {
        "resolved_version": resolved,
        "last_version": commits[-1][0],
        "n_live_files": len(live),
        "live_bytes": _live_bytes(live),
        "records": records,
        "value_sum": value_sum,
    }


def decode_delta_time_travel(
    df: DataFrame, column: str, ts_base: int, ts_step: int,
    n_versions: int,
    id_col: str = "doc_id", payload_col: str = "payload",
) -> DataFrame:
    """Arrow ``mapInPandas`` wrapper over
    :func:`parse_delta_time_travel` — each document's as-of instant
    is ``ts_base + ts_step*(doc_id % n_versions) + ts_step//2``
    (mid-commit, so resolution must round DOWN); per-bundle
    quarantine, no shuffle."""
    schema = StructType([
        StructField("doc_id", LongType()),
        StructField("resolved_version", IntegerType()),
        StructField("last_version", IntegerType()),
        StructField("n_live_files", IntegerType()),
        StructField("live_bytes", LongType()),
        StructField("records", LongType()),
        StructField("value_sum", LongType()),
        StructField("decode_error", StringType()),
    ])

    def _parse(payload, v: int) -> dict:
        return parse_delta_time_travel(
            bytes(payload), column, ts_base + ts_step * v + ts_step // 2)

    return decode_map(df, _parse, schema, _DELTA_ERRORS, id_col,
                      payload_col, key_of_id=lambda i: i % n_versions)


# --------------------------------------------------------------------------
# V2 checkpoints (r13) — the sidecar layout (PROTOCOL.md "V2
# Checkpoints").
#
# Large tables split checkpoint state out of the top-level file: a
# UUID-named `<v>.checkpoint.<u>.parquet` carries a
# `checkpointMetadata` action (whose `version` MUST equal the
# resolved checkpoint version) plus `sidecar` action rows pointing
# into `_delta_log/_sidecars/`; the sidecar parquets hold the actual
# add/remove state.  The fold is: sidecar state (+ any top-level
# add/remove rows) → replay JSON commits AFTER the checkpoint
# version.  All parquet bytes go through the engine's OWN nested
# reader (operators/parquet_raw.parquet_read_nested).

def parse_delta_checkpoint_v2(bundle: bytes) -> dict:
    """Bootstrap a Delta snapshot from a V2 (sidecar) checkpoint
    bundle."""
    files = _open_log(bundle)
    _lc, v = _last_checkpoint(files)
    pat = re.compile(rf"^{_LOG}{v:020d}\.checkpoint\."
                     r"[A-Za-z0-9-]+\.parquet$")
    tops = sorted(name for name in files if pat.match(name))
    if not tops:
        raise ValueError("delta: v2 checkpoint file missing")
    if len(tops) > 1:
        raise ValueError("delta: ambiguous v2 checkpoint files")
    top = files[tops[0]]
    cms = [c for c in parquet_read_nested(top, "checkpointMetadata")
           if c is not None]
    if len(cms) != 1:
        raise ValueError("delta: checkpointMetadata row count != 1")
    if cms[0].get("version") != v:
        raise ValueError("delta: checkpointMetadata version mismatch")
    sidecars = [s for s in parquet_read_nested(top, "sidecar")
                if s is not None and s.get("path") is not None]
    table = _Table()
    n_state_rows = 0
    for sc in sidecars:
        blob = files.get(f"{_LOG}_sidecars/{sc['path']}")
        if blob is None:
            raise ValueError(f"delta: sidecar {sc['path']!r} missing")
        if sc.get("sizeInBytes") not in (None, len(blob)):
            raise ValueError("delta: sidecar sizeInBytes mismatch")
        n_state_rows += _fold_checkpoint(blob, table)[1]
    # top-level add/remove rows participate too
    n_state_rows += _fold_checkpoint(top, table)[1]
    commits = _commits(files, after=v)
    live = _fold(commits, table).live()
    return {
        "checkpoint_version": v,
        "last_version": commits[-1][0] if commits else v,
        "n_sidecars": len(sidecars),
        "n_state_rows": n_state_rows,
        "n_json_actions": table.n_file_actions,
        "n_live_files": len(live),
        "live_bytes": _live_bytes(live),
    }


def decode_delta_checkpoint_v2(
    df: DataFrame,
    id_col: str = "doc_id", payload_col: str = "payload",
) -> DataFrame:
    """Arrow ``mapInPandas`` wrapper over
    :func:`parse_delta_checkpoint_v2`; per-bundle quarantine, no
    shuffle."""
    schema = StructType([
        StructField("doc_id", LongType()),
        StructField("checkpoint_version", IntegerType()),
        StructField("last_version", IntegerType()),
        StructField("n_sidecars", IntegerType()),
        StructField("n_state_rows", IntegerType()),
        StructField("n_json_actions", IntegerType()),
        StructField("n_live_files", IntegerType()),
        StructField("live_bytes", LongType()),
        StructField("decode_error", StringType()),
    ])
    return decode_map(df, lambda p: parse_delta_checkpoint_v2(bytes(p)),
                      schema, _DELTA_ERRORS, id_col, payload_col)
