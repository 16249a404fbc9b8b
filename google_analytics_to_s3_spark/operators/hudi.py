"""Apache Hudi Copy-on-Write snapshot reads — public Hudi table
format (hudi.apache.org "Table & Query Types" + the timeline and
file-layout docs).

Hudi completes the lakehouse trio next to Delta (operators/
lakehouse.py) and Iceberg (operators/iceberg.py).  A CoW table is a
directory of parquet BASE FILES named
``<fileId>_<writeToken>_<instantTime>.parquet`` plus a ``.hoodie``
TIMELINE: one file per instant state transition —
``<ts>.commit.requested`` → an inflight marker → ``<ts>.commit``
(completed, body is HoodieCommitMetadata JSON).  A snapshot read:

1. resolves the set of COMPLETED commit instants from the timeline
   (requested/inflight instants are invisible — their files may
   already sit in the data directory and must be skipped);
2. groups base files by ``fileId`` (the FILE GROUP); each completed
   write of a group produced a new FILE SLICE (a full rewritten
   parquet — that's the "copy" in copy-on-write);
3. reads, per group, ONLY the latest completed slice (max
   ``instantTime``, lexicographic = chronological for Hudi's
   ``yyyyMMddHHmmssSSS`` stamps).

A reader that ignores the timeline tallies poison rows from
inflight writes; one that ignores slice selection double-counts
every rewritten group — the driver oracle distinguishes both.

``replacecommit`` instants (clustering / insert-overwrite) are
modeled (r13): a completed replacecommit writes new file groups
like any commit AND retires the file groups named in its
``partitionToReplaceFileIds`` — their older slices become
invisible.

Both readers (snapshot and incremental) go through ONE walk,
:func:`_timeline`: ``hoodie.properties`` → timeline → completed
instants with their commit metadata, plus the pending instants.  It
holds every gate: a table type other than COPY_ON_WRITE (a
MERGE_ON_READ table's log files would be silently ignored),
``rollback`` / ``clean`` instants, unparseable commit metadata and a
timeline with no completed commit are named errors.

Scale: one bundle is one table (or one partition's) listing — the
walk is a single Arrow map task, O(files) planning state, payload
bytes never cross a task boundary; the same shape as the Delta and
Iceberg scan planners.
"""

from __future__ import annotations

import json
import re

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from .parquet_raw import parquet_read_column
from .payload_memo import decode_map
from .tar import parse_tar

__all__ = ["parse_hudi_snapshot", "decode_hudi_snapshot",
           "parse_hudi_incremental", "decode_hudi_incremental"]

_INSTANT_RE = re.compile(r"^\.hoodie/(\d+)\.(\w+)(?:\.(\w+))?$")
_BASE_RE = re.compile(r"^(?P<fid>[^_/]+)_(?P<tok>[^_/]+)_"
                      r"(?P<ts>\d+)\.parquet$")
_GATED_ACTIONS = {"rollback", "clean"}


def _timeline(bundle: bytes
              ) -> tuple[dict, dict[str, tuple[str, dict]], set[str]]:
    """The one walk of a Hudi bundle: its members by name, its
    COMPLETED instants (instant time → action and parsed commit
    metadata) and its PENDING instant times.  Gates: the
    ``hoodie.properties`` table type must be COPY_ON_WRITE, and
    ``rollback``/``clean`` instants are refused."""
    files = {m["name"]: m["data"] for m in parse_tar(bundle)}
    props_raw = files.get(".hoodie/hoodie.properties")
    if props_raw is None:
        raise ValueError("hudi: bundle missing hoodie.properties")
    props = {}
    for line in props_raw.decode("utf-8", "replace").splitlines():
        line = line.strip()
        if line and not line.startswith("#") and "=" in line:
            k, _, v = line.partition("=")
            props[k.strip()] = v.strip()
    ttype = props.get("hoodie.table.type", "COPY_ON_WRITE")
    if ttype != "COPY_ON_WRITE":
        # a MERGE_ON_READ table's log files would be silently ignored
        raise ValueError(f"hudi: table type {ttype!r} gated")
    completed: dict[str, tuple[str, dict]] = {}
    pending: set[str] = set()
    for name, data in files.items():
        m = _INSTANT_RE.match(name)
        if not m:
            continue
        ts, action, state = m.groups()
        if action in _GATED_ACTIONS:
            raise ValueError(f"hudi: timeline action {action!r} gated")
        if action in ("commit", "replacecommit") and state is None:
            try:
                completed[ts] = (action, json.loads(data or b"{}"))
            except ValueError as e:
                raise ValueError(
                    f"hudi: bad {action} metadata ({e})") from None
        elif action in ("commit", "replacecommit", "inflight"):
            # <ts>.<action>.requested / .inflight / the legacy bare
            # <ts>.inflight marker
            pending.add(ts)
    if not completed:
        raise ValueError("hudi: no completed commits")
    # completed wins over its own earlier requested/inflight markers
    return files, completed, pending - completed.keys()


def _scan(files: dict, paths, column: str) -> tuple[int, int]:
    """(records, non-null sum of ``column``) over the named parquet
    files, read through the engine's own reader."""
    records = value_sum = 0
    for path in paths:
        blob = files.get(path)
        if blob is None:
            raise ValueError(f"hudi: data file {path!r} missing")
        for v in parquet_read_column(blob, column):
            records += 1
            if v is not None:
                value_sum += v
    return records, value_sum


def parse_hudi_snapshot(bundle: bytes, column: str) -> dict:
    """Snapshot-read a Hudi CoW table bundle: timeline fold →
    latest completed file slice per file group → parquet scan of the
    survivors through the engine's own reader, summing ``column``."""
    files, completed, pending = _timeline(bundle)
    # clustering / insert-overwrite: a replacecommit's new files
    # participate, the file groups it replaces retire
    replaced: dict[str, str] = {}   # fileId -> replace instant
    for ts, (action, md) in completed.items():
        if action != "replacecommit":
            continue
        for _part, fids in (md.get("partitionToReplaceFileIds")
                            or {}).items():
            for fid in fids:
                if fid not in replaced or replaced[fid] < ts:
                    replaced[fid] = ts
    latest: dict[str, tuple[str, str]] = {}
    n_base_files = 0
    n_skipped_pending = 0
    for name in files:
        if name.startswith(".hoodie/"):
            continue
        base = name.rsplit("/", 1)[-1]
        m = _BASE_RE.match(base)
        if not m:
            continue
        n_base_files += 1
        ts = m.group("ts")
        if ts not in completed:
            if ts not in pending:
                raise ValueError(
                    f"hudi: base file instant {ts} not on timeline")
            n_skipped_pending += 1
            continue
        fid = m.group("fid")
        cur = latest.get(fid)
        if cur is None or ts > cur[0]:
            latest[fid] = (ts, name)
    # retire replaced file groups (their newest slice must not
    # postdate the replacement)
    n_replaced_groups = 0
    for fid, rts in replaced.items():
        cur = latest.get(fid)
        if cur is not None and cur[0] <= rts:
            del latest[fid]
            n_replaced_groups += 1
    records, value_sum = _scan(
        files, (name for _ts, name in latest.values()), column)
    return {
        "n_commits": len(completed),
        "n_pending": len(pending),
        "n_base_files": n_base_files,
        "n_file_groups": len(latest),
        "n_skipped_pending": n_skipped_pending,
        "n_replaced_groups": n_replaced_groups,
        "records": records,
        "value_sum": value_sum,
    }


_HUDI_ERRORS = (ValueError, IndexError, KeyError, TypeError)


def decode_hudi_snapshot(
    df: DataFrame, column: str,
    id_col: str = "doc_id", payload_col: str = "payload",
) -> DataFrame:
    """Arrow ``mapInPandas`` wrapper over
    :func:`parse_hudi_snapshot`; per-bundle quarantine, no
    shuffle."""
    schema = StructType([
        StructField("doc_id", LongType()),
        StructField("n_commits", IntegerType()),
        StructField("n_pending", IntegerType()),
        StructField("n_base_files", IntegerType()),
        StructField("n_file_groups", IntegerType()),
        StructField("n_skipped_pending", IntegerType()),
        StructField("n_replaced_groups", IntegerType()),
        StructField("records", LongType()),
        StructField("value_sum", LongType()),
        StructField("decode_error", StringType()),
    ])
    return decode_map(df, lambda p: parse_hudi_snapshot(bytes(p), column),
                      schema, _HUDI_ERRORS, id_col, payload_col)


# --------------------------------------------------------------------------
# Incremental queries (r13) — Hudi's signature consumption pattern:
# a downstream job reads ONLY the records written by commits in
# (begin, end], using each completed commit's HoodieCommitMetadata
# (the `.commit` file body) to enumerate exactly the base files that
# commit produced.  File slices still apply: if a later in-window
# commit rewrote a group, the window's net effect for that group is
# its LATEST in-window slice.

def parse_hudi_incremental(bundle: bytes, column: str,
                           begin_ts: str, end_ts: str) -> dict:
    """Incremental read of a Hudi CoW bundle: commits with
    ``begin_ts < instant <= end_ts`` contribute their written file
    slices (latest per file group within the window); scanned
    through the engine's own parquet reader."""
    files, completed, _pending = _timeline(bundle)
    window = {ts: md for ts, (_action, md) in completed.items()
              if begin_ts < ts <= end_ts}
    latest: dict[str, tuple[str, str]] = {}
    n_window_files = 0
    for ts, md in window.items():
        for st in md.get("partitionToWriteStats") or []:
            path = st.get("path")
            if path is None:
                raise ValueError("hudi: write stat without path")
            base = path.rsplit("/", 1)[-1]
            fm = _BASE_RE.match(base)
            if not fm or fm.group("ts") != ts:
                raise ValueError("hudi: write stat path does not "
                                 "match its instant")
            n_window_files += 1
            fid = fm.group("fid")
            cur = latest.get(fid)
            if cur is None or ts > cur[0]:
                latest[fid] = (ts, path)
    records, value_sum = _scan(
        files, (path for _ts, path in latest.values()), column)
    return {
        "n_commits_total": len(completed),
        "n_commits_window": len(window),
        "n_window_files": n_window_files,
        "n_groups_touched": len(latest),
        "records": records,
        "value_sum": value_sum,
    }


def decode_hudi_incremental(
    df: DataFrame, column: str, ts0: int, n_points: int,
    id_col: str = "doc_id", payload_col: str = "payload",
) -> DataFrame:
    """Arrow ``mapInPandas`` wrapper over
    :func:`parse_hudi_incremental` — per document the window is
    ``(ts0 + w - 1, ts0 + w + 1]`` with ``w = doc_id % n_points``
    (instant stamps are ``ts0 + c``); per-bundle quarantine, no
    shuffle."""
    schema = StructType([
        StructField("doc_id", LongType()),
        StructField("n_commits_total", IntegerType()),
        StructField("n_commits_window", IntegerType()),
        StructField("n_window_files", IntegerType()),
        StructField("n_groups_touched", IntegerType()),
        StructField("records", LongType()),
        StructField("value_sum", LongType()),
        StructField("decode_error", StringType()),
    ])

    def _parse(payload, w: int) -> dict:
        return parse_hudi_incremental(
            bytes(payload), column, str(ts0 + w - 1), str(ts0 + w + 1))

    return decode_map(df, _parse, schema, _HUDI_ERRORS, id_col,
                      payload_col, key_of_id=lambda i: i % n_points)
