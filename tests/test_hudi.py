"""Hudi CoW snapshot reader (operators/hudi.py)."""

from __future__ import annotations

import pytest

from google_analytics_to_s3_spark.operators.hudi import (
    parse_hudi_snapshot,
)
from google_analytics_to_s3_spark.testing.fixtures import (
    _tar_member,
    make_hudi_bundle,
)


@pytest.mark.parametrize("seed", [0, 1, 2, 3, 9, 42, 999])
def test_snapshot_planted(seed):
    r = parse_hudi_snapshot(make_hudi_bundle(seed), "v")
    assert r["n_commits"] == 3 and r["n_pending"] == 1
    assert r["n_base_files"] == 9 and r["n_file_groups"] == 4
    assert r["n_skipped_pending"] == 1
    recs = vs = 0
    for g in range(4):
        cmax = 1 if (seed + g) % 2 == 1 else 2
        n = 8 + (seed + g + cmax) % 5
        recs += n
        vs += sum((seed * 7 + 11 * g + 5 * cmax + 3 * i) % 600
                  for i in range(n))
    assert r["records"] == recs and r["value_sum"] == vs


def test_poison_guard_actually_poisons():
    """The inflight file's values are big enough that including it
    would shift value_sum by >= 5e6 — the oracle's guard is real."""
    r = parse_hudi_snapshot(make_hudi_bundle(0), "v")
    assert r["value_sum"] < 1_000_000


def test_gated_timeline_actions():
    raw = make_hudi_bundle(1)
    extra = _tar_member(
        ".hoodie/20240101000000009.rollback", b"{}")
    # append before the tar end-of-archive zero blocks
    data = raw[:-1024] + extra + b"\x00" * 1024
    with pytest.raises(ValueError, match="gated"):
        parse_hudi_snapshot(data, "v")


def test_mor_table_type_gated():
    raw = make_hudi_bundle(2)
    data = raw.replace(b"COPY_ON_WRITE", b"MERGE_ON_READ")
    with pytest.raises(ValueError, match="gated"):
        parse_hudi_snapshot(data, "v")


def test_orphan_base_file_named():
    """A base file whose instant is on NO timeline state is a
    corruption signal, not silently readable."""
    raw = make_hudi_bundle(3)
    import pyarrow as pa
    import pyarrow.parquet as pq
    buf = pa.BufferOutputStream()
    pq.write_table(pa.table({"v": pa.array([1], pa.int64())}), buf)
    extra = _tar_member(
        "part=0/zz-0000_1-0-1_20230101000000000.parquet",
        buf.getvalue().to_pybytes())
    data = raw[:-1024] + extra + b"\x00" * 1024
    with pytest.raises(ValueError, match="not on timeline"):
        parse_hudi_snapshot(data, "v")


def test_no_completed_commits_named():
    raw = make_hudi_bundle(4)
    # strip the completed-commit members (keep requested/inflight)
    from google_analytics_to_s3_spark.operators.tar import parse_tar
    members = [m for m in parse_tar(raw)
               if not (m["name"].startswith(".hoodie/")
                       and m["name"].endswith(".commit"))]
    out = bytearray()
    for m in members:
        out += _tar_member(m["name"], m["data"])
    out += b"\x00" * 1024
    with pytest.raises(ValueError, match="no completed"):
        parse_hudi_snapshot(bytes(out), "v")


# --------------------------------------------------------------------------
# r13: incremental queries.

def test_incremental_windows():
    from google_analytics_to_s3_spark.operators.hudi import (
        parse_hudi_incremental,
    )
    from google_analytics_to_s3_spark.testing.fixtures import (
        _HUDI_TS0,
        make_hudi_bundle,
    )

    for seed in (0, 1, 2, 7, 999):
        for w in range(3):
            begin = str(_HUDI_TS0 + w - 1)
            end = str(_HUDI_TS0 + w + 1)
            wins = [c for c in range(3) if w - 1 < c <= w + 1]
            r = parse_hudi_incremental(
                make_hudi_bundle(seed), "v", begin, end)

            def writes(c):
                return list(range(4)) if c == 0 else \
                    [g for g in range(4) if (seed + g + c) % 2 == 0]

            latest = {}
            for c in wins:
                for g in writes(c):
                    latest[g] = c
            assert r["n_commits_total"] == 3
            assert r["n_commits_window"] == len(wins)
            assert r["n_window_files"] == sum(
                len(writes(c)) for c in wins)
            assert r["n_groups_touched"] == len(latest)
            recs = sum(8 + (seed + g + c) % 5
                       for g, c in latest.items())
            assert r["records"] == recs


def test_incremental_empty_window():
    from google_analytics_to_s3_spark.operators.hudi import (
        parse_hudi_incremental,
    )
    from google_analytics_to_s3_spark.testing.fixtures import (
        _HUDI_TS0,
        make_hudi_bundle,
    )

    r = parse_hudi_incremental(
        make_hudi_bundle(4), "v",
        str(_HUDI_TS0 + 50), str(_HUDI_TS0 + 60))
    assert r["n_commits_window"] == 0 and r["records"] == 0


def test_incremental_never_reads_inflight():
    """The inflight commit (ts0+3) has no completed metadata, so
    even a window covering it contributes nothing — the poison
    values stay invisible."""
    from google_analytics_to_s3_spark.operators.hudi import (
        parse_hudi_incremental,
    )
    from google_analytics_to_s3_spark.testing.fixtures import (
        _HUDI_TS0,
        make_hudi_bundle,
    )

    r = parse_hudi_incremental(
        make_hudi_bundle(0), "v",
        str(_HUDI_TS0 + 2), str(_HUDI_TS0 + 9))
    assert r["n_commits_window"] == 0
    assert r["value_sum"] == 0


# --------------------------------------------------------------------------
# r13: clustering (replacecommit).

def test_cluster_snapshot_planted():
    from google_analytics_to_s3_spark.testing.fixtures import (
        make_hudi_cluster_bundle,
    )

    for seed in (0, 1, 2, 9, 999):
        r = parse_hudi_snapshot(make_hudi_cluster_bundle(seed), "v")
        assert r["n_commits"] == 4
        assert r["n_replaced_groups"] == 2
        assert r["n_file_groups"] == 3
        recs = 20 + seed % 6
        for g in (2, 3):
            cmax = 1 if (seed + g) % 2 == 1 else 2
            recs += 8 + (seed + g + cmax) % 5
        assert r["records"] == recs


def test_plain_snapshot_reports_zero_replaced():
    r = parse_hudi_snapshot(make_hudi_bundle(5), "v")
    assert r["n_replaced_groups"] == 0


def test_inflight_replacecommit_is_invisible():
    """A replacecommit that never completed must neither retire
    groups nor contribute files."""
    from google_analytics_to_s3_spark.operators.tar import parse_tar
    from google_analytics_to_s3_spark.testing.fixtures import (
        make_hudi_cluster_bundle,
    )

    raw = make_hudi_cluster_bundle(3)
    members = [m for m in parse_tar(raw)
               if not m["name"].endswith(".replacecommit")]
    out = bytearray()
    for m in members:
        out += _tar_member(m["name"], m["data"])
    out += b"\x00" * 1024
    r = parse_hudi_snapshot(bytes(out), "v")
    # requested marker remains -> instant pending; clustered file
    # skipped; all four original groups visible again
    assert r["n_replaced_groups"] == 0
    assert r["n_file_groups"] == 4
    assert r["n_skipped_pending"] == 2  # inflight + clustered file


def test_incremental_mor_table_type_gated():
    """The incremental reader shares the snapshot reader's walk, so a
    MERGE_ON_READ table — whose log files neither reader merges — is
    refused by both instead of read as base files only."""
    from google_analytics_to_s3_spark.operators.hudi import (
        parse_hudi_incremental,
    )
    from google_analytics_to_s3_spark.testing.fixtures import _HUDI_TS0

    data = make_hudi_bundle(2).replace(b"COPY_ON_WRITE", b"MERGE_ON_READ")
    with pytest.raises(ValueError, match="gated"):
        parse_hudi_incremental(
            data, "v", str(_HUDI_TS0 - 1), str(_HUDI_TS0 + 9))
