"""Delta-style log fold (operators/lakehouse.py): protocol replay
semantics — last action wins, re-add resurrects, in-commit line
order breaks version ties."""

import pytest

from google_analytics_to_s3_spark.operators.lakehouse import (
    delta_log_snapshot,
)


def _add(path, size):
    return f'{{"add":{{"path":"{path}","size":{size},"dataChange":true}}}}'


def _remove(path):
    return f'{{"remove":{{"path":"{path}","deletionTimestamp":1}}}}'


def test_replay_semantics(spark):
    rows = [
        # t0: add a, add b, remove a (later), re-add a (later still)
        (0, 1, 0, _add("a", 10)),
        (0, 1, 1, _add("b", 20)),
        (0, 2, 0, _remove("a")),
        (0, 3, 0, _add("a", 30)),
        # t1: add then remove in the SAME version — line order decides
        (1, 1, 0, _add("x", 5)),
        (1, 2, 0, _add("y", 7)),
        (1, 2, 1, _remove("y")),
        # non-file actions are ignored
        (1, 3, 0, '{"commitInfo":{"operation":"WRITE"}}'),
    ]
    log = spark.createDataFrame(
        rows, "table_id long, version long, line_no long, line string")
    out = {r["table_id"]: r for r in
           delta_log_snapshot(log, line_no_col="line_no").collect()}
    assert out[0]["n_live_files"] == 2          # a (re-added) + b
    assert out[0]["live_bytes"] == 50           # 30 + 20
    assert out[0]["last_version"] == 3
    assert out[0]["n_actions"] == 4
    assert out[1]["n_live_files"] == 1          # y removed in-commit
    assert out[1]["live_bytes"] == 5
    assert out[1]["n_actions"] == 3             # commitInfo dropped


def test_remove_only_table(spark):
    log = spark.createDataFrame(
        [(5, 1, 0, _remove("gone"))],
        "table_id long, version long, line_no long, line string")
    row = delta_log_snapshot(log, line_no_col="line_no").collect()[0]
    assert row["n_live_files"] == 0
    assert row["live_bytes"] == 0
    assert row["n_actions"] == 1


# --------------------------------------------------------------------------
# Checkpoint bootstrap (r12).


def _full_json_log(seed: int):
    """The same planted action stream as make_delta_checkpoint_bundle,
    but as a pure JSON log from genesis — the reference fold."""
    v = 10 + seed % 5
    last = v + 3 + seed % 4
    rows = []
    for w in range(last + 1):
        for j in (0, 1):
            pid = (seed + 5 * w + 3 * j) % 20
            is_rm = (seed + w + j) % 4 == 3
            size = 100 + (seed + 7 * w + j) % 900
            line = _remove(f"f{pid}") if is_rm else _add(f"f{pid}", size)
            rows.append((seed, w, j, line))
    return rows


def test_checkpoint_bootstrap_matches_pure_json_fold(spark):
    """The protocol's correctness condition for checkpoints: reading
    _last_checkpoint + checkpoint parquet (through the engine's own
    nested raw-parquet reader) + post-checkpoint JSON commits must
    land on the SAME live set as folding the full JSON log from
    genesis with the declarative delta_log_snapshot."""
    from google_analytics_to_s3_spark.operators.lakehouse import (
        parse_delta_checkpoint,
    )
    from google_analytics_to_s3_spark.testing.fixtures import (
        make_delta_checkpoint_bundle,
    )

    seeds = [0, 1, 2, 3, 4, 5, 17, 444]
    rows = [r for s in seeds for r in _full_json_log(s)]
    log = spark.createDataFrame(
        rows, "table_id long, version long, line_no long, line string")
    folded = {r["table_id"]: r for r in
              delta_log_snapshot(log, line_no_col="line_no").collect()}
    for seed in seeds:
        boot = parse_delta_checkpoint(make_delta_checkpoint_bundle(seed))
        ref = folded[seed]
        assert boot["n_live_files"] == ref["n_live_files"], seed
        assert boot["live_bytes"] == ref["live_bytes"], seed
        assert boot["last_version"] == ref["last_version"], seed


def test_checkpoint_bundle_gates(spark):
    import json

    import pytest

    from google_analytics_to_s3_spark.operators.lakehouse import (
        parse_delta_checkpoint,
    )
    from google_analytics_to_s3_spark.testing.fixtures import (
        _tar_member,
        make_delta_checkpoint_bundle,
    )

    with pytest.raises(ValueError, match="_last_checkpoint"):
        parse_delta_checkpoint(_tar_member("x.json", b"{}") + b"\0" * 1024)
    # commit gap after checkpoint quarantines (a reader must not skip
    # versions silently)
    bundle = make_delta_checkpoint_bundle(3)
    v = 10 + 3 % 5
    from google_analytics_to_s3_spark.operators.tar import parse_tar
    members = {m["name"]: m["data"] for m in parse_tar(bundle)}
    del members[f"_delta_log/{v + 1:020d}.json"]
    rebuilt = b"".join(_tar_member(n, d) for n, d in members.items())
    with pytest.raises(ValueError, match="commit gap"):
        parse_delta_checkpoint(rebuilt + b"\0" * 1024)
    # _last_checkpoint size mismatch quarantines
    lc = json.loads(members[f"_delta_log/_last_checkpoint"])
    lc["size"] += 1
    members[f"_delta_log/_last_checkpoint"] = json.dumps(lc).encode()
    rebuilt = b"".join(_tar_member(n, d) for n, d in members.items())
    with pytest.raises(ValueError, match="size mismatch"):
        parse_delta_checkpoint(rebuilt + b"\0" * 1024)


def test_multipart_checkpoint_and_missing_part(spark):
    from google_analytics_to_s3_spark.operators.lakehouse import (
        parse_delta_checkpoint,
    )
    from google_analytics_to_s3_spark.operators.tar import parse_tar
    from google_analytics_to_s3_spark.testing.fixtures import (
        _tar_member,
        make_delta_checkpoint_bundle,
    )
    import pytest

    # seed % 3 == 2 → 2-part checkpoint; same fold as the JSON log
    bundle = make_delta_checkpoint_bundle(5)
    names = [m["name"] for m in parse_tar(bundle)]
    assert any(".checkpoint.0000000001.0000000002.parquet" in n
               for n in names)
    boot = parse_delta_checkpoint(make_delta_checkpoint_bundle(5))
    rows = _full_json_log(5)
    log = spark.createDataFrame(
        rows, "table_id long, version long, line_no long, line string")
    ref = delta_log_snapshot(log, line_no_col="line_no").collect()[0]
    assert boot["n_live_files"] == ref["n_live_files"]
    assert boot["live_bytes"] == ref["live_bytes"]
    # a missing part quarantines
    members = {m["name"]: m["data"] for m in parse_tar(bundle)}
    part2 = next(n for n in members
                 if n.endswith(".0000000002.0000000002.parquet"))
    del members[part2]
    rebuilt = b"".join(_tar_member(n, d) for n, d in members.items())
    with pytest.raises(ValueError, match="checkpoint .* missing"):
        parse_delta_checkpoint(rebuilt + b"\0" * 1024)


def test_delta_column_mapping_name_and_id_modes():
    """Column mapping: logical 'v' resolves to the physical parquet
    column (physicalName in name mode, field_id in id mode); the
    planted decoy column stored UNDER the logical name must not be
    read (its +1000 values would shift the sum)."""
    from google_analytics_to_s3_spark.operators.lakehouse import (
        parse_delta_column_mapping,
    )
    from google_analytics_to_s3_spark.testing.fixtures import (
        make_delta_cm_bundle,
    )

    for seed in (0, 1, 2, 3, 10, 999):
        got = parse_delta_column_mapping(make_delta_cm_bundle(seed), "v")
        nf = 1 + seed % 3
        rec = vsum = 0
        for f in range(nf):
            n = 20 + (seed * 3 + 7 * f) % 40
            for i in range(n):
                rec += 1
                if (seed + f + i) % 11 != 10:
                    vsum += (seed * 5 + 11 * f + 3 * i) % 500
        assert got == {
            "mapping_mode": "name" if seed % 2 == 0 else "id",
            "min_reader_version": 2 if seed % 2 == 0 else 3,
            "n_files": nf,
            "records": rec,
            "value_sum": vsum,
        }


def test_delta_unsupported_protocol_quarantines():
    """PROTOCOL.md Reader Requirements: a table demanding a reader
    capability we don't implement must raise a named error, never
    silently mis-read."""
    import json

    from google_analytics_to_s3_spark.operators.lakehouse import (
        parse_delta_column_mapping,
    )
    from google_analytics_to_s3_spark.operators.tar import parse_tar
    from google_analytics_to_s3_spark.testing.fixtures import (
        _tar_member,
        make_delta_cm_bundle,
    )

    members = {m["name"]: m["data"]
               for m in parse_tar(make_delta_cm_bundle(1))}
    c0 = members["_delta_log/00000000000000000000.json"].decode()
    lines = c0.splitlines()

    def rebuild(new_first_line):
        mm = dict(members)
        mm["_delta_log/00000000000000000000.json"] = (
            "\n".join([new_first_line] + lines[1:]) + "\n").encode()
        return (b"".join(_tar_member(n, d) for n, d in mm.items())
                + b"\0" * 1024)

    # v3 with an unknown reader feature
    bad = json.dumps({"protocol": {
        "minReaderVersion": 3, "minWriterVersion": 7,
        "readerFeatures": ["columnMapping", "v2Checkpoint"]}})
    with pytest.raises(ValueError, match="readerFeatures"):
        parse_delta_column_mapping(rebuild(bad), "v")
    # a future reader version
    bad4 = json.dumps({"protocol": {"minReaderVersion": 4,
                                    "minWriterVersion": 9}})
    with pytest.raises(ValueError, match="minReaderVersion"):
        parse_delta_column_mapping(rebuild(bad4), "v")
    # supported features pass
    ok = json.dumps({"protocol": {
        "minReaderVersion": 3, "minWriterVersion": 7,
        "readerFeatures": ["columnMapping", "deletionVectors"]}})
    got = parse_delta_column_mapping(rebuild(ok), "v")
    assert got["n_files"] == 2  # seed 1: nf = 2


def test_delta_partition_prune_closed_form_and_tombstone():
    """Partition pruning evaluates partitionValues strings from the
    log (the data files lack the column); tombstoned partitions stay
    out of files_total, and out-of-window files are never read."""
    from google_analytics_to_s3_spark.operators.lakehouse import (
        parse_delta_partition_prune,
    )
    from google_analytics_to_s3_spark.testing.fixtures import (
        make_delta_pp_bundle,
    )

    for seed in (0, 1, 5, 12, 999):
        for lo in (0, 2, 4):
            got = parse_delta_partition_prune(
                make_delta_pp_bundle(seed), "v", "p", lo, lo + 3)
            fr = rec = vs = 0
            for p in range(8):
                if p == seed % 8 or not lo <= p <= lo + 3:
                    continue
                fr += 1
                n = 15 + (seed + p) % 10
                for i in range(n):
                    rec += 1
                    vs += (seed * 5 + 7 * p + 3 * i) % 500
            assert got == {"files_total": 7, "files_read": fr,
                           "records": rec, "value_sum": vs}, (seed, lo)
            assert got["files_read"] < got["files_total"]


# --------------------------------------------------------------------------
# r13: time travel + bucket pruning.

def test_delta_time_travel_resolution_and_fold():
    from google_analytics_to_s3_spark.operators.lakehouse import (
        parse_delta_time_travel,
    )
    from google_analytics_to_s3_spark.testing.fixtures import (
        _DELTA_TT_BASE,
        _DELTA_TT_STEP,
        make_delta_tt_bundle,
    )

    for seed in (0, 1, 2, 5, 999):
        for R in range(6):
            r = parse_delta_time_travel(
                make_delta_tt_bundle(seed), "x",
                _DELTA_TT_BASE + _DELTA_TT_STEP * R
                + _DELTA_TT_STEP // 2)
            assert r["resolved_version"] == R
            assert r["last_version"] == 5
            live = [v for v in range(R + 1)
                    if not (v + 2 <= R and (seed + v + 2) % 3 == 0)]
            assert r["n_live_files"] == len(live)
            assert r["records"] == sum(10 + (seed + v) % 6
                                       for v in live)
            assert r["value_sum"] == sum(
                (seed * 3 + 5 * v + 7 * i) % 400 for v in live
                for i in range(10 + (seed + v) % 6))


def test_delta_time_travel_before_history_named():
    import pytest as _pytest

    from google_analytics_to_s3_spark.operators.lakehouse import (
        parse_delta_time_travel,
    )
    from google_analytics_to_s3_spark.testing.fixtures import (
        _DELTA_TT_BASE,
        make_delta_tt_bundle,
    )

    with _pytest.raises(ValueError, match="precedes"):
        parse_delta_time_travel(make_delta_tt_bundle(3), "x",
                                _DELTA_TT_BASE - 1)


def test_delta_time_travel_exact_boundary_inclusive():
    """AS OF exactly a commit's timestamp includes that commit
    (<=, not <)."""
    from google_analytics_to_s3_spark.operators.lakehouse import (
        parse_delta_time_travel,
    )
    from google_analytics_to_s3_spark.testing.fixtures import (
        _DELTA_TT_BASE,
        _DELTA_TT_STEP,
        make_delta_tt_bundle,
    )

    r = parse_delta_time_travel(
        make_delta_tt_bundle(4), "x",
        _DELTA_TT_BASE + _DELTA_TT_STEP * 3)
    assert r["resolved_version"] == 3


def test_iceberg_time_travel_snapshot_log():
    from google_analytics_to_s3_spark.operators.iceberg import (
        parse_iceberg_time_travel,
    )
    from google_analytics_to_s3_spark.testing.fixtures import (
        _ICEBERG_TT_BASE,
        _ICEBERG_TT_STEP,
        make_iceberg_tt_bundle,
    )

    for seed in (0, 1, 2, 7, 999):
        for R in range(5):
            r = parse_iceberg_time_travel(
                make_iceberg_tt_bundle(seed), "x",
                _ICEBERG_TT_BASE + _ICEBERG_TT_STEP * R + 500)
            assert r["resolved_snapshot"] == 9000 + R
            live = [f for f in range(R + 1)
                    if not (f == R - 2 and (seed + R) % 2 == 0)]
            assert r["n_files"] == len(live)
            assert r["value_sum"] == sum(
                (seed * 5 + 3 * f + 11 * i) % 300 for f in live
                for i in range(12 + (seed + f) % 5))


def test_iceberg_time_travel_before_history_named():
    import pytest as _pytest

    from google_analytics_to_s3_spark.operators.iceberg import (
        parse_iceberg_time_travel,
    )
    from google_analytics_to_s3_spark.testing.fixtures import (
        _ICEBERG_TT_BASE,
        make_iceberg_tt_bundle,
    )

    with _pytest.raises(ValueError, match="precedes"):
        parse_iceberg_time_travel(make_iceberg_tt_bundle(0), "x",
                                  _ICEBERG_TT_BASE - 1)


def test_murmur3_spec_vectors():
    """Pins against PUBLIC vectors: the canonical murmur3_x86_32
    test values and the Iceberg spec Appendix B bucket-hash example
    (hash of int/long 34 = 2017239379 — ints hash as 8-byte longs so
    the transform is widening-stable)."""
    from google_analytics_to_s3_spark.operators.iceberg import (
        iceberg_bucket,
        murmur3_32,
    )

    assert murmur3_32(b"") == 0
    assert murmur3_32(b"hello") & 0xFFFFFFFF == 0x248BFA47
    assert murmur3_32((34).to_bytes(8, "little")) == 2017239379
    assert iceberg_bucket(34, 16) == 2017239379 % 16


def test_iceberg_bucket_prune_point_lookup():
    from google_analytics_to_s3_spark.operators.iceberg import (
        parse_iceberg_bucket_prune,
    )
    from google_analytics_to_s3_spark.testing.fixtures import (
        make_iceberg_bucket_bundle,
    )

    for seed in (0, 1, 2, 3, 11, 999):
        t = 2 * ((seed * 7) % 500)
        r = parse_iceberg_bucket_prune(
            make_iceberg_bucket_bundle(seed), "v", t)
        k = 1 + seed % 3
        assert r == {"files_total": 4, "files_read": 1,
                     "matched_rows": k, "matched_sum": k * t}


def test_iceberg_bucket_prune_absent_value_reads_one_file():
    """A lookup for a value present in NO file still reads exactly
    its bucket's file (planning can't know the value is absent) and
    tallies zero matches."""
    from google_analytics_to_s3_spark.operators.iceberg import (
        parse_iceberg_bucket_prune,
    )
    from google_analytics_to_s3_spark.testing.fixtures import (
        make_iceberg_bucket_bundle,
    )

    # 1000003 is outside both the odd base domain and the even
    # target domain of every seed
    r = parse_iceberg_bucket_prune(
        make_iceberg_bucket_bundle(5), "v", 1000003)
    assert r["files_read"] == 1 and r["matched_rows"] == 0


def test_iceberg_bucket_prune_wrong_column_named():
    import pytest as _pytest

    from google_analytics_to_s3_spark.operators.iceberg import (
        parse_iceberg_bucket_prune,
    )
    from google_analytics_to_s3_spark.testing.fixtures import (
        make_iceberg_bucket_bundle,
    )

    with _pytest.raises(ValueError, match="no schema field|source"):
        parse_iceberg_bucket_prune(
            make_iceberg_bucket_bundle(0), "nope", 4)


def test_iceberg_truncate_transform_and_prune():
    from google_analytics_to_s3_spark.operators.iceberg import (
        iceberg_truncate,
        parse_iceberg_truncate_prune,
    )
    from google_analytics_to_s3_spark.testing.fixtures import (
        make_iceberg_trunc_bundle,
    )

    # spec semantics incl. negatives: truncate floors to bucket start
    assert iceberg_truncate(17, 10) == 10
    assert iceberg_truncate(-7, 10) == -10
    assert iceberg_truncate(-10, 10) == -10
    pruned = False
    for seed in (0, 1, 5, 999):
        for w in range(6):
            lo = w * 100 + 10
            r = parse_iceberg_truncate_prune(
                make_iceberg_trunc_bundle(seed), "v", lo, lo + 150)
            fr = mr = ms = 0
            for f in range(6):
                if 100 * f > lo + 150 or 100 * f + 99 < lo:
                    continue
                fr += 1
                for i in range(18 + (seed + f) % 8):
                    v = 100 * f + (seed * 3 + 7 * i) % 100
                    if lo <= v <= lo + 150:
                        mr += 1
                        ms += v
            assert r == {"files_total": 6, "files_read": fr,
                         "matched_rows": mr, "matched_sum": ms}
            if fr < 6:
                pruned = True
    assert pruned


def test_iceberg_truncate_wrong_transform_gated():
    import pytest as _pytest

    from google_analytics_to_s3_spark.operators.iceberg import (
        parse_iceberg_bucket_prune,
        parse_iceberg_truncate_prune,
    )
    from google_analytics_to_s3_spark.testing.fixtures import (
        make_iceberg_bucket_bundle,
        make_iceberg_trunc_bundle,
    )

    # truncate parser on a bucket table (and vice versa) gates
    with _pytest.raises(ValueError, match="gated"):
        parse_iceberg_truncate_prune(
            make_iceberg_bucket_bundle(0), "v", 0, 10)
    with _pytest.raises(ValueError, match="gated"):
        parse_iceberg_bucket_prune(
            make_iceberg_trunc_bundle(0), "v", 42)


def test_delta_checkpoint_v2_fold():
    from google_analytics_to_s3_spark.operators.lakehouse import (
        parse_delta_checkpoint_v2,
    )
    from google_analytics_to_s3_spark.testing.fixtures import (
        make_delta_v2ckpt_bundle,
    )

    for seed in (0, 1, 2, 3, 7, 999):
        r = parse_delta_checkpoint_v2(make_delta_v2ckpt_bundle(seed))
        live = {}
        for i in range(10):
            if (seed + i) % 4 != 1:
                live[f"d{i}"] = 1000 + 37 * i + seed % 7
        live["dtop"] = 777 + seed % 5
        live["d10"] = 1500 + seed % 9
        live.pop(f"d{seed % 10}", None)
        if seed % 2 == 1:
            live["d11"] = 2000 + seed % 3
        assert r["checkpoint_version"] == 5
        assert r["n_sidecars"] == 2 and r["n_state_rows"] == 11
        assert r["n_live_files"] == len(live)
        assert r["live_bytes"] == sum(live.values())


def test_delta_checkpoint_v2_metadata_version_mismatch_named():
    """checkpointMetadata.version != _last_checkpoint.version is a
    corruption signal."""
    import pytest as _pytest

    from google_analytics_to_s3_spark.operators.lakehouse import (
        parse_delta_checkpoint_v2,
    )
    from google_analytics_to_s3_spark.testing.fixtures import (
        make_delta_v2ckpt_bundle,
    )

    raw = make_delta_v2ckpt_bundle(0)
    bad = raw.replace(b'{"version": 5}', b'{"version": 6}', 1)
    with _pytest.raises(ValueError,
                        match="version|checkpoint file missing"):
        parse_delta_checkpoint_v2(bad)


def test_delta_checkpoint_v2_missing_sidecar_named():
    import pytest as _pytest

    from google_analytics_to_s3_spark.operators.lakehouse import (
        parse_delta_checkpoint_v2,
    )
    from google_analytics_to_s3_spark.operators.tar import parse_tar
    from google_analytics_to_s3_spark.testing.fixtures import (
        _tar_member,
        make_delta_v2ckpt_bundle,
    )

    raw = make_delta_v2ckpt_bundle(1)
    members = [m for m in parse_tar(raw)
               if m["name"] != "_delta_log/_sidecars/sc1.parquet"]
    out = bytearray()
    for m in members:
        out += _tar_member(m["name"], m["data"])
    out += b"\x00" * 1024
    with _pytest.raises(ValueError, match="sidecar.*missing"):
        parse_delta_checkpoint_v2(bytes(out))


def test_iceberg_day_prune_daily_window():
    from google_analytics_to_s3_spark.operators.iceberg import (
        parse_iceberg_day_prune,
    )
    from google_analytics_to_s3_spark.testing.fixtures import (
        _ICEBERG_DAY_BASE,
        _MICROS_PER_DAY_FX as DAY,
        make_iceberg_day_bundle,
    )

    for seed in (0, 1, 5, 999):
        for w in range(5):
            d0 = _ICEBERG_DAY_BASE + w
            lo = d0 * DAY + DAY // 2
            r = parse_iceberg_day_prune(
                make_iceberg_day_bundle(seed), "ts", lo,
                lo + (3 * DAY) // 2 - 1)
            n1 = 16 + (seed + w + 1) % 8
            s1 = sum((d0 + 1) * DAY
                     + ((seed * 3 + 7 * i) % 1000) * 1000
                     for i in range(n1))
            assert r == {"files_total": 6, "files_read": 2,
                         "matched_rows": n1, "matched_sum": s1}


def test_iceberg_day_prune_wrong_transform_gated():
    import pytest as _pytest

    from google_analytics_to_s3_spark.operators.iceberg import (
        parse_iceberg_day_prune,
    )
    from google_analytics_to_s3_spark.testing.fixtures import (
        make_iceberg_trunc_bundle,
    )

    with _pytest.raises(ValueError, match="gated"):
        parse_iceberg_day_prune(
            make_iceberg_trunc_bundle(0), "v", 0, 10)


# --------------------------------------------------------------------------
# One walk per format: every reader gets every gate.

def _rebuild(members: dict) -> bytes:
    from google_analytics_to_s3_spark.testing.fixtures import _tar_member

    return (b"".join(_tar_member(n, d) for n, d in members.items())
            + b"\0" * 1024)


def _delta_readers():
    from google_analytics_to_s3_spark.operators import lakehouse as lh
    from google_analytics_to_s3_spark.testing import fixtures as fx

    return {
        "checkpoint": (fx.make_delta_checkpoint_bundle,
                       lh.parse_delta_checkpoint),
        "checkpoint_v2": (fx.make_delta_v2ckpt_bundle,
                          lh.parse_delta_checkpoint_v2),
        "scan_dv": (fx.make_delta_dv_bundle,
                    lambda b: lh.parse_delta_scan_dv(b, "v")),
        "column_mapping": (fx.make_delta_cm_bundle,
                           lambda b: lh.parse_delta_column_mapping(b, "v")),
        "partition_prune": (
            fx.make_delta_pp_bundle,
            lambda b: lh.parse_delta_partition_prune(b, "v", "p", 0, 7)),
        "time_travel": (
            fx.make_delta_tt_bundle,
            lambda b: lh.parse_delta_time_travel(b, "x", 1 << 62)),
    }


@pytest.mark.parametrize("reader", ["checkpoint", "checkpoint_v2",
                                    "scan_dv", "column_mapping",
                                    "partition_prune", "time_travel"])
def test_delta_protocol_and_log_gates_apply_to_every_reader(reader):
    """A future reader version in the last commit, and a commit
    version gap, are refused by every Delta reader, not only the one
    that once carried the gate."""
    import json

    from google_analytics_to_s3_spark.operators.tar import parse_tar

    make, parse = _delta_readers()[reader]
    members = {m["name"]: m["data"] for m in parse_tar(make(1))}
    parse(_rebuild(members))  # the untouched bundle reads
    last = max(n for n in members
               if n.endswith(".json") and n[11:-5].isdigit())
    protocol = json.dumps({"protocol": {"minReaderVersion": 4,
                                        "minWriterVersion": 9}})
    bumped = dict(members)
    bumped[last] = members[last].rstrip(b"\n") + b"\n" \
        + protocol.encode() + b"\n"
    with pytest.raises(ValueError, match="minReaderVersion 4 unsupported"):
        parse(_rebuild(bumped))
    # the last commit one version late: the log skips a version
    gap = dict(members)
    v = int(last[11:-5])
    gap[f"_delta_log/{v + 1:020d}.json"] = gap.pop(last)
    with pytest.raises(ValueError, match="commit gap"):
        parse(_rebuild(gap))


def _iceberg_v2_with(meta_extra: dict) -> bytes:
    import json

    from google_analytics_to_s3_spark.operators.tar import parse_tar
    from google_analytics_to_s3_spark.testing.fixtures import (
        make_iceberg_v2_bundle,
    )

    members = {m["name"]: m["data"]
               for m in parse_tar(make_iceberg_v2_bundle(1))}
    meta = json.loads(members["metadata.json"])
    meta.update(meta_extra)
    members["metadata.json"] = json.dumps(meta).encode()
    return _rebuild(members)


@pytest.mark.parametrize("reader", ["snapshot", "scan", "metrics_prune",
                                    "time_travel", "bucket_prune",
                                    "truncate_prune", "day_prune"])
def test_iceberg_delete_manifests_gated_where_deletes_are_not_applied(
        reader):
    """On a v2 bundle with a position-delete manifest, a reader that
    does not apply deletes must refuse it by name; reading on counts
    the delete file's rows as data (snapshot: 334 records where the
    data files hold 262) or fails on a misleading missing column.
    The table metadata is extended so that each reader's own
    preconditions (schema, partition spec, snapshot log) hold and the
    delete manifest is what stops it."""
    from google_analytics_to_s3_spark.operators import iceberg as ib

    def spec(transform):
        return {"default-spec-id": 0, "partition-specs": [
            {"spec-id": 0, "fields": [{"name": "p", "source-id": 1,
                                       "transform": transform}]}]}

    extra = {"schema": {"fields": [{"id": 1, "name": "v"}]},
             "snapshot-log": [{"timestamp-ms": 0,
                               "snapshot-id": 7001}]}
    parse = {
        "snapshot": ib.parse_iceberg_snapshot,
        "scan": lambda b: ib.parse_iceberg_scan(b, "v"),
        "metrics_prune": lambda b: ib.parse_iceberg_metrics_prune(
            b, "v", 0, 1000),
        "time_travel": lambda b: ib.parse_iceberg_time_travel(b, "v", 1),
        "bucket_prune": lambda b: ib.parse_iceberg_bucket_prune(
            b, "v", 4),
        "truncate_prune": lambda b: ib.parse_iceberg_truncate_prune(
            b, "v", 0, 1000),
        "day_prune": lambda b: ib.parse_iceberg_day_prune(b, "v", 0, 1),
    }[reader]
    transform = {"bucket_prune": "bucket[4]",
                 "truncate_prune": "truncate[100]",
                 "day_prune": "day"}.get(reader)
    if transform:
        extra.update(spec(transform))
    bundle = _iceberg_v2_with(extra)
    with pytest.raises(ValueError, match="delete manifests gated"):
        parse(bundle)
    # the readers that apply deletes still read the same bundle
    assert ib.parse_iceberg_scan_deletes(bundle, "v")["records_after"] \
        == 211
