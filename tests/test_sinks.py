"""Sink-side operators: Hive-layout daily marts (S4), session-history
append (S3), catalog registration (S11)."""

import pytest
from pyspark.sql import functions as F

from google_analytics_to_s3_spark.sources.ga import (
    append_session_history,
    load_own_session_history,
    load_session_history,
    save_daily_marts,
)


def test_save_daily_marts_layout_and_pruning(spark, tmp_path):
    base = str(tmp_path / "agg")
    marts = {
        "sessions": spark.createDataFrame([(1, "a")], ["id", "v"]),
        "events": spark.createDataFrame([(2, "b"), (3, "c")], ["id", "v"]),
    }
    save_daily_marts(marts, base, "2024-03-05")
    save_daily_marts(
        {"sessions": spark.createDataFrame([(9, "z")], ["id", "v"])},
        base,
        "2024-03-06",
    )

    # Hive-partitioned read over the whole layout; partition filters prune.
    df = spark.read.option("basePath", base).parquet(f"{base}/type=sessions")
    assert set(df.columns) >= {"id", "v", "year", "month", "day"}
    day5 = df.filter((F.col("day") == 5))
    assert [r["id"] for r in day5.collect()] == [1]
    plan = day5._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan

    both_days = spark.read.option("basePath", base).parquet(
        f"{base}/type=sessions"
    )
    assert both_days.count() == 2


def test_session_history_roundtrip(spark, tmp_path):
    path = str(tmp_path / "hist")
    df = spark.createDataFrame([(1, "x")], ["id", "v"])
    # absent history -> empty frame with the right schema
    empty = load_session_history(spark, path, df.schema)
    assert empty.count() == 0 and empty.schema == df.schema
    append_session_history(df, path)
    append_session_history(df, path)
    assert load_session_history(spark, path, df.schema).count() == 2


def test_own_session_history_absent_or_empty_is_none(spark, tmp_path):
    assert load_own_session_history(spark, str(tmp_path / "hist")) is None
    (tmp_path / "empty").mkdir()
    assert load_own_session_history(spark, str(tmp_path / "empty")) is None
    path = str(tmp_path / "hist")
    append_session_history(spark.createDataFrame([(1, "x")], ["id", "v"]), path)
    assert load_own_session_history(spark, path).count() == 1


def test_unreadable_session_history_raises(spark, tmp_path):
    """A history that exists but cannot be read is an error, not an
    absent history: neither loader may silently drop it."""
    hist = tmp_path / "hist"
    hist.mkdir()
    (hist / "part-00000.parquet").write_bytes(b"not a parquet file")
    with pytest.raises(Exception):
        load_own_session_history(spark, str(hist))
    schema = spark.createDataFrame([(1, "x")], ["id", "v"]).schema
    with pytest.raises(Exception):
        load_session_history(spark, str(hist), schema).collect()


def test_catalog_registration(spark, tmp_path):
    """S11: the Glue-crawler equivalent is just saveAsTable."""
    spark.sql(
        f"CREATE DATABASE IF NOT EXISTS marts_test LOCATION '{tmp_path}/wh'"
    )
    try:
        df = spark.createDataFrame([(1, "a"), (2, "b")], ["id", "v"])
        df.write.mode("overwrite").saveAsTable("marts_test.sessions")
        assert spark.table("marts_test.sessions").count() == 2
        assert spark.catalog.tableExists("marts_test.sessions")
    finally:
        spark.sql("DROP TABLE IF EXISTS marts_test.sessions")
        spark.sql("DROP DATABASE IF EXISTS marts_test")


def test_write_sized_calibrates_file_sizes(spark, sf_smoke, tmp_path):
    from google_analytics_to_s3_spark.sources.maintenance import (
        list_leaf_files,
        write_sized,
    )
    from google_analytics_to_s3_spark.sources.testdata import load_events

    ev = load_events(spark, sf_smoke).select(
        "event_id", "user_id", "ts_ms", "event_type", "value"
    )
    out = str(tmp_path / "sized")
    target = 4 << 10  # 4 KiB files (the smoke table is ~18 KiB total)
    write_sized(ev, out, target_file_bytes=target)
    files = list_leaf_files(spark, out)
    assert len(files) >= 2  # the table is > one target file
    # every file lands near target (row granularity + footer slack)
    assert all(sz <= 4 * target for _, sz in files), files
    got = spark.read.parquet(out)
    assert got.count() == ev.count()


def test_write_sized_partitioned_layout(spark, sf_smoke, tmp_path):
    from google_analytics_to_s3_spark.sources.maintenance import write_sized
    from google_analytics_to_s3_spark.sources.testdata import load_events
    import os

    ev = load_events(spark, sf_smoke).withColumn(
        "day", (F.col("ts_ms") / 86400000).cast("long")
    )
    out = str(tmp_path / "bydate")
    write_sized(ev, out, partition_by=("day",), target_file_bytes=1 << 20)
    days = [d for d in os.listdir(out) if d.startswith("day=")]
    assert len(days) >= 2
    # one task per partition + 1 MiB target -> exactly one file per dir
    for d in days:
        parts = [
            f for f in os.listdir(f"{out}/{d}") if f.endswith(".parquet")
        ]
        assert len(parts) == 1, (d, parts)
    got = spark.read.parquet(out)
    assert got.count() == ev.count()


def test_compact_parquet_dir(spark, sf_smoke, tmp_path):
    from google_analytics_to_s3_spark.sources.maintenance import (
        compact_parquet_dir,
        list_leaf_files,
    )
    from google_analytics_to_s3_spark.sources.testdata import load_events

    ev = load_events(spark, sf_smoke).select(
        "event_id", "user_id", "ts_ms", "event_type"
    )
    out = str(tmp_path / "small")
    # force the small-file problem: many tiny files
    ev.repartition(16).write.mode("overwrite").option(
        "maxRecordsPerFile", 200
    ).parquet(out)
    before = list_leaf_files(spark, out)
    assert len(before) >= 16
    expect = ev.orderBy("event_id").collect()

    stats = compact_parquet_dir(spark, out, target_file_bytes=256 << 20)
    after = list_leaf_files(spark, out)
    assert len(after) < len(before)
    assert stats and all(b > a for b, a in stats.values())
    got = spark.read.parquet(out).orderBy("event_id").collect()
    assert got == expect


def test_concatenated_json_repair_matches_reference(spark, tmp_path):
    """S7 `}{` repair: output records byte-identical to the reference's
    frh_json + split_files + json_decode pipeline (sns_reader.py:30-45)
    applied to the same fixture."""
    import json
    import re

    from google_analytics_to_s3_spark.sources.ga import (
        read_concatenated_json,
    )

    # one Firehose object: three records glued, then a clean JSONL line
    glued = (
        '{"message_id":"m1","ip":"1.2.3.4","body":"v=1&t=pageview"}'
        '{"message_id":"m2","ip":"5.6.7.8","body":"v=1&t=event"}'
        '{"message_id":"m3","ip":"9.9.9.9","body":"v=1"}'
    )
    clean = '{"message_id":"m4","ip":"8.8.8.8","body":"v=2"}'
    p = tmp_path / "firehose.json"
    p.write_text(glued + "\n" + clean + "\n")

    # reference pipeline, reimplemented verbatim-semantics:
    payload = p.read_text()
    repaired = re.sub("}{", "}\n{", payload, flags=re.UNICODE)
    expected = [json.loads(x) for x in repaired.splitlines() if x.strip()]

    got = (
        read_concatenated_json(
            spark, str(p), "message_id string, ip string, body string"
        )
        .orderBy("message_id")
        .collect()
    )
    assert [r.asDict() for r in got] == sorted(
        expected, key=lambda d: d["message_id"]
    )
    assert len(got) == 4


def test_quarantine_reader_splits_good_and_bad(spark, tmp_path):
    """PERMISSIVE + corrupt-record quarantine: good rows parse to the
    schema, malformed lines land verbatim in the dead-letter side."""
    import json as _json

    from google_analytics_to_s3_spark.sources.ga import (
        read_json_with_quarantine,
    )

    p = tmp_path / "mixed.json"
    lines = [
        _json.dumps({"id": 1, "name": "ok"}),
        '{"id": 2, "name": "unterminated',
        _json.dumps({"id": 3, "name": "fine"}),
        "not json at all",
    ]
    p.write_text("\n".join(lines) + "\n")

    good, bad = read_json_with_quarantine(
        spark, str(p), "id long, name string"
    )
    assert {(r["id"], r["name"]) for r in good.collect()} == {
        (1, "ok"),
        (3, "fine"),
    }
    raws = [r["raw"] for r in bad.collect()]
    assert sorted(raws) == sorted([lines[1], "not json at all"])
    spark.catalog.clearCache()


def test_zorder_write_tightens_file_stats_on_both_dims(spark, tmp_path):
    """Z-order clustering must shrink per-file min/max spans on BOTH
    clustered columns vs an unclustered write — the property that makes
    parquet row-group pruning work for 2-D filters."""
    import glob

    import pyarrow.parquet as pq

    from google_analytics_to_s3_spark.sources.maintenance import (
        write_zordered,
    )

    # 2-D grid occupied uniformly: the adversarial case for single-
    # column sorting (sorting by x leaves y spans at full width)
    rows = [(x, y) for x in range(64) for y in range(64)]
    df = spark.createDataFrame(rows, ["x", "y"]).repartition(8)

    plain = str(tmp_path / "plain")
    zord = str(tmp_path / "zord")
    df.write.mode("overwrite").parquet(plain)
    write_zordered(df, ["x", "y"], zord, n_files=8)

    def span_sum(path, col):
        total = 0
        for f in glob.glob(f"{path}/*.parquet"):
            md = pq.ParquetFile(f).metadata
            lo = min(
                md.row_group(i).column(
                    [md.schema.column(j).name
                     for j in range(md.num_columns)].index(col)
                ).statistics.min
                for i in range(md.num_row_groups)
            )
            hi = max(
                md.row_group(i).column(
                    [md.schema.column(j).name
                     for j in range(md.num_columns)].index(col)
                ).statistics.max
                for i in range(md.num_row_groups)
            )
            total += hi - lo
        return total

    for col in ("x", "y"):
        assert span_sum(zord, col) < 0.7 * span_sum(plain, col), col


def test_zorder_value_int_div_and_bit_budget(spark):
    """The normalization is exact integer arithmetic (no float '/'), and
    a key wider than int64's 63 value bits is rejected loudly."""
    import pytest

    from google_analytics_to_s3_spark.sources.maintenance import (
        zorder_value,
    )

    df = spark.createDataFrame([(0,), (5,), (10,)], ["x"])
    got = [
        r["z"]
        for r in df.select(
            zorder_value([F.col("x")], [0], [10], bits=4).alias("z")
        ).collect()
    ]
    # exact: (x * 15) div 10 -> 0, 7, 15 (float '/'+cast would give 7 too,
    # but e.g. x=9 -> 13.5 truncates identically only because both floor;
    # the guarantee under test is the div stays integer end-to-end)
    assert got == [0, 7, 15]

    with pytest.raises(ValueError, match="63"):
        zorder_value([F.col("x")] * 4, [0] * 4, [10] * 4, bits=16)
