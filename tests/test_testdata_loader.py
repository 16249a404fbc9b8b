"""load_events must normalize every ts dtype the driver's datagen has
shipped (nanos-as-long, TIMESTAMP micros read as NTZ) to the same
epoch-millis ts_ms — and stay independent of the session timezone,
which the GA pipeline pins to Europe/Berlin."""

import datetime
import os

from google_analytics_to_s3_spark.sources.testdata import load_events


def _write(spark, tmp_path, rows, schema, name):
    p = os.path.join(str(tmp_path), name)
    spark.createDataFrame(rows, schema).write.mode("overwrite").parquet(
        os.path.join(p, "events.parquet")
    )
    return p


def test_ts_ms_from_timestamp_and_long_agree(spark, tmp_path):
    base_ms = 1704067200123  # 2024-01-01 00:00:00.123 UTC
    ts = datetime.datetime(2024, 1, 1, 0, 0, 0, 123000)

    d_long = _write(
        spark, tmp_path, [(1, base_ms * 1_000_000)],
        "event_id long, ts long", "as_long",
    )
    d_ts = _write(
        spark, tmp_path, [(1, ts)],
        "event_id long, ts timestamp_ntz", "as_ntz",
    )
    got_long = load_events(spark, d_long).select("ts_ms").first()[0]
    got_ts = load_events(spark, d_ts).select("ts_ms").first()[0]
    assert got_long == base_ms
    # the NTZ wall-clock value must convert timezone-free: the session
    # runs Europe/Berlin, where a tz-aware cast would shift by -1h
    assert got_ts == base_ms
    assert spark.conf.get("spark.sql.session.timeZone") == "Europe/Berlin"


def test_load_table_keeps_a_conf_set_after_the_session(spark, tmp_path):
    """RUNTIME_CONFS are applied once per session, so a runtime conf
    the caller sets later survives every load."""
    from google_analytics_to_s3_spark.sources.testdata import load_table

    key = "spark.sql.adaptive.enabled"
    d = _write(spark, tmp_path, [(1, 2)], "event_id long, ts long",
               "conf_kept")
    before = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        load_table(spark, d, "events")
        load_table(spark, d, "events")
        assert spark.conf.get(key) == "false"
    finally:
        spark.conf.set(key, before)


def test_runtime_confs_reach_a_foreign_session_on_first_load(
        spark, tmp_path):
    """A session the engine did not build (the correctness driver's)
    still gets RUNTIME_CONFS on its first load."""
    from google_analytics_to_s3_spark.session import RUNTIME_CONFS
    from google_analytics_to_s3_spark.sources.testdata import load_table

    d = _write(spark, tmp_path, [(1, 2)], "event_id long, ts long",
               "foreign")
    foreign = spark.newSession()
    key = "spark.sql.mapKeyDedupPolicy"
    foreign.conf.set(key, "EXCEPTION")
    load_table(foreign, d, "events")
    assert foreign.conf.get(key) == RUNTIME_CONFS[key]
