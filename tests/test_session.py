"""``session.get_spark``: its conf on a session that already exists."""

from google_analytics_to_s3_spark.session import RUNTIME_CONFS, get_spark

KEY = "spark.sql.mapKeyDedupPolicy"


def test_extra_conf_overrides_a_runtime_conf(spark):
    """An ``extra_conf`` value wins over ``RUNTIME_CONFS`` for its key,
    also when ``get_spark`` attaches to the running session."""
    try:
        got = get_spark(extra_conf={KEY: "EXCEPTION"})
        assert got.conf.get(KEY) == "EXCEPTION"
    finally:
        spark.conf.set(KEY, RUNTIME_CONFS[KEY])
    assert spark.conf.get(KEY) == "LAST_WIN"
