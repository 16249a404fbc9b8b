import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from google_analytics_to_s3_spark.session import get_spark  # noqa: E402

SF_SMOKE = os.environ.get("SPARK_GRAFT_SMOKE_DIR", "/root/testdata/sf0.001")
SF_ORACLE = os.environ.get("SPARK_GRAFT_ORACLE_DIR", "/root/testdata/sf0.01")


def make_spark():
    """The test session: ``local[8]``, 8 shuffle partitions."""
    s = get_spark(
        app_name="ga-spark-engine-tests",
        master="local[8]",
        shuffle_partitions=8,
        extra_conf={"spark.ui.enabled": "false", "spark.driver.memory": "4g"},
    )
    s.sparkContext.setLogLevel("ERROR")
    return s


@pytest.fixture(scope="session")
def spark():
    yield make_spark()


@pytest.fixture(scope="session")
def spark_prop(spark):
    """Alias fixture for property tests (hypothesis forbids reusing a
    function-scoped fixture across examples; session scope is fine)."""
    return spark


@pytest.fixture(scope="session")
def sf_smoke():
    return SF_SMOKE


@pytest.fixture(scope="session")
def sf_oracle():
    return SF_ORACLE
