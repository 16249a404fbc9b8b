"""Partition-sizing guards: the scan-side spread never runs a job at
planning time, and operators never mutate session conf."""

import pathlib
import re

from pyspark.sql import functions as F

from google_analytics_to_s3_spark import operators
from google_analytics_to_s3_spark.operators.partitioning import (
    spread_if_narrow,
)


def _jobs_during(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_spread_skips_post_aggregate_and_join_plans_without_jobs(spark):
    narrow = spark.range(0, 1000, 1, 1).selectExpr("id", "id % 7 AS k")
    agg = narrow.groupBy("k").agg(F.count(F.lit(1)).alias("n"))
    join = narrow.join(F.broadcast(agg), "k")
    for name, df in (("agg", agg), ("join", join)):
        out, jobs = _jobs_during(
            spark, f"spread-guard-{name}", lambda: spread_if_narrow(df, "k")
        )
        assert out is df, name
        assert jobs == 0, name


def test_no_operator_mutates_session_conf():
    root = pathlib.Path(operators.__file__).parent
    offenders = [
        p.name
        for p in sorted(root.glob("*.py"))
        if re.search(r"conf\.set\(", p.read_text())
    ]
    assert offenders == []
