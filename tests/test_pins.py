"""The pin rule: the daily entry point and the graph operators cache
and checkpoint only through ``operators/pins.py``, which holds every
pin at the serialized ``MEMORY_AND_DISK`` level. A raw ``.persist(``,
``.cache()`` or ``.localCheckpoint(`` there would pick a default,
deserialized level that later scans read at its in-heap size.

The serialized blocks are compressed (``spark.rdd.compress``) with the
session's block codec, zstd (``spark.io.compression.codec``)."""

import ast
import os

import pytest

PACKAGE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "google_analytics_to_s3_spark",
)
RAW_PINS = {"persist", "cache", "localCheckpoint"}


def raw_pin_calls(source: str) -> list[str]:
    """``line: .name(`` for every call of a raw pin method."""
    return [
        f"{node.lineno}: .{node.func.attr}("
        for node in ast.walk(ast.parse(source))
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr in RAW_PINS
    ]


@pytest.mark.parametrize("path", ["__main__.py", "operators/graph.py"])
def test_no_raw_pins(path):
    with open(os.path.join(PACKAGE, path)) as f:
        assert raw_pin_calls(f.read()) == []


def test_rule_sees_each_raw_pin():
    src = (
        "a = df.persist()\n"
        "b = df.cache()\n"
        "c = df.localCheckpoint(eager=True)\n"
        "d = df.unpersist()\n"
        "e = serialized_cache(df)\n"
    )
    assert raw_pin_calls(src) == [
        "1: .persist(", "2: .cache(", "3: .localCheckpoint(",
    ]


def test_pins_hold_serialized_levels(spark):
    from google_analytics_to_s3_spark.operators.pins import (
        serialized_cache,
        serialized_checkpoint,
    )

    df = spark.range(10)
    cached = serialized_cache(df)
    try:
        level = cached.storageLevel
        assert (level.useMemory, level.useDisk, level.deserialized) == (
            True, True, False)
    finally:
        cached.unpersist()
    for eager in (False, True):
        # the checkpointed RDD sits behind the pinned frame's LogicalRDD
        rdd = serialized_checkpoint(df, eager=eager)._jdf.logicalPlan().rdd()
        assert rdd.isLocallyCheckpointed()
        level = rdd.getStorageLevel()
        assert (level.useMemory(), level.useDisk(), level.deserialized()) == (
            True, True, False)


def test_session_compresses_blocks_with_zstd(spark):
    assert spark.conf.get("spark.io.compression.codec") == "zstd"
    assert spark.conf.get("spark.rdd.compress") == "true"


# A serialized checkpoint of the repetitive frame below, over its
# default-level (deserialized, in-heap) checkpoint: 0.014 under zstd,
# 0.12 under LZ4 and 0.58 uncompressed (local[8], 20,000 rows).
MAX_SERIALIZED_SHARE = 0.05


def _stored_bytes(spark, pinned) -> int:
    """Memory plus disk bytes the status store reports for the
    checkpointed RDD behind ``pinned``."""
    sc = spark.sparkContext._jsc.sc()
    rdd_id = pinned._jdf.logicalPlan().rdd().id()
    sc.listenerBus().waitUntilEmpty()
    info = sc.statusStore().rdd(rdd_id)
    return info.memoryUsed() + info.diskUsed()


def test_serialized_checkpoint_is_compressed(spark):
    from google_analytics_to_s3_spark.operators.pins import serialized_checkpoint

    df = spark.range(20_000).selectExpr(
        "id % 100 AS k", "concat('page-', id % 50) AS path",
        "CAST(id % 7 AS DOUBLE) AS v")
    serialized = _stored_bytes(spark, serialized_checkpoint(df, eager=True))
    default = _stored_bytes(spark, df.localCheckpoint(eager=True))
    assert 0 < serialized <= MAX_SERIALIZED_SHARE * default, (serialized, default)
