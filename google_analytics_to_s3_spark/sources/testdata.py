"""Loaders for the driver-generated testdata tables (TESTDATA.md).

Tables: region nation customer supplier part orders lineitem events
documents embeddings — one parquet each under a scale-factor dir.

``events.ts`` is written as parquet TIMESTAMP(NANOS) which Spark's reader
rejects; with ``spark.sql.legacy.parquet.nanosAsLong=true`` it loads as
epoch-nanos LongType. :func:`load_events` normalizes that to an epoch
*millis* long column ``ts_ms`` (the GA engine's native clock — the
reference sessionizes on epoch-millis ``received_at_apig``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.partitioning import spread_if_narrow
from ..session import ensure_runtime_confs

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


# (sf_dir, name) -> inferred parquet schema. A SCHEMA memo, not a data
# or plan memo: every load_table call still builds a fresh scan (fresh
# file listing, data read from parquet at execution) — only the footer
# schema-inference job is skipped on repeat calls (r13 opt: inference
# cost ~70 ms per call x 1-3 calls per query across a 391-query bench
# pass; explicit read schemas are also the SURVEY S1 pattern).
_SCHEMA_CACHE: dict = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    ensure_runtime_confs(spark)
    path = f"{sf_dir}/{name}.parquet"
    key = (sf_dir, name)
    sch = _SCHEMA_CACHE.get(key)
    if sch is None:
        df = spark.read.parquet(path)
        _SCHEMA_CACHE[key] = df.schema
        return df
    return spark.read.schema(sch).parquet(path)


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events with ``ts_ms`` (epoch millis, long) alongside the raw ``ts``.

    The driver's testdata has shipped ``ts`` as parquet TIMESTAMP(NANOS)
    (read as epoch-nanos long under ``nanosAsLong``) and as plain
    TIMESTAMP(MICROS) (read as TIMESTAMP_NTZ / TIMESTAMP). Normalize all
    three to the same epoch-millis long the oracle's ``epoch_ms(ts)``
    produces. The NTZ path must NOT cast through TIMESTAMP — that would
    re-interpret the wall-clock value in the session timezone
    (Europe/Berlin for GA parity) and shift the epoch; ``timestampdiff``
    against the NTZ epoch is timezone-free, matching DuckDB's naive
    ``epoch_ms``.
    """
    e = load_table(spark, sf_dir, "events")
    ts_type = dict(e.dtypes)["ts"]
    if ts_type == "bigint":
        ts_ms = F.expr("ts div 1000000")
    elif ts_type == "timestamp_ntz":
        ts_ms = F.expr(
            "timestampdiff(MILLISECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
        )
    else:  # timestamp (ltz): absolute instant, unix_millis is exact
        ts_ms = F.expr("unix_millis(ts)")
    return e.withColumn("ts_ms", ts_ms)


def load_parallel(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load a table, spread across all cores when its scan is narrow."""
    return spread_if_narrow(load_table(spark, sf_dir, name))
