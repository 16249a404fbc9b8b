"""SparkSession factory with scale-ready defaults.

The reference pins its session timezone to Europe/Berlin
(reference functions/sessionization/main.py:298); we keep that for the GA
pipeline but make it a parameter. The session-level knobs are set here
once so every entry point (tests, bench, driver) gets the same plan
behavior; partition counts are decided per plan, from data sizes, in
``operators/partitioning.py`` (no operator mutates session conf):

- AQE on (runtime shuffle-partition coalescing, skew-join splitting) —
  essential at 100 TB where static shuffle partition counts are wrong.
- `nanosAsLong` so nanosecond parquet timestamps (unsupported by Spark's
  vectorized reader) load as epoch-nanos longs instead of failing.
- Arrow enabled for the few pandas-UDF code paths (UA parsing etc.).
- Compressed blocks: ``spark.rdd.compress=true`` compresses every
  serialized pin (``operators/pins.py``), and
  ``spark.io.compression.codec=zstd`` (at Spark's default zstd level)
  is the codec for those pins, every shuffle block and every broadcast;
  Spark has one codec for all three. LZ4, Spark's default, barely
  compresses ``UnsafeRow``s and cached batches; under zstd the
  co-purchase graph benchmark reads ~35% fewer bytes and shuffles ~60%
  fewer, for a few percent more CPU on shuffle-heavy queries.
  Both are SparkContext-level settings, fixed when the context starts,
  so ``ensure_runtime_confs`` cannot apply them to a session someone
  else created; they sit in ``get_spark``'s conf, not in
  ``RUNTIME_CONFS``.
"""

from __future__ import annotations

import logging
import os
import time
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import SparkSession

log = logging.getLogger(__name__)

# Runtime-settable SQL confs that queries depend on. Applied both at
# build time and, via ensure_runtime_confs(), once on sessions we did
# not create (e.g. the correctness driver's session).
RUNTIME_CONFS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # GA querystrings can repeat keys; Python's dict(parse_qsl(...)) in the
    # reference keeps the last occurrence — mirror that in str_to_map.
    "spark.sql.mapKeyDedupPolicy": "LAST_WIN",
    # PySpark 4's DataFrame-debugging call-site capture wraps EVERY
    # DataFrame/Column API call with getActiveSession + conf.get +
    # origin set/clear — ~5 extra py4j round trips per operation, which
    # profiled as ~70% of all driver py4j traffic during plan
    # construction (r13, guide §7.3: driver-side single-threaded work).
    # Costs only call-site enrichment of error messages; plans,
    # results and executor behavior are unchanged.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
}


def _reset_debugging_cache() -> None:
    """PySpark caches the dataFrameDebugging flag process-wide on first
    use; clear it so a conf applied to an externally created session
    (ensure_runtime_confs) still takes effect in that process."""
    try:
        from pyspark.errors import utils as _eu

        _eu._enable_debugging_cache = None
    except Exception:
        pass


# Session conf key marking a session whose RUNTIME_CONFS are applied.
_CONFS_APPLIED = "spark.gaEngine.runtimeConfsApplied"


def ensure_runtime_confs(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs to an externally created session,
    once per session: a session that already has them (from
    ``get_spark`` or an earlier call) is left as it is, so a value its
    owner set since then survives."""
    if spark.conf.get(_CONFS_APPLIED, None) == "true":
        return spark
    return _set_runtime_confs(spark, RUNTIME_CONFS)


def _set_runtime_confs(spark: SparkSession, confs: dict) -> SparkSession:
    for k, v in confs.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # Not runtime-settable in this deployment — keep going; the
            # query-level fallbacks (explicit schemas) still work.
            pass
    spark.conf.set(_CONFS_APPLIED, "true")
    _reset_debugging_cache()
    return spark


def get_spark(
    app_name: str = "ga-spark-engine",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    timezone: str = "Europe/Berlin",
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``master=None`` defers to spark-submit / the environment; tests pass
    ``local[N]``. ``shuffle_partitions=None`` leaves Spark's default in
    place and lets AQE coalesce — on a real cluster you'd size it to
    ~2-3x total cores; locally the bench sets it to the CPU count.
    ``extra_conf`` wins over the defaults here, ``RUNTIME_CONFS``
    included; on a running session only runtime-settable keys change.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None:
        master = os.environ.get("SPARK_GRAFT_MASTER")
    if master:
        builder = builder.master(master)

    conf = dict(RUNTIME_CONFS)
    conf["spark.sql.session.timeZone"] = timezone
    # Parquet writer defaults: compressed, dictionary-encoded columnar out.
    conf["spark.sql.parquet.compression.codec"] = "snappy"
    # Block codec for serialized pins, shuffle and broadcast (see the
    # module docstring). PySpark's SparkContext sets rdd.compress too,
    # but a session built any other way would store pins uncompressed.
    conf["spark.rdd.compress"] = "true"
    conf["spark.io.compression.codec"] = "zstd"
    # Let Spark pick broadcast joins for small dims; AQE refines at runtime.
    conf["spark.sql.autoBroadcastJoinThreshold"] = "64MB"
    if shuffle_partitions is not None:
        conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if extra_conf:
        conf.update(extra_conf)

    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # If we attached to a pre-existing session, still apply runtime
    # confs, each at its value in ``conf``: an ``extra_conf`` value wins
    # for its key
    return _set_runtime_confs(spark, {k: conf[k] for k in RUNTIME_CONFS})


@contextmanager
def job_phase(spark: SparkSession, description: str) -> Iterator[None]:
    """Name the block's Spark jobs ``description`` in the Spark UI and
    the event log (``spark.job.description``), restore the caller's
    description on exit, and log the block's elapsed seconds at INFO."""
    sc = spark.sparkContext
    previous = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(description)
    t0 = time.perf_counter()
    try:
        yield
    finally:
        sc.setJobDescription(previous)  # None clears it
        log.info("%s: %.2f s", description, time.perf_counter() - t0)
