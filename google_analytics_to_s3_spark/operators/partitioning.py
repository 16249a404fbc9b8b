"""Partition sizing: the one module that decides how many partitions an
operator's input or round table gets. Both rules size from numbers the
code already holds (Dremel, VLDB 2020, re-partitions from runtime
statistics rather than fixed settings); neither touches session conf.

- :func:`spread_if_narrow` (scan side): a single unsplittable row group
  scans as fewer partitions than cores, so compute-dense per-row work
  would run on one core. The spread is gated by the scan's own
  partition count, read from file metadata without running a job.
- :func:`_adaptive_parts` (iterative rounds): round tables are node or
  edge grain, often a few thousand rows, where a many-partition stage
  is mostly task-scheduling overhead. The count follows the row counts
  the convergence aggregates already return, so it grows back to full
  parallelism with data size; callers apply it in the plan with an
  explicit ``repartition(parts, key)``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

# ~64k narrow id-pair rows per task (a few MB)
ROWS_PER_TASK = 65536

# Physical-plan tokens of anything that runs a job when the plan is
# turned into an RDD: under AQE every shuffle, broadcast or subquery
# plan is wrapped in AdaptiveSparkPlan, whose toRdd executes its
# stages; without AQE a broadcast join still collects its build side.
_JOB_TOKENS = ("AdaptiveSparkPlan", "Exchange", "Subquery")


def _adaptive_parts(sc, rows: int) -> int:
    return max(1, min(sc.defaultParallelism, -(-int(rows) // ROWS_PER_TASK)))


def spread_if_narrow(df: DataFrame, *keys) -> DataFrame:
    """Hash-repartition a scan across the default parallelism when it
    yields fewer partitions than that (round-robin without ``keys``).

    Scan-only by construction: a plan holding a shuffle, broadcast or
    subquery is returned unchanged without probing, because reading its
    partition count would execute those stages at planning time — and
    an already-shuffled input is parallel anyway. On a scan the probe is
    driver-side file metadata only.
    """
    qe = df._jdf.queryExecution()
    plan = qe.executedPlan().toString()
    if any(tok in plan for tok in _JOB_TOKENS):
        return df
    p = df.sparkSession.sparkContext.defaultParallelism
    if qe.toRdd().getNumPartitions() >= p:
        return df
    return df.repartition(p, *keys) if keys else df.repartition(p)
