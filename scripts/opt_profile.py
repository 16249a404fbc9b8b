#!/usr/bin/env python3
"""Optimization-round profiling harness (guide §1).

Times, for each named query: DataFrame construction (driver/py4j) and
noop-sink execution (guide §1.4), the best over ``--reps``. Each query
also reports the Spark job count of its last repetition and, over every
repetition (construction plus execution), the least and most of:

- ``input_mb``: the MiB Spark tasks read, from the status store's
  ``totalInputBytes`` through the repository benchmark's own helper
  (``perfbench/run.py``). A row-format cache or checkpoint shows up
  there as a read many times the size of its input files.
- ``shuffle_mb``: the MiB of shuffle blocks tasks wrote, from the
  status store's ``totalShuffleWrite``, read the same way. It moves
  with the block codec (``spark.io.compression.codec``).

``input_mb``/``shuffle_mb`` are the least, ``input_mb_max``/
``shuffle_mb_max`` the most; they differ where a query's bytes do not
repeat on identical code. Plan shapes live in
``tests/plan_signatures.json`` (``python -m tests.plan_signature``).

Each per-query line starts with the wall-clock time it finished, as
``HH:MM:SS`` like the time in Spark's stderr log lines: a log line
stamped between two query lines came from the second one's query.

Usage:
    python scripts/opt_profile.py [--reps N] name [name ...]
    python scripts/opt_profile.py --all          # every benchable query
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [ROOT, os.path.join(ROOT, "perfbench")]

from google_analytics_to_s3_spark.plans import driver_queries as dq  # noqa: E402
from google_analytics_to_s3_spark.session import get_spark  # noqa: E402
from run import _input_bytes  # noqa: E402  (perfbench/run.py)


def _shuffle_write_bytes(spark) -> int:
    """Shuffle bytes Spark tasks have written so far in this context,
    read like ``_input_bytes``."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    execs = sc.statusStore().executorList(True)
    return sum(execs.apply(i).totalShuffleWrite() for i in range(execs.size()))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument("--all", action="store_true")
    ap.add_argument("--reps", type=int, default=1)
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    args = ap.parse_args()

    names = sorted(set(dq.QUERIES) - {"streaming_sessions"}) if args.all else args.names
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark(
        app_name="opt-profile",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    # warm the JVM the same way bench.py does
    dq.QUERIES["hit_type_mapping"](spark, args.sf_dir).write.format("noop").mode("overwrite").save()

    out = {}
    for name in names:
        if name not in dq.QUERIES:
            print(f"!! unknown query {name}", file=sys.stderr)
            continue
        best_build = best_exec = float("inf")
        input_mb, shuffle_mb = [], []
        sc = spark.sparkContext
        for rep in range(args.reps):
            group = f"opt: {name} #{rep}"
            sc.setJobGroup(group, f"opt: {name}")
            b0, s0 = _input_bytes(spark), _shuffle_write_bytes(spark)
            t0 = time.perf_counter()
            df = dq.QUERIES[name](spark, args.sf_dir)
            t1 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            best_build = min(best_build, t1 - t0)
            best_exec = min(best_exec, t2 - t1)
            jobs = len(sc.statusTracker().getJobIdsForGroup(group))
            input_mb.append((_input_bytes(spark) - b0) / 2**20)
            shuffle_mb.append((_shuffle_write_bytes(spark) - s0) / 2**20)
            spark.catalog.clearCache()
        out[name] = {"build": round(best_build, 3), "exec": round(best_exec, 3), "jobs": jobs,
                     "input_mb": round(min(input_mb), 3), "input_mb_max": round(max(input_mb), 3),
                     "shuffle_mb": round(min(shuffle_mb), 3),
                     "shuffle_mb_max": round(max(shuffle_mb), 3)}
        print(f"{time.strftime('%H:%M:%S')} {name:40s} build={best_build:7.3f}  exec={best_exec:7.3f}  jobs={jobs}"
              f"  input_mb={min(input_mb):8.3f}-{max(input_mb):.3f}"
              f"  shuffle_mb={min(shuffle_mb):8.3f}-{max(shuffle_mb):.3f}", flush=True)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
