#!/usr/bin/env python3
"""Optimization-round profiling harness (guide §1).

Times, for each named query: DataFrame construction (driver/py4j) and
noop-sink execution (guide §1.4). Each query also reports, for its last
repetition (construction plus execution), the Spark job count and
``input_mb``: the MiB Spark tasks read, from the status store's
``totalInputBytes`` through the repository benchmark's own helper
(``perfbench/run.py``). A row-format cache or checkpoint shows up there
as a read many times the size of its input files. Plan shapes live in
``tests/plan_signatures.json`` (``python -m tests.plan_signature``).

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
        sc = spark.sparkContext
        for rep in range(args.reps):
            group = f"opt: {name} #{rep}"
            sc.setJobGroup(group, f"opt: {name}")
            b0 = _input_bytes(spark)
            t0 = time.perf_counter()
            df = dq.QUERIES[name](spark, args.sf_dir)
            t1 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            best_build = min(best_build, t1 - t0)
            best_exec = min(best_exec, t2 - t1)
            jobs = len(sc.statusTracker().getJobIdsForGroup(group))
            input_mb = (_input_bytes(spark) - b0) / 2**20
            spark.catalog.clearCache()
        out[name] = {"build": round(best_build, 3), "exec": round(best_exec, 3), "jobs": jobs,
                     "input_mb": round(input_mb, 3)}
        print(f"{name:40s} build={best_build:7.3f}  exec={best_exec:7.3f}  jobs={jobs}"
              f"  input_mb={input_mb:8.3f}", flush=True)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
