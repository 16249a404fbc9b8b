"""Daily-job entrypoint — the reference's EP3 ``main()``
(sessionization/main.py:1335-1390) as a CLI over the library:

    python -m google_analytics_to_s3_spark \\
        --input  /data/enriched/ga/year=2026/month=08/day=13 \\
        --output /data/aggregated/ga/daily \\
        --history /data/aggregated/ga/sessions_history \\
        --date 2026-08-13

Reads the day's enriched JSONL hits with the explicit 266-column
schema (S1 — no RDD normalizer) and builds the hit-grain export
(sessionize → attribution → unpivot) once: the export is cached in
serialized form (``operators/pins.serialized_cache``, so each mart
write reads the compact bytes, not in-heap batches), the six GA360
marts are derived from it (touchpoints recomputed over history ∪
today when --history is given), and it is released in a ``finally``
once they are written. Each mart is filtered to the job date (P5, as
``to_date(timestamp) = date`` instead of the reference's string
``contains``) and written under Hive-style
``type=X/year=Y/month=M/day=D`` (S4) so downstream reads
partition-prune natively. The sessions mart just written is then
appended to the history table (S3): a run that fails on a mart write
leaves the history untouched, and the touchpoints are not computed a
second time. Row counts come from an ``Observation`` on each written
mart, counted while it is written instead of by a second job.

Each phase's Spark jobs carry a description (``daily: write mart
pageviews``) in the Spark UI and event log, and each phase logs its
elapsed seconds at INFO. The last stdout line is the
``{"date": ..., "rows": {...}}`` dict.
"""

from __future__ import annotations

import argparse
import logging

from pyspark.sql import functions as F


def _query_main(argv: list[str]) -> None:
    """``query`` subcommand: run any registered analytics query.

        python -m google_analytics_to_s3_spark query list
        python -m google_analytics_to_s3_spark query pricing_summary \\
            --sf-dir /root/testdata/sf0.01 --limit 20
        python -m google_analytics_to_s3_spark query rfm_segments \\
            --sf-dir /data/tables --out /data/marts/rfm
    """
    p = argparse.ArgumentParser(
        prog="python -m google_analytics_to_s3_spark query",
        description="Run a registered query from the analytics registry.",
    )
    p.add_argument("name", help="query name, or 'list' to enumerate")
    p.add_argument("--sf-dir", default="/root/testdata/sf0.01",
                   help="directory holding the parquet tables")
    p.add_argument("--limit", type=int, default=20,
                   help="rows to show when --out is not given")
    p.add_argument("--out", default=None,
                   help="write the full result as parquet here instead "
                        "of showing rows")
    p.add_argument("--master", default=None,
                   help="Spark master override (default: session config)")
    args = p.parse_args(argv)

    from .plans import driver_queries as dq

    if args.name == "list":
        for n in sorted(dq.QUERIES):
            print(n)
        return
    if args.name not in dq.QUERIES:
        raise SystemExit(
            f"unknown query {args.name!r}; "
            f"run 'query list' for the {len(dq.QUERIES)} available"
        )

    from .session import get_spark

    spark = (
        get_spark(master=args.master) if args.master else get_spark()
    )
    df = dq.QUERIES[args.name](spark, args.sf_dir)
    if args.out:
        from .streaming.monitoring import observe_scan_metrics

        obs, df = observe_scan_metrics(df, args.name)
        df.write.mode("overwrite").parquet(args.out)
        print({"query": args.name, "out": args.out,
               "rows": obs.get["n_rows"]})
    else:
        df.show(args.limit, truncate=False)


def main(argv: list[str] | None = None) -> None:
    if argv is None:
        import sys as _sys

        argv = _sys.argv[1:]
    argv = list(argv)
    if argv and argv[0] == "query":
        return _query_main(argv[1:])
    p = argparse.ArgumentParser(
        prog="python -m google_analytics_to_s3_spark",
        description="Run the daily GA sessionization/export job.",
    )
    p.add_argument("--input", required=True,
                   help="enriched JSONL path/glob for the day")
    p.add_argument("--output", required=True,
                   help="base dir for the six daily marts")
    p.add_argument("--date", required=True, help="job date YYYY-MM-DD")
    p.add_argument("--history", default=None,
                   help="session-history parquet dir (read + appended)")
    p.add_argument("--master", default=None,
                   help="Spark master override (default: session config)")
    p.add_argument("--hot-visitor-min-hits", type=int, default=None,
                   help="hot/cold split threshold for skewed visitors")
    p.add_argument("--no-day-filter", action="store_true",
                   help="keep hits of every date in the outputs")
    args = p.parse_args(argv)

    from .operators.pins import serialized_cache
    from .plans.pipeline import daily_marts, hit_export
    from .session import get_spark, job_phase
    from .sources.ga import (
        append_session_history,
        load_own_session_history,
        mart_path,
        read_enriched_hits,
        save_daily_marts,
    )
    from .streaming.monitoring import observe_scan_metrics

    spark = (
        get_spark(master=args.master) if args.master else get_spark()
    )
    hits = read_enriched_hits(spark, args.input)
    history = None
    if args.history:
        with job_phase(spark, "daily: load history"):
            history = load_own_session_history(spark, args.history)
    export = serialized_cache(hit_export(hits, args.hot_visitor_min_hits))
    try:
        marts = daily_marts(export, history)
        if not args.no_day_filter:
            marts = {
                name: df.filter(
                    F.to_date("timestamp") == F.lit(args.date).cast("date")
                )
                for name, df in marts.items()
            }
        observed = {}
        for name, df in marts.items():
            observed[name], df = observe_scan_metrics(df, f"mart_{name}")
            with job_phase(spark, f"daily: write mart {name}"):
                save_daily_marts({name: df}, args.output, args.date)
        if args.history:
            written = spark.read.schema(marts["sessions"].schema).parquet(
                mart_path(args.output, "sessions", args.date)
            )
            with job_phase(spark, "daily: append history"):
                append_session_history(written, args.history)
    finally:
        export.unpersist()
    rows = {name: obs.get["n_rows"] for name, obs in observed.items()}
    print({"date": args.date, "rows": rows})


if __name__ == "__main__":
    logging.basicConfig(format="%(asctime)s %(levelname)s %(name)s: %(message)s")
    logging.getLogger("google_analytics_to_s3_spark").setLevel(logging.INFO)
    main()
