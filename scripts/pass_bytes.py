#!/usr/bin/env python3
"""Where one pass of a benchmark workload reads, shuffles and spends
task time, by Spark job description.

    python3 scripts/pass_bytes.py --workload graph_copurchase --seed 1

Run it from the repository root. It sets up a ``perfbench`` workload
the way ``perfbench/run.py`` does (its ``prepare_env`` and
``start_session``, with the event log on), runs one cold pass and one
warm pass, and reads the event log back with ``perfbench/eventlog.py``.
It times nothing and checks nothing; the benchmark's own numbers come
from ``perfbench/run.py``.

Per pass it prints two tables:

- per job description (a job without one is grouped under the call
  site of its last stage, e.g. ``collect at ...``): jobs, input MiB,
  shuffle-write MiB and task seconds;
- every stage that read input (parquet or a pinned table): its
  description, stage id and name, tasks and input MiB, so one read of
  a pin is one row.

Operators name their phases with ``session.job_phase`` (``pagerank:
round 1``); the tables are only as fine as those names. The scratch
inputs live in ``.perfbench_work/`` and are removed on exit.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [ROOT, os.path.join(ROOT, "perfbench")]

from eventlog import read_events  # noqa: E402  (perfbench/eventlog.py)
from run import prepare_env, start_session, stop_session  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

MIB = 2**20


def _job_desc(ev: dict) -> str:
    """A job's description, or the call site of its last stage."""
    desc = (ev.get("Properties") or {}).get("spark.job.description")
    stages = ev.get("Stage Infos") or []
    if not desc and stages:
        desc = max(stages, key=lambda s: s["Stage ID"]).get("Stage Name")
    return desc or "?"


def _stage_owner(events: list[dict]) -> dict[int, str]:
    """Stage id -> description of the first job that lists it; later
    jobs that list it skip it."""
    owner: dict[int, str] = {}
    for ev in events:
        if ev.get("Event") == "SparkListenerJobStart":
            for sid in ev.get("Stage IDs", []):
                owner.setdefault(sid, _job_desc(ev))
    return owner


def pass_tables(events: list[dict], window: tuple[float, float]):
    """(per-description rows, per-stage read rows) for the tasks launched
    inside ``window`` (epoch ms)."""
    owner = _stage_owner(events)
    names = {}
    for ev in events:
        if ev.get("Event") == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            names[info["Stage ID"]] = info.get("Stage Name", "?")
    by_desc: dict[str, dict] = {}
    by_stage: dict[int, dict] = {}
    jobs: dict[str, set] = {}
    for ev in events:
        if ev.get("Event") == "SparkListenerJobStart":
            if window[0] <= ev.get("Submission Time", 0) <= window[1]:
                jobs.setdefault(_job_desc(ev), set()).add(ev["Job ID"])
        if ev.get("Event") != "SparkListenerTaskEnd":
            continue
        if not window[0] <= ev["Task Info"]["Launch Time"] <= window[1]:
            continue
        sid = ev["Stage ID"]
        desc = owner.get(sid, "?")
        m = ev.get("Task Metrics") or {}
        inp = (m.get("Input Metrics") or {}).get("Bytes Read", 0)
        shw = (m.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0)
        run = m.get("Executor Run Time", 0) / 1000
        row = by_desc.setdefault(desc, {"input": 0, "shuffle": 0, "task_s": 0.0})
        row["input"] += inp
        row["shuffle"] += shw
        row["task_s"] += run
        st = by_stage.setdefault(sid, {"desc": desc, "tasks": 0, "input": 0})
        st["tasks"] += 1
        st["input"] += inp
    for d, row in by_desc.items():
        row["jobs"] = len(jobs.get(d, ()))
    reads = [(sid, names.get(sid, "?"), st) for sid, st in sorted(by_stage.items())
             if st["input"] > 0]
    return by_desc, reads


def print_pass(label: str, by_desc: dict, reads: list) -> None:
    print(f"\n== {label} pass")
    print(f"{'description':60s} {'jobs':>4s} {'input MiB':>10s} "
          f"{'shuffle MiB':>11s} {'task s':>7s}")
    tot = {"input": 0, "shuffle": 0, "task_s": 0.0, "jobs": 0}
    for d, row in sorted(by_desc.items(), key=lambda kv: -kv[1]["input"]):
        print(f"{d[:60]:60s} {row['jobs']:4d} {row['input'] / MIB:10.3f} "
              f"{row['shuffle'] / MIB:11.3f} {row['task_s']:7.2f}")
        for k in tot:
            tot[k] += row[k]
    print(f"{'total':60s} {tot['jobs']:4d} {tot['input'] / MIB:10.3f} "
          f"{tot['shuffle'] / MIB:11.3f} {tot['task_s']:7.2f}")
    print(f"\n{'reads: description':40s} {'stage':>5s} {'name':40s} "
          f"{'tasks':>5s} {'input MiB':>10s}")
    for sid, name, st in reads:
        print(f"{st['desc'][:40]:40s} {sid:5d} {name[:40]:40s} "
              f"{st['tasks']:5d} {st['input'] / MIB:10.3f}")


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, default=1)
    args = p.parse_args(argv)

    work = os.path.join(ROOT, ".perfbench_work", f"pass_bytes-{os.getpid()}")
    os.makedirs(work)
    try:
        prepare_env(work)
        log_dir = os.path.join(work, "events")
        spark = start_session(work, log_dir)
        windows = []
        try:
            wl = WORKLOADS[args.workload](spark, work, args.seed)
            wl.setup()
            for _ in ("cold", "warm"):
                w0 = time.time() * 1000
                wl.run_once()
                windows.append((w0, time.time() * 1000))
            errors = wl.errors
        finally:
            stop_session(spark)
        events = read_events(log_dir)
        for label, window in zip(("cold", "warm"), windows):
            print_pass(label, *pass_tables(events, window))
        for e in errors:
            print(f"error: {e}", file=sys.stderr)
        return 1 if errors else 0
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass


if __name__ == "__main__":
    sys.exit(main())
