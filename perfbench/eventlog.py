"""Spark event-log reader (stdlib only).

The benchmark's traced runs start their session with
``spark.eventLog.enabled=true`` and ``spark.eventLog.compress=false``
(zstandard, the default codec's Python reader, is not assumed). Spark 4
may write either one file per application or a rolling
``eventlog_v2_<app>/events_<n>_<app>`` directory; both are read here.

:func:`counters` turns the events that fall inside given wall-clock
windows into the ``spark.*`` metrics: jobs, stages, tasks, task time,
slot occupancy, worst heavy-stage skew, shuffle, spill, input, output,
GC time and SQL executions.
"""

from __future__ import annotations

import json
import os
import re
import statistics


def _log_files(log_dir: str) -> list[str]:
    files = []
    for entry in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, entry)
        if os.path.isdir(path) and entry.startswith("eventlog_v2_"):
            parts = [p for p in os.listdir(path) if p.startswith("events_")]
            parts.sort(key=lambda p: int(re.match(r"events_(\d+)_", p).group(1)))
            files += [os.path.join(path, p) for p in parts]
        elif os.path.isfile(path):
            files.append(path)
    return files


def read_events(log_dir: str) -> list[dict]:
    """Every event of every application log under ``log_dir``."""
    events = []
    for path in _log_files(log_dir):
        with open(path) as f:
            for line in f:
                line = line.strip()
                if line:
                    events.append(json.loads(line))
    return events


def _inside(t_ms: float, windows: list[tuple[float, float]]) -> bool:
    return any(a <= t_ms <= b for a, b in windows)


def counters(events: list[dict], windows: list[tuple[float, float]],
             cores: int, input_bytes_ref: int | None) -> dict[str, float]:
    """``spark.*`` counters over the events inside ``windows``.

    Windows are (start, end) pairs of epoch milliseconds. A task belongs
    to a window by its launch time, a job by its submission time, an SQL
    execution by its start time. ``input_bytes_ref`` is the size of the
    workload's raw input; the scan ratio is bytes read over it (0 when
    the workload has no such input).
    """
    jobs = stages = sql = 0
    task_ms: dict[tuple[int, int], list[float]] = {}
    tot = dict.fromkeys(("run_ms", "gc_ms", "shuffle_w", "shuffle_r", "spill",
                         "input", "output"), 0.0)
    for ev in events:
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            if _inside(ev.get("Submission Time", 0), windows):
                jobs += 1
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            if _inside(info.get("Submission Time", 0), windows):
                stages += 1
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            if _inside(ev.get("time", 0), windows):
                sql += 1
        elif kind == "SparkListenerTaskEnd":
            info = ev["Task Info"]
            if not _inside(info["Launch Time"], windows):
                continue
            m = ev.get("Task Metrics") or {}
            run = float(m.get("Executor Run Time", 0))
            key = (ev["Stage ID"], ev.get("Stage Attempt ID", 0))
            task_ms.setdefault(key, []).append(run)
            tot["run_ms"] += run
            tot["gc_ms"] += m.get("JVM GC Time", 0)
            tot["spill"] += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            tot["shuffle_r"] += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0)
            tot["shuffle_w"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
            tot["input"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            tot["output"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
    wall_ms = sum(b - a for a, b in windows)
    # skew only over stages holding at least 5% of all task time: the
    # ratio of a stage of a few 1-ms tasks is noise, not skew
    heavy = [t for t in task_ms.values()
             if len(t) > 1 and sum(t) >= 0.05 * tot["run_ms"]]
    skew = max((max(t) / max(1.0, statistics.median(t)) for t in heavy),
               default=1.0)
    return {
        "spark.jobs": jobs,
        "spark.stages": stages,
        "spark.tasks": sum(len(t) for t in task_ms.values()),
        "spark.task_s": tot["run_ms"] / 1000,
        "spark.slot_busy_frac": tot["run_ms"] / max(1.0, wall_ms * cores),
        "spark.max_task_skew": skew,
        "spark.shuffle_write_bytes": tot["shuffle_w"],
        "spark.shuffle_read_bytes": tot["shuffle_r"],
        "spark.spill_bytes": tot["spill"],
        "spark.input_bytes": tot["input"],
        "spark.input_scan_ratio": (tot["input"] / input_bytes_ref
                                   if input_bytes_ref else 0.0),
        "spark.output_bytes": tot["output"],
        "spark.gc_s": tot["gc_ms"] / 1000,
        "spark.sql_executions": sql,
    }
