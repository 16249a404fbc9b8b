#!/usr/bin/env python3
"""The repository benchmark: one command, one process, ``local[nproc]``.

    python3 perfbench/run.py --workload ga_daily --seed 1 --seconds 5 --trace 0

Run it from the repository root. It builds its inputs from ``--seed``
inside ``.perfbench_work/`` (removed on exit), times workload passes
for at least ``--seconds``, checks every output, prints each metric by
name with its unit, and ends with one JSON line:
``{"correct", "attempted", "failed", "metrics"}``.

Workloads (see ``workloads.py`` for inputs and checks):

- ``ga_daily``: the nightly CLI job (``__main__.main`` with default
  flags and ``--history``) on a generated day of enriched hits. The
  only workload that parses JSON, sessionizes, recomputes touchpoints
  over history and writes parquet; the graph code does nothing here.
- ``graph_copurchase``: ``community_modularity`` (which runs label
  propagation) and ``part_pagerank``, each built, then executed, with
  the cache cleared between them. Construction-time eager jobs and
  shuffle-heavy rounds over the shared co-purchase edge build dominate;
  no JSON and no writes.

Set-up starts the session, builds the inputs and then runs the workload
once untimed: that first pass in a fresh JVM pays JIT and first-plan
compilation, which the nightly job pays on every run, so its cost is
in ``setup_s``. (``ga_daily``'s set-up also analyzes, without running,
the daily pipeline over the day's input, to type the prior days'
session history.) Passes are then timed until ``--seconds`` have gone
by, at least one.

End-to-end metrics, in the JSON line:

- ``input_mb``: MiB that Spark tasks read in one pass (median over the
  passes made), from Spark's own task metrics: the data the job scans
  from storage, 13 times the day's JSONL on ``ga_daily``;
- ``peak_rss_mb``: driver JVM plus Python resident memory, sampled
  from ``/proc`` during the timed window;
- ``setup_s``: CPU seconds (user plus system, of this process, the
  driver JVM and any Python workers) of session start, input
  generation, history build and the first, cold pass.

Printed with them but not in the JSON line: ``run_s`` and ``run_cpu_s``
(wall and CPU seconds of one warm pass, median over the passes made),
``setup_wall_s``, ``op_p50_s`` (median wall time of one operation: the
daily job, or one query's build plus execution), ``hits_per_s`` on
``ga_daily`` (hits over ``run_s``) and ``failed_frac``. Pass times are
left out of the JSON line because they do not repeat on a shared 4-vCPU
virtual machine: over sets of runs of the same code, the middle half of
a set spread over 5 to 45% of its median, for CPU time as for wall
time, cold pass or warm, since neighbours slow the host for a minute or
more at a time. The job's cost stays bounded through the cold pass in
``setup_s``. Operations that raise or fail their output check count in
``failed`` against ``attempted``.

Per-layer metrics (``--trace 1``): after set-up, the workload is
measured three times, each on a new Spark context in the same JVM:
untraced, then with the event log on and spans around the package's
public functions, then untraced again. The layer metrics come from the
traced measurement, and the end-to-end metric each should move is:

- ``sources.read_enriched_hits_s``, ``sources.load_own_session_history_s``,
  ``sources.append_session_history_s``, ``sources.save_daily_marts_s``,
  ``plans.run_daily_pipeline_s``, ``cli.main_self_s`` (``main`` minus its
  child spans: the six trailing ``count()`` calls): ``run_s`` and
  ``run_cpu_s`` on ``ga_daily``, and ``setup_s`` through its cold pass;
- ``spark.input_scan_ratio`` (input bytes read over the JSONL bytes)
  and ``spark.sql_executions``: ``input_mb`` on ``ga_daily``;
- ``plans.build_s.<query>``, ``plans.build_jobs.<query>``,
  ``operators.exec_s.<query>`` and their sums ``plans.build_s``,
  ``plans.build_jobs``, ``operators.exec_s``, plus
  ``sources.testdata_load_s``: ``run_s`` and ``run_cpu_s`` on
  ``graph_copurchase``, and ``input_mb`` there through the eager
  construction-time jobs, each of which reads the parquet inputs again
  (``spark.input_scan_ratio`` is bytes read over those inputs);
- ``spark.jobs``, ``spark.stages``, ``spark.tasks``, ``spark.task_s``,
  ``spark.slot_busy_frac`` (task time over wall time times cores),
  ``spark.max_task_skew`` (max over median task time in the worst stage
  holding at least 5% of task time), ``spark.shuffle_write_bytes``,
  ``spark.shuffle_read_bytes``, ``spark.spill_bytes``,
  ``spark.input_bytes``, ``spark.output_bytes``: ``run_cpu_s`` on both,
  and ``run_s`` through ``spark.slot_busy_frac`` and skew;
  ``spark.input_bytes`` is ``input_mb`` as the event log counts it;
- ``spark.gc_s``: ``peak_rss_mb`` and ``run_cpu_s`` on both;
- ``session.get_spark_s``: time in ``get_spark`` inside the timed window;
- ``trace.overhead_s``: traced ``run_s`` minus the mean ``run_s`` of the
  untraced measurements made just before and just after it.

Every per-layer metric is printed for every workload; a layer the
workload does not reach reads 0. Span and ``spark.*`` values are per
pass. End-to-end runs use no event log and no spans.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "google_analytics_to_s3_spark"
sys.path[:0] = [HERE, ROOT]

from eventlog import counters, read_events  # noqa: E402
from spans import Tracer  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

GRAPH_QUERIES = ("community_modularity", "part_pagerank")

PER_LAYER = {
    "session.get_spark_s": "s",
    "sources.read_enriched_hits_s": "s",
    "sources.load_own_session_history_s": "s",
    "sources.append_session_history_s": "s",
    "sources.save_daily_marts_s": "s",
    "sources.testdata_load_s": "s",
    "plans.run_daily_pipeline_s": "s",
    "cli.main_self_s": "s",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "operators.exec_s": "s",
    **{f"plans.build_s.{q}": "s" for q in GRAPH_QUERIES},
    **{f"plans.build_jobs.{q}": "count" for q in GRAPH_QUERIES},
    **{f"operators.exec_s.{q}": "s" for q in GRAPH_QUERIES},
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_s": "s",
    "spark.slot_busy_frac": "fraction",
    "spark.max_task_skew": "ratio",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.input_bytes": "bytes",
    "spark.input_scan_ratio": "ratio",
    "spark.output_bytes": "bytes",
    "spark.gc_s": "s",
    "spark.sql_executions": "count",
    "trace.overhead_s": "s",
}

# public functions timed from outside, as (module, attribute, span name)
SPANS = [
    ("session", "get_spark", "session.get_spark"),
    ("sources.ga", "read_enriched_hits", "sources.read_enriched_hits"),
    ("sources.ga", "load_own_session_history", "sources.load_own_session_history"),
    ("sources.ga", "append_session_history", "sources.append_session_history"),
    ("sources.ga", "save_daily_marts", "sources.save_daily_marts"),
    ("sources.testdata", "load_table", "sources.testdata_load"),
    ("sources.testdata", "load_events", "sources.testdata_load"),
    ("sources.testdata", "load_parallel", "sources.testdata_load"),
    ("plans.pipeline", "run_daily_pipeline", "plans.run_daily_pipeline"),
]


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _driver_memory_mb() -> int:
    with open("/proc/meminfo") as f:
        total_kb = int(f.readline().split()[1])
    return min(2048, total_kb // 1024 // 4)


def _rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) / 1024
    except FileNotFoundError:
        pass
    return 0.0


def _cpu_s(root: int) -> float:
    """User plus system CPU seconds of process ``root`` and every process
    descended from it (the driver JVM and any Python workers), reaped
    children included."""
    procs = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:  # exited since the listing
                continue
            procs[int(d)] = (int(fields[1]), sum(map(int, fields[11:15])))
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    tree, todo = [], [root]
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo += children.get(pid, [])
    return sum(procs[p][1] for p in tree if p in procs) / os.sysconf("SC_CLK_TCK")


class RssSampler(threading.Thread):
    """Peak of driver JVM plus Python RSS, sampled every 20 ms."""

    def __init__(self, pids: list[int]):
        super().__init__(daemon=True)
        self.pids = pids
        self.peak = 0.0
        self._stop_evt = threading.Event()

    def run(self):
        while not self._stop_evt.is_set():
            self.peak = max(self.peak, sum(_rss_mb(p) for p in self.pids))
            self._stop_evt.wait(0.02)

    def stop(self) -> float:
        self._stop_evt.set()
        self.join()
        return self.peak


def prepare_env(work: str) -> None:
    """Keep scratch, shuffle and launcher files under ``work`` and let
    the Python workers import the package from the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    # reaches the launcher JVM as well as the driver
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["PYSPARK_PYTHON"] = sys.executable


def start_session(work: str, event_log: str | None = None):
    """``local[nproc]`` sized to this host, with the event log written to
    ``event_log`` when given."""
    from google_analytics_to_s3_spark.session import get_spark

    n = _cores()
    mem = _driver_memory_mb()
    conf = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": f"{mem}m",
        # a fixed heap and young generation, so resident memory follows
        # what the program keeps rather than how the collector resized
        "spark.driver.extraJavaOptions": f"-Xms{mem}m -Xmn{mem // 4}m",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # explicit either way: the session builder keeps options set for
        # an earlier context
        "spark.eventLog.enabled": str(bool(event_log)).lower(),
    }
    if event_log:
        os.makedirs(event_log)
        conf.update({
            "spark.eventLog.dir": "file://" + event_log,
            "spark.eventLog.compress": "false",
        })
    spark = get_spark(app_name="perfbench", master=f"local[{n}]",
                      shuffle_partitions=n, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the driver JVM to exit."""
    proc = spark.sparkContext._gateway.proc
    spark.stop()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def install_spans(tracer: Tracer) -> None:
    import importlib

    for mod, attr, name in SPANS:
        tracer.wrap(importlib.import_module(f"{PACKAGE}.{mod}"), attr, name)
    main_mod = importlib.import_module(f"{PACKAGE}.__main__")
    tracer.wrap(main_mod, "main", "cli.main")


def layer_metrics(tracer: Tracer, wl, passes: int) -> dict[str, float]:
    per = 1.0 / passes
    out = {name: tracer.total(name.removesuffix("_s")) * per
           for name in PER_LAYER
           if name.startswith(("session.", "sources.", "plans.run_daily"))}
    out["cli.main_self_s"] = tracer.self_time("cli.main") * per
    build = exec_ = jobs = 0.0
    for q in GRAPH_QUERIES:
        b = tracer.total(f"plans.build.{q}") * per
        e = tracer.total(f"operators.exec.{q}") * per
        j = getattr(wl, "build_jobs", {}).get(q, 0) * per
        out[f"plans.build_s.{q}"], out[f"operators.exec_s.{q}"] = b, e
        out[f"plans.build_jobs.{q}"] = j
        build, exec_, jobs = build + b, exec_ + e, jobs + j
    out["plans.build_s"], out["operators.exec_s"] = build, exec_
    out["plans.build_jobs"] = jobs
    return out


def one_pass(wl) -> list[tuple[str, float, bool]]:
    """One pass of ``wl``; a pass that raises counts as one failed
    operation, it does not stop the benchmark."""
    t0 = time.perf_counter()
    try:
        return wl.run_once()
    except Exception as e:
        wl.errors.append(f"{type(e).__name__}: {e}"[:500])
        return [("pass", time.perf_counter() - t0, False)]


def _input_bytes(spark) -> int:
    """Bytes Spark tasks have read so far in this context (the driver is
    the only executor in local mode), once queued task events are
    applied."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    execs = sc.statusStore().executorList(True)
    return sum(execs.apply(i).totalInputBytes() for i in range(execs.size()))


def measure(wl, seconds: float, jvm_pid: int) -> dict:
    """Passes of ``wl`` until ``seconds`` have gone by (at least one)."""
    sampler = RssSampler([os.getpid(), jvm_pid])
    sampler.start()
    ops: list[tuple[str, float, bool]] = []
    pass_s: list[float] = []
    cpu_s: list[float] = []
    input_b: list[int] = []
    windows: list[tuple[float, float]] = []
    deadline = time.perf_counter() + seconds
    while True:
        b0 = _input_bytes(wl.spark)
        w0, p0, c0 = time.time() * 1000, time.perf_counter(), _cpu_s(os.getpid())
        ops += one_pass(wl)
        pass_s.append(time.perf_counter() - p0)
        cpu_s.append(_cpu_s(os.getpid()) - c0)
        windows.append((w0, time.time() * 1000))
        input_b.append(_input_bytes(wl.spark) - b0)
        if time.perf_counter() >= deadline:
            break
    return {"ops": ops, "run_s": statistics.median(pass_s),
            "cpu_s": statistics.median(cpu_s),
            "input_mb": statistics.median(input_b) / 2**20, "passes": len(pass_s),
            "windows": windows, "peak_rss_mb": sampler.stop()}


def bench(args, work: str) -> dict:
    """Set up, warm the JVM, time passes, check the outputs.

    Without ``--trace`` one measurement follows the warm-up. With
    ``--trace 1`` three follow instead, each on a new Spark context in
    the same JVM: untraced, traced (event log on, spans installed),
    untraced. The traced one less the mean of the other two is the
    tracing overhead; the layer metrics come from the traced one.
    """
    prepare_env(work)
    c0, t0 = _cpu_s(os.getpid()), time.perf_counter()
    spark = start_session(work)
    try:
        jvm = spark.sparkContext._gateway.proc.pid
        wl = WORKLOADS[args.workload](spark, work, args.seed)
        wl.setup()
        warm = one_pass(wl)  # the cold pass: JIT and first-plan costs
        setup_s = _cpu_s(os.getpid()) - c0
        setup_wall_s = time.perf_counter() - t0
        runs = [{"ops": warm}]
        tracer = traced = None
        if not args.trace:
            runs.append(measure(wl, args.seconds, jvm))
        else:
            # two untraced measurements bracket the traced one, all on a
            # new context, so the restart and the JVM's further warm-up
            # cancel out of the overhead
            for events in (None, os.path.join(work, "events"), None):
                spark.stop()
                spark = wl.spark = start_session(work, events)
                if events is None:
                    runs.append(measure(wl, args.seconds, jvm))
                    continue
                tracer = wl.tracer = Tracer(PACKAGE)
                install_spans(tracer)
                try:
                    traced = measure(wl, args.seconds, jvm)
                finally:
                    tracer.unwrap()
                    wl.tracer = None
                runs.append(traced)
        errors: list[str] = []
        try:
            errors += wl.check()
        except Exception as e:
            errors.append(f"check raised {type(e).__name__}: {e}"[:500])
    finally:
        stop_session(spark)

    ops = [op for r in runs for op in r["ops"]]
    first = runs[1]
    metrics = {
        "input_mb": (first["input_mb"], "MB"),
        "peak_rss_mb": (first["peak_rss_mb"], "MB"),
        "setup_s": (setup_s, "s"),
    }
    extra = {"run_s": (first["run_s"], "s"), "run_cpu_s": (first["cpu_s"], "s"),
             "setup_wall_s": (setup_wall_s, "s"),
             "op_p50_s": (statistics.median(op[1] for op in first["ops"]), "s")}
    if hasattr(wl, "hits"):
        extra["hits_per_s"] = (wl.hits / first["run_s"], "1/s")
    report = metrics
    if args.trace:
        layers = layer_metrics(tracer, wl, traced["passes"])
        layers.update(counters(read_events(os.path.join(work, "events")),
                               traced["windows"], _cores(), wl.input_bytes))
        for k in list(layers):
            if k.startswith("spark.") and k not in (
                    "spark.slot_busy_frac", "spark.max_task_skew"):
                layers[k] /= traced["passes"]
        layers["trace.overhead_s"] = traced["run_s"] - statistics.mean(
            (runs[1]["run_s"], runs[3]["run_s"]))
        report = {k: (layers[k], u) for k, u in PER_LAYER.items()}
    failed = sum(not op[2] for op in ops) + len(errors)
    return {
        "report": report,
        "e2e": {**metrics, **extra},
        "attempted": len(ops),
        "failed": min(failed, len(ops)),
        "errors": wl.errors + errors,
        "describe": wl.describe(),
    }


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args(argv)

    # the checkout must hold the package: fail before starting anything
    try:
        __import__(PACKAGE)
    except ImportError as e:
        print(f"perfbench: cannot import {PACKAGE} from {ROOT}: {e}",
              file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    try:
        res = bench(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass

    for err in res["errors"]:
        print(f"# failed: {err}")
    print(f"# {args.workload} seed={args.seed} {json.dumps(res['describe'])}")
    for name, (value, unit) in res["e2e"].items():
        print(f"{args.workload} {name} {value:.6g} {unit}")
    print(f"{args.workload} failed_frac {res['failed'] / res['attempted']:.6g} "
          f"({res['failed']}/{res['attempted']})")
    if args.trace:
        for name, (value, unit) in res["report"].items():
            print(f"{args.workload} {name} {value:.6g} {unit}")
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in res["report"].items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
