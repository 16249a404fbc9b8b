"""The benchmark's workloads: set-up, one pass, output checks.

A workload's ``run_once`` is one pass (the first, untimed, warms the
JVM); it returns the pass's operations as ``(name, seconds, ok)`` and
notes why an operation failed in ``errors``. ``check`` runs after the
timed window and returns one message per operation that ran but whose
output is wrong. Inputs depend only on the seed.
"""

from __future__ import annotations

import ast
import contextlib
import datetime as _dt
import hashlib
import io
import os
import random
import shutil
import time

import gaday

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


# ---------------------------------------------------------------- ga_daily

class GaDaily:
    """The nightly CLI job, in-process: ``__main__.main`` with default
    flags and ``--history`` over one generated day of enriched hits."""

    DATE = "2024-06-12"
    PRIOR = ("2024-06-10", "2024-06-11")
    HITS = 6000           # ~3.6 MB of JSONL; the job's cost is mostly per-plan

    def __init__(self, spark, work: str, seed: int):
        self.spark, self.seed = spark, seed
        self.inp = os.path.join(work, "in", "day.jsonl")
        self.out = os.path.join(work, "marts")
        self.hist = os.path.join(work, "history")
        self.hist0 = os.path.join(work, "history0")
        self.errors: list[str] = []
        self.last_ok = False

    def setup(self) -> None:
        os.makedirs(os.path.dirname(self.inp))
        hits = gaday.generate_day(self.seed, self.DATE, self.HITS)
        self.input_bytes = gaday.write_jsonl(hits, self.inp)
        self.hits = len(hits)
        prior = []
        for i, d in enumerate(self.PRIOR):
            day = gaday.generate_day(self.seed, d, self.HITS // 2, tag=f"h{i}")
            prior += [h for h in day
                      if gaday.local_date(int(h["received_at_apig"])) == d]
        history = gaday.sessions(prior)
        self._write_history(history)
        per_visitor: dict[str, int] = {}
        for s in history:
            per_visitor[s["cid"]] = per_visitor.get(s["cid"], 0) + 1
        self.truth = gaday.ground_truth(hits, self.DATE, per_visitor)

    def _write_history(self, sessions: list[dict]) -> None:
        """Prior days' sessions, typed as the engine's own sessions mart
        (its analyzed schema; no Spark job runs), so the timed job finds
        the history that earlier nights would have left."""
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_schema

        from google_analytics_to_s3_spark.plans.pipeline import run_daily_pipeline
        from google_analytics_to_s3_spark.sources.ga import read_enriched_hits

        schema = to_arrow_schema(run_daily_pipeline(
            read_enriched_hits(self.spark, self.inp))["sessions"].schema)
        rows = [_history_row(s) for s in sessions]
        cols = {f.name: pa.array([_coerce(r.get(f.name), f) for r in rows],
                                 type=f.type) for f in schema}
        os.makedirs(self.hist0)
        # no dictionary pages: Spark's vectorized reader fails on the
        # empty dictionary pyarrow writes for an all-null string column
        pq.write_table(pa.table(cols, schema=schema),
                       os.path.join(self.hist0, "part-00000.parquet"),
                       use_dictionary=False)

    def run_once(self) -> list[tuple[str, float, bool]]:
        shutil.rmtree(self.out, ignore_errors=True)
        shutil.rmtree(self.hist, ignore_errors=True)
        shutil.copytree(self.hist0, self.hist)
        from google_analytics_to_s3_spark.__main__ import main

        buf = io.StringIO()
        t0 = time.perf_counter()
        with contextlib.redirect_stdout(buf):
            main(["--input", self.inp, "--output", self.out,
                  "--history", self.hist, "--date", self.DATE])
        dt = time.perf_counter() - t0
        rows = ast.literal_eval(buf.getvalue().strip().splitlines()[-1])["rows"]
        self.last_ok = rows == self.truth["rows"]
        if not self.last_ok:
            self.errors.append(f"rows {rows} != truth {self.truth['rows']}")
        return [("daily_job", dt, self.last_ok)]

    def check(self) -> list[str]:
        """Deeper check of the last pass's written marts: sessions,
        touchpoints, transactions and both revenue totals."""
        from pyspark.sql import functions as F

        if not self.last_ok:
            return []

        y, m, d = self.DATE.split("-")
        part = f"year={y}/month={m}/day={d}"
        read = self.spark.read.parquet
        s = read(f"{self.out}/type=sessions/{part}").agg(
            F.count("*"), F.sum("totals_transactionRevenue"),
            F.sum(F.size("touchpoints"))).first()
        t = read(f"{self.out}/type=transactions/{part}").agg(
            F.count("*"),
            F.sum(F.col("hits_transaction_transactionRevenue").cast("double")),
        ).first()
        got = (s[0], round(s[1] or 0.0, 2), s[2], t[0], round(t[1] or 0.0, 2))
        want = (self.truth["rows"]["sessions"], self.truth["session_revenue"],
                self.truth["touchpoints"], self.truth["transactions"],
                self.truth["transaction_revenue"])
        return [f"marts {got} != truth {want}"] if got != want else []

    def describe(self) -> dict:
        return {"hits": self.hits, "jsonl_bytes": self.input_bytes,
                "truth": self.truth}


def _history_row(s: dict) -> dict:
    start = s["start_ms"]
    return {
        "fullVisitorId": s["cid"],
        "visitId": hashlib.sha1(
            f"{s['cid']}{start}{s['end_ms']}".encode()).hexdigest(),
        "visitNumber": s["number"],
        "visitStartTime": start,
        "date": s["date"].replace("-", ""),
        "timestamp": _dt.datetime.fromtimestamp(start / 1000, _dt.timezone.utc),
        "trafficSource_source": s["source"],
        "trafficSource_medium": s["medium"],
        "geoNetwork_country": s["country"],
        "device_browser": s["browser"],
        "totals_transactionRevenue": s["revenue"],
        "landingPage": s["landing"],
        "hits_type": "PAGE",
    }


def _coerce(v, field):
    """``v`` as a value of the arrow ``field``; a required field gets its
    type's zero value where the record has none."""
    import pyarrow as pa

    t = field.type
    if v is None:
        if field.nullable:
            return None
        v = ("" if pa.types.is_string(t) else [] if pa.types.is_list(t)
             else False if pa.types.is_boolean(t) else 0)
    if pa.types.is_list(t):
        return v
    if pa.types.is_integer(t):
        return int(v)
    if pa.types.is_floating(t):
        return float(v)
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return str(v)
    if pa.types.is_timestamp(t) or pa.types.is_boolean(t):
        return v
    return None


# -------------------------------------------------------- graph_copurchase

class GraphCopurchase:
    """Co-purchase graph queries over a seeded half of the sf0.01 order
    lines: each is built, then executed to the driver.

    ``label_propagation`` is not run on its own: ``community_modularity``
    scores the label-propagation partition, so it runs that code too.
    """

    QUERIES = ("community_modularity", "part_pagerank")
    DROP_ORDERS = 0.5

    def __init__(self, spark, work: str, seed: int):
        self.spark, self.seed = spark, seed
        self.tracer = None  # set for traced passes
        self.sf = os.path.join(work, "sf")
        self.results: list[tuple[str, list, list]] = []
        self.errors: list[str] = []
        self.build_jobs = dict.fromkeys(self.QUERIES, 0)

    def setup(self) -> None:
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        os.makedirs(self.sf)
        shutil.copy(os.path.join(DATA, "part.parquet"), self.sf)
        li = pq.read_table(os.path.join(DATA, "lineitem.parquet"))
        keys = sorted(set(li.column("l_orderkey").to_pylist()))
        rng = random.Random(self.seed)
        drop = rng.sample(keys, int(len(keys) * self.DROP_ORDERS))
        col = li.column("l_orderkey")
        li = li.filter(pc.invert(pc.is_in(
            col, value_set=pa.array(drop, type=col.type))))
        pq.write_table(li, os.path.join(self.sf, "lineitem.parquet"))
        self.lines = li.num_rows
        self.input_bytes = sum(os.path.getsize(os.path.join(self.sf, f))
                               for f in os.listdir(self.sf))

    def run_once(self) -> list[tuple[str, float, bool]]:
        from google_analytics_to_s3_spark.plans import driver_queries as dq

        ops = []
        for name in self.QUERIES:
            jobs0 = self._job_ids()
            t0 = time.perf_counter()
            try:
                with _maybe(self.tracer, "plans.build." + name):
                    df = dq.QUERIES[name](self.spark, self.sf)
                built = self._job_ids() - jobs0
                with _maybe(self.tracer, "operators.exec." + name):
                    rows = [tuple(r) for r in df.collect()]
                dt = time.perf_counter() - t0
            except Exception as e:  # counted as a failed query, not fatal
                ops.append((name, time.perf_counter() - t0, False))
                self.errors.append(f"{name}: {type(e).__name__}: {e}"[:500])
                continue
            finally:
                self.spark.catalog.clearCache()
            ops.append((name, dt, True))
            self.results.append((name, df.columns, rows))
            self.build_jobs[name] += len(built)
        return ops

    def _job_ids(self) -> set[int]:
        # only traced runs count construction-time jobs: the py4j calls
        # stay out of the untraced timings
        if self.tracer is None:
            return set()
        return set(self.spark.sparkContext.statusTracker().getJobIdsForGroup(None))

    def check(self) -> list[str]:
        """Each result against its ``dq.ORACLES`` SQL in DuckDB over the
        same parquet files: same columns, same rows in any order."""
        from google_analytics_to_s3_spark.plans import driver_queries as dq

        expected = {q: oracle(dq.ORACLES[q], self.sf) for q in self.QUERIES}
        bad = []
        for name, cols, rows in self.results:
            why = compare((cols, rows), expected[name])
            if why:
                bad.append(f"{name}: {why}")
        return bad

    def describe(self) -> dict:
        return {"lineitem_rows": self.lines, "parquet_bytes": self.input_bytes}


@contextlib.contextmanager
def _maybe(tracer, name):
    if tracer is None:
        yield
    else:
        with tracer.span(name):
            yield


# ------------------------------------------------------------ oracle check
# Normalisation and ordering are the test suite's own (``tests/oracle.py``);
# only the tables the workload wrote get a view, and the Spark rows were
# collected during the timed pass.

def oracle(sql: str, sf_dir: str) -> tuple[list[str], list[tuple]]:
    """Columns and rows of ``sql`` in DuckDB over the parquet tables in
    ``sf_dir``."""
    import duckdb

    con = duckdb.connect()
    try:
        for f in sorted(os.listdir(sf_dir)):
            if f.endswith(".parquet"):
                con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                            f"read_parquet('{os.path.join(sf_dir, f)}')")
        cur = con.execute(sql)
        return [d[0] for d in cur.description], cur.fetchall()
    finally:
        con.close()


def compare(got, want) -> str | None:
    """None when two (columns, rows) results are equal up to column and
    row order, else why not."""
    from tests.oracle import _table

    s_cols, s_tab = _table(*got)
    d_cols, d_tab = _table(*want)
    if s_cols != d_cols:
        return f"columns {s_cols} != {d_cols}"
    if len(s_tab) != len(d_tab):
        return f"{len(s_tab)} rows != {len(d_tab)}"
    diff = [(a, b) for a, b in zip(s_tab, d_tab) if a != b]
    return f"{len(diff)} rows differ, first {diff[0]}" if diff else None


WORKLOADS = {"ga_daily": GaDaily, "graph_copurchase": GraphCopurchase}
