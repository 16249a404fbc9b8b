"""The daily-job CLI (python -m google_analytics_to_s3_spark) end to
end: two consecutive days through the real entrypoint — marts land
Hive-partitioned, sessions accumulate into history, day filtering
holds, and a second-day visitor carries first-day touchpoints. In
process: the printed row counts match the written marts, the job's
cache is released on success and on failure, and its phases are named
in Spark and logged."""

import ast
import logging
import os
import subprocess
import sys

import pytest

from google_analytics_to_s3_spark.testing.fixtures import (
    enriched_hits_day,
    write_jsonl,
)

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DAY_MS = 86400000
# the fixture day's hits fall on this local date (Europe/Berlin)
DAY1 = "2019-08-08"
DAY2 = "2019-08-09"


def _run(inp, out, hist, date):
    res = subprocess.run(
        [sys.executable, "-m", "google_analytics_to_s3_spark",
         "--input", inp, "--output", out, "--history", hist,
         "--date", date, "--master", "local[4]"],
        capture_output=True, text=True, cwd=ROOT, timeout=600,
    )
    assert res.returncode == 0, res.stderr[-3000:]
    return res.stdout


def _part(out, mart, date):
    y, m, d = date.split("-")
    return f"{out}/type={mart}/year={y}/month={m}/day={d}"


def _sources(rows):
    return [r.trafficSource_source
            for r in sorted(rows, key=lambda r: r.timestamp)]


def test_cli_two_day_run(spark, tmp_path):
    day1 = enriched_hits_day()
    day2 = [
        dict(
            h,
            message_id=h["message_id"] + "d2",
            received_at_apig=str(int(h["received_at_apig"]) + DAY_MS),
        )
        for h in day1
        if h["body_cid"] == "v1"
    ]
    p1, p2 = str(tmp_path / "d1.jsonl"), str(tmp_path / "d2.jsonl")
    write_jsonl(day1, p1)
    write_jsonl(day2, p2)
    out = str(tmp_path / "marts")
    hist = str(tmp_path / "hist")

    _run(p1, out, hist, DAY1)
    _run(p2, out, hist, DAY2)

    s1 = spark.read.parquet(_part(out, "sessions", DAY1))
    s2 = spark.read.parquet(_part(out, "sessions", DAY2))
    rows = s2.filter("fullVisitorId = 'v1'").collect()
    assert rows, "day-2 session for v1 missing"
    # day-2 touchpoints include day 1's newsletter source via history
    assert any("newsletter" in (r.touchpoints or []) for r in rows)
    # exactly day 1's sources then day 2's: the day-2 sessions the run
    # appends to the history are not counted into its own sessions mart
    day1 = _sources(s1.filter("fullVisitorId = 'v1'").collect())
    day2 = _sources(rows)
    assert day1 and day2
    for r in rows:
        assert r.touchpoints == day1 + day2
    # day filter: nothing from day 1 leaks into the day-2 partition
    assert s2.filter(f"to_date(timestamp) <> '{DAY2}'").count() == 0
    # history accumulated both days
    h = spark.read.parquet(hist)
    assert h.filter(f"to_date(timestamp) = '{DAY1}'").count() > 0
    assert h.filter(f"to_date(timestamp) = '{DAY2}'").count() > 0


class TestDailyInProcess:
    """``main()`` in the test's own session, with history."""

    @pytest.fixture
    def day(self, tmp_path):
        p = str(tmp_path / "d1.jsonl")
        write_jsonl(enriched_hits_day(), p)
        return p

    @staticmethod
    def _persisted(spark):
        """Persisted RDD id -> whether it is stored deserialized."""
        rdds = spark.sparkContext._jsc.getPersistentRDDs()
        return {k: r.getStorageLevel().deserialized() for k, r in rdds.items()}

    @pytest.fixture
    def persisted_during_writes(self, spark, monkeypatch):
        """Persisted RDDs (id -> deserialized) seen at the start of
        each mart write."""
        from google_analytics_to_s3_spark.sources import ga

        seen = []
        save = ga.save_daily_marts

        def spy(marts, *args):
            seen.append(self._persisted(spark))
            return save(marts, *args)

        monkeypatch.setattr(ga, "save_daily_marts", spy)
        return seen

    def test_counts_labels_and_cache_release(
        self, spark, day, tmp_path, capsys, caplog, persisted_during_writes
    ):
        from google_analytics_to_s3_spark.__main__ import main

        out, hist = str(tmp_path / "marts"), str(tmp_path / "hist")
        sc = spark.sparkContext
        before = self._persisted(spark).keys()
        sc.setJobDescription("caller's label")
        caplog.set_level(logging.INFO, logger="google_analytics_to_s3_spark")
        try:
            main(["--input", day, "--output", out, "--history", hist,
                  "--date", DAY1])
            assert sc.getLocalProperty("spark.job.description") == (
                "caller's label")
        finally:
            sc.setJobDescription(None)

        last = capsys.readouterr().out.strip().splitlines()[-1]
        printed = ast.literal_eval(last)
        assert printed["date"] == DAY1
        marts = ["sessions", "pageviews", "events", "products",
                 "transactions", "items"]
        assert sorted(printed["rows"]) == sorted(marts)
        for mart in marts:
            n = spark.read.parquet(_part(out, mart, DAY1)).count()
            assert printed["rows"][mart] == n, mart
        assert printed["rows"]["sessions"] > 0
        assert spark.read.parquet(hist).count() == printed["rows"]["sessions"]

        # the export was cached from the first write on, stored
        # serialized, and released
        assert len(persisted_during_writes) == len(marts)
        for seen in persisted_during_writes[1:]:
            cached = seen.keys() - before
            assert cached
            assert not any(seen[k] for k in cached)
        assert self._persisted(spark).keys() <= before

        phases = ["daily: load history", "daily: append history"] + [
            f"daily: write mart {m}" for m in marts]
        logged = [r.getMessage() for r in caplog.records
                  if r.levelno == logging.INFO]
        for phase in phases:
            assert any(msg.startswith(phase + ": ") for msg in logged), phase
        jobs = sc._jsc.sc().statusStore().jobsList(None)  # a Scala Seq
        descs = [jobs.apply(i).description() for i in range(jobs.size())]
        described = {d.get() for d in descs if d.isDefined()}
        assert {p for p in phases if p != "daily: load history"} <= described

    def test_failed_write_releases_cache(
        self, spark, day, tmp_path, persisted_during_writes
    ):
        from google_analytics_to_s3_spark.__main__ import main

        out, hist = tmp_path / "marts", tmp_path / "hist"
        # the second mart's directory is a regular file: the sessions
        # mart (which fills the cache) is written, then a write raises
        out.mkdir()
        (out / "type=pageviews").write_text("not a directory")
        before = self._persisted(spark).keys()
        with pytest.raises(Exception):
            main(["--input", day, "--output", str(out),
                  "--history", str(hist), "--date", DAY1])
        assert len(persisted_during_writes) == 2
        assert persisted_during_writes[-1].keys() - before
        assert self._persisted(spark).keys() <= before
        desc = spark.sparkContext.getLocalProperty("spark.job.description")
        assert desc is None
        # the history is appended only once every mart is written
        assert not hist.exists()


class TestQuerySubcommand:
    def test_list_names(self, capsys):
        from google_analytics_to_s3_spark.__main__ import main

        main(["query", "list"])
        out = capsys.readouterr().out.splitlines()
        assert "pricing_summary" in out and "rfm_segments" in out
        assert len(out) > 150

    def test_unknown_query_exits(self):
        import pytest as _pytest

        from google_analytics_to_s3_spark.__main__ import main

        with _pytest.raises(SystemExit, match="unknown query"):
            main(["query", "nope_nope"])

    def test_run_and_write(self, spark, tmp_path, capsys):
        # `spark` fixture keeps the session alive; get_spark() inside
        # the CLI returns the same active session
        from google_analytics_to_s3_spark.__main__ import main

        out = tmp_path / "mart"
        main(["query", "hit_type_mapping",
              "--sf-dir", "/root/testdata/sf0.001",
              "--out", str(out)])
        assert "rows" in capsys.readouterr().out
        assert spark.read.parquet(str(out)).count() > 0

    def test_show_limit(self, spark, capsys):
        from google_analytics_to_s3_spark.__main__ import main

        main(["query", "pricing_summary",
              "--sf-dir", "/root/testdata/sf0.001", "--limit", "3"])
        assert "l_returnflag" in capsys.readouterr().out
