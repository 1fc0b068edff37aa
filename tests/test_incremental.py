"""Watermark controller, run ledger, and reconciliation unit tests
(SURVEY §2.8 ST1-ST9)."""

from __future__ import annotations

import datetime as dt
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from open_crime_etl_pipeline_spark.incremental import (
    RunLedger,
    decide_mode,
    incremental_window,
    missing_load_dates,
    read_watermark,
    reconcile_replicas,
)
from open_crime_etl_pipeline_spark.incremental.watermark import FULL_LOAD_EPOCH
from open_crime_etl_pipeline_spark.schemas import LOGS_SCHEMA
from open_crime_etl_pipeline_spark.sources.socrata import month_windows


def test_watermark_null_on_empty(spark):
    df = spark.createDataFrame([], "ts timestamp")
    assert read_watermark(df, "ts") is None
    assert decide_mode(None) == "FULL"


def test_watermark_reads_max(spark):
    df = spark.createDataFrame(
        [(dt.datetime(2025, 3, 1, 10),), (dt.datetime(2025, 3, 5, 8),)], "ts timestamp"
    )
    wm = read_watermark(df, "ts")
    assert wm == dt.datetime(2025, 3, 5, 8)
    assert decide_mode(wm) == "INCREMENT"


def test_incremental_window_midnight_overlap():
    wm = dt.datetime(2025, 3, 5, 8, 30)
    now = dt.datetime(2025, 3, 10)
    start, end = incremental_window(wm, now)
    assert start == dt.datetime(2025, 3, 5, 0, 0)  # midnight of watermark day (ST4)
    assert end == now


def test_full_window_from_epoch():
    now = dt.datetime(2025, 6, 1)
    start, end = incremental_window(None, now)
    assert start == FULL_LOAD_EPOCH
    assert end == now


def test_month_windows_clamped():
    # month-SIZED windows from the start (reference helper.py:41-65
    # relativedelta semantics), last window clamped to end
    wins = month_windows(dt.datetime(2025, 1, 15), dt.datetime(2025, 3, 10))
    assert wins == [
        (dt.datetime(2025, 1, 15), dt.datetime(2025, 2, 15)),
        (dt.datetime(2025, 2, 15), dt.datetime(2025, 3, 10)),
    ]


def test_month_windows_day_overflow():
    # Jan 31 + 1 month clamps to Feb 28 (relativedelta semantics)
    wins = month_windows(dt.datetime(2025, 1, 31), dt.datetime(2025, 3, 15))
    assert wins[0][1] == dt.datetime(2025, 2, 28)


def test_ledger_lifecycle(spark, tmp_path):
    ledger = RunLedger(spark, str(tmp_path / "logs"))
    d = dt.date(2025, 3, 5)
    run_id = ledger.start_run(d, mode="INCREMENT")
    assert ledger.last_successful_load_date() == d  # RUNNING counts (A2 semantics)
    ledger.finish_run(run_id, d, "SUCCESS")
    rows = ledger.read().collect()
    assert len(rows) == 1
    assert rows[0].status == "SUCCESS"
    assert rows[0].end_time is not None
    assert [r.load_date for r in ledger.successful_load_dates().collect()] == [d]
    # Ledger timestamps are tz-consistent UTC instants: with the session
    # timezone pinned to UTC, the collected (naive, session-tz) values
    # must agree with a tz-aware UTC clock, and end >= start.
    now = dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
    assert abs((now - rows[0].start_time).total_seconds()) < 300
    assert rows[0].end_time >= rows[0].start_time


def test_ledger_types_and_instants_hold_across_session_timezones(spark, tmp_path):
    path = tmp_path / "logs"
    ledger = RunLedger(spark, str(path))
    d = dt.date(2025, 3, 5)
    older = ledger.start_run(d - dt.timedelta(days=1))
    ledger.finish_run(older, d - dt.timedelta(days=1), "FAILED")
    run_id = ledger.start_run(d)
    ledger.finish_run(run_id, d, "SUCCESS")

    # what a plain parquet reader sees: the SUCCESS row is newest
    arrow = pq.read_table(path)
    newest = max(arrow.to_pylist(), key=lambda r: r["start_time"])
    assert (newest["run_id"], newest["status"], newest["load_date"]) == (run_id, "SUCCESS", d)
    want = sorted(zip(arrow["run_id"].to_pylist(),
                      arrow["start_time"].cast(pa.int64()).to_pylist(),
                      arrow["end_time"].cast(pa.int64()).to_pylist()))

    conf = "spark.sql.session.timeZone"
    old_tz = spark.conf.get(conf)
    collected = []
    try:
        for tz in ("UTC", "America/Chicago"):
            spark.conf.set(conf, tz)
            df = ledger.read()
            assert [(f.name, f.dataType) for f in df.schema] == [
                (f.name, f.dataType) for f in LOGS_SCHEMA]
            got = df.select("run_id", F.unix_micros("start_time"),
                            F.unix_micros("end_time")).collect()
            assert sorted(tuple(r) for r in got) == want, tz
            collected.append(sorted(tuple(r) for r in df.collect()))
    finally:
        spark.conf.set(conf, old_tz)
    assert collected[0] == collected[1]


def test_ledger_crash_mid_write_keeps_previous_rows(spark, tmp_path, monkeypatch):
    path = tmp_path / "logs"
    ledger = RunLedger(spark, str(path))
    d = dt.date(2025, 3, 5)
    done = ledger.start_run(d)
    ledger.finish_run(done, d, "SUCCESS")
    running = ledger.start_run(d + dt.timedelta(days=1))
    before = pq.read_table(path).to_pylist()

    def torn_write(table, where, **kwargs):
        where.write(b"PAR1 half a footer")
        raise OSError("disk full")

    monkeypatch.setattr(pq, "write_table", torn_write)
    with pytest.raises(OSError, match="disk full"):
        ledger.finish_run(running, d + dt.timedelta(days=1), "SUCCESS")
    monkeypatch.undo()

    assert sorted(os.listdir(path)) == ["ledger.parquet"]
    assert pq.read_table(path).to_pylist() == before
    assert sorted((r.run_id, r.status) for r in ledger.read().collect()) == sorted(
        [(done, "SUCCESS"), (running, "RUNNING")])
    # and the next edit goes through
    ledger.finish_run(running, d + dt.timedelta(days=1), "SUCCESS")
    assert {r.status for r in ledger.read().collect()} == {"SUCCESS"}


def test_ledger_folds_spark_written_layout(spark, tmp_path):
    path = str(tmp_path / "logs")
    t0 = dt.datetime(2025, 3, 4, 23, 0, 0, 123456, tzinfo=dt.timezone.utc)
    minute, day = dt.timedelta(minutes=1), dt.timedelta(days=1)
    old = [
        ("r1", dt.date(2025, 3, 4), "SCHEDULED", "FULL", "SUCCESS", t0, t0 + minute, "{}"),
        ("r2", dt.date(2025, 3, 5), "SCHEDULED", "INCREMENT", "FAILED",
         t0 + day, t0 + day + minute, "{}"),
        ("r3", dt.date(2025, 3, 5), "RECOVERY", "FULL", "RUNNING", t0 + 2 * day, None, "{}"),
    ]
    # the layout the ledger had while Spark wrote it: part file, _SUCCESS, .crc
    spark.createDataFrame(old, LOGS_SCHEMA).coalesce(1).write.mode("overwrite").parquet(path)
    names = os.listdir(path)
    assert "_SUCCESS" in names and any(n.endswith(".crc") for n in names)
    assert any(n.startswith("part-") for n in names)

    ledger = RunLedger(spark, path)
    assert ledger.last_successful_load_date() == dt.date(2025, 3, 5)  # r3 RUNNING
    new = ledger.start_run(dt.date(2025, 3, 6))

    assert sorted(os.listdir(path)) == ["ledger.parquet"]
    rows = pq.read_table(path).to_pylist()
    assert sorted(r["run_id"] for r in rows) == sorted(["r1", "r2", "r3", new])
    by_id = {r["run_id"]: r for r in rows}
    for run_id, load_date, type_, mode, status, start, end, config in old:
        r = by_id[run_id]
        assert (r["load_date"], r["type"], r["mode"], r["status"], r["config"]) == (
            load_date, type_, mode, status, config)
        assert (r["start_time"], r["end_time"]) == (start, end)
    assert sorted(r.run_id for r in ledger.read().collect()) == sorted(by_id)


def test_ledger_read_matches_spark_parquet_scan(spark, tmp_path):
    """``read`` builds its frame from the Arrow table the edits load; a
    Spark parquet scan of the same files collects the same rows, the
    run's start and end instants included, for the ledger file and for
    a ``logs/`` that Spark wrote as part files."""
    t0 = dt.datetime(2025, 3, 4, 23, 0, 0, 123456, tzinfo=dt.timezone.utc)
    old = [
        ("r1", dt.date(2025, 3, 4), "SCHEDULED", "FULL", "SUCCESS",
         t0, t0 + dt.timedelta(minutes=1), "{}"),
        ("r2", dt.date(2025, 3, 5), "RECOVERY", "FULL", "RUNNING",
         t0 + dt.timedelta(days=1), None, '{"k": 1}'),
    ]
    legacy = str(tmp_path / "legacy")
    spark.createDataFrame(old, LOGS_SCHEMA).repartition(2).write.parquet(legacy)
    single = RunLedger(spark, str(tmp_path / "logs"))
    d = dt.date(2025, 3, 5)
    single.finish_run(single.start_run(d), d, "SUCCESS")
    single.start_run(d + dt.timedelta(days=1), mode="INCREMENT")

    for ledger in (RunLedger(spark, legacy), single):
        files = ledger._files()
        assert files and all(os.path.isfile(f) for f in files)
        got = ledger.read()
        assert got.schema == LOGS_SCHEMA
        want = spark.read.schema(LOGS_SCHEMA).parquet(*files).collect()
        assert len(want) == 2
        assert {r.end_time is None for r in want} == {True, False}
        assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want))


def test_ledger_edits_run_no_spark_job(spark, tmp_path, jobs_started_by):
    ledger = RunLedger(spark, str(tmp_path / "logs"))
    d = dt.date(2025, 3, 5)
    ids = []
    assert jobs_started_by(lambda: ids.append(ledger.start_run(d))) == []
    assert jobs_started_by(lambda: ledger.finish_run(ids[0], d, "SUCCESS")) == []
    assert jobs_started_by(lambda: ids.append(ledger.start_run(d, mode="INCREMENT"))) == []
    assert jobs_started_by(lambda: ledger.finish_run(ids[1], d, "FAILED")) == []
    assert sorted(r.status for r in ledger.read().collect()) == ["FAILED", "SUCCESS"]


def test_reconcile_two_sided(spark):
    a = spark.createDataFrame([("2025-01-01",), ("2025-01-02",)], "load_date string")
    b = spark.createDataFrame([("2025-01-02",), ("2025-01-03",)], "load_date string")
    missed = {(r.load_date, r.missing_from) for r in reconcile_replicas(a, b).collect()}
    assert missed == {("2025-01-03", "a"), ("2025-01-01", "b")}
    only_a = [r.load_date for r in missing_load_dates(a, b).collect()]
    assert only_a == ["2025-01-01"]
