"""End-to-end DAG orchestration (§3.1): FULL run, INCREMENT run with
overlap idempotence, ledger lifecycle, dual-replica reconciliation."""

from __future__ import annotations

import datetime as dt
import gzip
import json
import os

import pyarrow as pa
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from open_crime_etl_pipeline_spark import pipeline as pm
from open_crime_etl_pipeline_spark.incremental.watermark import (
    logged_watermark,
    read_watermark,
)
from open_crime_etl_pipeline_spark.io.writers import (
    write_partitioned_crime,
    write_partitioned_json_rows,
)
from open_crime_etl_pipeline_spark.pipeline import (
    LANDING_SCHEMA,
    LANDING_TS,
    CrimePipeline,
)
from open_crime_etl_pipeline_spark.schemas import CRIME_RAW_SCHEMA, CRIME_SILVER_SCHEMA
from open_crime_etl_pipeline_spark.sources.socrata import _fake_page

NOW1 = dt.datetime(2025, 2, 15, 12, 0, 0)
NOW2 = dt.datetime(2025, 3, 10, 12, 0, 0)


@pytest.fixture(scope="module")
def lake(tmp_path_factory):
    return tmp_path_factory.mktemp("lake")


def test_full_then_incremental_run(spark, lake):
    p = CrimePipeline(spark, str(lake / "a"), endpoint="fake://300", pagesize=100)

    r1 = p.run(now=NOW1, load_date=NOW1.date())
    assert r1["mode"] == "FULL" and r1["status"] == "SUCCESS"
    # Jan window (300) + partial Feb window (300 spread over the month,
    # cut at the 15th) — exact count matters less than: rows exist and
    # are unique by PK
    n1 = r1["table_rows"]
    assert n1 > 300
    crime = p.crime_table()
    assert crime.select("crime_id").distinct().count() == n1

    r2 = p.run(now=NOW2, load_date=NOW2.date())
    assert r2["mode"] == "INCREMENT"
    # overlap window re-reads the watermark day; merge absorbs dups
    n2 = r2["table_rows"]
    assert n2 > n1
    assert p.crime_table().select("crime_id").distinct().count() == n2

    # ST7 replay: reprocessing the already-landed files for the same
    # load_date must not change the table (re-merge of the same batch)
    from open_crime_etl_pipeline_spark.operators.merge import merge_upsert

    batch = p.load_batch(NOW2.date())
    remerged = merge_upsert(
        p.crime_table(), batch, keys=["crime_id"], order_by=["source_updated_on"]
    )
    assert remerged.count() == n2
    assert remerged.select("crime_id").distinct().count() == n2

    # ledger recorded both runs as SUCCESS with correct modes
    logs = {(r.run_id): (r.mode, r.status) for r in p.ledger.read().collect()}
    assert len(logs) == 2
    assert sorted(m for m, _ in logs.values()) == ["FULL", "INCREMENT"]
    assert all(s == "SUCCESS" for _, s in logs.values())


def test_replica_reconciliation_recovery(spark, lake):
    a = CrimePipeline(spark, str(lake / "ra"), endpoint="fake://120", pagesize=60)
    b = CrimePipeline(spark, str(lake / "rb"), endpoint="fake://120", pagesize=60)

    a.run(now=NOW1, load_date=dt.date(2025, 2, 15))
    b.run(now=NOW1, load_date=dt.date(2025, 2, 15))
    # replica a advances; b misses the second load entirely
    a.run(now=NOW2, load_date=dt.date(2025, 3, 10))

    recovered = b.sync_from(a, now=NOW2)
    assert recovered == ["2025-03-10"]
    # after recovery both replicas agree on successful load dates
    a_dates = {r.load_date for r in a.ledger.successful_load_dates().collect()}
    b_dates = {r.load_date for r in b.ledger.successful_load_dates().collect()}
    assert a_dates == b_dates
    assert b.sync_from(a, now=NOW2) == []  # converged, nothing to recover


# Columns null in every record of ``sparse_landing``'s page.
ALL_NULL = ["beat", "district", "ward", "community_area", "latitude",
            "longitude", "location_description"]


@pytest.fixture
def sparse_landing(spark, tmp_path):
    """A landed page, written the way ``ingest_window`` writes it, in
    which the ``ALL_NULL`` columns are null in every record. The JSON
    writer drops null fields, so those keys appear in no landed file."""
    p = CrimePipeline(spark, str(tmp_path / "lake"))
    d = dt.date(2025, 3, 10)
    recs = []
    for i in (1, 2):
        rec = dict.fromkeys(CRIME_RAW_SCHEMA.fieldNames())
        rec.update({
            "id": f"1300000{i}", "case_number": f"JH10000{i}",
            "date": f"2025-03-0{i}T14:30:00.000", "primary_type": "THEFT",
            "updated_on": f"2025-03-0{i}T15:40:00.000",
            ":updated_at": f"2025-03-0{i}T15:40:00.000",
        })
        recs.append(tuple(rec[f] for f in CRIME_RAW_SCHEMA.fieldNames()))
    raw = spark.createDataFrame(recs, CRIME_RAW_SCHEMA)
    write_partitioned_crime(
        raw.withColumn("__ts", F.to_timestamp("updated_on")), p.landing,
        ts_col="__ts", load_date=d.isoformat(), fmt="json",
    )
    return p, d


def test_load_batch_keeps_columns_null_in_every_record(sparse_landing):
    p, d = sparse_landing
    rows = sorted(p.load_batch(d).collect(), key=lambda r: r.crime_id)
    assert [r.crime_id for r in rows] == ["13000001", "13000002"]
    for r in rows:
        assert all(r[c] is None for c in ALL_NULL)
        assert r.primary_description == "THEFT"
        assert r.date_of_occurrence is not None


def test_load_batch_plan_build_runs_no_spark_job(sparse_landing, jobs_started_by):
    p, d = sparse_landing
    batches = []
    assert jobs_started_by(lambda: batches.append(p.load_batch(d))) == []
    assert batches[0].count() == 2


def test_first_run_with_an_empty_window_succeeds(spark, tmp_path):
    # nothing landed yet: the pinned landing schema reads an empty batch
    # where JSON schema inference had no file to infer from
    p = CrimePipeline(spark, str(tmp_path / "lake"), endpoint="fake://0")
    r = p.run(now=NOW1)
    assert (r["mode"], r["status"], r["table_rows"]) == ("FULL", "SUCCESS", 0)
    assert r["null_keys"] == 0
    assert [row.status for row in p.ledger.read().collect()] == ["SUCCESS"]


# -- landing paths ------------------------------------------------------
# A one-window ingest lands on the driver (``write_partitioned_json_rows``),
# a multi-window one through a Spark scan and ``write_partitioned_crime``.

def _landed(root) -> dict[str, list[str]]:
    """Visible landed JSON lines by partition dir (relative to ``root``),
    sorted; Spark's reader skips names starting with "." or "_"."""
    out: dict[str, list[str]] = {}
    for d, _, files in os.walk(root):
        for f in files:
            if f[0] not in "._":
                with open(os.path.join(d, f), "rb") as fh:
                    lines = gzip.decompress(fh.read()).decode().splitlines()
                out.setdefault(os.path.relpath(d, root), []).extend(lines)
    return {k: sorted(v) for k, v in out.items()}


def _land_with_spark(spark, p, start, end, load_date):
    raw = (
        spark.read.format("socrata_crime")
        .option("endpoint", p.endpoint).option("pagesize", str(p.pagesize))
        .option("start_date", start.strftime("%Y-%m-%dT%H:%M:%S.000"))
        .option("end_date", end.strftime("%Y-%m-%dT%H:%M:%S.000"))
        .load()
    )
    write_partitioned_crime(
        raw.withColumn(LANDING_TS, F.to_timestamp("updated_on")), p.landing,
        ts_col=LANDING_TS, load_date=load_date.isoformat(), fmt="json",
    )


def _assert_same_rows(a, b):
    assert a.count() == b.count()
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_driver_landing_equals_spark_landing(spark, tmp_path):
    # three days across the Feb/Mar boundary: one source partition, two
    # month= dirs; paged 10 rows at a time; ``location`` is null in
    # every fake:// record
    start, end, d = dt.datetime(2025, 2, 27, 5), dt.datetime(2025, 3, 2, 7), dt.date(2025, 3, 2)
    drv = CrimePipeline(spark, str(tmp_path / "drv"), endpoint="fake://300", pagesize=10)
    ref = CrimePipeline(spark, str(tmp_path / "ref"), endpoint="fake://300", pagesize=10)
    drv.ingest_window(start, end, d)
    _land_with_spark(spark, ref, start, end, d)

    got, want = _landed(drv.landing), _landed(ref.landing)
    assert sorted(got) == sorted(want) == [
        "year=2025/month=02/load_date=2025-03-02",
        "year=2025/month=03/load_date=2025-03-02",
    ]
    assert got == want  # byte-equal JSON lines
    n = len(_fake_page(300, start, end, 0, 10**6))
    assert sum(map(len, got.values())) == n > 20

    landed = [spark.read.schema(LANDING_SCHEMA).json(p.landing) for p in (drv, ref)]
    _assert_same_rows(*landed)
    assert landed[0].filter(F.col("location").isNotNull()).count() == 0
    _assert_same_rows(drv.load_batch(d), ref.load_batch(d))
    assert drv.load_batch(d).count() == n


@pytest.mark.parametrize("tz", ["UTC", "America/Chicago"])
def test_driver_landing_writer_matches_spark_writer(spark, tmp_path, tz):
    """Edge rows: a NULL and an unparseable timestamp (default
    partition), a time in Chicago's DST gap, an offset-qualified
    timestamp, quotes, control and non-ASCII characters, a column null
    in every record."""
    names = CRIME_RAW_SCHEMA.fieldNames()
    stamps = [None, "2025-03-09T02:30:00.000", "2025-03-31T23:59:59.999",
              "2025-04-01T03:00:00.250Z", "2025-02-28T10:15:00.000"]
    recs = []
    for i, ts in enumerate(stamps):
        rec = dict.fromkeys(names)
        rec.update({"id": f"K{i}", "updated_on": ts, "year": "2025",
                    "block": ['say "hi"', "tab\there", "ünïcødé ✓", "\u2028\x01", "a/b\\c"][i]})
        recs.append(tuple(rec[f] for f in names))
    d = "2025-04-02"
    old_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", tz)
    try:
        write_partitioned_json_rows(
            iter(recs), names, str(tmp_path / "drv"), ts_field="updated_on",
            ts_col=LANDING_TS, load_date=d, time_zone=tz)
        write_partitioned_crime(
            spark.createDataFrame(recs, CRIME_RAW_SCHEMA)
            .withColumn(LANDING_TS, F.to_timestamp("updated_on")),
            str(tmp_path / "ref"), ts_col=LANDING_TS, load_date=d, fmt="json")
        got, want = _landed(tmp_path / "drv"), _landed(tmp_path / "ref")
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)
    assert got == want
    assert "year=__HIVE_DEFAULT_PARTITION__/month=__HIVE_DEFAULT_PARTITION__/" \
        f"load_date={d}" in got


def test_only_a_multi_window_ingest_starts_spark_jobs(spark, tmp_path, jobs_started_by):
    p = CrimePipeline(spark, str(tmp_path / "lake"), endpoint="fake://120", pagesize=60)
    one = jobs_started_by(lambda: p.ingest_window(
        dt.datetime(2025, 2, 27), dt.datetime(2025, 3, 2), dt.date(2025, 3, 2)))
    assert one == []
    several = jobs_started_by(lambda: p.ingest_window(
        dt.datetime(2025, 1, 1), dt.datetime(2025, 3, 2), dt.date(2025, 3, 3)))
    assert len(several) >= 1


def test_crash_mid_landing_leaves_no_visible_file(spark, tmp_path, monkeypatch):
    p = CrimePipeline(spark, str(tmp_path / "lake"), endpoint="fake://120", pagesize=60)
    first = p.run(now=NOW1, load_date=NOW1.date())
    real = pa.CompressedOutputStream

    class TornStream:
        """Writes half of the third record, then fails."""

        def __init__(self, raw, codec):
            self.inner, self.writes = real(raw, codec), 0

        def write(self, data):
            self.writes += 1
            if self.writes == 3:
                self.inner.write(data[: len(data) // 2])
                raise OSError("disk full")
            self.inner.write(data)

        def close(self):
            self.inner.close()

    monkeypatch.setattr(pa, "CompressedOutputStream", TornStream)
    with pytest.raises(OSError, match="disk full"):
        p.run(now=NOW2, load_date=NOW2.date())
    monkeypatch.undo()

    d = NOW2.date()
    day_dirs = [dp for dp, _, _ in os.walk(p.landing) if dp.endswith(f"load_date={d}")]
    assert day_dirs and all(os.listdir(dp) == [] for dp in day_dirs)
    assert p.load_batch(d).count() == 0
    assert p.crime_table().count() == first["table_rows"]
    assert sorted(r.status for r in p.ledger.read().collect()) == ["FAILED", "SUCCESS"]

    again = p.run(now=NOW2, load_date=d)
    start, end = (dt.datetime.fromisoformat(w) for w in again["window"])
    assert again["status"] == "SUCCESS" and again["mode"] == "INCREMENT"
    assert p.load_batch(d).count() == len(_fake_page(120, start, end, 0, 10**6)) > 3


# -- file-level publish -------------------------------------------------

DAYS = [dt.datetime(2025, 2, 16, 12) + dt.timedelta(days=i) for i in range(3)]
WM = "source_updated_on"


def _strip_stats(p):
    """Rewrite the latest log entry as a commit without per-file stats
    or watermark writes it (the shape of entries before file-level
    commits)."""
    log = os.path.join(p.table_path, "_txn_log")
    path = os.path.join(log, max(os.listdir(log)))
    with open(path) as f:
        entry = json.load(f)
    for k in ("files", "key", "watermark"):
        entry.pop(k, None)
    with open(path, "w") as f:
        json.dump(entry, f)


def _snapshot_files(p, version=None):
    snap = os.path.join(p.table_path, "data", p.table.entry(version)["snapshot"])
    return {f: os.stat(os.path.join(snap, f)) for f in os.listdir(snap) if f[0] not in "._"}


@pytest.fixture
def scans(monkeypatch):
    """Counts the pipeline's fallback watermark scans."""
    calls = []

    def spy(target, col):
        calls.append(col)
        return read_watermark(target, col)

    monkeypatch.setattr(pm, "read_watermark", spy)
    return calls


def test_daily_runs_equal_full_rewrites(spark, tmp_path, scans):
    p = CrimePipeline(spark, str(tmp_path / "p"), endpoint="fake://3000", pagesize=1000)
    ref = CrimePipeline(spark, str(tmp_path / "ref"), endpoint="fake://3000", pagesize=1000)
    for pipe in (p, ref):
        pipe.run(now=NOW1)
    _strip_stats(ref)
    for now in DAYS:
        r = p.run(now=now)
        ref.run(now=now)
        _strip_stats(ref)  # every reference run scans and rewrites everything
        assert r["table_rows"] == p.crime_table().count()
    assert scans == [WM] * len(DAYS)  # the reference's only
    _assert_same_rows(p.crime_table(), ref.crime_table())


def test_daily_run_writes_a_small_share_in_few_jobs(spark, tmp_path, jobs_started_by, scans):
    p = CrimePipeline(spark, str(tmp_path / "p"), endpoint="fake://3000", pagesize=1000)
    p.run(now=NOW1)
    p.run(now=DAYS[0])  # the FULL files span every key: rewritten once
    before = _snapshot_files(p)
    runs = []
    jobs = jobs_started_by(lambda: runs.append(p.run(now=DAYS[1])))
    assert runs[0]["mode"] == "INCREMENT" and len(jobs) <= 4
    after = _snapshot_files(p)
    old_inodes = {s.st_ino for s in before.values()}
    new_bytes = sum(s.st_size for s in after.values() if s.st_ino not in old_inodes)
    assert 0 < new_bytes < 0.25 * sum(s.st_size for s in after.values())
    assert scans == []


@pytest.mark.parametrize("tz", ["UTC", "America/Chicago"])
def test_logged_watermark_equals_the_scan(spark, tmp_path, tz, scans):
    old_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", tz)
    try:
        p = CrimePipeline(spark, str(tmp_path / "p"), endpoint="fake://300", pagesize=100)
        for now in (NOW1, *DAYS[:2]):
            p.run(now=now)
            assert logged_watermark(p.table.entry(), WM) == (
                True, read_watermark(p.crime_table(), WM))
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)
    assert scans == []


def test_entry_without_stats_falls_back_once(spark, tmp_path, scans):
    p = CrimePipeline(spark, str(tmp_path / "p"), endpoint="fake://300", pagesize=100)
    p.run(now=NOW1)
    _strip_stats(p)
    before = _snapshot_files(p)
    p.run(now=DAYS[0])
    assert scans == [WM]  # the watermark came from a scan
    after = _snapshot_files(p)
    # every file was rewritten, and the new entry has stats again
    assert not {s.st_ino for s in before.values()} & {s.st_ino for s in after.values()}
    entry = p.table.entry()
    assert sorted(f["path"] for f in entry["files"]) == sorted(after)
    assert logged_watermark(entry, WM) == (True, read_watermark(p.crime_table(), WM))
    p.run(now=DAYS[1])
    assert scans == [WM]


def _silver_row(row, **changes):
    d = {**row.asDict(), **changes}
    return tuple(d[c] for c in CRIME_SILVER_SCHEMA.fieldNames())


# a landed batch's key may be NULL (the transform's output is nullable)
BATCH_SCHEMA = T.StructType([T.StructField(f.name, f.dataType, True)
                             for f in CRIME_SILVER_SCHEMA.fields])


def test_older_row_replacing_the_max_makes_the_watermark_unknown(spark, tmp_path, scans):
    p = CrimePipeline(spark, str(tmp_path / "p"), endpoint="fake://300", pagesize=100)
    p.run(now=NOW1)
    p.run(now=DAYS[0])  # the max row now sits in the day's file; the rest are kept
    top = p.crime_table().orderBy(F.desc(WM)).first()
    older = _silver_row(top, case_num="OLDER",
                        source_updated_on=top[WM] - dt.timedelta(days=30))
    batch = spark.createDataFrame([older], CRIME_SILVER_SCHEMA)
    entry = p._merge_publish(batch, p.table.entry(), action="merge:TEST")
    assert logged_watermark(entry, WM) == (False, None)
    assert p.crime_table().filter(F.col("case_num") == "OLDER").count() == 1
    want = read_watermark(p.crime_table(), WM)
    assert want < top[WM]
    r = p.run(now=DAYS[1])
    assert scans == [WM]
    assert r["window"][0] == dt.datetime.combine(want.date(), dt.time.min).isoformat()
    assert logged_watermark(p.table.entry(), WM) == (True, read_watermark(p.crime_table(), WM))


def test_null_key_rows_from_both_sides_survive(spark, tmp_path):
    p = CrimePipeline(spark, str(tmp_path / "p"), endpoint="fake://300", pagesize=100)
    p.run(now=NOW1)
    some = p.crime_table().orderBy(F.desc("crime_id")).first()
    # T1 shares a file with a keyed row; the second batch matches that
    # key, so the file is rewritten and T1 must survive as a survivor
    first = [_silver_row(some, crime_id=None, case_num="T1"),
             _silver_row(some, crime_id="K1", case_num="K1a")]
    p._merge_publish(spark.createDataFrame(first, BATCH_SCHEMA),
                     p.table.entry(), action="merge:TEST")
    second = [_silver_row(some, crime_id=None, case_num="T2"),
              _silver_row(some, crime_id="K1", case_num="K1b")]
    entry = p._merge_publish(spark.createDataFrame(second, BATCH_SCHEMA),
                             p.table.entry(), action="merge:TEST")
    crime = p.crime_table()
    assert sorted(r.case_num for r in crime.filter(F.col("crime_id").isNull()).collect()) == ["T1", "T2"]
    assert [r.case_num for r in crime.filter(F.col("crime_id") == "K1").collect()] == ["K1b"]
    assert sum(f["nulls"] for f in entry["files"]) == 2
    assert entry["rows"] == crime.count()


def test_load_batch_lists_only_its_day(spark, tmp_path):
    p = CrimePipeline(spark, str(tmp_path / "p"), endpoint="fake://300", pagesize=100)
    p.ingest_window(dt.datetime(2025, 2, 27), dt.datetime(2025, 3, 2), dt.date(2025, 3, 2))
    p.ingest_window(dt.datetime(2025, 3, 2), dt.datetime(2025, 3, 4), dt.date(2025, 3, 4))
    day = p.load_batch(dt.date(2025, 3, 4))
    files = day.inputFiles()
    assert files and all("load_date=2025-03-04" in f for f in files)
    assert day.count() == len(_fake_page(300, dt.datetime(2025, 3, 2), dt.datetime(2025, 3, 4), 0, 10**6))
