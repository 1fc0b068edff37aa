"""End-to-end DAG orchestration (§3.1): FULL run, INCREMENT run with
overlap idempotence, ledger lifecycle, dual-replica reconciliation."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from open_crime_etl_pipeline_spark.io.writers import write_partitioned_crime
from open_crime_etl_pipeline_spark.pipeline import CrimePipeline
from open_crime_etl_pipeline_spark.schemas import CRIME_RAW_SCHEMA

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
    assert [row.status for row in p.ledger.read().collect()] == ["SUCCESS"]
