"""Bronze→silver crime transform tests against synthetic Socrata pages
(FIXTURES.md §A1) — drop/rename/cast/null semantics end-to-end through
the gzip-JSON reader."""

from __future__ import annotations

import gzip
import json

import pytest

from open_crime_etl_pipeline_spark.io.readers import read_crime_pages
from open_crime_etl_pipeline_spark.schemas import CRIME_SILVER_SCHEMA
from open_crime_etl_pipeline_spark.transform import transform_crime_page

PAGE = [
    {
        "id": "13000001",
        "case_number": "JH100001",
        "date": "2025-03-01T14:30:00.000",
        "block": "001XX N STATE ST",
        "iucr": "0820",
        "primary_type": "THEFT",
        "description": "$500 AND UNDER",
        "location_description": "STREET",
        "arrest": "N",
        "domestic": "N",
        "beat": "0111",
        "district": "001",
        "ward": "42",
        "community_area": "32",
        "fbi_code": "06",
        "x_coordinate": "1176342",
        "y_coordinate": "1901807",
        "year": "2025",
        "updated_on": "2025-03-08T15:40:00.000",
        "latitude": "41.885",
        "longitude": "-87.627",
        "location": {"latitude": "41.885", "longitude": "-87.627"},
        ":id": "row-abc",
        ":version": "rv-1",
        ":created_at": "2025-03-02T00:00:00.000",
        ":updated_at": "2025-03-08T15:40:00.000",
        ":@computed_region_awaf_s7ux": "1",
    },
    {
        # sparse record: absent fields must land as SQL NULL (P3)
        "id": "13000002",
        "case_number": "JH100002",
        "date": "2025-03-02T09:00:00.000",
        "primary_type": "BATTERY",
        ":updated_at": "2025-03-09T10:00:00.000",
    },
]


@pytest.fixture(scope="module")
def landing_dir(tmp_path_factory):
    root = tmp_path_factory.mktemp("landing")
    with gzip.open(root / "part-0000.json.gz", "wt") as f:
        json.dump(PAGE, f)
    return str(root)


def test_transform_schema_and_values(spark, landing_dir):
    raw = read_crime_pages(spark, landing_dir)
    silver = transform_crime_page(raw)
    assert [f.name for f in silver.schema.fields] == [
        f.name for f in CRIME_SILVER_SCHEMA.fields
    ]
    rows = {r.crime_id: r for r in silver.collect()}
    full = rows["13000001"]
    assert full.case_num == "JH100001"
    assert full.primary_description == "THEFT"
    assert full.secondary_description == "$500 AND UNDER"
    assert full.beat == 111 and full.district == 1 and full.ward == 42
    assert full.latitude == pytest.approx(41.885)
    assert full.date_of_occurrence.isoformat().startswith("2025-03-01T14:30:00")
    assert full.source_updated_on.isoformat().startswith("2025-03-08T15:40:00")


def test_absent_fields_become_null(spark, landing_dir):
    silver = transform_crime_page(read_crime_pages(spark, landing_dir))
    sparse = silver.filter(silver.crime_id == "13000002").first()
    assert sparse.block is None
    assert sparse.beat is None
    assert sparse.latitude is None
    assert sparse.arrest is None


def test_dropped_columns_gone(spark, landing_dir):
    silver = transform_crime_page(read_crime_pages(spark, landing_dir))
    for col in (":id", ":version", "year", "updated_on", "location"):
        assert col not in silver.columns


def test_corrupt_records_quarantined_not_dropped(spark, tmp_path):
    """A malformed landing line must surface in the quarantine stream
    with its raw text — not crash the scan, not silently become an
    all-null row in silver."""
    from open_crime_etl_pipeline_spark.io.readers import split_corrupt

    with gzip.open(tmp_path / "part-0000.json.gz", "wt") as f:
        f.write(json.dumps(PAGE[0]) + "\n")
        f.write('{"id": "13000003", "case_number": truncated-garbage\n')
        f.write(json.dumps(PAGE[1]) + "\n")
    raw = read_crime_pages(spark, str(tmp_path), capture_corrupt=True)
    good, bad = split_corrupt(raw)
    assert sorted(r.id for r in good.collect()) == ["13000001", "13000002"]
    bad_rows = bad.collect()
    assert len(bad_rows) == 1
    assert "truncated-garbage" in bad_rows[0]._corrupt_record
    # default (non-capturing) scan keeps its exact historical schema
    assert "_corrupt_record" not in read_crime_pages(spark, str(tmp_path)).columns


def test_unparseable_values_become_null_under_ansi(spark, tmp_path):
    """Spark 4 runs with ANSI mode on by default. Garbage in an int,
    double or timestamp column must land as NULL instead of raising,
    and the µs-fraction and no-fraction ISO forms must still parse."""
    assert spark.conf.get("spark.sql.ansi.enabled") == "true"
    page = [
        {"id": "13000010", "beat": "N/A", "latitude": "abc",
         "date": "not-a-date", ":updated_at": "2025-03-09T10:00:00.000"},
        {"id": "13000011", "date": "2025-03-01T12:34:56.789123"},
        {"id": "13000012", "date": "2025-03-01T12:34:56"},
    ]
    with gzip.open(tmp_path / "part-0000.json.gz", "wt") as f:
        json.dump(page, f)
    silver = transform_crime_page(read_crime_pages(spark, str(tmp_path)))
    rows = {r.crime_id: r for r in silver.collect()}
    garbage = rows["13000010"]
    assert garbage.beat is None
    assert garbage.latitude is None
    assert garbage.date_of_occurrence is None
    assert garbage.source_updated_on.isoformat() == "2025-03-09T10:00:00"
    micros = rows["13000011"].date_of_occurrence
    assert micros.isoformat() == "2025-03-01T12:34:56.789123"
    plain = rows["13000012"].date_of_occurrence
    assert plain.isoformat() == "2025-03-01T12:34:56"


def test_transform_builds_without_a_spark_job(spark, landing_dir, jobs_started_by):
    raw = read_crime_pages(spark, landing_dir)
    out = []
    assert jobs_started_by(lambda: out.append(transform_crime_page(raw))) == []
    types = lambda schema: [(f.name, f.dataType) for f in schema.fields]
    assert types(out[0].schema) == types(CRIME_SILVER_SCHEMA)
