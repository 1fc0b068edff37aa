from __future__ import annotations

import time
import uuid

import pytest

from open_crime_etl_pipeline_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"
SF_DIR_MID = "/root/testdata/sf0.01"
SF_DIR_BIG = "/root/testdata/sf0.1"


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(app_name="tests", master="local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def arrow_batches():
    """``arrow_batches(schema, rows)`` turns tuple ``rows`` into what a
    Spark write task hands a ``DataSourceArrowWriter``: an iterator
    over one ``pyarrow.RecordBatch`` typed by ``to_arrow_schema``."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    def build(schema, rows):
        names = schema.fieldNames()
        return iter([pa.RecordBatch.from_pylist(
            [dict(zip(names, r)) for r in rows], schema=to_arrow_schema(schema)
        )])

    return build


@pytest.fixture
def jobs_started_by(spark):
    """``jobs_started_by(fn)`` calls ``fn()`` under a fresh job group and
    returns the ids of the Spark jobs it started."""
    sc = spark.sparkContext

    def in_group(group, fn):
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    def run(fn) -> list[int]:
        probe, marker = (f"{k}-{uuid.uuid4().hex}" for k in ("probe", "marker"))
        in_group(probe, fn)
        # The status store takes job events in order: once a later
        # marker job shows up, every job ``fn`` started has too.
        in_group(marker, lambda: sc.parallelize([0], 1).count())
        tracker = sc.statusTracker()
        deadline = time.monotonic() + 60
        while not tracker.getJobIdsForGroup(marker):
            assert time.monotonic() < deadline, "marker job never reached the status store"
            time.sleep(0.05)
        return list(tracker.getJobIdsForGroup(probe))

    return run
