"""Sinks — partitioned lake writers.

Reference parity: the gzip-JSON landing-zone sink + S3 hive-keyed
upload (`airflow/dags/crimeapi/utils/helper.py:67-86`,
`airflow/dags/crimeapi/load.py:10-23`) collapse into one distributed
partitioned write; parquet is the engine's primary format (S10).

Scale notes: ``maxRecordsPerFile`` bounds file sizes at 100 TB;
partitionBy(year, month, load_date) gives the same pruning keys the
reference encoded in S3 paths. Writes are executor-side — no
driver-side collect anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

CRIME_PARTITION_COLS = ("year", "month", "load_date")


def write_partitioned_crime(
    df: DataFrame,
    path: str,
    ts_col: str = "date_of_occurrence",
    load_date: str | None = None,
    fmt: str = "parquet",
    mode: str = "append",
    max_records_per_file: int = 1_000_000,
) -> None:
    """Write with the reference's hive layout ``year=/month=/load_date=``
    derived from ``ts_col`` (helper.py:72-73 zero-pads month; hive
    partition values are strings so formatting matches).
    """
    out = (
        df.withColumn("year", F.date_format(F.col(ts_col), "yyyy"))
        .withColumn("month", F.date_format(F.col(ts_col), "MM"))
        .withColumn(
            "load_date",
            F.lit(load_date) if load_date is not None
            else F.date_format(F.current_date(), "yyyy-MM-dd"),
        )
    )
    writer = (
        out.write.mode(mode)
        .option("maxRecordsPerFile", max_records_per_file)
        .partitionBy(*CRIME_PARTITION_COLS)
    )
    if fmt == "json":
        writer.option("compression", "gzip").json(path)
    else:
        writer.parquet(path)


def write_dual(
    df: DataFrame,
    path_a: str,
    path_b: str,
    mode: str = "overwrite",
) -> None:
    """S8 dual-sink fan-out (≡ `upload_s3 >> [load_postgres,
    load_snowflake]`, crime_etl.py:694): persist once, write twice —
    the upstream plan executes a single time instead of once per sink.
    Unpersists afterward."""
    df.persist()
    try:
        df.write.mode(mode).parquet(path_a)
        df.write.mode(mode).parquet(path_b)
    finally:
        df.unpersist()
