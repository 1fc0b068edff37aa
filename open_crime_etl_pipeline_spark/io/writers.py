"""Sinks — partitioned lake writers.

Reference parity: the gzip-JSON landing-zone sink + S3 hive-keyed
upload (`airflow/dags/crimeapi/utils/helper.py:67-86`,
`airflow/dags/crimeapi/load.py:10-23`) collapse into one distributed
partitioned write; parquet is the engine's primary format (S10).

Scale notes: ``maxRecordsPerFile`` bounds file sizes at 100 TB;
partitionBy(year, month, load_date) gives the same pruning keys the
reference encoded in S3 paths. ``write_partitioned_crime`` writes on
the executors; ``write_partitioned_json_rows`` is its driver-side twin
for rows the driver already holds (one ingest window's pages), which it
streams to the same layout without starting a Spark job.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import json
import uuid
from collections.abc import Iterable, Sequence
from zoneinfo import ZoneInfo

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

CRIME_PARTITION_COLS = ("year", "month", "load_date")
# Spark's directory name for a NULL partition value
HIVE_DEFAULT_PARTITION = "__HIVE_DEFAULT_PARTITION__"


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


def _session_ts(value, zone) -> dt.datetime | None:
    """``to_timestamp(value)`` as a wall time in the session zone, or
    None where it does not parse. A naive value is read in ``zone`` and
    a time inside a DST gap moves forward, as Spark resolves it."""
    try:
        t = dt.datetime.fromisoformat(value)
    except (TypeError, ValueError):
        return None
    if t.tzinfo is None:
        t = t.replace(tzinfo=zone).astimezone(dt.timezone.utc)
    return t.astimezone(zone)


def _json_ts(t: dt.datetime) -> str:
    # Spark's JSON timestampFormat, yyyy-MM-dd'T'HH:mm:ss.SSSXXX
    off = t.strftime("%z")
    off = "Z" if off == "+0000" else f"{off[:3]}:{off[3:]}"
    return f"{t:%Y-%m-%dT%H:%M:%S}.{t.microsecond // 1000:03d}{off}"


def write_partitioned_json_rows(
    rows: Iterable[Sequence],
    fields: Sequence[str],
    path: str,
    ts_field: str,
    ts_col: str,
    load_date: str,
    time_zone: str,
) -> None:
    """Land driver-side ``rows`` (tuples over ``fields``) exactly as
    ``write_partitioned_crime(df.withColumn(ts_col,
    F.to_timestamp(ts_field)), path, ts_col=ts_col,
    load_date=load_date, fmt="json")`` lands them, with no Spark job:

    - ``year=/month=/load_date=`` dirs, ``year``/``month`` taken from
      ``ts_field`` read in the session zone ``time_zone``; a NULL
      timestamp lands under ``__HIVE_DEFAULT_PARTITION__``, and so does
      one that does not parse (which ``to_timestamp`` rejects under
      ANSI mode);
    - fields named like a partition column are dropped from the data
      and ``ts_col`` is added; NULL fields are omitted and the JSON is
      compact, one record per line, gzip-compressed.

    One stream is open per partition dir and each record is written as
    it arrives, so memory is O(record), not O(rows). Each file is
    written under a hidden ``.``-prefixed name that Spark's reader skips
    and moved into place once every file is complete; on an error the
    hidden files are deleted, so a torn file is never visible.
    """
    from ..sources.socrata import _landing_fs

    try:
        zone = ZoneInfo(time_zone)
    except (KeyError, ValueError):  # an offset such as "+01:00"
        zone = dt.datetime.strptime(time_zone, "%z").tzinfo
    fs, root = _landing_fs(path)
    root = root.rstrip("/")
    fs.create_dir(root, recursive=True)
    keep = [(i, f) for i, f in enumerate(fields) if f not in CRIME_PARTITION_COLS]
    at = list(fields).index(ts_field)
    files: dict[tuple, tuple] = {}  # (year, month) -> (tmp, final, stream)
    try:
        for row in rows:
            rec = {f: row[i] for i, f in keep if row[i] is not None}
            t = _session_ts(row[at], zone)
            if t is None:
                part = (HIVE_DEFAULT_PARTITION, HIVE_DEFAULT_PARTITION)
            else:
                part = (f"{t.year:04d}", f"{t.month:02d}")
                rec[ts_col] = _json_ts(t)
            if part not in files:
                d = f"{root}/year={part[0]}/month={part[1]}/load_date={load_date}"
                fs.create_dir(d, recursive=True)
                name = f"part-{uuid.uuid4().hex}.json.gz"
                tmp = f"{d}/.{name}.tmp"
                files[part] = (tmp, f"{d}/{name}", pa.CompressedOutputStream(
                    fs.open_output_stream(tmp, compression=None), "gzip"))
            line = json.dumps(rec, ensure_ascii=False, separators=(",", ":"))
            files[part][2].write(line.encode() + b"\n")
        for _, _, stream in files.values():
            stream.close()
        for tmp, final, _ in files.values():
            fs.move(tmp, final)
    except BaseException:
        for tmp, _, stream in files.values():
            with contextlib.suppress(OSError, pa.ArrowException):
                stream.close()
            with contextlib.suppress(OSError):
                fs.delete_file(tmp)
        raise


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
