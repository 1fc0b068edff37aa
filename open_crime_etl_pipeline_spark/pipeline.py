"""End-to-end pipeline orchestrator — the reference's Airflow DAG
`crime_etl` (§3.1, `airflow/dags/crime_etl.py:563-695`) as one engine
API. Stage mapping:

    check_table          → implicit (schemas declared, paths created on write)
    fetch_metadata       → watermark from the commit log (a scan only when
                           the log cannot state it) + FULL/INCREMENT
                           branch (ST1/ST2)
    full/incremental     → custom REST DataSource scan, window pushed (S1/S2);
                           a one-window run pages on the driver
    upload_to_s3         → partitioned gzip-JSON landing write (S3/S4),
                           driver-side for a one-window run
    load_to_warehouses   → landing scan of the day → silver transform →
                           join-based MERGE of the touched files, published
                           file by file (S5/S6/P1-P3/J1)
    update_metadata      → run-ledger lifecycle rows (ST8), edited on
                           the driver with pyarrow (no Spark job)
    validate/sync        → replica reconciliation + recovery loads (ST9)

Two independent `CrimePipeline` instances over different lake roots
reproduce the reference's dual-warehouse topology; `sync_from` is the
RECOVERY path. Everything is deterministic offline via the fake://
endpoint; swap `endpoint` for the real Socrata URL in production.

The landing scan reads with a pinned schema (``LANDING_SCHEMA``,
derived from the raw Socrata schema and the writer's partition
columns): no schema-inference job over the whole landing history on
each run, and a field that is null in every landed record (the JSON
writer drops null fields) still arrives as a NULL column.

Scale: the driver holds O(1) metadata (the latest log entry with its
per-file stats, ledger rows), the batch's keys (no more than the
merge's broadcast of them), and, when a run's window is a single
source partition (every daily INCREMENT), one REST page at a time:
that window is paged and landed on the driver, since one partition
gains nothing from a Spark job. Multi-window ingest (a FULL backfill,
a RECOVERY span past a month), transform, and merge are distributed.
The publish is O(batch + touched files): the merge reads and rewrites
only the live files whose ``crime_id`` range holds a batch key, and
the commit hard-links every other file into the new snapshot. The
run's row counts and the next watermark come from the commit log, not
from a scan.
"""

from __future__ import annotations

import datetime as dt
import glob
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .incremental.ledger import RunLedger
from .incremental.reconcile import missing_load_dates
from .incremental.watermark import (
    FULL_LOAD_EPOCH,
    decide_mode,
    incremental_window,
    logged_watermark,
    read_watermark,
    watermark_to_log,
)
from .io.table import VersionedParquetTable, files_holding
from .io.writers import (
    CRIME_PARTITION_COLS,
    write_partitioned_crime,
    write_partitioned_json_rows,
)
from .localrel import local_df
from .operators.merge import merge_upsert
from .schemas import CRIME_RAW_SCHEMA, CRIME_SILVER_SCHEMA
from .sources.socrata import SocrataReader, register_socrata_source
from .transform.crime import transform_crime_page

SOQL_FMT = "%Y-%m-%dT%H:%M:%S.%f"
KEY = "crime_id"
WATERMARK = "source_updated_on"

# Landing-zone JSON as ``ingest_window`` writes it: the raw fields as
# strings, minus ``year`` (the writer replaces it with the partition
# column), plus the partitioning timestamp and the partition columns.
LANDING_TS = "__ts"
LANDING_SCHEMA = T.StructType(
    [f for f in CRIME_RAW_SCHEMA.fields if f.name != "year"]
    + [T.StructField(c, T.StringType(), True)
       for c in (LANDING_TS, *CRIME_PARTITION_COLS)]
)


def _soql(d: dt.datetime) -> str:
    return d.strftime(SOQL_FMT)[:-3]


class CrimePipeline:
    """One warehouse replica: landing zone + crime table + run ledger
    under ``lake_root``."""

    def __init__(self, spark: SparkSession, lake_root: str,
                 endpoint: str = "fake://1200", pagesize: int = 5000):
        self.spark = spark
        self.root = lake_root
        self.endpoint = endpoint
        self.pagesize = pagesize
        self.landing = os.path.join(lake_root, "raw")
        self.table_path = os.path.join(lake_root, "crime")
        # Versioned table with an atomic commit log: a merge publishes a
        # new immutable snapshot that rewrites only the files it touches
        # (the rest are hard-linked), readers never see a partial
        # commit, and a crash mid-commit leaves the previous version
        # intact. The log records per-file key stats and the watermark.
        self.table = VersionedParquetTable(
            spark, self.table_path, schema=CRIME_SILVER_SCHEMA,
            key=KEY, watermark=WATERMARK,
        )
        self.ledger = RunLedger(spark, os.path.join(lake_root, "logs"))
        register_socrata_source(spark)

    # -- table access -------------------------------------------------
    def crime_table(self) -> DataFrame:
        return self.table.read()

    def _merge_publish(self, batch: DataFrame, base: dict | None,
                       action: str) -> dict:
        """MERGE ``batch`` into the table as of ``base`` (its latest log
        entry) and publish the result file by file; returns the new
        entry. The one write path of ``run`` and ``sync_from``.

        Only the live files whose ``crime_id`` range holds a batch key
        are read; their survivors are rewritten one file each (so files
        keep their key clustering) and every other live file is kept as
        it is. Finding them costs one Spark job, a collect of the
        batch's keys. An entry without per-file stats (written before
        file-level commits) treats every file as touched: one full
        rewrite, after which the stats exist. A NULL key never matches,
        so null-key rows on both sides stay, as in ``merge_upsert``."""
        files = self.table.file_stats(base)
        if files is None:
            target, keep = self.table.read(), []
        else:
            keys = sorted(r[0] for r in batch.select(KEY).where(F.col(KEY).isNotNull()).collect())
            touched = files_holding(files, keys)
            target = self.table.read(version=base["version"], files=touched)
            keep = [f["path"] for f in files if f["path"] not in touched]
        merged = merge_upsert(target, batch, keys=[KEY], order_by=[WATERMARK])
        version = self.table.commit(merged, action=action, base=base, keep=keep)
        # retain the previous snapshot for rollback/time travel; older
        # ones (and orphans from crashed commits) are reclaimed eagerly
        self.table.vacuum(keep_last=2)
        return self.table.entry(version)

    # -- DAG stages ---------------------------------------------------
    def ingest_window(self, start: dt.datetime, end: dt.datetime,
                      load_date: dt.date) -> None:
        """REST scan of ``[start, end)`` with the window pushed into the
        source (S1), landed as partitioned gzip JSON (S3/S4).

        The source's partition count picks where this runs; there is no
        row threshold and no option. One month window (every INCREMENT
        run) is read on the driver by the source's own ``read`` (page
        loop, retries, checkpoint) and streamed to the landing zone by
        ``write_partitioned_json_rows``: no Spark job, because one
        partition has no parallelism to buy. Several windows (a FULL
        backfill, a RECOVERY span past a month) fan out as a distributed
        scan and ``write_partitioned_crime``. Both paths land the same
        partition dirs and rows."""
        options = {
            "endpoint": self.endpoint, "pagesize": str(self.pagesize),
            "start_date": _soql(start), "end_date": _soql(end),
        }
        reader = SocrataReader(CRIME_RAW_SCHEMA, options)
        windows = reader.partitions()
        if len(windows) == 1:
            write_partitioned_json_rows(
                reader.read(windows[0]), reader.field_names, self.landing,
                ts_field="updated_on", ts_col=LANDING_TS,
                load_date=load_date.isoformat(),
                time_zone=self.spark.conf.get("spark.sql.session.timeZone"),
            )
            return
        raw = self.spark.read.format("socrata_crime").options(**options).load()
        write_partitioned_crime(
            raw.withColumn(LANDING_TS, F.to_timestamp("updated_on")),
            self.landing, ts_col=LANDING_TS,
            load_date=load_date.isoformat(), fmt="json",
        )

    def load_batch(self, load_date: dt.date) -> DataFrame:
        """Landing scan of one load date (S5) → silver transform →
        batch ready to merge. Only that day's ``year=*/month=*/
        load_date=<d>`` directories are listed, not the whole landing
        history, and the scan's schema is pinned, so building the batch
        runs no Spark job. A day with nothing landed is an empty batch."""
        days = sorted(glob.glob(os.path.join(
            self.landing, "year=*", "month=*", f"load_date={load_date.isoformat()}")))
        if days:
            landed = (self.spark.read.schema(LANDING_SCHEMA)
                      .option("basePath", self.landing).json(days))
        else:
            landed = local_df(self.spark, [], LANDING_SCHEMA)
        return transform_crime_page(landed)  # selects only silver columns

    def run(self, now: dt.datetime, load_date: dt.date | None = None) -> dict:
        """One scheduled pipeline run (the whole DAG, ST1-ST8)."""
        load_date = load_date or now.date()
        base = self.table.entry()
        known, wm = logged_watermark(base, WATERMARK)
        if not known:
            wm = read_watermark(self.crime_table(), WATERMARK)
            # the scanned value is exact for ``base``: the commit below
            # can then state the next watermark again
            base = {**base, "watermark": watermark_to_log(wm, WATERMARK)}
        mode = decide_mode(wm)
        start, end = incremental_window(wm, now, FULL_LOAD_EPOCH)
        run_id = self.ledger.start_run(load_date, mode=mode)
        try:
            self.ingest_window(start, end, load_date)
            # row and null-key counts come from the new entry's per-file
            # footer stats: validate_sync's accounting with no re-query
            entry = self._merge_publish(
                self.load_batch(load_date), base, action=f"merge:{mode}")
            self.ledger.finish_run(run_id, load_date, "SUCCESS")
            status = "SUCCESS"
        except Exception:
            self.ledger.finish_run(run_id, load_date, "FAILED")
            raise
        return {
            "run_id": run_id, "mode": mode, "status": status,
            "window": (start.isoformat(), end.isoformat()),
            "table_rows": entry["rows"],
            "null_keys": sum(f["nulls"] for f in entry["files"]),
        }

    # -- reconciliation (ST9) -----------------------------------------
    def sync_from(self, other: "CrimePipeline", now: dt.datetime) -> list[str]:
        """RECOVERY loads for load_dates the other replica has and this
        one is missing (≡ validate_sync + sync_*_db)."""
        missing = [
            r["load_date"]
            for r in missing_load_dates(
                other.ledger.successful_load_dates(),
                self.ledger.successful_load_dates(),
            ).collect()
        ]
        recovered = []
        for d in sorted(missing):
            run_id = self.ledger.start_run(d, run_type="RECOVERY", mode="FULL")
            day = dt.datetime.combine(d, dt.time.min)
            self.ingest_window(day, min(day + dt.timedelta(days=32), now), d)
            self._merge_publish(self.load_batch(d), self.table.entry(),
                                action="merge:RECOVERY")
            self.ledger.finish_run(run_id, d, "SUCCESS")
            recovered.append(d.isoformat())
        return recovered
