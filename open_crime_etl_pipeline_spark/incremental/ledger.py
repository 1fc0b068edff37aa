"""Run ledger — pipeline metadata table (SURVEY.md §2.8 ST8, §2.9).

Reference: `logs` table (create_logs.sql:1-11) written via
``init_log``/``insert``/``update`` (`db_postgres.py:38-63,113-149`).
Here it's one small parquet file, ``logs/ledger.parquet``, holding one
row per run whose status is updated in place: RUNNING→SUCCESS/FAILED,
types SCHEDULED/RECOVERY, modes FULL/INCREMENT
(`crime_etl.py:104-106,429`).

The ledger is metadata (thousands of rows, not billions), so editing
it starts no Spark job. ``start_run``/``finish_run`` read-modify-write
the file on the driver with pyarrow: the new table goes to a hidden
temp file in ``logs/``, is fsynced, and is ``os.replace``d onto the
ledger file.
The replace is atomic, so a reader or a crash sees the old ledger or
the new one, never a half-written or missing file (Spark's
``mode("overwrite")`` deletes the directory before its job writes).
The Arrow schema comes from ``LOGS_SCHEMA``: timestamps are
``timestamp[us, tz=UTC]`` instants and dates ``date32``, which Spark
reads back as the declared types under any session timezone. Reads
(``read``, ``last_successful_load_date``, ``successful_load_dates``)
load the same Arrow table and hand it to Spark as a local relation,
so the file has one reader; the fact tables never take this path.

A ``logs/`` written by Spark (``part-*.parquet``, ``_SUCCESS``,
``.crc``) is folded into the ledger file by the next edit. Its files
are removed only after the ledger file holds their rows, and once the
ledger file exists it is the only one read. Single writer, as with the
reference's transactional INSERT/UPDATE.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import os
import uuid

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema

from ..localrel import local_df
from ..schemas import LOGS_SCHEMA

LEDGER_FILE = "ledger.parquet"
_ARROW_SCHEMA = to_arrow_schema(LOGS_SCHEMA)


def _is_spark_part(name: str) -> bool:
    # names starting with "." or "_" are not data, as for Spark's reader
    return name.endswith(".parquet") and name != LEDGER_FILE and name[0] not in "._"


def _utcnow() -> dt.datetime:
    # tz-aware UTC: `utcnow()` is deprecated (3.12+) and its naive result
    # silently re-interprets under a non-UTC session timezone — an
    # engine-level TIMESTAMPTZ correctness trap.
    return dt.datetime.now(dt.timezone.utc)


class RunLedger:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        self.file = os.path.join(path, LEDGER_FILE)

    def _files(self) -> list[str]:
        """The ledger file or, before the first edit of a ``logs/``
        written by Spark, that layout's part files."""
        if os.path.exists(self.file):
            return [self.file]
        if not os.path.isdir(self.path):
            return []
        return sorted(os.path.join(self.path, f)
                      for f in os.listdir(self.path) if _is_spark_part(f))

    def read(self) -> DataFrame:
        return local_df(self.spark, self._load(), LOGS_SCHEMA)

    def _load(self) -> pa.Table:
        # Spark writes timestamps as INT96; read them at µs like LOGS_SCHEMA
        tables = [
            pq.read_table(f, coerce_int96_timestamp_unit="us")
            .select(_ARROW_SCHEMA.names).cast(_ARROW_SCHEMA)
            for f in self._files()
        ]
        return pa.concat_tables(tables) if tables else _ARROW_SCHEMA.empty_table()

    def _save(self, table: pa.Table) -> None:
        os.makedirs(self.path, exist_ok=True)
        tmp = os.path.join(self.path, f".{LEDGER_FILE}.tmp")
        try:
            with open(tmp, "wb") as f:
                pq.write_table(table, f)
                f.flush()
                os.fsync(f.fileno())
            os.replace(tmp, self.file)
        finally:
            with contextlib.suppress(FileNotFoundError):
                os.remove(tmp)
        # a Spark-written ledger's rows are in the ledger file now
        for f in os.listdir(self.path):
            if f == "_SUCCESS" or f.endswith(".crc") or _is_spark_part(f):
                os.remove(os.path.join(self.path, f))

    def start_run(
        self,
        load_date: dt.date,
        run_type: str = "SCHEDULED",
        mode: str = "FULL",
        config: str = "{}",
        run_id: str | None = None,
    ) -> str:
        """Insert a RUNNING row (≡ init_log, db_postgres.py:86-91)."""
        run_id = run_id or uuid.uuid4().hex
        row = pa.Table.from_pylist([{
            "run_id": run_id, "load_date": load_date, "type": run_type,
            "mode": mode, "status": "RUNNING", "start_time": _utcnow(),
            "end_time": None, "config": config,
        }], schema=_ARROW_SCHEMA)
        self._save(pa.concat_tables([self._load(), row]))
        return run_id

    def finish_run(self, run_id: str, load_date: dt.date, status: str) -> None:
        """Terminal SUCCESS/FAILED update (≡ update, db_postgres.py:128-149)."""
        cur = self._load()
        hit = pc.and_(
            pc.equal(cur["run_id"], run_id),
            pc.equal(cur["load_date"], pa.scalar(load_date, pa.date32())),
        )
        end = pa.scalar(_utcnow(), _ARROW_SCHEMA.field("end_time").type)
        for name, value in (("status", status), ("end_time", end)):
            i = _ARROW_SCHEMA.get_field_index(name)
            cur = cur.set_column(
                i, _ARROW_SCHEMA.field(i), pc.if_else(hit, value, cur[name]))
        self._save(cur)

    def last_successful_load_date(self) -> dt.date | None:
        """≡ MAX(load_date) WHERE status IN ('SUCCESS','RUNNING')
        (A2, db_postgres.py:73-84)."""
        row = (
            self.read()
            .filter(F.col("status").isin("SUCCESS", "RUNNING"))
            .agg(F.max("load_date").alias("d"))
            .first()
        )
        return row["d"]

    def successful_load_dates(self) -> DataFrame:
        """≡ SELECT load_date WHERE status='SUCCESS' (A3)."""
        return (
            self.read()
            .filter(F.col("status") == "SUCCESS")
            .select("load_date")
            .distinct()
        )
