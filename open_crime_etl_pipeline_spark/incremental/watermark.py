"""High-watermark CDC controller (SURVEY.md §2.8 ST1-ST4).

Reference semantics preserved exactly:
- watermark = MAX(update col) over the target; NULL ⇒ first run
  (ST1, `db_postgres.py:65-71`)
- mode = 'INCREMENT' if watermark else 'FULL' (ST2,
  `crime_etl.py:104-108`)
- FULL window starts at a fixed epoch (ST3, `crime_etl.py:136-138`)
- INCREMENT window starts at *midnight of the watermark's day* — a
  deliberate overlap re-reading the watermark day; duplicates are
  absorbed by the idempotent merge (ST4, `crime_etl.py:195-197`)

The watermark is read from the table's commit log first
(``logged_watermark``): a file-level commit records the table's MAX
whenever it can state it exactly (io/table.py), so a daily run reads it
with no Spark job. Only when the log cannot say (an entry written
before file-level commits, or one marked unknown) does ``read_watermark``
scan: a 1-row ``collect`` of the MAX — O(1) data to the driver
regardless of table size (the scan itself is a distributed partial-max).
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampType

FULL_LOAD_EPOCH = dt.datetime(2025, 1, 1)  # reference crime_etl.py:136-138

MODE_FULL = "FULL"
MODE_INCREMENT = "INCREMENT"


def read_watermark(target: DataFrame, col: str) -> dt.datetime | None:
    """MAX(col) over the target table; None on empty table (first run)."""
    row = target.agg(F.max(F.col(col)).alias("wm")).first()
    return row["wm"]


def logged_watermark(entry: dict | None, col: str) -> tuple[bool, dt.datetime | None]:
    """``(known, MAX(col))`` as a table log entry records it (epoch µs,
    converted the way a collected TimestampType value is, so it equals
    ``read_watermark``). No entry is a table never committed: known and
    empty, so the first run is FULL. An entry without the value is not
    known — never FULL; the caller scans."""
    if entry is None:
        return True, None
    rec = entry.get("watermark")
    if rec is None or rec["column"] != col:
        return False, None
    us = rec["max_us"]
    return True, None if us is None else TimestampType().fromInternal(us)


def watermark_to_log(wm: dt.datetime | None, col: str) -> dict:
    """``read_watermark``'s value as a log entry records it: the exact
    inverse of the collect conversion (``fromtimestamp`` marks the second
    pass through a repeated local hour with ``fold``, which
    ``timestamp()`` honours)."""
    us = None
    if wm is not None:
        us = round(wm.replace(microsecond=0).timestamp()) * 1_000_000 + wm.microsecond
    return {"column": col, "max_us": us}


def decide_mode(watermark: dt.datetime | None) -> str:
    return MODE_INCREMENT if watermark is not None else MODE_FULL


def incremental_window(
    watermark: dt.datetime | None,
    now: dt.datetime,
    full_epoch: dt.datetime = FULL_LOAD_EPOCH,
) -> tuple[dt.datetime, dt.datetime]:
    """[start, end) ingest window. FULL: from the fixed epoch.
    INCREMENT: from midnight of the watermark day (deliberate overlap,
    ST4 — `datetime.combine(last_source_update, time.min)`)."""
    if watermark is None:
        return full_epoch, now
    start = dt.datetime.combine(watermark.date(), dt.time.min)
    return start, now
