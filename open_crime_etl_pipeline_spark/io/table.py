"""Versioned parquet table with an atomic transaction log — the merge
target's storage layer (SURVEY.md §2.3 J1, §4 "Upsert/MERGE execution").

The reference's MERGE is transactional because the warehouse makes it
so; plain ``mode("overwrite")`` parquet is not — a reader (or a crash)
mid-rewrite sees a half-deleted directory. This module uses the
standard lakehouse recipe (the Delta Lake / Iceberg protocol, public
knowledge):

    table_root/
      _txn_log/00000000000000000001.json   one entry per committed version
      data/snap-<uuid>/                    immutable snapshot directories

* Every ``snap-<uuid>/`` directory is COMPLETE and immutable: it holds
  every data file of its version, so a snapshot is readable as one
  plain parquet directory (``read``, time travel, ``pyarrow``).
* File-level commits: a commit writes only the rows it rewrites (its
  new files) into a fresh directory, and brings every live file it
  keeps into that directory as a hard link (``os.link``) to the
  previous snapshot's file. Nothing unchanged is re-encoded, so a
  small merge costs O(batch + the files it touches), not O(table).
  Old directories and the new one share the kept files' inodes;
  ``vacuum`` removing an old directory drops only its names.
* Publish: an atomic exclusive create of the next log entry
  (``os.link`` — put-if-absent; on S3 this maps to conditional put,
  the same primitive Delta uses). Readers resolve the latest entry and
  read that snapshot — they never observe a partial write; a crash
  before the publish leaves an orphaned directory (links included)
  that ``vacuum`` removes without touching any live file's data.
* Optimistic concurrency: if the log entry already exists, another
  writer won the version; the commit re-publishes the same ``snap_id``
  under the next version number (nothing is renamed).
* Per-file stats: each entry lists its snapshot's data files with
  their row count and, for a table declared with a ``key``, the key's
  min, max and null count. A new file's stats are read once from its
  parquet footer right after the write; a kept file's are carried
  forward from the entry it came from. A merge picks the files whose
  key range holds a batch key from these stats alone, and a caller
  gets the table's row and null-key counts with no scan.
* Watermark: for a table declared with a ``watermark`` column, each
  entry records the table's MAX of it (epoch µs) from an Observation
  that rides the data write. With W the max over the rows this commit
  writes and M the base entry's value, the entry records W when
  nothing is kept (the snapshot is exactly the written rows),
  max(M, W) when every live file is kept, W when files were replaced
  and W ≥ M, and nothing ("unknown") otherwise — a replaced file may
  have held M, so the next reader scans. The value is never too high.
  Footers cannot supply it: the column is INT96, which has no stats.
* Time travel: ``read(version=n)`` while the snapshot is retained.

An object store has no hard links: there the entry would list each
live file by path (Delta's add/remove actions) and readers would read
that list instead of one directory; the stats, the watermark rule and
the put-if-absent publish carry over unchanged.
"""

from __future__ import annotations

import bisect
import datetime as dt
import json
import os
import shutil
import uuid
from collections.abc import Sequence
from functools import reduce

import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..localrel import local_df

_LOG_DIR = "_txn_log"
_DATA_DIR = "data"
_WIDTH = 20
_UNKNOWN = object()  # a watermark the commit cannot state exactly


class ConcurrentWriteError(RuntimeError):
    """Another writer committed the same version repeatedly (retries
    exhausted)."""


def _data_files(snap_path: str) -> list[str]:
    """A snapshot's data file names (Spark's hidden-file rule: names
    starting with "_" or "." are markers and checksums)."""
    return sorted(f for f in os.listdir(snap_path) if f[0] not in "._")


def _file_stats(path: str, key: str | None) -> dict:
    """One parquet file's ``rows`` and, with a ``key``, that column's
    ``min``/``max``/``nulls``, from its footer; a footer without them (a
    writer that skips stats) falls back to reading that one column."""
    md = pq.read_metadata(path)
    out = {"path": os.path.basename(path), "rows": md.num_rows}
    if key is None:
        return out
    lo = hi = None
    nulls = 0
    for i in range(md.num_row_groups):
        rg = md.row_group(i)
        st = next(rg.column(j) for j in range(rg.num_columns)
                  if rg.column(j).path_in_schema == key).statistics
        if (st is None or not st.has_null_count
                or (not st.has_min_max and st.null_count < rg.num_rows)):
            col = pq.read_table(path, columns=[key]).column(0)
            mm = pc.min_max(col)
            return {**out, "min": mm["min"].as_py(), "max": mm["max"].as_py(),
                    "nulls": col.null_count}
        nulls += st.null_count
        if st.has_min_max:
            lo = st.min if lo is None else min(lo, st.min)
            hi = st.max if hi is None else max(hi, st.max)
    return {**out, "min": lo, "max": hi, "nulls": nulls}


def files_holding(files: list[dict], keys: list) -> list[str]:
    """The files whose recorded key range holds one of ``keys`` (sorted,
    no NULL). A file with no non-NULL key holds none."""
    out = []
    for f in files:
        i = bisect.bisect_left(keys, f["min"]) if f["min"] is not None else len(keys)
        if i < len(keys) and keys[i] <= f["max"]:
            out.append(f["path"])
    return out


class VersionedParquetTable:
    """Single-table ACID-ish manager: atomic publish, immutable
    snapshots, file-level commits, optimistic concurrency, time travel,
    vacuum.

    ``key`` names the column whose per-file min/max/null count each
    entry records; ``watermark`` a timestamp column whose table-wide
    MAX each entry records (see the module docstring)."""

    def __init__(self, spark: SparkSession, root: str,
                 schema: StructType | None = None,
                 key: str | None = None, watermark: str | None = None):
        self.spark = spark
        self.root = root
        self.schema = schema
        self.key = key
        self.watermark = watermark
        self._log_path = os.path.join(root, _LOG_DIR)

    # -- log protocol --------------------------------------------------
    def _entries(self) -> list[str]:
        if not os.path.isdir(self._log_path):
            return []
        return sorted(f for f in os.listdir(self._log_path) if f.endswith(".json"))

    def latest_version(self) -> int | None:
        entries = self._entries()
        return int(entries[-1][:-5]) if entries else None

    def entry(self, version: int | None = None) -> dict | None:
        """The log entry of ``version`` (default latest); None when the
        table has never been committed."""
        v = self.latest_version() if version is None else version
        if v is None:
            return None
        with open(os.path.join(self._log_path, f"{v:0{_WIDTH}d}.json")) as f:
            return json.load(f)

    def file_stats(self, entry: dict | None) -> list[dict] | None:
        """``entry``'s per-file stats (``path``, ``rows``, and the key's
        ``min``/``max``/``nulls``), or None when it records none for this
        table's key — an entry written before file-level commits."""
        if entry is None or "files" not in entry or entry.get("key") != self.key:
            return None
        return entry["files"]

    def history(self) -> list[dict]:
        return [self.entry(int(e[:-5])) for e in self._entries()]

    # -- read ----------------------------------------------------------
    def exists(self) -> bool:
        return self.latest_version() is not None

    def read(self, version: int | None = None,
             files: list[str] | None = None) -> DataFrame:
        """Latest (or time-travel) snapshot; empty frame with the
        declared schema when the table has never been committed.

        ``files`` reads only those data files of the snapshot, one scan
        each, so each file's rows stay in their own tasks — and in their
        own output files when the frame is written back."""
        v = self.latest_version() if version is None else version
        if v is None or (files is not None and not files):
            if self.schema is None:
                raise ValueError(f"table {self.root} has no commits and no schema")
            return local_df(self.spark, [], self.schema)
        snap = os.path.join(self.root, _DATA_DIR, self.entry(v)["snapshot"])
        if not os.path.isdir(snap):
            raise FileNotFoundError(
                f"version {v} of {self.root} was vacuumed (snapshot {snap} gone)"
            )
        reader = self.spark.read
        if self.schema is not None:
            reader = reader.schema(self.schema)
        if files is None:
            return reader.parquet(snap)
        return reduce(DataFrame.union,
                      (reader.parquet(os.path.join(snap, f)) for f in files))

    # -- write ---------------------------------------------------------
    def commit(self, df: DataFrame, action: str = "overwrite",
               max_retries: int = 5, base: dict | None = None,
               keep: Sequence[str] = ()) -> int:
        """Write ``df`` as the next version; atomic, never in place.

        ``keep`` names live data files of the ``base`` entry (the
        version the caller planned against) that the new version keeps
        as they are: they are hard-linked into the new snapshot next to
        ``df``'s files and their stats carried forward. Without ``keep``
        the new snapshot is exactly ``df``.

        Safe even when ``df``'s plan reads ``base``'s snapshot (the
        merge case): the new snapshot directory is fresh, so the scan's
        input files are untouched while it runs. Row counts and stats
        come from the written footers — no re-read of the data.
        """
        os.makedirs(self._log_path, exist_ok=True)
        snap_id = f"snap-{uuid.uuid4().hex}"
        snap_path = os.path.join(self.root, _DATA_DIR, snap_id)
        obs = None
        if self.watermark is not None:
            obs = Observation()
            df = df.observe(obs, F.max(F.unix_micros(self.watermark)).alias("max_us"))
        df.write.mode("error").parquet(snap_path)
        written = [_file_stats(os.path.join(snap_path, f), self.key)
                   for f in _data_files(snap_path)]
        empty = [f for f in written if f["rows"] == 0]
        if keep or len(empty) < len(written):
            # an empty write leaves one 0-row file (Spark keeps the
            # schema readable); the snapshot has other files for that
            for f in empty:
                os.unlink(os.path.join(snap_path, f["path"]))
            written = [f for f in written if f["rows"]]
        files = list(written)
        if keep:
            carried = {f["path"]: f for f in self.file_stats(base)}
            src = os.path.join(self.root, _DATA_DIR, base["snapshot"])
            for name in keep:
                os.link(os.path.join(src, name), os.path.join(snap_path, name))
                files.append(carried[name])
        extra = {"files": files}
        if self.key is not None:
            extra["key"] = self.key
        if obs is not None:
            wm = self._next_watermark(base, keep, obs.get["max_us"])
            if wm is not _UNKNOWN:
                extra["watermark"] = {"column": self.watermark, "max_us": wm}
        for _ in range(max_retries):
            version = (self.latest_version() or 0) + 1
            entry = {
                "version": version,
                "snapshot": snap_id,
                "action": action,
                "rows": sum(f["rows"] for f in files),
                "committed_at": dt.datetime.now(dt.timezone.utc).isoformat(),
                **extra,
            }
            tmp = os.path.join(self._log_path, f".tmp-{uuid.uuid4().hex}")
            with open(tmp, "w") as f:
                json.dump(entry, f)
                f.flush()
                os.fsync(f.fileno())
            dst = os.path.join(self._log_path, f"{version:0{_WIDTH}d}.json")
            try:
                os.link(tmp, dst)  # atomic put-if-absent
                return version
            except FileExistsError:
                continue  # lost the race: recompute next version, retry
            finally:
                os.unlink(tmp)
        shutil.rmtree(snap_path, ignore_errors=True)
        raise ConcurrentWriteError(
            f"{max_retries} consecutive version conflicts on {self.root}"
        )

    def _next_watermark(self, base: dict | None, keep: Sequence[str], w):
        """The new version's MAX(watermark) in epoch µs, or ``_UNKNOWN``
        (the rule in the module docstring); ``w`` is the max over the
        rows this commit wrote."""
        if not keep:
            return w
        rec = base.get("watermark")
        if rec is None or rec["column"] != self.watermark:
            return _UNKNOWN
        m = rec["max_us"]
        if m is None or len(keep) == len(self.file_stats(base)):
            # the kept rows hold nothing above m: the larger side is exact
            return max((v for v in (m, w) if v is not None), default=None)
        if w is not None and w >= m:
            return w
        return _UNKNOWN

    # -- maintenance ---------------------------------------------------
    def diff(self, keys: list[str], v_from: int, v_to: int | None = None) -> DataFrame:
        """Change data feed between two committed versions: every row of
        ``v_to`` (default latest) that is new or changed since
        ``v_from``, plus tombstones for deleted keys. Output = v_to's
        columns + ``_change`` ∈ {insert, update_postimage, delete}
        (deleted rows carry v_from's values).

        Computed as two keyed anti/join passes over the immutable
        snapshots — no change log needs to be captured at write time,
        which is the advantage of snapshot-complete versioning: any
        pair of retained versions can be diffed after the fact.
        """
        from pyspark.sql import functions as F

        old = self.read(version=v_from)
        new = self.read(version=v_to)
        non_keys = [c for c in new.columns if c not in keys]
        old_keyed = old.select(*keys, F.struct(*non_keys).alias("__v"))
        new_keyed = new.select(*keys, F.struct(*non_keys).alias("__v"))
        joined = new_keyed.alias("n").join(
            old_keyed.alias("o"), on=keys, how="full_outer"
        )
        n_v, o_v = F.col("n.__v"), F.col("o.__v")
        change = (
            F.when(o_v.isNull(), "insert")
            .when(n_v.isNull(), "delete")
            .when(~n_v.eqNullSafe(o_v), "update_postimage")
        )
        picked = F.coalesce(n_v, o_v)  # deletes carry the pre-image
        return (
            joined.withColumn("_change", change)
            .filter(F.col("_change").isNotNull())
            .select(
                *keys,
                *[picked[c].alias(c) for c in non_keys],
                "_change",
            )
        )

    def vacuum(self, keep_last: int = 2) -> list[str]:
        """Drop snapshot directories beyond the ``keep_last`` most
        recent committed versions, plus any orphaned (never-committed)
        snapshots. Log entries are retained — history stays auditable;
        time travel to a vacuumed version raises."""
        entries = self._entries()
        keep = {
            self.entry(int(e[:-5]))["snapshot"] for e in entries[-keep_last:]
        } if entries else set()
        removed = []
        data_root = os.path.join(self.root, _DATA_DIR)
        if not os.path.isdir(data_root):
            return removed
        # non-kept committed snapshots AND orphans (uncommitted leftovers
        # from crashed writers — invisible to readers, always droppable)
        for d in sorted(os.listdir(data_root)):
            if d not in keep:
                shutil.rmtree(os.path.join(data_root, d), ignore_errors=True)
                removed.append(d)
        return removed
