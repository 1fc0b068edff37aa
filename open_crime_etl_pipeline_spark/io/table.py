"""Versioned parquet table with an atomic transaction log — the merge
target's storage layer (SURVEY.md §2.3 J1, §4 "Upsert/MERGE execution").

The reference's MERGE is transactional because the warehouse makes it
so; plain ``mode("overwrite")`` parquet is not — a reader (or a crash)
mid-rewrite sees a half-deleted directory, and the previous engine
design needed a staging double-write so the merged plan would not
clobber its own input. This module fixes both with the standard
lakehouse recipe (the Delta Lake / Iceberg protocol, public knowledge):

    table_root/
      _txn_log/00000000000000000001.json   one entry per committed version
      data/snap-<uuid>/                    immutable snapshot directories

* Writers never touch existing data: each commit writes a NEW snapshot
  directory, then publishes it with an atomic exclusive create of the
  next log entry (``os.link`` — put-if-absent; on S3 this maps to
  put-if-absent/conditional-put, the same primitive Delta uses).
* Readers resolve the latest committed entry and read that snapshot —
  they can never observe a partial write; an interrupted commit leaves
  only an orphaned uncommitted directory (cleaned by ``vacuum``).
* Optimistic concurrency: if the log entry already exists, another
  writer won the version; the commit re-publishes the same ``snap_id``
  under the next version number (nothing is renamed).
* Time travel: ``read(version=n)`` while the snapshot is retained.

At 100 TB the snapshot write is still proportional to the MERGED OUTPUT
(and the merge plan broadcast-anti-joins the batch, so the target is
read but never shuffled). A production variant would commit per-file
add/remove actions instead of whole snapshots to make small merges
cost ∝ batch; snapshot granularity keeps this engine format-free while
preserving the atomicity contract, and the log schema (action, rows,
snapshot id) is forward-compatible with file-level actions.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

_LOG_DIR = "_txn_log"
_DATA_DIR = "data"
_WIDTH = 20


class ConcurrentWriteError(RuntimeError):
    """Another writer committed the same version repeatedly (retries
    exhausted)."""


class VersionedParquetTable:
    """Single-table ACID-ish manager: atomic publish, immutable
    snapshots, optimistic concurrency, time travel, vacuum."""

    def __init__(self, spark: SparkSession, root: str,
                 schema: StructType | None = None):
        self.spark = spark
        self.root = root
        self.schema = schema
        self._log_path = os.path.join(root, _LOG_DIR)

    # -- log protocol --------------------------------------------------
    def _entries(self) -> list[str]:
        if not os.path.isdir(self._log_path):
            return []
        return sorted(f for f in os.listdir(self._log_path) if f.endswith(".json"))

    def latest_version(self) -> int | None:
        entries = self._entries()
        return int(entries[-1][:-5]) if entries else None

    def _entry(self, version: int) -> dict:
        with open(os.path.join(self._log_path, f"{version:0{_WIDTH}d}.json")) as f:
            return json.load(f)

    def history(self) -> list[dict]:
        return [self._entry(int(e[:-5])) for e in self._entries()]

    # -- read ----------------------------------------------------------
    def exists(self) -> bool:
        return self.latest_version() is not None

    def read(self, version: int | None = None) -> DataFrame:
        """Latest (or time-travel) snapshot; empty frame with the
        declared schema when the table has never been committed."""
        v = self.latest_version() if version is None else version
        if v is None:
            if self.schema is None:
                raise ValueError(f"table {self.root} has no commits and no schema")
            return self.spark.createDataFrame([], self.schema)
        snap = os.path.join(self.root, _DATA_DIR, self._entry(v)["snapshot"])
        if not os.path.isdir(snap):
            raise FileNotFoundError(
                f"version {v} of {self.root} was vacuumed (snapshot {snap} gone)"
            )
        reader = self.spark.read
        if self.schema is not None:
            reader = reader.schema(self.schema)
        return reader.parquet(snap)

    # -- write ---------------------------------------------------------
    def commit(self, df: DataFrame, action: str = "overwrite",
               max_retries: int = 5, rows_fn=None) -> int:
        """Write ``df`` as the next version; atomic, never in place.

        Safe even when ``df``'s plan reads this table's current
        snapshot (the merge case): the new snapshot directory is fresh,
        so the scan's input files are untouched while it runs.

        ``rows_fn`` (optional, no-arg callable → int) supplies the
        ledger row count without re-reading the written snapshot — it
        is invoked AFTER the snapshot write completes, so a caller can
        pass an ``Observation`` getter that rode the write pass and the
        commit costs exactly one scan of ``df``. Without it the count
        comes from the written files (never a recompute of the input
        plan, but one extra snapshot read).
        """
        os.makedirs(self._log_path, exist_ok=True)
        snap_id = f"snap-{uuid.uuid4().hex}"
        snap_path = os.path.join(self.root, _DATA_DIR, snap_id)
        df.write.mode("error").parquet(snap_path)
        if rows_fn is not None:
            rows = int(rows_fn())
        else:
            # count from the written files, not the input plan (no recompute)
            rows = self.spark.read.parquet(snap_path).count()
        for _ in range(max_retries):
            version = (self.latest_version() or 0) + 1
            entry = {
                "version": version,
                "snapshot": snap_id,
                "action": action,
                "rows": rows,
                "committed_at": dt.datetime.now(dt.timezone.utc).isoformat(),
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
            self._entry(int(e[:-5]))["snapshot"] for e in entries[-keep_last:]
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
