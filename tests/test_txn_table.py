"""VersionedParquetTable: atomic publish, optimistic concurrency,
time travel, vacuum, and the merge-reads-own-snapshot property the
pipeline relies on."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from open_crime_etl_pipeline_spark.io.table import (
    ConcurrentWriteError,
    VersionedParquetTable,
)
from open_crime_etl_pipeline_spark.operators.merge import merge_upsert
from open_crime_etl_pipeline_spark.schemas import CRIME_SILVER_SCHEMA


@pytest.fixture()
def tbl(spark, tmp_path):
    return VersionedParquetTable(
        spark, str(tmp_path / "t"), schema=None
    )


def _df(spark, rows):
    return spark.createDataFrame(rows, "id int, v string")


def test_commit_read_roundtrip_and_versions(spark, tmp_path):
    t = VersionedParquetTable(spark, str(tmp_path / "t"))
    assert not t.exists()
    v1 = t.commit(_df(spark, [(1, "a"), (2, "b")]))
    v2 = t.commit(_df(spark, [(1, "a2")]), action="merge")
    assert (v1, v2) == (1, 2)
    assert t.read().count() == 1
    assert t.read(version=1).count() == 2  # time travel
    assert [h["action"] for h in t.history()] == ["overwrite", "merge"]
    assert [h["rows"] for h in t.history()] == [2, 1]


def test_uncommitted_snapshot_is_invisible(spark, tmp_path):
    """Data written without a log entry (a crashed commit) must not be
    visible to readers — the atomicity property."""
    t = VersionedParquetTable(spark, str(tmp_path / "t"))
    t.commit(_df(spark, [(1, "a")]))
    orphan = os.path.join(t.root, "data", "snap-orphan")
    _df(spark, [(9, "crash"), (10, "crash")]).write.parquet(orphan)
    assert t.latest_version() == 1
    assert t.read().count() == 1
    assert t.vacuum(keep_last=1) == ["snap-orphan"]  # orphan reclaimed
    assert t.read().count() == 1


def test_concurrent_writer_conflict_retries_to_next_version(spark, tmp_path):
    t = VersionedParquetTable(spark, str(tmp_path / "t"))
    t.commit(_df(spark, [(1, "a")]))
    # another writer claims version 2 out from under us
    entry = {"version": 2, "snapshot": "snap-foreign", "action": "overwrite",
             "rows": 0, "committed_at": "2026-01-01T00:00:00+00:00"}
    _df(spark, [(7, "w2")]).write.parquet(os.path.join(t.root, "data", "snap-foreign"))
    with open(os.path.join(t.root, "_txn_log", f"{2:020d}.json"), "w") as f:
        json.dump(entry, f)
    v = t.commit(_df(spark, [(3, "c")]))
    assert v == 3
    assert t.read().count() == 1
    assert {r["id"] for r in t.read().collect()} == {3}


def test_conflict_retries_exhausted_raises_and_cleans(spark, tmp_path, monkeypatch):
    t = VersionedParquetTable(spark, str(tmp_path / "t"))
    t.commit(_df(spark, [(1, "a")]))
    monkeypatch.setattr(
        VersionedParquetTable, "latest_version", lambda self: 1
    )
    with open(os.path.join(t.root, "_txn_log", f"{2:020d}.json"), "w") as f:
        json.dump({"version": 2, "snapshot": "x", "action": "o", "rows": 0,
                   "committed_at": ""}, f)
    with pytest.raises(ConcurrentWriteError):
        t.commit(_df(spark, [(2, "b")]), max_retries=3)
    monkeypatch.undo()
    # the failed commit's snapshot must not linger as a live dir forever
    snaps = os.listdir(os.path.join(t.root, "data"))
    assert len([s for s in snaps if s.startswith("snap-")]) == 1


def test_vacuum_keeps_recent_versions_readable(spark, tmp_path):
    t = VersionedParquetTable(spark, str(tmp_path / "t"))
    for i in range(4):
        t.commit(_df(spark, [(i, f"v{i}")]))
    removed = t.vacuum(keep_last=2)
    assert len(removed) == 2
    assert t.read(version=4).first()["id"] == 3
    assert t.read(version=3).first()["id"] == 2
    with pytest.raises(FileNotFoundError):
        t.read(version=1)
    # history survives vacuum
    assert [h["version"] for h in t.history()] == [1, 2, 3, 4]


def test_merge_plan_reading_current_snapshot_commits_safely(spark, tmp_path):
    """The pipeline's core loop: merged = merge_upsert(read(), batch);
    commit(merged). The merged plan scans the live snapshot while the
    commit writes the next one — must not clobber its own input."""
    t = VersionedParquetTable(spark, str(tmp_path / "t"), schema=CRIME_SILVER_SCHEMA)
    base = spark.createDataFrame(
        [("c1", "A"), ("c2", "B")],
        "crime_id string, case_num string",
    )
    cols = [f.name for f in CRIME_SILVER_SCHEMA.fields]
    pad = lambda df: df.select(
        *[F.col(c) if c in df.columns else F.lit(None).cast(
            CRIME_SILVER_SCHEMA[c].dataType).alias(c) for c in cols]
    )
    t.commit(pad(base))
    batch = pad(spark.createDataFrame(
        [("c2", "B2"), ("c3", "C")], "crime_id string, case_num string"
    ))
    merged = merge_upsert(t.read(), batch, keys=["crime_id"])
    t.commit(merged, action="merge")
    got = {r["crime_id"]: r["case_num"] for r in t.read().collect()}
    assert got == {"c1": "A", "c2": "B2", "c3": "C"}
    # replay the same batch: idempotent, new version, same contents
    merged2 = merge_upsert(t.read(), batch, keys=["crime_id"])
    t.commit(merged2, action="merge")
    assert t.latest_version() == 3
    got2 = {r["crime_id"]: r["case_num"] for r in t.read().collect()}
    assert got2 == got


def test_diff_change_data_feed(spark, tmp_path):
    """diff(v_from, v_to) reconstructs inserts/updates/deletes between
    any two retained versions from the snapshots alone — no write-time
    change capture."""
    t = VersionedParquetTable(spark, str(tmp_path / "cdf"))
    t.commit(spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "id long, v string"))
    t.commit(spark.createDataFrame(
        [(1, "a"), (2, "B2"), (4, "d")], "id long, v string"))  # upd 2, del 3, ins 4

    changes = {r.id: (r.v, r._change) for r in t.diff(["id"], v_from=1).collect()}
    assert changes == {
        2: ("B2", "update_postimage"),
        3: ("c", "delete"),          # tombstone carries the pre-image
        4: ("d", "insert"),
    }
    # unchanged key 1 is absent; self-diff is empty
    assert t.diff(["id"], v_from=2, v_to=2).count() == 0
    # reversed diff sees the inverse operations
    rev = {r.id: r._change for r in t.diff(["id"], v_from=2, v_to=1).collect()}
    assert rev == {2: "update_postimage", 3: "insert", 4: "delete"}


# -- file-level commits ----------------------------------------------------

def _snap(t, version):
    return os.path.join(t.root, "data", t.entry(version)["snapshot"])


def _names(snap):
    return sorted(f for f in os.listdir(snap) if f[0] not in "._")


def test_commit_links_kept_files_and_survives_vacuum_and_crash(spark, tmp_path, monkeypatch):
    t = VersionedParquetTable(spark, str(tmp_path / "t"), key="id")
    t.commit(_df(spark, [(i, f"a{i}") for i in range(10)]).repartitionByRange(2, "id"))
    e1 = t.entry()
    stats = sorted(t.file_stats(e1), key=lambda f: f["min"])
    assert [(f["min"], f["max"], f["rows"], f["nulls"]) for f in stats] == [
        (0, 4, 5, 0), (5, 9, 5, 0)]
    lo, hi = stats[0]["path"], stats[1]["path"]
    batch = _df(spark, [(7, "b7"), (12, "b12")])
    merged = merge_upsert(t.read(files=[hi]), batch, keys=["id"])
    v2 = t.commit(merged, action="merge", base=e1, keep=[lo])
    e2 = t.entry(v2)
    snap1, snap2 = _snap(t, 1), _snap(t, v2)
    # exactly the kept file plus the written ones; the kept one is a link
    assert _names(snap2) == sorted(f["path"] for f in e2["files"])
    assert lo in _names(snap2) and hi not in _names(snap2)
    assert os.stat(os.path.join(snap1, lo)).st_ino == os.stat(os.path.join(snap2, lo)).st_ino
    assert all(os.stat(os.path.join(snap2, n)).st_nlink == 1 for n in _names(snap2) if n != lo)
    assert e2["rows"] == 11
    want2 = {**{i: f"a{i}" for i in range(10)}, 7: "b7", 12: "b12"}
    assert {r.id: r.v for r in t.read().collect()} == want2

    # a pure append keeps every file; vacuum then drops v1's directory,
    # whose file v2 and v3 still hold by link
    e3 = t.entry(t.commit(_df(spark, [(20, "c20")]), base=e2,
                          keep=[f["path"] for f in e2["files"]]))
    assert len(t.vacuum(keep_last=2)) == 1 and not os.path.exists(snap1)
    assert {r.id: r.v for r in t.read(version=e3["version"] - 1).collect()} == want2
    assert t.read().count() == 12
    # an empty write next to kept files leaves no 0-row file behind
    e4 = t.entry(t.commit(_df(spark, []), base=e3, keep=[f["path"] for f in e3["files"]]))
    assert _names(_snap(t, e4["version"])) == sorted(f["path"] for f in e3["files"])
    assert e4["files"] == e3["files"] and e4["rows"] == 12
    e3 = e4

    # a crash between the data write and the log publish
    def torn(fd):
        raise OSError("power cut")

    monkeypatch.setattr(os, "fsync", torn)
    with pytest.raises(OSError, match="power cut"):
        t.commit(_df(spark, [(30, "d30")]), base=e3, keep=[f["path"] for f in e3["files"]])
    monkeypatch.undo()
    assert t.latest_version() == 4 and t.read().count() == 12
    orphans = t.vacuum(keep_last=2)
    assert len(orphans) == 2 and e3["snapshot"] not in orphans  # v2's and the orphan
    assert t.read().count() == 12 and t.read(version=3).count() == 12


def test_key_stats_without_footer_stats_read_the_column(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from open_crime_etl_pipeline_spark.io.table import _file_stats

    tbl = pa.table({"id": ["b", None, "a", "c"], "v": [1, 2, 3, 4]})
    pq.write_table(tbl, str(tmp_path / "s.parquet"), row_group_size=2)
    pq.write_table(tbl, str(tmp_path / "n.parquet"), write_statistics=False)
    want = {"rows": 4, "min": "a", "max": "c", "nulls": 1}
    assert _file_stats(str(tmp_path / "s.parquet"), "id") == {"path": "s.parquet", **want}
    assert _file_stats(str(tmp_path / "n.parquet"), "id") == {"path": "n.parquet", **want}


def test_logged_watermark_is_exact_or_unknown(spark, tmp_path):
    """The entry's MAX(ts): W with nothing kept, max(M, W) with every
    file kept, W when files were replaced and W >= M, else unknown."""
    import datetime as dt

    from open_crime_etl_pipeline_spark.incremental.watermark import (
        logged_watermark,
        read_watermark,
    )

    t = VersionedParquetTable(spark, str(tmp_path / "w"), key="id", watermark="ts")
    day = lambda d: dt.datetime(2025, 3, d)
    rows = lambda pairs: spark.createDataFrame(pairs, "id int, ts timestamp")
    exact = lambda: logged_watermark(t.entry(), "ts") == (True, read_watermark(t.read(), "ts"))

    t.commit(rows([(1, day(1)), (2, day(5))]).repartitionByRange(2, "id"))
    assert logged_watermark(t.entry(), "ts") == (True, day(5)) and exact()
    e = t.entry()
    t.commit(rows([(3, day(3))]), base=e, keep=[f["path"] for f in e["files"]])
    assert logged_watermark(t.entry(), "ts") == (True, day(5)) and exact()
    e = t.entry()
    keep = [f["path"] for f in e["files"] if f["min"] != 2]
    t.commit(rows([(2, day(9))]), base=e, keep=keep)       # replaced, newer
    assert logged_watermark(t.entry(), "ts") == (True, day(9)) and exact()
    e = t.entry()
    top = [f["path"] for f in e["files"] if f["min"] == 2]
    keep = [f["path"] for f in e["files"] if f["path"] not in top]
    t.commit(rows([(2, day(2))]), base=e, keep=keep)       # the max row, older
    assert logged_watermark(t.entry(), "ts") == (False, None)
    t.commit(t.read())                                      # nothing kept
    assert logged_watermark(t.entry(), "ts") == (True, day(3)) and exact()
