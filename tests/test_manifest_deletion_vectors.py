"""Round-12 deletion vectors (``delete_where(mode="dv")`` — the Delta
DV shape): a narrow delete records content-addressed position files
under ``dv/`` and ONE metadata commit, never rewriting shards. Pins
read-path application (native scan / DataSource / time travel),
vector union + idempotent re-matching, CDF delete rows, COW rewrites
materializing the delete and clearing the vector, protocol-4 stamps,
vector-lineage conflict refusal, vacuum coupling, and the
jsonl-codec refusal."""

from __future__ import annotations

import json
import os
from collections import Counter

import pytest

from pyspark.sql import functions as F

from open_crime_etl_pipeline_spark.sources import manifest_sink as MS
from open_crime_etl_pipeline_spark.sources.manifest_table import (
    ManifestTable,
)

SCH = "k long, s string"


@pytest.fixture(scope="module")
def registered(spark):
    MS.register(spark)
    return spark


def _mk(spark, path, n=1000, codec="parquet"):
    df = spark.range(n).select(
        F.col("id").alias("k"),
        F.concat(F.lit("v"), F.col("id")).alias("s"),
    )
    (
        df.repartitionByRange(4, "k")
        .write.format(MS.FORMAT_NAME)
        .option("path", path)
        .option("shard_format", codec)
        .mode("append")
        .save()
    )


def test_dv_delete_no_rewrite_all_read_paths(registered, tmp_path):
    spark, p = registered, str(tmp_path / "dv1")
    _mk(spark, p)
    t = ManifestTable(spark, p)
    before = {s["file"] for s in t.manifest()["shards"]}
    assert t.delete("k % 250 = 7", mode="dv") == 4
    man = t.manifest()
    # NO shard rewritten; live count adjusted; vectors recorded
    assert {s["file"] for s in man["shards"]} == before
    assert man["n_rows"] == 996
    assert sum(1 for s in man["shards"] if s.get("dv")) == 4
    # native scan path
    assert t.to_df().count() == 996
    assert t.to_df().filter("k % 250 = 7").count() == 0
    # DataSource path
    ds = spark.read.format(MS.FORMAT_NAME).option("path", p).load()
    assert ds.count() == 996
    assert ds.filter("k = 757").count() == 0
    # pushdown path applies the vector inside the admitted shard
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    try:
        r = (
            spark.read.format(MS.FORMAT_NAME)
            .option("path", p)
            .option("pushdown", "true")
            .load()
            .filter(F.col("k") == 7)
        )
        assert r.count() == 0
    finally:
        spark.conf.unset("spark.sql.python.filterPushdown.enabled")
    # time travel to the pre-delete version resurrects nothing-lost
    assert t.to_df(version=1).count() == 1000


def test_dv_union_idempotence_and_cdf(registered, tmp_path):
    spark, p = registered, str(tmp_path / "dv2")
    _mk(spark, p)
    t = ManifestTable(spark, p)
    assert t.delete("k % 250 = 7", mode="dv") == 4     # v2
    assert t.delete("k % 250 = 8", mode="dv") == 4     # v3: union
    assert t.manifest()["n_rows"] == 992
    # already-deleted rows can never match again
    assert t.delete("k % 250 = 7", mode="dv") == 0
    assert t.version() == 3  # the no-op published nothing
    # the CDF carries the deleted rows per commit
    ch = t.changes(1, with_version=True, with_change_type=True)
    assert Counter(
        (r["_commit_version"], r["_change_type"]) for r in ch.collect()
    ) == {(2, "delete"): 4, (3, "delete"): 4}
    # replica applying the feed reconverges
    rows = ch.collect()
    dead = {r["k"] for r in rows if r["_change_type"] == "delete"}
    live = {r["k"] for r in t.to_df().collect()}
    assert dead.isdisjoint(live) and len(live) == 992


def test_dv_protocol_stamps_and_guard(registered, tmp_path):
    spark, p = registered, str(tmp_path / "dv3")
    _mk(spark, p, n=100)
    t = ManifestTable(spark, p)
    t.delete("k = 5", mode="dv")
    act = json.load(
        open(os.path.join(p, MS.HISTORY_DIR, MS._history_name(2)))
    )
    assert act["min_reader"] == MS._DV_MIN_READER == 4
    assert list(act["dv_set"].values())[0]["n"] == 1
    hint = json.load(open(os.path.join(p, MS.MANIFEST)))
    assert hint["min_reader"] == 4  # the STATE holds dv entries
    # clearing the vectors (full rewrite) drops the floor back to 3
    t.optimize(target_shards=1)
    hint = json.load(open(os.path.join(p, MS.MANIFEST)))
    assert hint["min_reader"] == MS._PARQUET_MIN_READER == 3
    assert not any(s.get("dv") for s in t.manifest()["shards"])
    assert t.to_df().count() == 99  # the delete was materialized


def test_dv_cow_rewrite_materializes_and_clears(registered, tmp_path):
    spark, p = registered, str(tmp_path / "dv4")
    _mk(spark, p)
    t = ManifestTable(spark, p)
    t.delete("k between 0 and 9", mode="dv")
    assert t.manifest()["n_rows"] == 990
    # a COW update over the dv shard reads through the vector
    n = t.update(
        "k < 250", {"s": "concat(s, '-u')"}, prune={"k": (0, 249)}
    )
    assert n == 240  # 250 minus the 10 dv-deleted rows
    man = t.manifest()
    assert man["n_rows"] == 990
    # the touched shard's vector is gone (delete materialized)
    assert not any(s.get("dv") for s in man["shards"])
    assert t.to_df().filter("k between 0 and 9").count() == 0


def test_dv_lineage_conflict_refused(registered, tmp_path):
    spark, p = registered, str(tmp_path / "dv5")
    _mk(spark, p, n=100)
    t = ManifestTable(spark, p)
    man = t.manifest()
    stale_touched = list(man["shards"])  # snapshot BEFORE the first dv
    t.delete("k = 3", mode="dv")
    # a second dv delete built against the stale snapshot must refuse
    # (its merged vector would drop the concurrent delete)
    with pytest.raises(ValueError, match="lineage|advanced"):
        MS._dml(
            spark, p, "delete_where", "dv", man, SCH, stale_touched,
            change_data=False, cond="k = 4",
        )
    # and the honest path still works
    assert t.delete("k = 4", mode="dv") == 1
    assert t.manifest()["n_rows"] == 98


def test_dv_vacuum_releases_superseded_vectors(registered, tmp_path):
    spark, p = registered, str(tmp_path / "dv6")
    _mk(spark, p, n=100)
    t = ManifestTable(spark, p)
    t.delete("k = 1", mode="dv")
    dv1 = {
        s["dv"]["file"] for s in t.manifest()["shards"] if s.get("dv")
    }
    t.delete("k = 2", mode="dv")  # replaces that shard's vector
    dv2 = {
        s["dv"]["file"] for s in t.manifest()["shards"] if s.get("dv")
    }
    assert dv1 != dv2
    t.expire_history(keep_last=1)
    t.vacuum()
    dvdir = os.path.join(p, MS.DV_DIR)
    left = set(os.listdir(dvdir))
    assert dv2 <= left and not (dv1 - dv2) & left
    # reads still correct after vacuum
    assert t.to_df().count() == 98
    # stats: dv shards report exact n_rows but no min/max claims
    st = t.stats()
    assert st["n_rows"] == 98


@pytest.mark.parametrize("verb", ["delete", "update", "merge"])
def test_bad_mode_refused_on_noop_paths(registered, tmp_path, verb):
    """An unknown mode is refused even where the verb would return
    early without a commit: stats refute the prune (delete/update) or
    the source is empty (merge)."""
    spark, p = registered, str(tmp_path / f"bad_{verb}")
    _mk(spark, p, n=50)
    seq = MS.read_manifest_dict(p)["commit_seq"]
    run = {
        "delete": lambda: MS.delete_where(
            spark, p, SCH, "k = -1", prune={"k": (-1, -1)}, mode="bogus"
        ),
        "update": lambda: MS.update_where(
            spark, p, SCH, "k = -1", {"s": "'x'"}, prune={"k": (-1, -1)},
            mode="bogus",
        ),
        "merge": lambda: MS.merge_into(
            spark, p, SCH, spark.createDataFrame([], SCH), ["k"],
            mode="bogus",
        ),
    }[verb]
    with pytest.raises(ValueError, match="mode must be 'rewrite' or 'dv'"):
        run()
    assert MS.read_manifest_dict(p)["commit_seq"] == seq


def test_dv_refused_on_jsonl_codec(registered, tmp_path):
    spark, p = registered, str(tmp_path / "dv7")
    _mk(spark, p, n=50, codec="jsonl")
    with pytest.raises(ValueError, match="parquet"):
        MS.delete_where(spark, p, SCH, "k = 1", mode="dv")


def test_dv_stream_initial_snapshot_applies_vectors(
    registered, tmp_path
):
    """After history expiry a fresh tail's initial snapshot must not
    resurrect dv-deleted rows."""
    spark, p = registered, str(tmp_path / "dv8")
    _mk(spark, p, n=100)
    t = ManifestTable(spark, p)
    t.delete("k < 10", mode="dv")
    t.expire_history(keep_last=1)
    got = []
    q = (
        spark.readStream.format(MS.FORMAT_NAME)
        .option("path", p)
        .schema(SCH)
        .load()
        .writeStream.foreachBatch(lambda d, b: got.extend(d.collect()))
        .option("checkpointLocation", str(tmp_path / "dv8_ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert len(got) == 90
    assert min(r["k"] for r in got) == 10


def test_dv_update_no_survivor_rewrite(registered, tmp_path):
    """UPDATE mode='dv': matched rows are vectored out and their
    post-images appended — survivors never rewritten (the original
    shards stay live), exact values, CDF quartet intact."""
    spark, p = registered, str(tmp_path / "dvu")
    _mk(spark, p)
    t = ManifestTable(spark, p)
    before = {s["file"] for s in t.manifest()["shards"]}
    n = t.update("k % 100 = 7", {"s": "concat(s, '-u')"}, mode="dv")
    assert n == 10
    man = t.manifest()
    # originals all still live (plus new post-image shards)
    assert before <= {s["file"] for s in man["shards"]}
    assert man["n_rows"] == 1000
    assert sum(1 for s in man["shards"] if s.get("dv")) == 4
    got = {r["k"]: r["s"] for r in t.to_df().collect()}
    assert len(got) == 1000
    assert got[7] == "v7-u" and got[107] == "v107-u"
    assert got[8] == "v8"  # survivor untouched
    # CDF: the quartet matches the rewrite mode's exactly
    ch = t.changes(1, with_version=True, with_change_type=True)
    assert Counter(
        (r["_commit_version"], r["_change_type"]) for r in ch.collect()
    ) == {(2, "update_preimage"): 10, (2, "update_postimage"): 10}
    # SET saw the PRE-update row; re-running matches nothing new? No -
    # the predicate still matches the post-images (k unchanged), and
    # they live in NEW shards: a second dv update vectors those
    n2 = t.update("k = 7", {"s": "'final'"}, mode="dv")
    assert n2 == 1
    assert t.to_df().filter("k = 7").first()["s"] == "final"
    assert t.to_df().count() == 1000


def test_dv_merge_no_survivor_rewrite(registered, tmp_path):
    spark, p = registered, str(tmp_path / "dvm")
    _mk(spark, p)
    t = ManifestTable(spark, p)
    before = {s["file"] for s in t.manifest()["shards"]}
    src = spark.createDataFrame(
        [(3, "m3"), (503, "m503"), (5000, "new")], SCH
    )
    n_upd, n_ins = t.merge(src, ["k"], mode="dv")
    assert (n_upd, n_ins) == (2, 1)
    man = t.manifest()
    assert before <= {s["file"] for s in man["shards"]}
    assert man["n_rows"] == 1001
    got = {r["k"]: r["s"] for r in t.to_df().collect()}
    assert got[3] == "m3" and got[503] == "m503" and got[5000] == "new"
    assert got[4] == "v4"
    ch = t.changes(1, with_version=True, with_change_type=True)
    assert Counter(
        (r["_commit_version"], r["_change_type"]) for r in ch.collect()
    ) == {
        (2, "update_preimage"): 2,
        (2, "update_postimage"): 2,
        (2, "insert"): 1,
    }
    # duplicate-target guard still applies under dv
    t2 = ManifestTable(spark, p)
    dup_src = spark.createDataFrame([(3, "x"), (3, "y")], SCH)
    with pytest.raises(ValueError, match="duplicate"):
        t2.merge(dup_src, ["k"], mode="dv")


def test_dv_update_constraints_enforced(registered, tmp_path):
    spark, p = registered, str(tmp_path / "dvc")
    _mk(spark, p, n=50)
    t = ManifestTable(spark, p)
    t.add_constraint("s_prefix", "s LIKE 'v%'")
    with pytest.raises(ValueError, match="s_prefix"):
        t.update("k = 5", {"s": "'nope'"}, mode="dv")
    assert t.to_df().filter("k = 5").first()["s"] == "v5"
    assert t.version() == 2  # only the constraint meta commit


def test_dv_dml_then_optimize_materializes_everything(
    registered, tmp_path
):
    """The full dv-DML lifecycle collapses cleanly: OPTIMIZE reads
    through every vector, clears them all, and the table is
    byte-stable for replays."""
    spark, p = registered, str(tmp_path / "dvo")
    _mk(spark, p)
    t = ManifestTable(spark, p)
    t.delete("k % 100 = 1", mode="dv")
    t.update("k % 100 = 2", {"s": "'u'"}, mode="dv")
    src = spark.createDataFrame([(3, "m"), (6000, "new")], SCH)
    t.merge(src, ["k"], mode="dv")
    expect = 1000 - 10 + 1  # 10 deleted, 1 inserted
    assert t.manifest()["n_rows"] == expect
    t.optimize(target_shards=2)
    man = t.manifest()
    assert man["n_rows"] == expect
    assert not any(s.get("dv") for s in man["shards"])
    got = {r["k"]: r["s"] for r in t.to_df().collect()}
    assert len(got) == expect
    assert 1 not in got and 101 not in got
    assert got[2] == "u" and got[202] == "u"
    assert got[3] == "m" and got[6000] == "new"
