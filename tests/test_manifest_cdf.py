"""Round-12 complete CDF: ``_change_type`` (insert /
update_preimage / update_postimage / delete) and DML-materialized
change-data shards (the Delta ``_change_data`` shape). Pins the
change-type classes each DML verb emits, the replica-reconvergence
contract (a tailing replica applying the feed verbatim ends equal to
the table after DELETE+UPDATE+MERGE), snapshot-read isolation of
CDF-only shards, vacuum/retention coupling, the protocol stamp on
cdf-carrying actions, and the change_data=False opt-out; UPDATE WHERE
SET, the merge target-duplicate guard and the ``_commit_version``
column."""

from __future__ import annotations

import json
import os
from collections import Counter

import pytest

from pyspark.sql import functions as F

from open_crime_etl_pipeline_spark.sources import manifest_sink as MS

from tests.test_manifest_sink import _df, _write


@pytest.fixture(scope="module")
def registered(spark):
    MS.register(spark)
    return spark


SCH = "k long, s string"


def _mk(spark, path):
    df = spark.range(20).select(
        F.col("id").alias("k"),
        F.concat(F.lit("v"), F.col("id")).alias("s"),
    )
    df.repartition(2).write.format(MS.FORMAT_NAME).option(
        "path", path
    ).mode("append").save()


def _dml_history(spark, p):
    """v1 append, v2 update, v3 delete, v4 merge — the full verb set."""
    _mk(spark, p)                                                   # v1
    MS.update_where(spark, p, SCH, "k < 5", {"s": "concat(s, '-u')"})  # v2
    MS.delete_where(spark, p, SCH, "k >= 15")                       # v3
    src = spark.createDataFrame([(3, "merged"), (100, "new")], SCH)
    MS.merge_into(spark, p, SCH, src, ["k"])                        # v4


def test_change_types_per_verb(registered, tmp_path):
    spark, p = registered, str(tmp_path / "ct")
    _dml_history(spark, p)
    ch = MS.table_changes(
        spark, p, SCH, 0, with_version=True, with_change_type=True
    )
    counts = Counter(
        (r["_commit_version"], r["_change_type"]) for r in ch.collect()
    )
    assert counts == {
        (1, "insert"): 20,
        (2, "update_preimage"): 5,
        (2, "update_postimage"): 5,
        (3, "delete"): 5,
        (4, "update_preimage"): 1,
        (4, "update_postimage"): 1,
        (4, "insert"): 1,
    }
    # pre/post images carry the right values
    rows = ch.filter("_commit_version = 2").collect()
    pre = {r["k"]: r["s"] for r in rows if r["_change_type"] == "update_preimage"}
    post = {r["k"]: r["s"] for r in rows if r["_change_type"] == "update_postimage"}
    assert pre == {k: f"v{k}" for k in range(5)}
    assert post == {k: f"v{k}-u" for k in range(5)}
    dels = ch.filter("_change_type = 'delete'").collect()
    assert sorted(r["k"] for r in dels) == [15, 16, 17, 18, 19]


def test_cdf_replica_reconverges(registered, tmp_path):
    """The round-11 verdict's acceptance test: a replica applying the
    typed feed verbatim — per version: drop delete/update_preimage
    rows, add insert/update_postimage rows — reconverges with the
    table after the full DML sequence."""
    spark, p = registered, str(tmp_path / "rep")
    _dml_history(spark, p)
    rows = MS.table_changes(
        spark, p, SCH, 0, with_version=True, with_change_type=True
    ).collect()
    replica: dict = {}
    for v in sorted({r["_commit_version"] for r in rows}):
        batch = [r for r in rows if r["_commit_version"] == v]
        for r in batch:
            if r["_change_type"] in ("delete", "update_preimage"):
                replica.pop(r["k"], None)
        for r in batch:
            if r["_change_type"] in ("insert", "update_postimage"):
                replica[r["k"]] = r["s"]
    final = {
        r["k"]: r["s"] for r in MS.read_manifest(spark, p).collect()
    }
    assert replica == final and len(final) == 16


def test_snapshot_reads_never_see_cdf_shards(registered, tmp_path):
    spark, p = registered, str(tmp_path / "iso")
    _dml_history(spark, p)
    man = MS.read_manifest_dict(p)
    assert man["n_rows"] == 16
    assert MS.read_manifest(spark, p).count() == 16
    # time travel stays clean too
    assert MS.read_manifest(spark, p, version=2).count() == 20
    # the DataSource read and adds-only CDF are unchanged
    assert (
        spark.read.format(MS.FORMAT_NAME).option("path", p).load().count()
        == 16
    )
    plain = MS.table_changes(spark, p, SCH, 0)
    assert plain.count() == 27  # 20 + 5 post + 1 post + 1 insert
    assert "_change_type" not in plain.columns


def test_cdf_action_stamps_protocol_3_and_vacuum_protects(
    registered, tmp_path
):
    spark, p = registered, str(tmp_path / "vac")
    _mk(spark, p)
    MS.delete_where(spark, p, SCH, "k = 7")
    act = json.load(
        open(os.path.join(p, MS.HISTORY_DIR, MS._history_name(2)))
    )
    assert act["min_reader"] == 3 and len(act["cdf_add"]) >= 1
    assert all(e["cdf_class"] == "delete" for e in act["cdf_add"])
    # vacuum with the action retained: cdf shard survives, feed intact
    MS.vacuum_unreferenced(p)
    ch = MS.table_changes(spark, p, SCH, 1, with_change_type=True)
    assert [(r["k"], r["_change_type"]) for r in ch.collect()] == [
        (7, "delete")
    ]
    # land a later commit, expire the delete's action, vacuum: the
    # cdf shard goes with its action (the retention coupling)
    _df(spark, 3, tag="z").coalesce(1).write.format(
        MS.FORMAT_NAME
    ).option("path", p).mode("append").save()
    cdf_files = {e["file"] for e in act["cdf_add"]}
    live_files = {
        s["file"] for s in MS.read_manifest_dict(p)["shards"]
    }
    MS.expire_history(p, keep_last=1)
    gone = set(MS.vacuum_unreferenced(p))
    assert cdf_files - live_files <= gone
    assert cdf_files - live_files  # the coupling was actually exercised


def test_change_data_false_opts_out(registered, tmp_path):
    spark, p = registered, str(tmp_path / "opt")
    _mk(spark, p)
    MS.delete_where(spark, p, SCH, "k = 3", change_data=False)
    MS.update_where(
        spark, p, SCH, "k = 4", {"s": "'x'"}, change_data=False
    )
    for v in (2, 3):
        act = json.load(
            open(os.path.join(p, MS.HISTORY_DIR, MS._history_name(v)))
        )
        assert "cdf_add" not in act
        assert act["min_reader"] == MS._BASE_MIN_READER
    ch = MS.table_changes(spark, p, SCH, 1, with_change_type=True)
    # no pre-images/deletes recorded; the update's post-image still
    # arrives (it is a data-changing add) tagged update_postimage
    assert Counter(r["_change_type"] for r in ch.collect()) == {
        "update_postimage": 1
    }


def test_cdf_on_parquet_codec(registered, tmp_path):
    """The change feed is codec-blind: same classes, same replica
    reconvergence on a parquet-codec table."""
    spark, p = registered, str(tmp_path / "pq")
    df = spark.range(20).select(
        F.col("id").alias("k"),
        F.concat(F.lit("v"), F.col("id")).alias("s"),
    )
    (
        df.repartition(2).write.format(MS.FORMAT_NAME)
        .option("path", p).option("shard_format", "parquet")
        .mode("append").save()
    )
    MS.update_where(spark, p, SCH, "k < 5", {"s": "concat(s, '-u')"})
    MS.delete_where(spark, p, SCH, "k >= 15")
    ch = MS.table_changes(
        spark, p, SCH, 1, with_version=True, with_change_type=True
    )
    counts = Counter(
        (r["_commit_version"], r["_change_type"]) for r in ch.collect()
    )
    assert counts == {
        (2, "update_preimage"): 5,
        (2, "update_postimage"): 5,
        (3, "delete"): 5,
    }
    man = MS.read_manifest_dict(p)
    assert all(s["file"].endswith(".parquet") for s in man["shards"])


def test_merge_insert_only_and_update_only_classes(registered, tmp_path):
    """MERGE with no matches emits only inserts; MERGE with only
    matches emits the update pair and no inserts."""
    spark, p = registered, str(tmp_path / "mio")
    _mk(spark, p)
    ins = spark.createDataFrame([(200, "a"), (201, "b")], SCH)
    MS.merge_into(spark, p, SCH, ins, ["k"])                         # v2
    upd = spark.createDataFrame([(200, "a2")], SCH)
    MS.merge_into(spark, p, SCH, upd, ["k"])                         # v3
    ch = MS.table_changes(
        spark, p, SCH, 1, with_version=True, with_change_type=True
    )
    counts = Counter(
        (r["_commit_version"], r["_change_type"]) for r in ch.collect()
    )
    assert counts == {
        (2, "insert"): 2,
        (3, "update_preimage"): 1,
        (3, "update_postimage"): 1,
    }


def test_stream_read_change_feed(registered, tmp_path):
    """readStream with read_change_feed=true tails the TYPED feed —
    _change_type/_commit_version appended by the DataSource schema
    (plain .load(), no .schema()) — and a foreachBatch replica
    applying it verbatim reconverges; resuming from the checkpoint
    delivers only post-cursor changes."""
    spark, p = registered, str(tmp_path / "scdf")
    ck = str(tmp_path / "scdf_ck")
    _mk(spark, p)                                                   # v1
    MS.update_where(spark, p, SCH, "k < 5", {"s": "concat(s,'-u')"})  # v2
    got: list = []

    def drain():
        got.clear()
        q = (
            spark.readStream.format(MS.FORMAT_NAME)
            .option("path", p)
            .option("read_change_feed", "true")
            .load()
            .writeStream.foreachBatch(
                lambda d, b: got.extend(d.collect())
            )
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return list(got)

    first = drain()
    assert Counter(
        (r["_commit_version"], r["_change_type"]) for r in first
    ) == {(1, "insert"): 20, (2, "update_preimage"): 5,
          (2, "update_postimage"): 5}
    # more DML, then RESUME: only the new versions arrive
    MS.delete_where(spark, p, SCH, "k >= 15")                       # v3
    second = drain()
    assert Counter(
        (r["_commit_version"], r["_change_type"]) for r in second
    ) == {(3, "delete"): 5}
    # full replica over both drains reconverges
    replica: dict = {}
    for r in sorted(first + second, key=lambda r: r["_commit_version"]):
        if r["_change_type"] in ("delete", "update_preimage"):
            replica.pop(r["k"], None)
    for v in sorted({r["_commit_version"] for r in first + second}):
        batch = [
            r for r in first + second if r["_commit_version"] == v
        ]
        for r in batch:
            if r["_change_type"] in ("delete", "update_preimage"):
                replica.pop(r["k"], None)
        for r in batch:
            if r["_change_type"] in ("insert", "update_postimage"):
                replica[r["k"]] = r["s"]
    final = {
        r["k"]: r["s"] for r in MS.read_manifest(spark, p).collect()
    }
    assert replica == final


def test_stream_change_feed_rejects_bad_schema(registered, tmp_path):
    spark, p = registered, str(tmp_path / "scdf_bad")
    _mk(spark, p)
    with pytest.raises(Exception, match="_change_type"):
        (
            spark.readStream.format(MS.FORMAT_NAME)
            .option("path", p)
            .option("read_change_feed", "true")
            .schema(SCH)  # missing the metadata columns
            .load()
            .writeStream.format("noop")
            .option("checkpointLocation", str(tmp_path / "ckb"))
            .trigger(availableNow=True)
            .start()
            .awaitTermination(60)
        )


# -- UPDATE WHERE SET ------------------------------------------------------

def test_update_where_basic_and_cdf(registered, tmp_path):
    spark, p = registered, str(tmp_path / "up1")
    schema = "id long, s string"
    (
        _df(spark, 400).repartitionByRange(4, "id")
        .write.format(MS.FORMAT_NAME).option("path", p)
        .mode("append").save()
    )
    before = {s["file"] for s in MS.read_manifest_dict(p)["shards"]}
    man2, n_up = MS.update_where(
        spark, p, schema,
        F.col("id").between(100, 199),
        {"s": F.concat(F.lit("UPD"), F.col("id").cast("string"))},
        prune={"id": (100, 199)},
    )
    assert n_up == 100
    assert man2["n_rows"] == 400                    # row conservation
    assert man2["commit_kind"] == "update"
    untouched = before & {s["file"] for s in man2["shards"]}
    assert len(untouched) >= len(before) // 2       # scoped rewrite
    back = MS.read_manifest(spark, p, schema)
    got = {r["id"]: r["s"] for r in back.collect()}
    assert len(got) == 400
    for i in range(400):
        assert got[i] == (f"UPD{i}" if 100 <= i <= 199 else f"a{i}")
    # CDF: the update delta is exactly the post-image of updated rows
    delta = sorted(
        tuple(r) for r in MS.table_changes(
            spark, p, schema, man2["commit_seq"] - 1, man2["commit_seq"]
        ).collect()
    )
    assert delta == [(i, f"UPD{i}") for i in range(100, 200)]


def test_update_where_set_sees_pre_update_row(registered, tmp_path):
    """Assignments evaluate against the PRE-update row: swapping two
    columns through each other must not chain."""
    spark, p = registered, str(tmp_path / "up2")
    schema = "a long, b long"
    df = spark.createDataFrame([(1, 10), (2, 20)], schema)
    df.coalesce(1).write.format(MS.FORMAT_NAME).option("path", p) \
        .mode("append").save()
    MS.update_where(
        spark, p, schema, F.lit(True), {"a": F.col("b"), "b": F.col("a")}
    )
    got = sorted(
        tuple(r) for r in MS.read_manifest(spark, p, schema).collect()
    )
    assert got == [(10, 1), (20, 2)]


def test_update_where_null_predicate_rows_survive(registered, tmp_path):
    spark, p = registered, str(tmp_path / "up3")
    schema = "id long, v long"
    df = spark.createDataFrame([(1, None), (2, 5), (3, 50)], schema)
    df.coalesce(1).write.format(MS.FORMAT_NAME).option("path", p) \
        .mode("append").save()
    _man, n_up = MS.update_where(
        spark, p, schema, F.col("v") > 10, {"v": F.lit(0)}
    )
    assert n_up == 1  # NULL > 10 is NULL, not TRUE: row 1 survives
    got = sorted(
        tuple(r) for r in MS.read_manifest(spark, p, schema).collect()
    )
    assert got == [(1, None), (2, 5), (3, 0)]


def test_update_where_noop_guards_and_conflict(registered, tmp_path):
    spark, p = registered, str(tmp_path / "up4")
    schema = "id long, s string"
    # two shards: the racing compact below collapses them into ONE, so
    # the update's snapshot-read shard set is genuinely no longer live
    # (a single-shard table compacted to 1 is content-addressed to the
    # SAME file and would not conflict)
    _write(_df(spark, 20).repartitionByRange(2, "id"), p, mode="append")
    man0 = MS.read_manifest_dict(p)
    # zero matches: publish nothing
    man1, n = MS.update_where(
        spark, p, schema, F.col("id") > 10_000, {"s": F.lit("x")}
    )
    assert n == 0 and man1["commit_seq"] == man0["commit_seq"]
    # bad SET target
    with pytest.raises(ValueError, match="not in schema"):
        MS.update_where(spark, p, schema, F.lit(True), {"nope": F.lit(1)})
    with pytest.raises(ValueError, match="non-empty"):
        MS.update_where(spark, p, schema, F.lit(True), {})
    # write-conflict: a compact between snapshot read and publish
    orig = MS._commit_replace

    def racing(path, **kw):
        MS.compact(spark, path, schema=schema, target_shards=1)
        return orig(path, **kw)

    MS._commit_replace = racing
    try:
        with pytest.raises(ValueError, match="no longer live"):
            MS.update_where(
                spark, p, schema, F.col("id") < 5, {"s": F.lit("x")}
            )
    finally:
        MS._commit_replace = orig


# -- merge target-duplicate guard ------------------------------------------

def test_merge_into_refuses_duplicate_key_target(registered, tmp_path):
    spark, p = registered, str(tmp_path / "mdup")
    schema = "id long, s string"
    dup = spark.createDataFrame([(7, "x"), (7, "y"), (8, "z")], schema)
    dup.coalesce(1).write.format(MS.FORMAT_NAME).option("path", p) \
        .mode("append").save()
    src = spark.createDataFrame([(7, "UP")], schema)
    with pytest.raises(ValueError, match="duplicate keys among matched"):
        MS.merge_into(spark, p, schema, src, ["id"])
    # the table is untouched and nothing was published
    assert MS.read_manifest_dict(p)["commit_seq"] == 1
    # a merge NOT touching the duplicated key still works
    man2, n_up, n_ins = MS.merge_into(
        spark, p, schema,
        spark.createDataFrame([(8, "UP8"), (9, "NEW")], schema), ["id"],
    )
    assert (n_up, n_ins) == (1, 1)


# -- CDF _commit_version column --------------------------------------------

def test_table_changes_with_commit_version(registered, tmp_path):
    spark, p = registered, str(tmp_path / "cv1")
    schema = "id long, s string"
    _write(_df(spark, 2, tag="a").coalesce(1), p, mode="append")   # v1
    _write(
        spark.createDataFrame([(100, "b")], schema).coalesce(1),
        p, mode="append",
    )                                                               # v2
    MS.compact(spark, p, schema=schema, target_shards=1)            # v3
    src = spark.createDataFrame([(100, "UP"), (7, "NEW")], schema)
    man4, *_ = MS.merge_into(spark, p, schema, src, ["id"])         # v4
    got = sorted(
        tuple(r)
        for r in MS.table_changes(
            spark, p, None, 0, with_version=True
        ).collect()
    )
    assert got == [
        (0, "a0", 1), (1, "a1", 1), (7, "NEW", 4), (100, "UP", 4),
        (100, "b", 2),
    ]
    # compaction contributed no versions; the column is typed long
    df = MS.table_changes(spark, p, None, 2, 3, with_version=True)
    assert df.schema["_commit_version"].dataType.typeName() == "long"
    assert df.count() == 0
    # the version-free path is unchanged
    plain = sorted(
        tuple(r) for r in MS.table_changes(spark, p, None, 0).collect()
    )
    assert plain == [(t[0], t[1]) for t in got]
