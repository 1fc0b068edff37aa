"""Round-12 ManifestTable facade: one DeltaTable-shaped handle over
the manifest format's verbs, with the recorded schema and codec
resolved from the log (no repeated ``schema=`` plumbing)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from open_crime_etl_pipeline_spark.sources import manifest_sink as MS
from open_crime_etl_pipeline_spark.sources.manifest_table import (
    ManifestTable,
)


@pytest.fixture(scope="module")
def registered(spark):
    MS.register(spark)
    return spark


def _land(spark, path, codec="jsonl", n=40):
    df = spark.range(n).select(
        F.col("id").alias("k"),
        F.concat(F.lit("v"), F.col("id")).alias("s"),
    )
    (
        df.repartition(2).write.format(MS.FORMAT_NAME)
        .option("path", path).option("shard_format", codec)
        .mode("append").save()
    )


@pytest.mark.parametrize("codec", ["jsonl", "parquet"])
def test_facade_full_lifecycle(registered, tmp_path, codec):
    spark, p = registered, str(tmp_path / f"fa_{codec}")
    _land(spark, p, codec)
    t = ManifestTable(spark, p)
    assert t.exists() and t.version() == 1 and t.codec() == codec
    # recorded schema, no schema= anywhere
    assert [f.name for f in t.schema().fields] == ["k", "s"]
    assert t.to_df().count() == 40
    # DML through the facade
    assert t.update("k < 5", {"s": "concat(s, '-u')"}) == 5
    assert t.delete("k >= 35") == 5
    src = spark.createDataFrame([(3, "m"), (100, "new")], "k long, s string")
    assert t.merge(src, ["k"]) == (1, 1)
    final = {r["k"]: r["s"] for r in t.to_df().collect()}
    assert final[3] == "m" and final[100] == "new" and final[4] == "v4-u"
    assert len(final) == 36
    # metadata / history / stats / CDF
    assert t.version() == 4
    assert [h["version"] for h in t.history()] == [1, 2, 3, 4]
    assert t.stats()["n_rows"] == 36
    ch = t.changes(1, with_change_type=True)
    from collections import Counter

    assert Counter(r["_change_type"] for r in ch.collect()) == {
        "update_preimage": 6, "update_postimage": 6,
        "delete": 5, "insert": 1,
    }
    # maintenance
    assert t.optimize_small(min_rows=10_000) > 0
    assert t.to_df().count() == 36
    man = t.optimize(target_shards=1)
    assert man["n_rows"] == 36
    t.expire_history(keep_last=1)
    t.vacuum()
    assert t.to_df().count() == 36
    # codec survived every rewrite
    assert t.codec() == codec


def test_facade_time_travel_and_pruned_read(registered, tmp_path):
    spark, p = registered, str(tmp_path / "fa_tt")
    _land(spark, p)
    t = ManifestTable(spark, p)
    t.delete("k < 10")
    assert t.to_df(version=1).count() == 40
    assert t.to_df().count() == 30
    got = t.to_df(prune={"k": (35, 39)}).filter("k >= 35").count()
    assert got == 5
    # explicit schema override is honored
    t2 = ManifestTable(spark, p, schema="k long")
    assert t2.to_df().columns == ["k"]


def test_facade_metadata_aggregates(registered, tmp_path):
    """count/min/max/null_count answer from the log when exact (the
    facade makes the metadata fast path the default path — the
    documented DataSource aggregate-pushdown ceiling's product
    answer) and fall back to a scan when the stats are bounds."""
    spark, p = registered, str(tmp_path / "fagg")
    rows = [(1, "a" * 40), (2, None), (3, "b" * 40)]
    df = spark.createDataFrame(rows, "k long, txt string")
    df.coalesce(1).write.format(MS.FORMAT_NAME).option("path", p).mode(
        "append"
    ).save()
    t = ManifestTable(spark, p)
    assert t.count() == 3
    assert t.min("k") == 1 and t.max("k") == 3
    assert t.null_count("txt") == 1 and t.null_count("k") == 0
    # txt is truncated (40 > 32 default): stats are BOUNDS, so the
    # facade must fall back to a scan and still answer exactly
    assert t.min("txt") == "a" * 40
    assert t.max("txt") == "b" * 40


def test_facade_check_constraints(registered, tmp_path):
    spark, p = registered, str(tmp_path / "fcons")
    t = ManifestTable(spark, p)
    t.append(
        spark.range(10).selectExpr("id as k", "concat('v', id) as s")
        .coalesce(1)
    )
    t.add_constraint("k_nonneg", "k >= 0")
    t.add_constraint("s_prefix", "s LIKE 'v%'")
    assert set(t.constraints()) == {"k_nonneg", "s_prefix"}
    # enforced append: violation refused BEFORE anything is written
    v_before = t.version()
    with pytest.raises(ValueError, match="k_nonneg"):
        t.append(spark.createDataFrame([(-1, "vX")], "k long, s string"))
    assert t.version() == v_before and t.count() == 10
    # UPDATE post-images judged
    with pytest.raises(ValueError, match="CHECK"):
        t.update("k = 5", {"k": "-k"})
    # MERGE source judged
    with pytest.raises(ValueError, match="s_prefix"):
        t.merge(
            spark.createDataFrame([(7, "nope")], "k long, s string"), ["k"]
        )
    # NULL satisfies CHECK (the SQL rule)
    t.append(
        spark.createDataFrame([(None, "vnull")], "k long, s string")
    )
    assert t.count() == 11
    # adding a constraint existing rows violate is refused
    with pytest.raises(ValueError, match="impossible"):
        t.add_constraint("impossible", "k < 5")
    assert "impossible" not in t.constraints()
    # constraints survive checkpoints/DML and drop works
    assert t.delete("k = 9") == 1
    assert set(t.constraints()) == {"k_nonneg", "s_prefix"}
    t.drop_constraint("s_prefix")
    assert set(t.constraints()) == {"k_nonneg"}
    t.validate()


@pytest.mark.parametrize("codec", ["jsonl", "parquet"])
def test_schema_evolution_add_columns(registered, tmp_path, codec):
    """ALTER TABLE ADD COLUMNS as one metadata commit: no shard
    touched, existing rows read the new columns as NULL, the next
    append carries values, and narrowing/retyping is refused."""
    spark, p = registered, str(tmp_path / f"evo_{codec}")
    _land(spark, p, codec, n=20)
    t = ManifestTable(spark, p)
    shards_before = {s["file"] for s in t.manifest()["shards"]}
    t.add_columns("score double")
    assert {s["file"] for s in t.manifest()["shards"]} == shards_before
    df = t.to_df()
    assert df.columns == ["k", "s", "score"]
    assert df.filter("score IS NULL").count() == 20
    # the DataSource read resolves the evolved schema too
    ds = spark.read.format(MS.FORMAT_NAME).option("path", p).load()
    assert ds.columns == ["k", "s", "score"]
    # next append carries the new column
    t.append(
        spark.createDataFrame([(100, "x", 0.5)], t.schema())
    )
    assert t.to_df().filter("score = 0.5").count() == 1
    # time travel keeps the pre-evolution schema
    assert MS.table_schema(p, version=1).fieldNames() == ["k", "s"]
    # refusals: duplicate add, drop, retype
    with pytest.raises(ValueError, match="already exist"):
        t.add_columns("score double")
    with pytest.raises(ValueError, match="drops"):
        MS.evolve_schema(p, "k long, score double")
    with pytest.raises(ValueError, match="retypes"):
        MS.evolve_schema(p, "k string, s string, score double")


def test_concurrent_constraint_adds_both_land(registered, tmp_path):
    """The race the read-modify-write pattern loses: writer A adds
    c1, writer B (holding a STALE view from before A) adds c2 —
    update_constraints merges inside the rebase loop, so both
    survive."""
    spark, p = registered, str(tmp_path / "ccons")
    _land(spark, p)
    MS.update_constraints(p, updates={"c1": "k >= 0"})
    # B's update was BUILT before A's landed; the rebase-loop merge
    # must still see A's constraint in prev and keep it
    MS.update_constraints(p, updates={"c2": "k < 10000"})
    assert set(MS.table_constraints(p)) == {"c1", "c2"}
    MS.update_constraints(p, drops=["c1"], updates={"c3": "s IS NOT NULL"})
    assert set(MS.table_constraints(p)) == {"c2", "c3"}


def test_dv_delete_rebases_over_concurrent_append(registered, tmp_path):
    """A dv delete built against a snapshot that an APPEND then
    superseded: the touched shards are still live and their vectors
    unchanged, so the delete must REBASE and land (not refuse) — the
    appended shard untouched, counts exact."""
    spark, p = registered, str(tmp_path / "dvrace")
    _land(spark, p, codec="parquet", n=40)
    t = ManifestTable(spark, p)
    stale = t.manifest()
    stale_touched = list(stale["shards"])
    # concurrent append lands AFTER the delete's snapshot read
    (
        spark.createDataFrame([(900, "new")], "k long, s string")
        .coalesce(1)
        .write.format(MS.FORMAT_NAME)
        .option("path", p)
        .mode("append")
        .save()
    )
    man2, n, _ = MS._dml(
        spark, p, "delete_where", "dv", stale, "k long, s string",
        stale_touched, change_data=False, cond="k = 3",
    )
    assert n == 1
    assert man2["commit_seq"] == 3  # append=2, dv delete rebased to 3
    assert man2["n_rows"] == 40  # 40 + 1 appended - 1 deleted
    live = {r["k"] for r in t.to_df().collect()}
    assert 3 not in live and 900 in live
