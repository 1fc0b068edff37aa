"""Property tests for the join-based MERGE operator (SURVEY §5.3):
idempotent replay, last-writer-wins determinism, key uniqueness."""

from __future__ import annotations

from pyspark.sql import functions as F

from open_crime_etl_pipeline_spark.operators.merge import (
    dedup_last_writer_wins,
    merge_upsert,
)


def _df(spark, rows):
    return spark.createDataFrame(rows, "k string, v int, updated_at timestamp")


def test_merge_updates_and_inserts(spark):
    target = _df(spark, [("a", 1, None), ("b", 2, None)])
    source = _df(spark, [("b", 20, None), ("c", 30, None)])
    out = {r.k: r.v for r in merge_upsert(target, source, ["k"]).collect()}
    assert out == {"a": 1, "b": 20, "c": 30}


def test_merge_is_idempotent(spark):
    target = _df(spark, [("a", 1, None), ("b", 2, None)])
    source = _df(spark, [("b", 20, None), ("c", 30, None)])
    once = merge_upsert(target, source, ["k"])
    twice = merge_upsert(once, source, ["k"])
    assert sorted(twice.collect()) == sorted(once.collect())
    assert twice.count() == 3  # replay cannot duplicate keys


def test_merge_key_unique_after_merge(spark):
    target = _df(spark, [("a", 1, None)])
    source = _df(spark, [("a", 2, None), ("a", 3, None)])
    import datetime as dt

    source = spark.createDataFrame(
        [("a", 2, dt.datetime(2025, 1, 1)), ("a", 3, dt.datetime(2025, 1, 2))],
        "k string, v int, updated_at timestamp",
    )
    merged = merge_upsert(target, source, ["k"], order_by=["updated_at"])
    rows = merged.collect()
    assert len(rows) == 1
    assert rows[0].v == 3  # last writer (latest updated_at) wins


def test_dedup_lww_deterministic(spark):
    import datetime as dt

    df = spark.createDataFrame(
        [
            ("a", 1, dt.datetime(2025, 1, 1)),
            ("a", 2, dt.datetime(2025, 1, 1)),  # tie on updated_at → v breaks it
            ("b", 9, dt.datetime(2025, 1, 5)),
        ],
        "k string, v int, updated_at timestamp",
    )
    out = dedup_last_writer_wins(df, ["k"], ["updated_at", "v"])
    got = {r.k: r.v for r in out.collect()}
    assert got == {"a": 2, "b": 9}


def test_merge_overlap_window_absorbs_duplicates(spark):
    """ST4: the incremental window deliberately re-reads the watermark
    day; replayed rows must not duplicate."""
    target = _df(spark, [("a", 1, None), ("b", 2, None)])
    overlap_batch = _df(spark, [("a", 1, None), ("c", 3, None)])  # 'a' re-read
    merged = merge_upsert(target, overlap_batch, ["k"])
    assert merged.count() == 3
    assert merged.filter(F.col("k") == "a").count() == 1


def test_merge_schema_evolution_adds_and_omits_columns(spark):
    """MERGE WITH SCHEMA EVOLUTION: a batch may introduce a column
    (old rows backfill NULL) or omit one (inserts get NULL); the strict
    default still raises on mismatch."""
    from open_crime_etl_pipeline_spark.operators.merge import merge_upsert

    target = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    widened = spark.createDataFrame(
        [(2, "b2", "W2"), (3, "c", "W3")], "id long, v string, w string"
    )
    out = merge_upsert(target, widened, keys=["id"], allow_schema_evolution=True)
    rows = {r.id: (r.v, r.w) for r in out.collect()}
    assert rows == {1: ("a", None), 2: ("b2", "W2"), 3: ("c", "W3")}

    narrowed = spark.createDataFrame([(4,)], "id long")
    out2 = merge_upsert(out, narrowed, keys=["id"], allow_schema_evolution=True)
    assert {r.id: (r.v, r.w) for r in out2.collect()}[4] == (None, None)

    import pytest as _pytest
    with _pytest.raises(Exception):  # strict default refuses the widened batch
        merge_upsert(target, widened, keys=["id"]).collect()


def test_merge_strict_schema_raises_and_evolution_widens(spark, sf_dir):
    from pyspark.sql import functions as F

    from open_crime_etl_pipeline_spark.operators.merge import merge_upsert

    target = spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"])
    source = spark.createDataFrame([(2, "B", "x")], ["k", "v", "extra"])
    import pytest as _pt

    with _pt.raises(Exception, match="UNION|column|resolve|NUM_COLUMNS"):
        merge_upsert(target, source, keys=["k"]).collect()

    out = merge_upsert(
        target, source, keys=["k"], allow_schema_evolution=True
    ).collect()
    rows = {r["k"]: (r["v"], r["extra"]) for r in out}
    assert rows == {1: ("a", None), 2: ("B", "x")}


def test_merge_probe_reuses_the_batch_scan(spark, tmp_path, jobs_started_by):
    """The anti-join probe is built from the raw batch keys, so writing a
    merge of a file-scanned batch runs the dedup shuffle, the probe
    broadcast and the write: three jobs. A probe built under the dedup
    window scans and shuffles the batch a second time (four jobs)."""
    schema = "k int, v string, ts int"
    spark.createDataFrame([(i, f"t{i}", i) for i in range(20)], schema) \
        .write.parquet(str(tmp_path / "t"))
    spark.createDataFrame([(i % 6, f"s{i}", i) for i in range(10)], schema) \
        .write.json(str(tmp_path / "s"))
    target = spark.read.parquet(str(tmp_path / "t"))
    source = spark.read.schema(schema).json(str(tmp_path / "s"))
    merged = merge_upsert(target, source, keys=["k"], order_by=["ts"])
    out = str(tmp_path / "out")
    assert len(jobs_started_by(lambda: merged.write.parquet(out))) <= 3
    got = {r.k: r.v for r in spark.read.parquet(out).collect()}
    assert got == {**{i: f"t{i}" for i in range(20)}, **{i: f"s{i + 6 if i < 4 else i}" for i in range(6)}}
