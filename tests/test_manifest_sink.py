"""Content-addressed shard sink (sources/manifest_sink.py): the custom
Python DataSource WRITER — atomic manifest commit, snapshot reads,
content-addressed idempotence, abort safety, vacuum; truncated string
stats, metadata-only table_stats, bloom geometry on rewrite, the Arrow
write path and the recorded table schema."""

from __future__ import annotations

import json
import os

import pytest

from pyspark.sql import functions as F

from open_crime_etl_pipeline_spark.sources import manifest_sink as MS


@pytest.fixture(scope="module")
def registered(spark):
    MS.register(spark)
    return spark


def _df(spark, n=100, tag="a"):
    return spark.range(n).select(
        F.col("id"), F.concat(F.lit(tag), F.col("id").cast("string")).alias("s")
    )


def _write(df, path, mode="overwrite"):
    df.write.format(MS.FORMAT_NAME).option("path", path).mode(mode).save()


def test_write_commit_readback(registered, tmp_path):
    spark, p = registered, str(tmp_path / "t1")
    _write(_df(spark, 100).repartition(4), p)
    man = MS.read_manifest_dict(p)
    assert man is not None and man["n_rows"] == 100
    back = MS.read_manifest(spark, p, schema="id long, s string")
    rows = sorted((r["id"], r["s"]) for r in back.collect())
    assert rows == [(i, f"a{i}") for i in range(100)]


def test_content_addressing_is_deterministic(registered, tmp_path):
    spark, p = registered, str(tmp_path / "t2")
    df = _df(spark, 60).repartition(3, "id")  # deterministic hash partitioning
    _write(df.sortWithinPartitions("id"), p)
    first = {s["file"] for s in MS.read_manifest_dict(p)["shards"]}
    _write(df.sortWithinPartitions("id"), p)  # same data, same partitioning
    second = {s["file"] for s in MS.read_manifest_dict(p)["shards"]}
    assert first == second  # same content -> same shard names
    # and the overwrite produced no garbage to vacuum
    assert MS.vacuum_unreferenced(p) == []


def test_append_of_identical_content_is_idempotent_replay(registered, tmp_path):
    spark, p = registered, str(tmp_path / "t3")
    df = _df(spark, 40).repartition(2, "id").sortWithinPartitions("id")
    _write(df, p, mode="append")
    n1 = MS.read_manifest_dict(p)["n_rows"]
    _write(df, p, mode="append")  # replayed batch: ST7 by construction
    assert MS.read_manifest_dict(p)["n_rows"] == n1 == 40
    # genuinely new content appends
    _write(_df(spark, 10, tag="b").coalesce(1), p, mode="append")
    assert MS.read_manifest_dict(p)["n_rows"] == 50


def test_overwrite_snapshot_isolation_and_vacuum(registered, tmp_path):
    spark, p = registered, str(tmp_path / "t4")
    _write(_df(spark, 30, tag="old").coalesce(1), p)
    old_shards = {s["file"] for s in MS.read_manifest_dict(p)["shards"]}
    _write(_df(spark, 20, tag="new").coalesce(1), p)  # overwrite
    back = MS.read_manifest(spark, p, schema="id long, s string")
    assert back.count() == 20
    assert all(r["s"].startswith("new") for r in back.collect())
    # stale shard file still on disk but invisible to readers
    on_disk = set(os.listdir(os.path.join(p, "shards")))
    assert old_shards <= on_disk
    # retained history (time travel to v1) keeps the old shards alive;
    # expiring the log releases them for collection
    assert MS.vacuum_unreferenced(p) == []
    assert MS.expire_history(p, keep_last=1) == [MS._history_name(1)]
    deleted = MS.vacuum_unreferenced(p)
    assert set(deleted) == old_shards
    assert MS.read_manifest(spark, p, schema="id long, s string").count() == 20


def test_abort_preserves_previous_version(registered, tmp_path, arrow_batches):
    spark, p = registered, str(tmp_path / "t5")
    _write(_df(spark, 10).coalesce(1), p)
    man_before = MS.read_manifest_dict(p)
    # drive write()+abort() directly (the engine calls abort on task
    # failure); the manifest must stay at the committed version and the
    # aborted shard must be cleaned up
    w = MS.ManifestShardWriter({"path": p}, _df(spark, 1).schema, overwrite=True)
    msg = w.write(arrow_batches(w.schema, [(99, "zz")]))
    assert msg.n_rows == 1
    assert os.path.exists(os.path.join(p, "shards", msg.shard))
    w.abort([msg])
    assert not os.path.exists(os.path.join(p, "shards", msg.shard))
    assert MS.read_manifest_dict(p) == man_before
    # abort never deletes a shard the LIVE manifest references
    live = man_before["shards"][0]
    w.abort([MS.ShardCommit(shard=live["file"], n_rows=live["n_rows"],
                            digest=live["digest"])])
    assert os.path.exists(os.path.join(p, "shards", live["file"]))


def test_gzip_shards_are_byte_identical_across_retries(
    registered, tmp_path, arrow_batches
):
    spark, p = registered, str(tmp_path / "t6")
    w = MS.ManifestShardWriter({"path": p}, _df(spark, 1).schema, overwrite=True)
    m1 = w.write(arrow_batches(w.schema, [(1, "x"), (2, "y")]))
    with open(os.path.join(p, "shards", m1.shard), "rb") as fh:
        b1 = fh.read()
    m2 = w.write(arrow_batches(w.schema, [(1, "x"), (2, "y")]))  # the retry
    with open(os.path.join(p, "shards", m2.shard), "rb") as fh:
        b2 = fh.read()
    assert m1.shard == m2.shard and b1 == b2  # mtime=0 gzip: bit-stable


def test_write_spills_large_partitions_instead_of_buffering(
    registered, tmp_path, monkeypatch, arrow_batches
):
    """A partition larger than spill_threshold_bytes must stream
    through a ROLLED-OVER temp file (peak task memory = the threshold,
    never O(partition bytes)) and still produce the exact same
    content-addressed shard name and gzip bytes as the in-memory path
    (round-8 verdict item 4)."""
    import gzip as _gzip
    import hashlib as _hashlib
    import json as _json
    import tempfile as _tempfile

    spark, p = registered, str(tmp_path / "t_spill")
    spools = []
    real = _tempfile.SpooledTemporaryFile

    def tracking_spool(*a, **kw):
        s = real(*a, **kw)
        spools.append(s)
        return s

    monkeypatch.setattr(_tempfile, "SpooledTemporaryFile", tracking_spool)
    rows = [(i, "v" * 200 + str(i)) for i in range(500)]
    w = MS.ManifestShardWriter(
        {"path": p, "spill_threshold_bytes": "256"},
        _df(spark, 1).schema,
        overwrite=True,
    )
    msg = w.write(arrow_batches(w.schema, rows))
    assert len(spools) == 1 and spools[0]._rolled  # it actually spilled
    # same bytes/name the buffered implementation would have produced
    content = b"".join(
        (_json.dumps(dict(zip(("id", "s"), r)), sort_keys=True,
                     default=str, ensure_ascii=False) + "\n").encode()
        for r in rows
    )
    assert msg.digest == _hashlib.md5(content).hexdigest()
    assert msg.shard == f"shard-{msg.digest}.jsonl.gz"
    with open(os.path.join(p, "shards", msg.shard), "rb") as fh:
        b1 = fh.read()
    assert _gzip.decompress(b1) == content
    # replay through the SPILL path is still byte-identical (the
    # idempotence contract; the gzip OS header byte differs from the
    # one-shot gzip.compress API, which is irrelevant — names hash the
    # UNCOMPRESSED bytes and replays share this code path)
    msg2 = w.write(arrow_batches(w.schema, rows))
    with open(os.path.join(p, "shards", msg2.shard), "rb") as fh:
        assert fh.read() == b1 and msg2.shard == msg.shard
    # a small partition stays in memory (no rollover)
    spools.clear()
    small = w.write(arrow_batches(w.schema, [(1, "x")]))
    assert len(spools) == 1 and not spools[0]._rolled
    assert small.n_rows == 1


def test_missing_path_option_raises(registered):
    with pytest.raises(Exception, match="path"):
        _df(registered, 1).write.format(MS.FORMAT_NAME).mode(
            "overwrite"
        ).save()


def test_read_manifest_missing_raises(registered, tmp_path):
    with pytest.raises(FileNotFoundError):
        MS.read_manifest(registered, str(tmp_path / "nope"))


def test_streaming_sink_epochs_and_replay(registered, tmp_path):
    """writeStream.format('shard_manifest'): one epoch per micro-batch;
    a full replay with a fresh checkpoint converges to the SAME
    manifest state (content-addressed shards + epoch replacement)."""
    import time as _t

    spark, p = registered, str(tmp_path / "s1")
    src = str(tmp_path / "src")
    os.makedirs(src)
    for f in range(3):
        df = spark.createDataFrame(
            [(f * 100 + i, f"b{f}_{i}") for i in range(20)], "id long, s string"
        )
        df.coalesce(1).write.mode("overwrite").parquet(f"{src}/f{f}")
        t = _t.time() + f * 10
        for root, _d, files in os.walk(f"{src}/f{f}"):
            for fn in files:
                os.utime(os.path.join(root, fn), (t, t))

    def run(ckpt):
        q = (
            spark.readStream.schema("id long, s string")
            .option("maxFilesPerTrigger", "1")
            .option("latestFirst", "false")
            .parquet(f"{src}/f*")
            .writeStream.format(MS.FORMAT_NAME)
            .option("path", p)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)

    run(str(tmp_path / "ck1"))
    man1 = MS.read_manifest_dict(p)
    assert man1["n_rows"] == 60
    assert len(man1["epochs"]) == 3  # one epoch per file-batch
    back = MS.read_manifest(spark, p, schema="id long, s string")
    assert back.count() == 60

    # resume with the SAME checkpoint: nothing new -> manifest unchanged
    run(str(tmp_path / "ck1"))
    assert MS.read_manifest_dict(p) == man1

    # full REPLAY with a fresh checkpoint: same content re-lands as the
    # same shard names; epochs re-recorded; row count stable
    run(str(tmp_path / "ck2"))
    man2 = MS.read_manifest_dict(p)
    assert man2["n_rows"] == 60
    assert {s["file"] for s in man2["shards"]} == {
        s["file"] for s in man1["shards"]
    }


def test_streaming_epoch_replacement_on_batch_replay(
    registered, tmp_path, arrow_batches
):
    """A replayed batchId REPLACES its epoch (at-least-once delivery
    cannot double-count), even if the replay produced different
    partitioning; superseded shards become vacuumable garbage."""
    spark, p = registered, str(tmp_path / "s2")
    schema = _df(spark, 1).schema
    w = MS.ManifestShardStreamWriter({"path": p}, schema)
    m_a = w.write(arrow_batches(schema, [(1, "x"), (2, "y")]))
    w.commit([m_a], batchId=0)
    assert MS.read_manifest_dict(p)["n_rows"] == 2
    # replay of batch 0 with different content (non-deterministic batch)
    m_b = w.write(arrow_batches(schema, [(1, "x"), (2, "y"), (3, "z")]))
    w.commit([m_b], batchId=0)
    man = MS.read_manifest_dict(p)
    assert man["n_rows"] == 3  # replaced, not 5
    assert [s["file"] for s in man["shards"]] == [m_b.shard]
    MS.expire_history(p, keep_last=1)  # release v1 (references m_a)
    assert MS.vacuum_unreferenced(p) == [m_a.shard]


def test_streaming_commit_preserves_batch_written_shards(
    registered, tmp_path, arrow_batches
):
    spark, p = registered, str(tmp_path / "s3")
    _write(_df(spark, 10, tag="batch").coalesce(1), p)  # batch write first
    schema = _df(spark, 1).schema
    w = MS.ManifestShardStreamWriter({"path": p}, schema)
    m = w.write(arrow_batches(schema, [(500, "stream0")]))
    w.commit([m], batchId=0)
    man = MS.read_manifest_dict(p)
    assert man["n_rows"] == 11  # batch shards survive streaming commits


def _drain_stream(spark, p, ckpt, schema="id long, s string"):
    """One availableNow run of the manifest STREAM READER into a fresh
    memory sink; returns the rows this run delivered (resuming `ckpt`
    means: only shards added since the last drained commit_seq)."""
    got: list[tuple] = []
    q = (
        spark.readStream.format(MS.FORMAT_NAME)
        .schema(schema)
        .option("path", p)
        .load()
        .writeStream.foreachBatch(
            lambda df, _bid: got.extend(tuple(r) for r in df.collect())
        )
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    return sorted(got)


def test_stream_reader_roundtrip_and_exactly_once_tail(
    registered, tmp_path, arrow_batches
):
    """The lakehouse loop (round-8 verdict item 5): write-stream ->
    manifest -> read-stream. A replayed epoch re-landing identical
    content keeps its original added_seq, so a tailing reader sees it
    EXACTLY ONCE; later commits are delivered incrementally."""
    spark, p = registered, str(tmp_path / "tail1")
    ckpt = str(tmp_path / "tail1_ck")
    schema = _df(spark, 1).schema
    w = MS.ManifestShardStreamWriter({"path": p}, schema)

    # epoch 0 committed, then drained
    m0 = w.write(arrow_batches(schema, [(1, "x"), (2, "y")]))
    w.commit([m0], batchId=0)
    assert _drain_stream(spark, p, ckpt) == [(1, "x"), (2, "y")]

    # REPLAYED epoch 0, identical content: a full manifest no-op (the
    # epoch ledger already records exactly these shards), so the
    # resumed tail sees NOTHING
    m0r = w.write(arrow_batches(schema, [(1, "x"), (2, "y")]))
    w.commit([m0r], batchId=0)
    assert MS.read_manifest_dict(p)["commit_seq"] == 1
    assert _drain_stream(spark, p, ckpt) == []

    # a genuinely new epoch is delivered incrementally (only its rows)
    m1 = w.write(arrow_batches(schema, [(3, "z")]))
    w.commit([m1], batchId=1)
    assert _drain_stream(spark, p, ckpt) == [(3, "z")]

    # a BATCH append lands in the same tail (batch/stream writers share
    # the manifest sequence)
    _write(_df(spark, 2, tag="b").coalesce(1), p, mode="append")
    assert _drain_stream(spark, p, ckpt) == [(0, "b0"), (1, "b1")]

    # idempotent batch replay: content-addressed no-op, tail stays dry
    _write(_df(spark, 2, tag="b").coalesce(1), p, mode="append")
    assert _drain_stream(spark, p, ckpt) == []

    # a FRESH checkpoint replays the table from seq 0: full snapshot
    full = _drain_stream(spark, p, str(tmp_path / "tail1_ck2"))
    assert full == [(0, "b0"), (1, "b1"), (1, "x"), (2, "y"), (3, "z")]


def test_stream_reader_typed_roundtrip(registered, tmp_path):
    """Temporal/decimal/binary/array columns survive the JSON-lines
    shard encoding through the STREAM reader (the sink serializes
    non-JSON scalars canonically; the reader's converters invert it)."""
    import datetime as dt
    from decimal import Decimal

    spark, p = registered, str(tmp_path / "typed")
    schema = (
        "id long, ts timestamp, d date, amt decimal(10,2), "
        "blob binary, xs array<int>"
    )
    rows = [
        (
            1,
            dt.datetime(2026, 8, 16, 12, 30, 45, 123456),
            dt.date(2026, 2, 28),
            Decimal("12345.67"),
            bytes([0, 255, 10, 32]),
            [1, 2, 3],
        ),
        (2, None, None, None, None, None),
    ]
    df = spark.createDataFrame(rows, schema)
    _write(df.coalesce(1), p)
    got = _drain_stream(spark, p, str(tmp_path / "typed_ck"), schema=schema)
    assert got == sorted(tuple(r) for r in rows)
    # and the BATCH manifest reader agrees on the same shard bytes
    back = MS.read_manifest(spark, p, schema=schema)
    assert sorted(tuple(r) for r in back.collect()) == sorted(
        tuple(r) for r in rows
    )


def test_stream_reader_requires_path_and_explicit_schema(registered, tmp_path):
    with pytest.raises(Exception, match="path"):
        MS.ManifestShardStreamReader(_df(registered, 1).schema, {})
    with pytest.raises(Exception, match="schema"):
        registered.readStream.format(MS.FORMAT_NAME).option(
            "path", str(tmp_path / "nope")
        ).load()


def test_stream_reader_empty_table_delivers_nothing(registered, tmp_path):
    spark = registered
    p = str(tmp_path / "empty_tbl")
    os.makedirs(p)
    assert _drain_stream(spark, p, str(tmp_path / "empty_ck")) == []


def test_batch_append_preserves_streaming_epochs(
    registered, tmp_path, arrow_batches
):
    """A batch append between streaming commits must not erase epoch
    attribution — otherwise a later replayed batchId with CHANGED
    content would append instead of replacing its epoch."""
    spark, p = registered, str(tmp_path / "s4")
    schema = _df(spark, 1).schema
    w = MS.ManifestShardStreamWriter({"path": p}, schema)
    m0 = w.write(arrow_batches(schema, [(1, "x")]))
    w.commit([m0], batchId=0)
    _write(_df(spark, 5, tag="mid").coalesce(1), p, mode="append")
    man = MS.read_manifest_dict(p)
    assert man["n_rows"] == 6 and "epochs" in man  # attribution survives
    # replay batch 0 with different content: epoch replaced, not added
    m0b = w.write(arrow_batches(schema, [(1, "x"), (2, "y")]))
    w.commit([m0b], batchId=0)
    man2 = MS.read_manifest_dict(p)
    assert man2["n_rows"] == 7  # 5 batch + 2 replaced-epoch (not 8)
    assert m0.shard not in {s["file"] for s in man2["shards"]}


# -- _truncate_string_bounds unit contract ---------------------------------

def test_truncate_string_bounds_unit():
    # short values pass through untouched
    assert MS._truncate_string_bounds("abc", "xyz", 32) == (
        "abc", "xyz", False,
    )
    lo, hi, t = MS._truncate_string_bounds("a" * 40, "b" * 40, 8)
    assert t and lo == "a" * 8
    # prefix-successor: strictly above EVERY string with that prefix
    assert hi == "b" * 7 + "c" and hi > "b" * 40
    assert lo <= "a" * 40
    # only one side long
    lo, hi, t = MS._truncate_string_bounds("a", "z" * 40, 4)
    assert (lo, t) == ("a", True) and hi == "zzz{" and hi > "z" * 40
    # no successor exists: unbounded above
    top = chr(0x10FFFF) * 6
    lo, hi, t = MS._truncate_string_bounds("m", top, 4)
    assert t and hi is None
    # an increment landing in the surrogate gap skips to U+E000
    m = "k" + chr(0xD7FF)
    lo, hi, t = MS._truncate_string_bounds("a", m + "tail", 2)
    assert t and hi == "k" + chr(0xE000) and hi > m + "tail"
    # the bound encodes cleanly (it must survive json round-trips)
    assert json.loads(json.dumps(hi)) == hi


def test_truncated_stats_admission_is_conservative(registered, tmp_path):
    """Planted strings either side of the truncation point: range and
    point admission must KEEP every true holder under truncated
    bounds (they may over-admit, never under-admit)."""
    spark, p = registered, str(tmp_path / "tr1")
    vals = [
        "a" * 40,            # truncates the lower bound
        "m" + "q" * 40,      # interior long value
        "z" * 40,            # truncates the upper bound
    ]
    df = spark.createDataFrame([(i, v) for i, v in enumerate(vals)],
                               "id long, s string")
    (
        df.coalesce(1).write.format(MS.FORMAT_NAME)
        .option("path", p)
        .option("stats_trunc_len", "8")
        .option("bloom_columns", "s")
        .mode("append").save()
    )
    man = MS.read_manifest_dict(p)
    (shard,) = man["shards"]
    assert shard["stats_trunc"] == ["s"]
    smin, smax = shard["stats"]["s"]
    assert len(smin) <= 8 and len(smax) <= 8
    assert smin <= min(vals) and smax > max(vals)
    # every stored value must be admitted by its own shard's stats
    for v in vals:
        assert MS._shard_admits_eq(shard, "s", v)
        assert MS._shard_admits_range(shard, "s", v, v)
    # ...and values outside the REAL range but inside the widened
    # truncated range stay admitted (over-read, harmless) while values
    # beyond the prefix bounds are skipped
    assert not MS._shard_admits_range(shard, "s", "A", "Z")  # below lo
    assert not MS._shard_admits_eq(shard, "s", "zzzzzzzzz")  # bloom says no
    # a None upper bound admits everything above
    shard2 = {
        "n_rows": 1,
        "stats": {"s": ["a", None]},
        "stats_trunc": ["s"],
    }
    assert MS._shard_admits_range(shard2, "s", "zzz", None)
    assert MS._shard_admits_eq(shard2, "s", chr(0x10FFFF) * 5)


def test_truncation_keeps_action_files_small(registered, tmp_path):
    """The round-10 verdict's headline case: a documents-style table
    whose text column holds whole bodies. With the default truncation
    the action file stays O(delta) in BYTES; disabling it embeds the
    bodies."""
    spark = registered
    body = "lorem ipsum " * 2000  # ~24 KB per value
    df = spark.createDataFrame(
        [(i, f"{body}{i:06d}") for i in range(4)], "doc_id long, text string"
    )
    p_on = str(tmp_path / "small")
    p_off = str(tmp_path / "big")
    df.coalesce(1).write.format(MS.FORMAT_NAME).option("path", p_on) \
        .mode("append").save()
    df.coalesce(1).write.format(MS.FORMAT_NAME).option("path", p_off) \
        .option("stats_trunc_len", "0").mode("append").save()
    act_on = os.path.getsize(
        os.path.join(p_on, MS.HISTORY_DIR, MS._history_name(1))
    )
    act_off = os.path.getsize(
        os.path.join(p_off, MS.HISTORY_DIR, MS._history_name(1))
    )
    assert act_on < 2_000, f"truncated action file is {act_on}B"
    assert act_off > 40_000  # untruncated embeds both bodies
    # same rows read back either way
    a = MS.read_manifest(spark, p_on, "doc_id long, text string")
    b = MS.read_manifest(spark, p_off, "doc_id long, text string")
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


# -- metadata-only table stats ---------------------------------------------

def test_table_stats_metadata_only(registered, tmp_path):
    spark, p = registered, str(tmp_path / "ts1")
    body = "x" * 200
    df = spark.createDataFrame(
        [(i, None if i % 5 == 0 else i * 2, body + str(i))
         for i in range(50)],
        "id long, v long, text string",
    )
    df.repartition(4).write.format(MS.FORMAT_NAME).option("path", p) \
        .mode("append").save()
    st = MS.table_stats(p)
    assert st["n_rows"] == 50
    assert st["columns"]["id"] == {"min": 0, "max": 49, "null_count": 0}
    assert st["columns"]["v"]["min"] == 2
    assert st["columns"]["v"]["max"] == 98
    assert st["columns"]["v"]["null_count"] == 10
    # truncated string column: null_count still exact, min/max omitted
    assert "min" not in st["columns"]["text"]
    assert st["columns"]["text"]["null_count"] == 0
    # as-of stats
    MS.delete_where(spark, p, "id long, v long, text string",
                    F.col("id") < 10)
    st2 = MS.table_stats(p)
    assert st2["n_rows"] == 40
    assert MS.table_stats(p, version=1)["n_rows"] == 50


# -- bloom geometry carried independently ----------------------------------

def test_bloom_rewrite_geometry_independent_max(registered, tmp_path):
    spark, p = registered, str(tmp_path / "bg1")
    (
        _df(spark, 100).coalesce(1)
        .write.format(MS.FORMAT_NAME).option("path", p)
        .option("bloom_columns", "id")
        .option("bloom_bits", "32768").option("bloom_hashes", "3")
        .mode("append").save()
    )
    (
        spark.createDataFrame([(1000 + i, f"b{i}") for i in range(50)],
                              "id long, s string")
        .coalesce(1)
        .write.format(MS.FORMAT_NAME).option("path", p)
        .option("bloom_columns", "s")
        .option("bloom_bits", "16384").option("bloom_hashes", "11")
        .mode("append").save()
    )
    man2 = MS.compact(spark, p, schema="id long, s string",
                      target_shards=1)
    (shard,) = man2["shards"]
    geo = {c: (b["m"], b["k"]) for c, b in shard["blooms"].items()}
    # PER-COLUMN carry: each column keeps ITS recorded geometry — no
    # global pair that would weaken one of them (round-10 ADVICE,
    # "better" branch)
    assert geo == {"id": (32768, 3), "s": (16384, 11)}
    # and a point probe through the carried filters still admits/skips
    assert MS._shard_admits_eq(shard, "id", 50)
    assert not MS._shard_admits_eq(shard, "id", 777_777)


# -- Arrow write path ------------------------------------------------------

def _land(spark, df, path, **opts):
    w = df.write.format(MS.FORMAT_NAME).option("path", path)
    for k, v in opts.items():
        w = w.option(k, v)
    w.mode("append").save()
    return MS.read_manifest_dict(path)


def _reference_entry(rows, stat_cols, str_cols, bloom_cols):
    """The manifest entry a jsonl shard of ``rows`` (collected Rows, in
    write order) must carry, computed without the writer: canonical
    JSON lines, Python min/max over non-null values, null counts and
    Bloom bits at the default geometry."""
    import base64
    import hashlib

    lines = "".join(
        json.dumps(r.asDict(recursive=True), sort_keys=True,
                   default=MS._json_default, ensure_ascii=False) + "\n"
        for r in rows
    ).encode("utf-8")
    digest = hashlib.md5(lines).hexdigest()
    stats, trunc, nulls, blooms = {}, [], {}, {}
    for c in stat_cols:
        vals = [r[c] for r in rows if r[c] is not None]
        nulls[c] = len(rows) - len(vals)
        if vals:
            lo, hi = MS._stat_val(min(vals)), MS._stat_val(max(vals))
            if c in str_cols:
                lo, hi, t = MS._truncate_string_bounds(
                    lo, hi, MS._STATS_TRUNC_LEN
                )
                if t:
                    trunc.append(c)
            stats[c] = [lo, hi]
    for c in bloom_cols:
        bits = bytearray(MS._BLOOM_M >> 3)
        for r in rows:
            if r[c] is not None:
                for pos in MS._bloom_positions(r[c]):
                    bits[pos >> 3] |= 1 << (pos & 7)
        blooms[c] = {"m": MS._BLOOM_M, "k": MS._BLOOM_K,
                     "bits": base64.b64encode(bytes(bits)).decode("ascii")}
    entry = {"file": f"shard-{digest}.jsonl.gz", "n_rows": len(rows),
             "digest": digest, "added_seq": 1, "stats": stats,
             "nulls": nulls, "blooms": blooms}
    if trunc:
        entry["stats_trunc"] = trunc
    return entry, lines


def test_arrow_write_byte_identical_to_row_path(registered, tmp_path):
    """THE content-address contract of the one Arrow writer: each shard
    holds exactly the canonical JSON lines of its partition's rows as
    pyspark's row conversion delivers them
    (``json.dumps(r.asDict(recursive=True), ...)``, what the retired
    row writer wrote), and its manifest entry (stats, truncation
    markers, blooms, null counts, added_seq) equals a reference built
    from those rows — over tz-aware and NTZ timestamps, decimals,
    binary, arrays, structs, nulls, and long strings (truncation)."""
    import datetime
    import decimal
    import gzip

    from pyspark.sql.datasource import DataSourceArrowWriter

    spark = registered
    df = spark.createDataFrame(
        [(i,
          float(i) * 1.5 if i % 7 else None,
          ("s" + "x" * i) if i % 5 else None,
          datetime.date(2024, 1, 1 + i % 28),
          datetime.datetime(2024, 1, 2, 3, 4, 5, 123456 + i),
          datetime.datetime(2024, 1, 2, 3, 4, i % 60),
          decimal.Decimal(f"{i}.25"),
          bytes([i % 256, 1]),
          [i, None, i + 1],
          (i, f"n{i}"),
          i % 3 == 0)
         for i in range(300)],
        "i long, d double, s string, dt date, ts timestamp, "
        "tsn timestamp_ntz, dec decimal(10,2), bin binary, "
        "arr array<int>, st struct<a:long,b:string>, bl boolean",
    )
    parts = df.repartition(3, "i").sortWithinPartitions("i")
    pa_dir = str(tmp_path / "aw")
    man_a = _land(spark, parts, pa_dir, bloom_columns="i,s")
    ea = {s["file"]: s for s in man_a["shards"]}
    ref = [
        _reference_entry(rows, MS._stats_fields(df.schema), ["s"], ["i", "s"])
        for rows in parts.rdd.glom().collect()
        if rows
    ]
    er = {e["file"]: (e, lines) for e, lines in ref}
    assert sorted(ea) == sorted(er)  # same content addresses
    for f in ea:
        with open(os.path.join(pa_dir, "shards", f), "rb") as fh:
            assert gzip.decompress(fh.read()) == er[f][1]  # same bytes
        assert ea[f] == er[f][0]  # same stats/trunc/blooms/nulls/added_seq
    # and the engine used the one Arrow writer for this schema
    ds = MS.ManifestShardDataSource(options={"path": pa_dir})
    w = ds.writer(df.schema, False)
    assert type(w) is MS.ManifestShardWriter
    assert isinstance(w, DataSourceArrowWriter)


def test_shard_names_pinned_for_maps_and_nested_timestamps(
    registered, tmp_path
):
    """Maps, ``array<timestamp>``, ``struct<timestamp, map<int,binary>>``,
    ``array<array<binary>>`` and ``array<struct<..timestamp>>`` go
    through the one Arrow writer and land the jsonl shard (name, stats,
    nulls, blooms) the retired row writer produced for the same
    batches, pinned as literals, in two local time zones (tz-aware
    values are written as local wall time)."""
    import datetime as dt
    import hashlib
    import time

    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import (
        ArrayType, BinaryType, DoubleType, IntegerType, LongType, MapType,
        StringType, StructField, StructType, TimestampType,
    )

    ts = TimestampType()
    schema = StructType([
        StructField("i", LongType()),
        StructField("m", MapType(StringType(), LongType())),
        StructField("ats", ArrayType(ts)),
        StructField("st", StructType([
            StructField("t", ts),
            StructField("mb", MapType(IntegerType(), BinaryType())),
        ])),
        StructField("aab", ArrayType(ArrayType(BinaryType()))),
        StructField("ast", ArrayType(StructType([
            StructField("k", StringType()), StructField("t", ts),
        ]))),
        StructField("ts", ts),
        StructField("d", DoubleType()),
    ])

    def row(i):
        t = dt.datetime(2024, 3, 1, 12, tzinfo=dt.timezone.utc) + dt.timedelta(
            hours=7 * i, microseconds=i
        )
        return {
            "i": i,
            "m": None if i % 6 == 5
            else [(f"k{j}", i * 10 + j) for j in range(i % 3)],
            "ats": None if i % 7 == 6 else [t, None, t + dt.timedelta(days=1)],
            "st": None if i % 5 == 4 else {
                "t": t, "mb": [(i, bytes([i % 256, 0, 255])), (i + 1, None)],
            },
            "aab": [[bytes([i % 256]), None], []] if i % 4 else None,
            "ast": [{"k": f"s{i}", "t": None if i % 3 == 0 else t}],
            "ts": None if i % 8 == 3 else t,
            "d": None if i % 9 == 2 else i * 0.5,
        }

    target = to_arrow_schema(schema)
    batches = [
        pa.RecordBatch.from_pylist(
            [row(i) for i in range(lo, hi)], schema=target
        )
        for lo, hi in ((0, 11), (11, 25))
    ]
    pins = {  # zone: (shard digest, ts bounds, md5 of the bloom bits)
        "UTC": ("97e39a853e5c43e3d57cb0b6006ba212",
                ["2024-03-01 12:00:00", "2024-03-08 12:00:00.000024"],
                "306d4e74a427b584701bbf940ea0f22b"),
        "America/Chicago": (
            "d6672b4d074638aa9ecad5abfe2a6fe0",
            ["2024-03-01 06:00:00", "2024-03-08 06:00:00.000024"],
            "a54a35c6e4759d2d4e7c2730dad5f2e4",
        ),
    }
    old_tz = os.environ.get("TZ")
    try:
        for tz, (digest, ts_bounds, bloom_md5) in pins.items():
            os.environ["TZ"] = tz
            time.tzset()
            p = str(tmp_path / tz.replace("/", "_"))
            w = MS.ManifestShardWriter(
                {"path": p, "bloom_columns": "i,ts,m"}, schema, overwrite=False
            )
            msg = w.write(iter(batches))
            assert msg.shard == f"shard-{digest}.jsonl.gz"
            assert msg.n_rows == 25 and msg.trunc is None
            assert msg.stats == {
                "d": [0.0, 12.0], "i": [0, 24], "ts": ts_bounds,
            }
            assert msg.nulls == {"d": 3, "i": 0, "ts": 3}
            bits = {c: b["bits"] for c, b in msg.blooms.items()}
            assert sorted(bits) == ["i", "m", "ts"]
            assert hashlib.md5(
                json.dumps(bits, sort_keys=True).encode()
            ).hexdigest() == bloom_md5
            w.commit([msg])
            got = (
                registered.read.format(MS.FORMAT_NAME).option("path", p)
                .load().orderBy("i").collect()
            )
            assert [r["i"] for r in got] == list(range(25))
            assert got[1]["m"] == {"k0": 10} and got[5]["m"] is None
    finally:
        if old_tz is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = old_tz
        time.tzset()


def test_tz_timestamp_bounds_hold_across_dst_fall_back(
    tmp_path, arrow_batches
):
    """tz-aware timestamps are recorded as local wall time, and in a
    DST fall-back hour the later instant can read earlier: 06:30Z is
    01:30 CDT and 07:10Z is 01:10 CST. The bounds must be the min and
    max of the wall-time values, or an equality probe for a row the
    shard holds (01:10) is refuted, in both codecs."""
    import datetime as dt
    import time

    from pyspark.sql.types import StructField, StructType, TimestampType

    schema = StructType([StructField("ts", TimestampType())])
    utc = dt.timezone.utc
    rows = [(dt.datetime(2024, 11, 3, 6, 30, tzinfo=utc),),
            (dt.datetime(2024, 11, 3, 7, 10, tzinfo=utc),)]
    old_tz = os.environ.get("TZ")
    os.environ["TZ"] = "America/Chicago"
    time.tzset()
    try:
        for cls in (MS.ManifestShardWriter, MS.ManifestParquetShardWriter):
            w = cls({"path": str(tmp_path / cls.__name__)}, schema, False)
            msg = w.write(arrow_batches(schema, rows))
            assert msg.stats["ts"] == [
                "2024-11-03 01:10:00", "2024-11-03 01:30:00",
            ]
            entry = {"stats": msg.stats, "nulls": msg.nulls, "n_rows": 2}
            held = dt.datetime(2024, 11, 3, 1, 10)
            assert MS._shard_admits_eq(entry, "ts", held)
    finally:
        if old_tz is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = old_tz
        time.tzset()


def test_arrow_write_fallback_selection(registered, tmp_path):
    """There is no fallback: every schema, maps and nested tz-aware
    timestamps included, gets the one Arrow writer class of its codec,
    in batch and in stream."""
    from pyspark.sql.datasource import (
        DataSourceArrowWriter, DataSourceStreamArrowWriter,
    )
    from pyspark.sql.types import (
        ArrayType, BinaryType, DateType, DecimalType, LongType, MapType,
        StringType, StructField, StructType, TimestampType,
    )

    schemas = [
        StructType([StructField("i", LongType())]),
        StructType([StructField("m", MapType(StringType(), LongType()))]),
        StructType([StructField("a", ArrayType(TimestampType()))]),
        StructType([StructField("ts", TimestampType())]),
        StructType([StructField("st", StructType([
            StructField("t", TimestampType()),
            StructField("mb", MapType(LongType(), BinaryType())),
        ]))]),
        StructType(
            [StructField("md", MapType(DateType(), DecimalType(5, 2)))]
        ),
    ]
    jsonl = MS.ManifestShardDataSource(options={"path": str(tmp_path)})
    parquet = MS.ManifestShardDataSource(
        options={"path": str(tmp_path), "shard_format": "parquet"}
    )
    for sch in schemas:
        for ds, cls in ((jsonl, MS.ManifestShardWriter),
                        (parquet, MS.ManifestParquetShardWriter)):
            w = ds.writer(sch, False)
            assert type(w) is cls and isinstance(w, DataSourceArrowWriter)
            sw = ds.streamWriter(sch, False)
            assert type(sw) is MS.ManifestShardStreamWriter
            assert isinstance(sw, DataSourceStreamArrowWriter)
            assert type(sw._inner) is cls


def test_struct_columns_roundtrip_as_json_objects(
    registered, tmp_path, arrow_batches
):
    """Nested struct values must serialize as JSON OBJECTS whether the
    engine or a direct caller drives the writer (a Row is a tuple
    subclass — serialized as-is it became a JSON array, which every
    read path decoded as NULL)."""
    import gzip as _gzip
    import glob
    import json as _json

    spark = registered
    schema = "i long, st struct<a:long,b:string>, arr array<struct<c:long>>"
    df = spark.createDataFrame([(1, (7, "x"), [(9,)])], schema)
    for engine, sub in ((True, "a"), (False, "r")):
        p = str(tmp_path / sub)
        if engine:
            _land(spark, df.coalesce(1), p)
        else:
            w = MS.ManifestShardWriter({"path": p}, df.schema, overwrite=False)
            rows = [(1, {"a": 7, "b": "x"}, [{"c": 9}])]
            w.commit([w.write(arrow_batches(df.schema, rows))])
        (f,) = glob.glob(p + "/shards/*.gz")
        line = _json.loads(_gzip.open(f, "rt").read())
        assert line["st"] == {"a": 7, "b": "x"}  # object, not array
        assert line["arr"] == [{"c": 9}]
        back = MS.read_manifest(spark, p, schema).collect()
        assert [tuple(r) for r in back][0][1] == (7, "x")
        # the custom DataSource reader decodes it too
        got = (
            spark.read.format(MS.FORMAT_NAME).schema(schema)
            .option("path", p).load().collect()
        )
        assert got[0]["st"]["a"] == 7 and got[0]["arr"][0]["c"] == 9


def test_streaming_sink_uses_arrow_writer(registered, tmp_path):
    """The writeStream epoch path through the one Arrow stream writer:
    same manifest semantics, same replay no-op."""
    from pyspark.sql.datasource import DataSourceStreamArrowWriter

    spark, p = registered, str(tmp_path / "saw")
    w = MS.ManifestShardStreamWriter({"path": p}, _df(spark, 1).schema)
    assert isinstance(w, DataSourceStreamArrowWriter)
    import pyarrow as pa

    batch = pa.record_batch(
        {"id": pa.array([1, 2], pa.int64()),
         "s": pa.array(["x", "y"], pa.string())}
    )
    m0 = w.write(iter([batch]))
    w.commit([m0], batchId=0)
    man = MS.read_manifest_dict(p)
    assert man["n_rows"] == 2 and man["commit_kind"] == "epoch"
    # deterministic replay: manifest no-op
    m0r = w.write(iter([batch]))
    w.commit([m0r], batchId=0)
    assert MS.read_manifest_dict(p)["commit_seq"] == man["commit_seq"]
    rows = sorted(
        tuple(r)
        for r in MS.read_manifest(spark, p, "id long, s string").collect()
    )
    assert rows == [(1, "x"), (2, "y")]


def test_arrow_write_nan_floats_keep_shard_admitted(registered, tmp_path):
    """A float column containing NaN records NO min/max (Spark sorts
    NaN above every double, Python compares it false both ways) — the
    shard must stay admitted on every probe of that column, whatever
    else the schema holds (here a map): a [1.0, 9.0] bound would make
    a pushdown read of ``d > 100`` drop the NaN row."""
    spark, p = registered, str(tmp_path / "nan1")
    df = spark.createDataFrame(
        [(1, 1.0, {"a": 1}), (2, float("nan"), None), (3, 9.0, {})],
        "i long, d double, m map<string,int>",
    )
    _land(spark, df.coalesce(1), p)
    (shard,) = MS.read_manifest_dict(p)["shards"]
    assert "d" not in (shard.get("stats") or {})  # poisoned: no bounds
    assert shard["stats"]["i"] == [1, 3]          # others unaffected
    assert MS._shard_admits_range(shard, "d", 100.0, 200.0)  # conservative
    # the pushdown reader returns what plain Spark and read_manifest do
    want = df.filter("d > 100").count()
    assert want == 1
    assert MS.read_manifest(spark, p).filter("d > 100").count() == want
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    try:
        got = (
            spark.read.format(MS.FORMAT_NAME).option("path", p)
            .option("pushdown", "true").load().filter("d > 100").count()
        )
    finally:
        spark.conf.unset("spark.sql.python.filterPushdown.enabled")
    assert got == want


def test_map_keys_of_non_json_types_roundtrip(registered, tmp_path):
    """Map keys json.dumps cannot take (date, timestamp, decimal,
    binary) are written as their ``_json_default`` strings and parsed
    back to the declared key type by the DataSource reader."""
    import datetime as dt
    from decimal import Decimal

    spark, p = registered, str(tmp_path / "mk1")
    schema = (
        "id long, md map<date,decimal(5,2)>, mt map<timestamp,int>, "
        "mc map<decimal(5,2),string>, mb map<binary,long>"
    )
    rows = [
        (1, {dt.date(2024, 2, 29): Decimal("1.25")},
         {dt.datetime(2024, 1, 2, 3, 4, 5, 6): 7},
         {Decimal("3.50"): "x"}, {bytes([0, 255]): 9}),
        (2, {dt.date(2023, 1, 1): None}, None, {}, None),
    ]
    df = spark.createDataFrame(rows, schema)
    _land(spark, df.coalesce(1), p)
    got = sorted(
        tuple(r)
        for r in spark.read.format(MS.FORMAT_NAME).option("path", p)
        .load().collect()
    )
    want = sorted(tuple(r) for r in df.collect())
    assert got == want
    # read_manifest hands jsonl shards to Spark's JSON source, which
    # reads string map keys only: same rows in both codecs
    pq = str(tmp_path / "mk1_parquet")
    man = _land(spark, df.coalesce(1), pq, shard_format="parquet")
    assert all(MS._shard_is_parquet(sh["file"]) for sh in man["shards"])
    for table in (p, pq):
        back = MS.read_manifest(spark, table)
        assert back.schema == df.schema
        assert sorted(tuple(r) for r in back.collect()) == want
    nested = str(tmp_path / "mk1_nested")
    ndf = df.select("id", F.struct(
        F.array("md").alias("amd"), F.create_map(F.lit("k"), "mb").alias("mmb")
    ).alias("s"))
    _land(spark, ndf.coalesce(1), nested)
    assert sorted(tuple(r) for r in MS.read_manifest(spark, nested).collect()) \
        == sorted(tuple(r) for r in ndf.collect())


# -- recorded table schema (Delta metaData shape) --------------------------

def test_recorded_schema_typed_reads_without_explicit(registered, tmp_path):
    """The log records the writer's schema: load() without .schema()
    and read_manifest(schema=None) both return EXACT types (no
    inference scan, dates stay dates)."""
    import datetime

    spark, p = registered, str(tmp_path / "rs1")
    df = spark.createDataFrame(
        [(1, "a", datetime.date(2024, 1, 2), 1.5)],
        "id long, s string, dt date, d double",
    )
    df.coalesce(1).write.format(MS.FORMAT_NAME).option("path", p) \
        .mode("append").save()
    sch = MS.table_schema(p)
    assert [f.name for f in sch.fields] == ["id", "s", "dt", "d"]
    assert sch["dt"].dataType.typeName() == "date"
    got = (
        spark.read.format(MS.FORMAT_NAME).option("path", p).load()
    )
    assert got.schema == sch
    assert got.collect()[0]["dt"] == datetime.date(2024, 1, 2)
    back = MS.read_manifest(spark, p)  # schema=None -> recorded
    assert back.schema["dt"].dataType.typeName() == "date"
    # DML verbs default to the recorded schema too
    man2, n = MS.update_where(
        spark, p, None, F.col("id") == 1, {"s": F.lit("upd")}
    )
    assert n == 1
    assert MS.read_manifest(spark, p).collect()[0]["s"] == "upd"


def test_schema_evolution_restamps_latest_wins(registered, tmp_path):
    """An append under a WIDER schema restamps the recorded schema
    (latest wins); earlier versions keep the schema they were written
    under — time travel reads each version typed as it was."""
    spark, p = registered, str(tmp_path / "rs2")
    _write(_df(spark, 3).coalesce(1), p, mode="append")            # v1
    wide = spark.createDataFrame(
        [(100, "w", 7.5)], "id long, s string, score double"
    )
    wide.coalesce(1).write.format(MS.FORMAT_NAME).option("path", p) \
        .mode("append").save()                                      # v2
    assert [f.name for f in MS.table_schema(p).fields] == [
        "id", "s", "score",
    ]
    assert [f.name for f in MS.table_schema(p, version=1).fields] == [
        "id", "s",
    ]
    got = MS.read_manifest(spark, p)  # latest schema governs
    rows = {r["id"]: r for r in got.collect()}
    assert rows[100]["score"] == 7.5
    assert rows[0]["score"] is None  # old shards: missing -> null
    # time travel AS OF v1 uses v1's recorded schema
    v1 = MS.read_manifest(spark, p, version=1)
    assert [f.name for f in v1.schema.fields] == ["id", "s"]
    # the version option on the DataSource resolves the same way
    ds = (
        spark.read.format(MS.FORMAT_NAME)
        .option("path", p).option("version", "1").load()
    )
    assert [f.name for f in ds.schema.fields] == ["id", "s"]


def test_schema_stamp_is_o_delta(registered, tmp_path):
    """Unchanged schemas cost the action log nothing: only the FIRST
    commit (and evolutions/overwrites) carry the schema field."""
    spark, p = registered, str(tmp_path / "rs3")
    _write(_df(spark, 2, tag="a").coalesce(1), p, mode="append")   # v1
    _write(_df(spark, 2, tag="b").coalesce(1), p, mode="append")   # v2
    hdir = os.path.join(p, MS.HISTORY_DIR)
    a1 = json.load(open(os.path.join(hdir, MS._history_name(1))))
    a2 = json.load(open(os.path.join(hdir, MS._history_name(2))))
    assert "schema" in a1 and "schema" not in a2
    # ...but the v2 STATE still carries it forward
    assert MS.table_schema(p, version=2) is not None


def test_streaming_epochs_record_schema(registered, tmp_path, arrow_batches):
    spark, p = registered, str(tmp_path / "rs4")
    schema = _df(spark, 1).schema
    w = MS.ManifestShardStreamWriter({"path": p}, schema)
    m = w.write(arrow_batches(schema, [(1, "x")]))
    w.commit([m], batchId=0)
    assert [f.name for f in MS.table_schema(p).fields] == ["id", "s"]
    # table_changes without a schema rides the recorded one
    got = MS.table_changes(spark, p, None, 0).collect()
    assert [tuple(r) for r in got] == [(1, "x")]


def test_legacy_table_without_schema_still_refuses(registered, tmp_path):
    spark, p = registered, str(tmp_path / "rs5")
    _write(_df(spark, 2).coalesce(1), p, mode="append")
    act = os.path.join(p, MS.HISTORY_DIR, MS._history_name(1))
    doc = json.load(open(act))
    doc.pop("schema")
    json.dump(doc, open(act, "w"))
    assert MS.table_schema(p) is None
    with pytest.raises(Exception, match="schema"):
        spark.read.format(MS.FORMAT_NAME).option("path", p).load().collect()
    with pytest.raises(ValueError, match="schema"):
        MS.table_changes(spark, p, None, 0)
