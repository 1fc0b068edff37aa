"""Opt-in reliable checkpointing for iterative operators (VERDICT r6
item 4): by default every lineage cut is a fast non-fault-tolerant
``localCheckpoint``; with ``spark.openCrimeEtl.reliableCheckpointDir``
set, the same cuts go through reliable ``DataFrame.checkpoint()`` so a
lost executor on a real cluster does not kill a multi-hour job. Also
pins ``fan_out``, the guard that widens narrow frames before wide
stages."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from open_crime_etl_pipeline_spark.checkpointing import CONF_KEY, pin
from open_crime_etl_pipeline_spark.operators.graph import pagerank
from open_crime_etl_pipeline_spark.operators.scan import ewma_affine_scan
from open_crime_etl_pipeline_spark.partitioning import fan_out


def _edges(spark):
    return spark.createDataFrame(
        [(1, 2, 1.0), (2, 3, 1.0), (3, 1, 2.0), (3, 4, 1.0), (4, 1, 1.0)],
        "src long, dst long, weight double",
    )


def test_pin_defaults_to_local_checkpoint(spark, tmp_path):
    assert spark.conf.get(CONF_KEY, None) is None
    df = pin(spark.range(10))
    assert df.count() == 10
    # nothing written anywhere: reliable checkpoints need an explicit dir
    assert spark.sparkContext.getCheckpointDir() is None or not os.listdir(
        str(tmp_path)
    )


def test_reliable_checkpoint_writes_files_and_matches_local(spark, tmp_path):
    ckdir = str(tmp_path / "ck")
    base = _edges(spark)
    default_pr = {
        r["node"]: r["rank"] for r in pagerank(base, iters=5).collect()
    }
    spark.conf.set(CONF_KEY, ckdir)
    try:
        reliable_pr = {
            r["node"]: r["rank"] for r in pagerank(base, iters=5).collect()
        }
        # checkpoint files actually landed under the configured dir
        walked = [f for _, _, fs in os.walk(ckdir) for f in fs]
        assert walked, "reliable path produced no checkpoint files"
        assert reliable_pr == default_pr
    finally:
        spark.conf.unset(CONF_KEY)


def test_reliable_checkpoint_scan_operator(spark, tmp_path):
    ckdir = str(tmp_path / "ck_scan")
    df = spark.createDataFrame(
        [("s", f"{k:03d}", float(k), 0) for k in range(1, 9)],
        "series string, k string, x double, ck int",
    )
    args = ("series", "k", "x", F.col("ck"))
    default = {
        r["k"]: r["ewma"] for r in ewma_affine_scan(df, *args).collect()
    }
    spark.conf.set(CONF_KEY, ckdir)
    try:
        reliable = {
            r["k"]: r["ewma"] for r in ewma_affine_scan(df, *args).collect()
        }
        assert reliable == default
        assert any(fs for _, _, fs in os.walk(ckdir))
    finally:
        spark.conf.unset(CONF_KEY)


def test_pin_resets_runaway_inherited_stats(spark):
    """LogicalRDD inherits the checkpointed plan's sizeInBytes; without
    the reset, iterated self-joins compound it ~4x in DIGITS per round
    and the driver stalls in BigInteger multiplication (PERF.md round
    7). pin() must keep the statistic physically plausible (< 2^127)
    at every round while preserving values."""
    from pyspark.sql import functions as F

    cur = pin(spark.range(64).select("id", (F.col("id") * 2).alias("v")))
    for _ in range(12):
        j = cur.join(cur.select("id", F.col("v").alias("v2")), "id")
        cur = pin(j.select("id", (F.col("v") + F.col("v2")).alias("v")))
        bits = int(
            cur._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        ).bit_length()
        assert bits <= 128, f"stat blew up to {bits} bits"
    # 12 rounds of v doubling: v = id * 2 * 2^12
    rows = {r["id"]: r["v"] for r in cur.collect()}
    assert rows[3] == 3 * 2 * 2**12 and len(rows) == 64


class TestFanOut:
    def test_widens_narrow_frame(self, spark):
        df = spark.range(100).coalesce(1)
        out = fan_out(df)
        assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
        # same rows, only placement changed
        assert sorted(r.id for r in out.collect()) == list(range(100))

    def test_noop_on_wide_frame(self, spark):
        n = spark.sparkContext.defaultParallelism
        df = spark.range(100).repartition(n + 2)
        out = fan_out(df)
        # never repartitions DOWN — existing parallelism is preserved
        assert out.rdd.getNumPartitions() == n + 2
        assert out is df  # the guard is a true no-op, not a new plan

    def test_explicit_floor(self, spark):
        df = spark.range(10).coalesce(1)
        assert fan_out(df, min_parts=4).rdd.getNumPartitions() == 4
