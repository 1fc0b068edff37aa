"""observe()-based in-flight quality metrics (io/metrics.py): metrics
equal a recomputation, ride the same job as the action (no second
scan), and gate not-null violations."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from open_crime_etl_pipeline_spark.io.metrics import (
    assert_not_null,
    observe_batch,
)


def test_observed_metrics_match_recomputation(spark, tmp_path):
    df = spark.range(1000).select(
        "id",
        F.when(F.col("id") % 97 == 0, None)
        .otherwise(F.col("id").cast("string"))
        .alias("s"),
    )
    inst, obs = observe_batch(df, key="s")
    inst.write.mode("overwrite").parquet(str(tmp_path / "out"))  # the action
    got = obs.get
    assert got["n_rows"] == 1000
    expected_null_s = df.filter(F.col("s").isNull()).count()
    assert got["null_keys"] == expected_null_s > 0
    distinct = df.select("s").dropna().distinct().count()
    assert abs(got["approx_distinct_keys"] - distinct) <= 0.05 * distinct
    # and the write itself landed every row
    assert spark.read.parquet(str(tmp_path / "out")).count() == 1000


def test_observe_adds_no_extra_scan(spark):
    df = spark.range(100).select("id", F.lit("x").alias("s"))
    inst, _obs = observe_batch(df, key="s")
    plan = inst._jdf.queryExecution().executedPlan().toString()
    # one CollectMetrics node, zero joins/extra exchanges added
    assert "CollectMetrics" in plan
    assert "Exchange" not in plan


def test_assert_not_null_gates(spark):
    clean = spark.range(10).select("id")
    inst, obs = observe_batch(clean, key="id")
    inst.count()
    assert assert_not_null(obs.get)["n_rows"] == 10

    dirty = spark.range(10).select(
        F.when(F.col("id") % 2 == 0, None).otherwise(F.col("id")).alias("id")
    )
    inst2, obs2 = observe_batch(dirty, name="q2", key="id")
    inst2.count()
    with pytest.raises(ValueError, match="null_keys"):
        assert_not_null(obs2.get)
