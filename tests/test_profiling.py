"""Profiling and sketch queries under row replication: the registered
queries run on an sf-layout directory whose tables hold every base row
twice, and the closed-form invariants below must hold exactly."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from open_crime_etl_pipeline_spark.io.readers import load_table
from open_crime_etl_pipeline_spark.queries import all_specs

M = 2  # smallest replica factor that exercises duplication


@pytest.fixture(scope="module")
def replica_dir(spark, sf_dir, tmp_path_factory):
    """orders and events replicated M×; replica copies of orders null
    ``o_custkey`` on every order key divisible by 10."""
    out = str(tmp_path_factory.mktemp("replica"))
    orders = load_table(spark, sf_dir, "orders")
    nulled = orders.withColumn(
        "o_custkey",
        F.when(F.col("o_orderkey") % 10 == 0, F.lit(None))
        .otherwise(F.col("o_custkey")),
    )
    events = load_table(spark, sf_dir, "events")
    prev = spark.conf.get("spark.sql.parquet.outputTimestampType")
    # timestamp[us], not INT96, so load_table reads the replica as-is
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    try:
        o_rep, e_rep = orders, events
        for _ in range(M - 1):
            o_rep, e_rep = o_rep.unionByName(nulled), e_rep.unionByName(events)
        o_rep.write.parquet(os.path.join(out, "orders.parquet"))
        e_rep.write.parquet(os.path.join(out, "events.parquet"))
    finally:
        spark.conf.set("spark.sql.parquet.outputTimestampType", prev)
    return out


def test_kmv_sketch_identical_under_replication(spark, sf_dir, replica_dir):
    """A KMV sketch is a pure function of the distinct hash set, so
    duplicating every event row leaves all output values unchanged."""
    fn = all_specs()["kmv_theta_intersection_estimate"].fn
    base = sorted(tuple(r) for r in fn(spark, sf_dir).collect())
    rep = sorted(tuple(r) for r in fn(spark, replica_dir).collect())
    assert base
    assert rep == base


def test_profile_counts_planted_nulls_under_replication(
    spark, sf_dir, replica_dir
):
    """n_null(o_custkey) grows by exactly the planted replica nulls;
    every n_distinct, min and max and every other null count is fixed."""
    planted = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 10 == 0).count()
    )
    assert planted > 0
    fn = all_specs()["table_profile_single_pass"].fn
    base = {r["column_name"]: r for r in fn(spark, sf_dir).collect()}
    rep = {r["column_name"]: r for r in fn(spark, replica_dir).collect()}
    assert set(rep) == set(base) and "o_custkey" in rep
    for col, r in rep.items():
        b = base[col]
        extra = (M - 1) * planted if col == "o_custkey" else 0
        assert r["n_null"] == b["n_null"] + extra, col
        assert r["n_distinct"] == b["n_distinct"], col
        assert (r["min_val"], r["max_val"]) == (b["min_val"], b["max_val"]), col
