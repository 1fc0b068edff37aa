"""Two-pass global row numbering: equivalence with the single-window
form, contiguity, and the no-single-partition plan shape; running-sum
totals from the offsets pass and the percentiles built on them."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from open_crime_etl_pipeline_spark.operators.ranking import (
    exact_percentiles,
    global_row_number,
    global_running_sums,
    weighted_percentiles,
)


def _scored(spark, n=10_000):
    # heavy duplication in the order key → boundary ties are exercised;
    # id is the unique tie-break making the order total
    return spark.range(n).select(
        F.col("id"), (F.col("id") % 97).alias("score")
    )


def test_global_row_number_matches_single_window(spark):
    df = _scored(spark)
    order = [F.col("score").desc(), F.col("id").asc()]
    fast = {
        r.id: r.rn for r in global_row_number(df, order, n_partitions=8).collect()
    }
    slow = {
        r.id: r.rn
        for r in df.withColumn(
            "rn", F.row_number().over(Window.orderBy(*order))
        ).collect()
    }
    assert fast == slow


def test_global_row_number_contiguous(spark):
    out = global_row_number(_scored(spark, 5000), ["score", "id"], n_partitions=7)
    rns = [r.rn for r in out.select("rn").collect()]
    assert sorted(rns) == list(range(1, 5001))


def test_global_row_number_avoids_single_partition_window(spark):
    df = global_row_number(_scored(spark), ["score", "id"], n_partitions=8)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the window runs per range-partition; nothing funnels through one task
    assert "Exchange SinglePartition" not in plan
    assert "Window" in plan


def test_grouped_running_sum_matches_window_under_skew(spark):
    """Two-pass grouped running sum == the per-group window form, on a
    90/10 skewed group mix (one group holds ~90% of rows — the case
    where the window form serializes through one task at scale)."""
    from open_crime_etl_pipeline_spark.operators.ranking import grouped_running_sum

    df = spark.range(8000).select(
        F.col("id"),
        F.when(F.col("id") % 10 < 9, F.lit("dominant"))
        .otherwise(F.concat(F.lit("minor"), (F.col("id") % 3).cast("string")))
        .alias("grp"),
        (F.col("id") % 53 + 1).alias("v"),
    )
    fast = {
        (r.grp, r.id): r.cum
        for r in grouped_running_sum(
            df, "grp", ["id"], "v", out_col="cum", n_partitions=8
        ).collect()
    }
    w = (
        Window.partitionBy("grp").orderBy("id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    slow = {
        (r.grp, r.id): r.cum
        for r in df.withColumn("cum", F.sum("v").over(w)).collect()
    }
    assert fast == slow


def test_grouped_running_sum_keeps_all_columns(spark):
    from open_crime_etl_pipeline_spark.operators.ranking import grouped_running_sum

    df = spark.range(100).select(
        "id", (F.col("id") % 2).cast("string").alias("grp"),
        F.lit(1).cast("long").alias("v"), F.lit("x").alias("extra")
    )
    out = grouped_running_sum(df, "grp", ["id"], "v", out_col="cum")
    assert set(out.columns) == {"id", "grp", "v", "extra", "cum"}
    # within each group the running count of 1s is 1..n in id order
    rows = sorted(out.collect(), key=lambda r: (r.grp, r.id))
    by_grp: dict = {}
    for r in rows:
        by_grp.setdefault(r.grp, []).append(r.cum)
    for cums in by_grp.values():
        assert cums == list(range(1, len(cums) + 1))


def test_exact_target_rank_is_fp_immune():
    import math

    from open_crime_etl_pipeline_spark.operators.ranking import exact_target_rank

    # a concrete divergence: fl(0.55)*1e8 lands above the true 55e6 by
    # more than the 1e-9 shave, so the old FP ceil returned 55000001 —
    # the exact rational form must return ceil(55e8/100) = 55000000
    n = 100_000_000
    assert math.ceil(0.55 * n - 1e-9) == 55_000_001  # the old bug, pinned
    assert exact_target_rank(0.55, n) == 55_000_000
    # spot-check non-terminating and boundary cases against Fraction math
    from fractions import Fraction

    for p in (0.01, 0.25, 0.5, 0.75, 0.9, 0.99, 0.55, 0.123):
        for n in (1, 2, 3, 99, 100, 101, 10**6, 10**12, 10**15):
            fr = Fraction(str(p))
            want = max(int(-(-(fr.numerator * n) // fr.denominator)), 1)
            assert exact_target_rank(p, n) == want
    assert exact_target_rank(0.5, 0) == 1  # empty input clamps to rank 1


def test_weighted_percentiles_match_expanded_multiset(spark):
    from open_crime_etl_pipeline_spark.operators.ranking import (
        weighted_percentiles,
    )

    rows = [(i, float((i * 37) % 100), 1 + (i * 13) % 7) for i in range(500)]
    df = spark.createDataFrame(rows, "id long, v double, w long")
    ps = [0.1, 0.25, 0.5, 0.75, 0.9, 0.99]
    got = {
        r["p"]: r["value"]
        for r in weighted_percentiles(df, "v", "w", ["id"], ps).collect()
    }
    # brute force: literally expand each row w times, percentile_disc
    expanded = sorted(v for _i, v, w in rows for _ in range(w))
    from fractions import Fraction

    for p in ps:
        fr = Fraction(str(p))
        t = max(-((-fr.numerator * len(expanded)) // fr.denominator), 1)
        assert got[p] == expanded[t - 1], (p, got[p], expanded[t - 1])


def test_weighted_percentiles_zero_and_negative_weights(spark):
    import pytest

    from open_crime_etl_pipeline_spark.operators.ranking import (
        weighted_percentiles,
    )

    # zero-weight rows contribute nothing and can never be the crossing
    df = spark.createDataFrame(
        [(1, 1.0, 0), (2, 2.0, 3), (3, 3.0, 1)], "id long, v double, w long"
    )
    got = {
        r["p"]: r["value"]
        for r in weighted_percentiles(df, "v", "w", ["id"], [0.5, 1.0]).collect()
    }
    assert got == {0.5: 2.0, 1.0: 3.0}  # expansion [2,2,2,3]
    bad = spark.createDataFrame([(1, 1.0, -2)], "id long, v double, w long")
    with pytest.raises(Exception, match="negative weight"):
        weighted_percentiles(bad, "v", "w", ["id"], [0.5]).collect()


def test_weighted_percentiles_fractional_and_null_weights_raise(spark):
    """A double weight must RAISE, not silently truncate (0.5 -> 0
    dropped half the row's mass before round 9); NULL gets its own
    message instead of the misleading 'negative weight NULL'."""
    import pytest

    from open_crime_etl_pipeline_spark.operators.ranking import (
        weighted_percentiles,
    )

    frac = spark.createDataFrame(
        [(1, 1.0, 0.5), (2, 2.0, 3.0)], "id long, v double, w double"
    )
    with pytest.raises(Exception, match="fractional weight"):
        weighted_percentiles(frac, "v", "w", ["id"], [0.5]).collect()
    nul = spark.createDataFrame(
        [(1, 1.0, None), (2, 2.0, 3)], "id long, v double, w long"
    )
    with pytest.raises(Exception, match="NULL weight"):
        weighted_percentiles(nul, "v", "w", ["id"], [0.5]).collect()
    # integer-VALUED doubles are fine — the contract is integrality,
    # not the storage type
    ok = spark.createDataFrame(
        [(1, 1.0, 1.0), (2, 2.0, 3.0)], "id long, v double, w double"
    )
    got = {
        r["p"]: r["value"]
        for r in weighted_percentiles(ok, "v", "w", ["id"], [0.5]).collect()
    }
    assert got == {0.5: 2.0}


class TestRankingTotalsFromOffsetsPass:
    def test_running_sums_with_totals(self, spark):
        df = spark.createDataFrame(
            [(i, i % 7 + 1) for i in range(1000)], "k long, w long"
        )
        out, totals = global_running_sums(
            df, ["k"], {"cum": "w"}, with_totals=True
        )
        mx = out.agg(F.max("cum")).collect()[0][0]
        # the driver-summed total must equal the window's final value
        assert totals["cum"] == mx == sum(i % 7 + 1 for i in range(1000))

    def test_running_sums_with_totals_empty(self, spark):
        df = spark.createDataFrame([], "k long, w long")
        out, totals = global_running_sums(
            df, ["k"], {"cum": "w"}, with_totals=True
        )
        assert totals == {"cum": 0}
        assert out.count() == 0

    def test_exact_percentiles_unchanged(self, spark):
        import random

        rnd = random.Random(7)
        vals = [float(rnd.randrange(10_000)) for _ in range(5000)]
        df = spark.createDataFrame([(v,) for v in vals], "v double")
        got = {
            r.p: r.value
            for r in exact_percentiles(df, "v", [0.01, 0.5, 0.99]).collect()
        }
        sv = sorted(vals)
        import math

        for p in (0.01, 0.5, 0.99):
            rank = max(math.ceil(p * len(sv)), 1)
            assert got[p] == sv[rank - 1]

    def test_weighted_percentiles_unchanged(self, spark):
        rows = [(1.0, 1, 1, 1), (2.0, 3, 2, 1), (3.0, 1, 3, 1)]
        df = spark.createDataFrame(
            rows, "v double, w long, a long, b long"
        )
        got = {
            r.p: r.value
            for r in weighted_percentiles(
                df, "v", "w", ["a", "b"], [0.2, 0.5, 0.9]
            ).collect()
        }
        # expanded multiset: [1, 2, 2, 2, 3]; W=5
        # ceil(.2*5)=1 -> 1.0; ceil(.5*5)=3 -> 2.0; ceil(.9*5)=5 -> 3.0
        assert got == {0.2: 1.0, 0.5: 2.0, 0.9: 3.0}
