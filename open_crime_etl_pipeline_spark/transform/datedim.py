"""Date-dimension generator with holiday lookup.

The reference declares a `date` dim (create_date.sql:1-10) but never
populates it; here it's generated declaratively — a `sequence` explode
plus derived calendar columns, with holidays supplied as a small
lookup table joined broadcast (no builtin holiday calendar exists in
either Spark or the reference).

Scale: the dim is tiny (365 rows/year) — always broadcast when joined
to facts (J5: `crime.date_of_occurrence` → `date`).

Day-of-week follows ISO numbering (1=Monday..7=Sunday) via
``weekday()+1`` — Spark's ``dayofweek`` (1=Sunday) is deliberately not
used so semantics match ANSI/ISO expectations.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..localrel import local_df

HOLIDAY_SCHEMA = T.StructType([
    T.StructField("hdate", T.DateType(), False),
    T.StructField("holiday_name", T.StringType(), False),
])

_DEFAULT_HOLIDAYS_1995 = [
    ("1995-01-01", "New Year's Day"),
    ("1995-07-04", "Independence Day"),
    ("1995-11-23", "Thanksgiving"),
    ("1995-12-25", "Christmas Day"),
]


def default_holidays_df(spark: SparkSession) -> DataFrame:
    import datetime as dt

    rows = [(dt.date.fromisoformat(d), n) for d, n in _DEFAULT_HOLIDAYS_1995]
    return local_df(spark, rows, HOLIDAY_SCHEMA)


def build_date_dim(
    spark: SparkSession,
    start: str,
    end: str,
    holidays: DataFrame | None = None,
) -> DataFrame:
    """Calendar dimension for [start, end], schema per DATE_DIM_SCHEMA."""
    d = F.col("date")
    dim = (
        spark.range(1)
        .select(
            F.explode(
                F.sequence(
                    F.lit(start).cast("date"),
                    F.lit(end).cast("date"),
                    F.expr("INTERVAL 1 DAY"),
                )
            ).alias("date")
        )
        .select(
            d,
            F.dayofmonth(d).alias("day"),
            F.month(d).alias("month"),
            F.date_format(d, "MMMM").alias("month_name"),
            F.year(d).alias("year"),
            (F.weekday(d) + 1).alias("day_of_week"),
            F.date_format(d, "EEEE").alias("day_of_week_name"),
        )
    )
    if holidays is None:
        return dim.withColumn("holiday_name", F.lit(None).cast("string"))
    return (
        dim.join(F.broadcast(holidays), dim["date"] == holidays["hdate"], "left")
        .drop("hdate")
    )
