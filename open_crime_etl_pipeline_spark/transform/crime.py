"""Bronze→silver transform for crime pages — the reference's
``transform()`` contract (`airflow/dags/crimeapi/transform.py:6-48`)
as narrow DataFrame ops Catalyst can fuse into one codegen stage.

Semantics preserved:
- drop the 15 unused columns (P1, transform.py:9-25)
- rename 6 columns (P2, transform.py:27-34)
- NaN/absent → SQL NULL (P3, transform.py:46) — absent JSON keys are
  already null in Spark; real NaN in double columns is normalized via
  nanvl so the silver layer never carries NaN
- typed casts to the silver schema (the reference delegated coercion
  to the warehouse at INSERT; at 100 TB casts happen once, here)

Unparseable numerics and timestamps become NULL, as pandas→DB coercion
does: ``try_cast``/``try_to_timestamp`` never raise under ANSI mode.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..schemas import (
    CRIME_DOUBLE_COLUMNS,
    CRIME_DROP_COLUMNS,
    CRIME_INT_COLUMNS,
    CRIME_RENAME_MAP,
    CRIME_SILVER_SCHEMA,
    CRIME_TIMESTAMP_COLUMNS,
    SOCRATA_TS_FORMAT,
)


def transform_crime_page(raw: DataFrame) -> DataFrame:
    """Raw Socrata page (all-string columns) → typed silver frame."""
    df = raw.drop(*[c for c in CRIME_DROP_COLUMNS if c in raw.columns])
    df = df.withColumnsRenamed(CRIME_RENAME_MAP)

    for col in CRIME_TIMESTAMP_COLUMNS:
        # Socrata emits ISO strings with ms or µs fractions; try ms
        # format first (helper.py:12-16), fall back to a plain cast.
        df = df.withColumn(
            col,
            F.coalesce(
                F.try_to_timestamp(F.col(col), F.lit(SOCRATA_TS_FORMAT)),
                F.col(col).try_cast("timestamp"),
            ),
        )
    for col in CRIME_INT_COLUMNS:
        # Socrata integers sometimes arrive as "123.0" — double-then-int
        # matches pandas' lenient coercion.
        df = df.withColumn(col, F.col(col).try_cast("double").try_cast("int"))
    for col in CRIME_DOUBLE_COLUMNS:
        # NaN → NULL (P3): silver never carries NaN.
        cast = F.col(col).try_cast("double")
        df = df.withColumn(col, F.when(F.isnan(cast), F.lit(None)).otherwise(cast))

    ordered = [f.name for f in CRIME_SILVER_SCHEMA.fields]
    return df.select(*ordered)
