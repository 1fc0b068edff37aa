"""Bronze→silver transform for crime pages — the reference's
``transform()`` contract (`airflow/dags/crimeapi/transform.py:6-48`)
as narrow DataFrame ops Catalyst can fuse into one codegen stage.

Semantics preserved:
- drop the 15 unused columns (P1, transform.py:9-25): only the silver
  columns are selected
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
    CRIME_INT_COLUMNS,
    CRIME_RENAME_MAP,
    CRIME_SILVER_SCHEMA,
    CRIME_TIMESTAMP_COLUMNS,
    SOCRATA_TS_FORMAT,
)


def transform_crime_page(raw: DataFrame) -> DataFrame:
    """Raw Socrata page (all-string columns) → typed silver frame.

    One ``select`` builds every silver column from its raw source, so
    the frame is analysed once rather than once per column; the unused
    raw columns (P1) simply are not selected."""
    source = {new: old for old, new in CRIME_RENAME_MAP.items()}

    def typed(name: str):
        col = F.col(source.get(name, name))
        if name in CRIME_TIMESTAMP_COLUMNS:
            # Socrata emits ISO strings with ms or µs fractions; try ms
            # format first (helper.py:12-16), fall back to a plain cast.
            return F.coalesce(
                F.try_to_timestamp(col, F.lit(SOCRATA_TS_FORMAT)),
                col.try_cast("timestamp"),
            )
        if name in CRIME_INT_COLUMNS:
            # Socrata integers sometimes arrive as "123.0" — double-then-int
            # matches pandas' lenient coercion.
            return col.try_cast("double").try_cast("int")
        if name in CRIME_DOUBLE_COLUMNS:
            # NaN → NULL (P3): silver never carries NaN.
            cast = col.try_cast("double")
            return F.when(F.isnan(cast), F.lit(None)).otherwise(cast)
        return col

    return raw.select(*[typed(f.name).alias(f.name) for f in CRIME_SILVER_SCHEMA.fields])
