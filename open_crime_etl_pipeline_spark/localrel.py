"""Driver-side rows as a DataFrame: the package's one way to build one.

:func:`local_df` turns rows held on the driver (codebooks, ranking
offsets, per-query summaries, empty typed frames, the run ledger) into
a DataFrame of an exact schema. It guarantees:

- the values and schema of ``spark.createDataFrame(rows, schema)``.
  The rows go through pyspark's own ``LocalDataToArrowConversion``,
  which checks each row's width, takes tuples, ``Row`` objects and
  dicts, and reads a naive ``datetime`` as local time, as the list
  path does;
- a plan on a ``LocalRelation``. Collecting or broadcasting the frame
  starts no Spark job, for an empty list and for every column type.
  A plain list given to ``createDataFrame`` is pickled into an RDD
  instead, and every action over it runs a job.

Size decides nothing here. Past Spark's own
``spark.sql.execution.arrow.localRelationThreshold`` (48 MB by
default) Spark ships the Arrow batches as an RDD.
"""

from __future__ import annotations

from typing import Any, Iterable, Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.conversion import LocalDataToArrowConversion
from pyspark.sql.pandas.types import to_arrow_schema


def _parse_schema(schema: "str | T.StructType") -> T.StructType:
    if isinstance(schema, T.StructType):
        return schema
    parsed = T._parse_datatype_string(schema)
    if not isinstance(parsed, T.StructType):
        raise ValueError(f"local_df: schema must be a struct, got {parsed}")
    return parsed


def local_df(
    spark: SparkSession,
    rows: "Iterable[Sequence[Any]] | pa.Table",
    schema: "str | T.StructType",
) -> DataFrame:
    """``spark.createDataFrame(rows, schema)`` as a LocalRelation
    (module docstring). ``rows`` may also be a ``pyarrow.Table`` that
    already holds the schema's Arrow types."""
    st = _parse_schema(schema)
    if not isinstance(rows, pa.Table):
        rows = list(rows)
        rows = (LocalDataToArrowConversion.convert(rows, st, False) if rows
                else to_arrow_schema(st).empty_table())
    return spark.createDataFrame(rows, st)
