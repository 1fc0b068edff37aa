"""local_df: driver-side row lists as LocalRelations.

Two halves are pinned here: (1) values and schema are identical to
spark.createDataFrame for every column type (including exact IEEE
doubles, arbitrary strings, timestamps, maps, structs, decimals and
``Row`` objects), and (2) the result plans as a LocalRelation, so
building, collecting and broadcasting it start no Spark job, whatever
the input's size or types. A regression to the pickled-RDD path would
bring back one job per action.
"""

from __future__ import annotations

import datetime
import decimal
import struct

from pyspark.sql import Row

from open_crime_etl_pipeline_spark.localrel import local_df


def _plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def _same_as_create(spark, rows, ddl):
    a = local_df(spark, rows, ddl)
    b = spark.createDataFrame(rows, ddl)
    assert [(f.name, f.dataType) for f in a.schema.fields] == [
        (f.name, f.dataType) for f in b.schema.fields
    ], ddl
    # repr orders rows that hold None, dicts or datetimes next to each other
    assert sorted(map(tuple, a.collect()), key=repr) == sorted(
        map(tuple, b.collect()), key=repr), ddl
    return a


class TestLocalDf:
    def test_simple_types_and_local_plan(self, spark):
        a = _same_as_create(
            spark,
            [(1, "a'b\\c\x1fz", 1.5), (2, None, 1e-17)],
            "id long, s string, x double",
        )
        assert "LocalRelation" in _plan(a)

    def test_codebook_shape(self, spark):
        a = _same_as_create(
            spark,
            [(0, 5, [0.1, 2.0 / 3.0, -0.0]), (1, 7, [1e300, -1e-300, 0.0])],
            "s int, cid bigint, cvec array<double>",
        )
        assert "LocalRelation" in _plan(a)

    def test_misc_types(self, spark):
        _same_as_create(
            spark,
            [(True, b"\x00\xff", datetime.date(2024, 2, 29))],
            "b boolean, raw binary, d date",
        )
        _same_as_create(
            spark,
            [("", "unicode→é€😀", -(2**63))],
            "e string, u string, big long",
        )

    def test_doubles_bit_exact(self, spark):
        import random

        rng = random.Random(13)
        vals = [rng.uniform(-1e300, 1e300) for _ in range(25)] + [
            5e-324, 0.1, 2.0 / 3.0,
        ]
        got = [
            r[0]
            for r in local_df(spark, [(v,) for v in vals], "x double")
            .collect()
        ]
        assert all(
            struct.pack("d", a) == struct.pack("d", b)
            for a, b in zip(vals, got)
        )

    def test_empty_falls_back(self, spark):
        df = local_df(spark, [], "id long, s string")
        assert df.count() == 0
        assert [f.name for f in df.schema.fields] == ["id", "s"]
        assert "LocalRelation" in _plan(df)

    def test_unsupported_type_falls_back(self, spark):
        rows = [({"k": 1},)]
        df = local_df(spark, rows, "m map<string,int>")
        assert df.collect()[0][0] == {"k": 1}
        assert "LocalRelation" in _plan(df)

    def test_timestamps_maps_structs_decimals_and_rows(self, spark):
        utc = datetime.timezone.utc
        _same_as_create(
            spark,
            [(datetime.datetime(2024, 3, 10, 2, 30, 0, 123456),),
             (datetime.datetime(1969, 12, 31, 23, 59, 59),), (None,)],
            "t timestamp",
        )
        _same_as_create(
            spark,
            [(datetime.datetime(2024, 3, 10, 2, 30, tzinfo=utc),),
             (datetime.datetime(
                 2024, 11, 3, 1, 30,
                 tzinfo=datetime.timezone(datetime.timedelta(hours=-5))),)],
            "t timestamp",
        )
        _same_as_create(
            spark, [({"a": 1, "b": None},), ({},), (None,)], "m map<string,int>"
        )
        _same_as_create(
            spark,
            [((1, "x"),), (Row(a=2, b=None),), (None,)],
            "st struct<a:int,b:string>",
        )
        _same_as_create(
            spark,
            [(decimal.Decimal("12345.678"),), (decimal.Decimal("-0.001"),), (None,)],
            "d decimal(12,3)",
        )
        a = _same_as_create(
            spark,
            [Row(bucket=3, n=7, s="a"), Row(bucket=1, n=None, s=None)],
            "bucket long, n long, s string",
        )
        assert "LocalRelation" in _plan(a)

    def test_no_spark_job_for_any_shape(self, spark, jobs_started_by):
        cases = [
            ([], "id long, s string"),
            ([({"k": 1},)], "m map<string,int>"),
            ([(datetime.datetime(2024, 1, 1, 12),)], "t timestamp"),
            ([(i, f"s{i}") for i in range(20_001)], "id long, s string"),
        ]
        for rows, ddl in cases:
            got = []
            assert jobs_started_by(
                lambda: got.append(local_df(spark, rows, ddl).collect())
            ) == [], ddl
            assert len(got[0]) == len(rows), ddl
