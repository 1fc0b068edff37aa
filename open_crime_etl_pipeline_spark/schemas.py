"""Explicit StructType schemas — no schema inference in the hot path.

At 100 TB, inferring schemas means an extra full pass over the data (or
sampling surprises); every source the engine reads has a declared
schema here.

Crime-domain schemas derive from the reference DDL
(`airflow/include/sql/postgres/create_crime.sql:1-22`,
`create_logs.sql:1-11`, `create_date.sql:1-10`) and the raw Socrata
field list (`airflow/dags/crimeapi/transform.py:9-34`); type decisions
per SURVEY.md §1.2 (timestamps kept as TimestampType end-to-end).
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Raw Socrata crime page (every field arrives as a JSON string; system
# fields and computed-region fields are dropped in the silver transform).
# ---------------------------------------------------------------------------

RAW_DATA_FIELDS = [
    "id", "case_number", "date", "block", "iucr", "primary_type",
    "description", "location_description", "arrest", "domestic", "beat",
    "district", "ward", "community_area", "fbi_code", "x_coordinate",
    "y_coordinate", "year", "updated_on", "latitude", "longitude",
    "location",
]

RAW_SYSTEM_FIELDS = [":id", ":version", ":created_at", ":updated_at"]

RAW_COMPUTED_REGION_FIELDS = [
    ":@computed_region_awaf_s7ux", ":@computed_region_6mkv_f3dw",
    ":@computed_region_vrxf_vc4k", ":@computed_region_bdys_3d7i",
    ":@computed_region_43wa_7qmu", ":@computed_region_rpca_8um6",
    ":@computed_region_d9mm_jgwp", ":@computed_region_d3ds_rm58",
    ":@computed_region_8hcu_yrd4",
]

CRIME_RAW_SCHEMA = T.StructType(
    [T.StructField(f, T.StringType(), True)
     for f in RAW_DATA_FIELDS + RAW_SYSTEM_FIELDS + RAW_COMPUTED_REGION_FIELDS]
)

# Columns renamed by the silver transform (reference: transform.py:27-34);
# the raw columns it drops (transform.py:9-25) are the ones the silver
# schema below does not select.
CRIME_RENAME_MAP = {
    "id": "crime_id",
    "case_number": "case_num",
    "date": "date_of_occurrence",
    "primary_type": "primary_description",
    "description": "secondary_description",
    ":updated_at": "source_updated_on",
}

# ---------------------------------------------------------------------------
# Silver `crime` table (merge target). Reference: create_crime.sql:1-22;
# `source_updated_on` kept TimestampType (staging shape) per SURVEY §1.2.
# ---------------------------------------------------------------------------

CRIME_SILVER_SCHEMA = T.StructType([
    T.StructField("crime_id", T.StringType(), False),
    T.StructField("case_num", T.StringType(), True),
    T.StructField("date_of_occurrence", T.TimestampType(), True),
    T.StructField("block", T.StringType(), True),
    T.StructField("iucr", T.StringType(), True),
    T.StructField("primary_description", T.StringType(), True),
    T.StructField("secondary_description", T.StringType(), True),
    T.StructField("location_description", T.StringType(), True),
    T.StructField("arrest", T.StringType(), True),
    T.StructField("domestic", T.StringType(), True),
    T.StructField("beat", T.IntegerType(), True),
    T.StructField("district", T.IntegerType(), True),
    T.StructField("ward", T.IntegerType(), True),
    T.StructField("community_area", T.IntegerType(), True),
    T.StructField("fbi_code", T.StringType(), True),
    T.StructField("x_coordinate", T.IntegerType(), True),
    T.StructField("y_coordinate", T.IntegerType(), True),
    T.StructField("latitude", T.DoubleType(), True),
    T.StructField("longitude", T.DoubleType(), True),
    T.StructField("source_updated_on", T.TimestampType(), True),
])

CRIME_INT_COLUMNS = ["beat", "district", "ward", "community_area",
                     "x_coordinate", "y_coordinate"]
CRIME_DOUBLE_COLUMNS = ["latitude", "longitude"]
CRIME_TIMESTAMP_COLUMNS = ["date_of_occurrence", "source_updated_on"]

# Socrata ISO-ish timestamp format (reference helper.py:12-16).
SOCRATA_TS_FORMAT = "yyyy-MM-dd'T'HH:mm:ss.SSS"

# ---------------------------------------------------------------------------
# Run ledger `logs` (reference create_logs.sql:1-11; full Postgres shape
# incl. type+mode per SURVEY §1.2).
# ---------------------------------------------------------------------------

LOGS_SCHEMA = T.StructType([
    T.StructField("run_id", T.StringType(), False),
    T.StructField("load_date", T.DateType(), False),
    T.StructField("type", T.StringType(), True),      # SCHEDULED | RECOVERY
    T.StructField("mode", T.StringType(), True),      # FULL | INCREMENT
    T.StructField("status", T.StringType(), True),    # RUNNING | SUCCESS | FAILED
    T.StructField("start_time", T.TimestampType(), True),
    T.StructField("end_time", T.TimestampType(), True),
    T.StructField("config", T.StringType(), True),
])

RUN_STATUSES = ("RUNNING", "SUCCESS", "FAILED")
RUN_TYPES = ("SCHEDULED", "RECOVERY")
RUN_MODES = ("FULL", "INCREMENT")

# ---------------------------------------------------------------------------
# Date dimension (reference create_date.sql:1-10; holiday_name unbounded
# string — the VARCHAR(10) in the Snowflake twin truncates, not copied).
# ---------------------------------------------------------------------------

DATE_DIM_SCHEMA = T.StructType([
    T.StructField("date", T.DateType(), False),
    T.StructField("day", T.IntegerType(), False),
    T.StructField("month", T.IntegerType(), False),
    T.StructField("month_name", T.StringType(), False),
    T.StructField("year", T.IntegerType(), False),
    T.StructField("day_of_week", T.IntegerType(), False),
    T.StructField("day_of_week_name", T.StringType(), False),
    T.StructField("holiday_name", T.StringType(), True),
])

# ---------------------------------------------------------------------------
# Driver testdata tables (TESTDATA.md / FIXTURES.md §B) — declared so
# reads never rely on inference.
# ---------------------------------------------------------------------------

TESTDATA_SCHEMAS: dict[str, T.StructType] = {
    "region": T.StructType([
        T.StructField("r_regionkey", T.IntegerType(), True),
        T.StructField("r_name", T.StringType(), True),
    ]),
    "nation": T.StructType([
        T.StructField("n_nationkey", T.IntegerType(), True),
        T.StructField("n_name", T.StringType(), True),
        T.StructField("n_regionkey", T.IntegerType(), True),
    ]),
    "customer": T.StructType([
        T.StructField("c_custkey", T.LongType(), True),
        T.StructField("c_name", T.StringType(), True),
        T.StructField("c_nationkey", T.IntegerType(), True),
        T.StructField("c_acctbal", T.DoubleType(), True),
        T.StructField("c_mktsegment", T.StringType(), True),
    ]),
    "supplier": T.StructType([
        T.StructField("s_suppkey", T.LongType(), True),
        T.StructField("s_name", T.StringType(), True),
        T.StructField("s_nationkey", T.IntegerType(), True),
        T.StructField("s_acctbal", T.DoubleType(), True),
    ]),
    "part": T.StructType([
        T.StructField("p_partkey", T.LongType(), True),
        T.StructField("p_name", T.StringType(), True),
        T.StructField("p_brand", T.StringType(), True),
        T.StructField("p_type", T.StringType(), True),
        T.StructField("p_size", T.IntegerType(), True),
        T.StructField("p_retailprice", T.DoubleType(), True),
    ]),
    "orders": T.StructType([
        T.StructField("o_orderkey", T.LongType(), True),
        T.StructField("o_custkey", T.LongType(), True),
        T.StructField("o_orderstatus", T.StringType(), True),
        T.StructField("o_totalprice", T.DoubleType(), True),
        T.StructField("o_orderdate", T.TimestampType(), True),
        T.StructField("o_orderpriority", T.StringType(), True),
    ]),
    "lineitem": T.StructType([
        T.StructField("l_orderkey", T.LongType(), True),
        T.StructField("l_partkey", T.LongType(), True),
        T.StructField("l_suppkey", T.LongType(), True),
        T.StructField("l_linenumber", T.IntegerType(), True),
        T.StructField("l_quantity", T.DoubleType(), True),
        T.StructField("l_extendedprice", T.DoubleType(), True),
        T.StructField("l_discount", T.DoubleType(), True),
        T.StructField("l_tax", T.DoubleType(), True),
        T.StructField("l_returnflag", T.StringType(), True),
        T.StructField("l_linestatus", T.StringType(), True),
        T.StructField("l_shipdate", T.TimestampType(), True),
    ]),
    "events": T.StructType([
        T.StructField("event_id", T.LongType(), True),
        T.StructField("ts", T.TimestampType(), True),
        T.StructField("user_id", T.LongType(), True),
        T.StructField("event_type", T.StringType(), True),
        T.StructField("value", T.DoubleType(), True),
        T.StructField("props", T.StringType(), True),
    ]),
    "documents": T.StructType([
        T.StructField("doc_id", T.LongType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
        T.StructField("source", T.StringType(), True),
        T.StructField("n_chars", T.LongType(), True),
    ]),
    "embeddings": T.StructType([
        T.StructField("vec_id", T.LongType(), True),
        T.StructField("embedding", T.ArrayType(T.FloatType()), True),
        T.StructField("label", T.IntegerType(), True),
    ]),
}

TESTDATA_TABLES = tuple(TESTDATA_SCHEMAS)
