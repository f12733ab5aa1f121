"""Explicit schemas for every table the engine touches.

Schema-on-read with declared StructTypes — never inferSchema in the
hot path (SURVEY.md section 1.1: the reference infers CSV dtypes via
pandas; we pin them for determinism and so Catalyst can prune columns
against a known Parquet/CSV schema).

Two groups:
  * RIDE / star-schema types, mirroring the reference DDL
    (/root/reference/src/check_and_create_db_v4.py:66-135 — cited for
    parity only, re-expressed as Spark StructTypes).
  * The driver testdata tables (TESTDATA.md / FIXTURES.md section B):
    ``TESTDATA_SCHEMAS`` declares nine of them, the schemas Spark
    infers from their Parquet footers (``tests/test_declared_schemas``
    pins the equality at every scale factor). A declared Parquet read
    plans without the one Spark job an inference launches, so
    building a catalog query runs no job. ``events`` is not declared:
    its ``ts`` column may be TIMESTAMP(NANOS), which
    ``sources.readers.load_table`` heals at read time.
"""

from __future__ import annotations

from pyspark.sql import types as T

# --- reference `ride` flat input (check_and_create_db.py:96-115) -----------
RIDE_SCHEMA = T.StructType(
    [
        T.StructField("ride_id", T.StringType(), False),
        T.StructField("rideable_type", T.StringType(), True),
        T.StructField("started_at", T.StringType(), True),  # parsed leniently later
        T.StructField("ended_at", T.StringType(), True),
        T.StructField("start_station_name", T.StringType(), True),
        T.StructField("start_station_id", T.StringType(), True),
        T.StructField("end_station_name", T.StringType(), True),
        T.StructField("end_station_id", T.StringType(), True),
        T.StructField("start_lat", T.DoubleType(), True),
        T.StructField("start_lng", T.DoubleType(), True),
        T.StructField("end_lat", T.DoubleType(), True),
        T.StructField("end_lng", T.DoubleType(), True),
        T.StructField("member_casual", T.StringType(), True),
    ]
)

# --- v4 star schema (check_and_create_db_v4.py:66-135) ---------------------
MEMBER_DIM_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType(), False),
        T.StructField("type", T.StringType(), True),
    ]
)

RIDEABLE_DIM_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType(), False),
        T.StructField("type", T.StringType(), True),
    ]
)

STATION_DIM_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType(), False),
        T.StructField("name", T.StringType(), True),
        T.StructField("latitude", T.DoubleType(), True),
        T.StructField("longitude", T.DoubleType(), True),
    ]
)

DATE_DIM_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType(), False),
        T.StructField("year", T.IntegerType(), True),
        T.StructField("quarter", T.IntegerType(), True),
        T.StructField("month", T.IntegerType(), True),
        T.StructField("week", T.IntegerType(), True),
        T.StructField("day", T.IntegerType(), True),
        T.StructField("hour", T.IntegerType(), True),
        T.StructField("minute", T.IntegerType(), True),
        T.StructField("second", T.IntegerType(), True),
        T.StructField("date", T.TimestampType(), True),
    ]
)

RIDE_FACT_SCHEMA = T.StructType(
    [
        T.StructField("member_type_id", T.StringType(), True),
        T.StructField("rideable_type_id", T.StringType(), True),
        T.StructField("start_station_id", T.StringType(), True),
        T.StructField("end_station_id", T.StringType(), True),
        T.StructField("start_date_id", T.StringType(), True),
        T.StructField("end_date_id", T.StringType(), True),
        T.StructField("trip_duration", T.IntegerType(), True),
        T.StructField("distance", T.DoubleType(), True),
        T.StructField("speed", T.DoubleType(), True),
    ]
)

# --- driver testdata tables (FIXTURES.md section B) ------------------------
TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

_NTZ = T.TimestampNTZType()  # a Parquet timestamp without a time zone


def _nullable(*cols: tuple[str, T.DataType]) -> T.StructType:
    return T.StructType([T.StructField(n, t, True) for n, t in cols])


REGION_SCHEMA = _nullable(
    ("r_regionkey", T.IntegerType()),
    ("r_name", T.StringType()),
)

NATION_SCHEMA = _nullable(
    ("n_nationkey", T.IntegerType()),
    ("n_name", T.StringType()),
    ("n_regionkey", T.IntegerType()),
)

CUSTOMER_SCHEMA = _nullable(
    ("c_custkey", T.LongType()),
    ("c_name", T.StringType()),
    ("c_nationkey", T.IntegerType()),
    ("c_acctbal", T.DoubleType()),
    ("c_mktsegment", T.StringType()),
)

SUPPLIER_SCHEMA = _nullable(
    ("s_suppkey", T.LongType()),
    ("s_name", T.StringType()),
    ("s_nationkey", T.IntegerType()),
    ("s_acctbal", T.DoubleType()),
)

PART_SCHEMA = _nullable(
    ("p_partkey", T.LongType()),
    ("p_name", T.StringType()),
    ("p_brand", T.StringType()),
    ("p_type", T.StringType()),
    ("p_size", T.IntegerType()),
    ("p_retailprice", T.DoubleType()),
)

ORDERS_SCHEMA = _nullable(
    ("o_orderkey", T.LongType()),
    ("o_custkey", T.LongType()),
    ("o_orderstatus", T.StringType()),
    ("o_totalprice", T.DoubleType()),
    ("o_orderdate", _NTZ),
    ("o_orderpriority", T.StringType()),
)

LINEITEM_SCHEMA = _nullable(
    ("l_orderkey", T.LongType()),
    ("l_partkey", T.LongType()),
    ("l_suppkey", T.LongType()),
    ("l_linenumber", T.IntegerType()),
    ("l_quantity", T.DoubleType()),
    ("l_extendedprice", T.DoubleType()),
    ("l_discount", T.DoubleType()),
    ("l_tax", T.DoubleType()),
    ("l_returnflag", T.StringType()),
    ("l_linestatus", T.StringType()),
    ("l_shipdate", _NTZ),
)

DOCUMENTS_SCHEMA = _nullable(
    ("doc_id", T.LongType()),
    ("text", T.StringType()),
    ("lang", T.StringType()),
    ("source", T.StringType()),
    ("n_chars", T.LongType()),
)

EMBEDDINGS_SCHEMA = _nullable(
    ("vec_id", T.LongType()),
    ("embedding", T.ArrayType(T.FloatType(), True)),
    ("label", T.IntegerType()),
)

TESTDATA_SCHEMAS: dict[str, T.StructType] = {
    "region": REGION_SCHEMA,
    "nation": NATION_SCHEMA,
    "customer": CUSTOMER_SCHEMA,
    "supplier": SUPPLIER_SCHEMA,
    "part": PART_SCHEMA,
    "orders": ORDERS_SCHEMA,
    "lineitem": LINEITEM_SCHEMA,
    "documents": DOCUMENTS_SCHEMA,
    "embeddings": EMBEDDINGS_SCHEMA,
}
