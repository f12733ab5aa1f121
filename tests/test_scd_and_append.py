"""SCD2 merge behavior + the reference's if_exists='append'
incremental semantics on parquet."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from citybikedatawarehouse_spark.operators.scd import OPEN_END, scd2_init, scd2_merge


@pytest.fixture()
def dim(spark):
    snap = spark.createDataFrame(
        [
            (1, "Grove St", 40.71),
            (2, "Hamilton", 40.72),
        ],
        "station_id int, name string, lat double",
    ).withColumn("eff", F.lit("2025-01-01 00:00:00").cast("timestamp_ntz"))
    return scd2_init(snap, "station_id", "eff")


def test_init_all_current(dim):
    rows = dim.collect()
    assert all(r["is_current"] for r in rows)
    assert all(str(r["valid_to"]).startswith("9999") for r in rows)


def test_merge_changed_new_and_unchanged(spark, dim):
    updates = spark.createDataFrame(
        [
            (1, "Grove St PATH", 40.71),  # renamed -> new version
            (2, "Hamilton", 40.72),       # identical -> no-op
            (3, "Newport", 40.73),        # brand new
        ],
        "station_id int, name string, lat double",
    ).withColumn("eff", F.lit("2025-02-01 00:00:00").cast("timestamp_ntz"))
    merged = scd2_merge(dim, updates, "station_id", ["name", "lat"], "eff")
    rows = {(r["station_id"], r["is_current"]): r for r in merged.collect()}

    assert len(rows) == 4  # 1-old, 1-new, 2-current, 3-current
    old = rows[(1, False)]
    assert old["name"] == "Grove St"
    assert str(old["valid_to"]).startswith("2025-02-01")
    new = rows[(1, True)]
    assert new["name"] == "Grove St PATH"
    assert str(new["valid_from"]).startswith("2025-02-01")
    assert rows[(2, True)]["name"] == "Hamilton"  # untouched
    assert rows[(3, True)]["name"] == "Newport"


def test_merge_idempotent(spark, dim):
    updates = spark.createDataFrame(
        [(1, "Grove St PATH", 40.71)], "station_id int, name string, lat double"
    ).withColumn("eff", F.lit("2025-02-01 00:00:00").cast("timestamp_ntz"))
    once = scd2_merge(dim, updates, "station_id", ["name", "lat"], "eff")
    twice = scd2_merge(once, updates, "station_id", ["name", "lat"], "eff")
    assert sorted(map(str, once.collect())) == sorted(map(str, twice.collect()))


def test_point_in_time_lookup(spark, dim):
    updates = spark.createDataFrame(
        [(1, "Grove St PATH", 40.71)], "station_id int, name string, lat double"
    ).withColumn("eff", F.lit("2025-02-01 00:00:00").cast("timestamp_ntz"))
    merged = scd2_merge(dim, updates, "station_id", ["name", "lat"], "eff")
    asof = F.lit("2025-01-15 00:00:00").cast("timestamp_ntz")
    got = merged.filter(
        (F.col("station_id") == 1)
        & (F.col("valid_from") <= asof)
        & (F.col("valid_to") > asof)
    ).collect()
    assert len(got) == 1 and got[0]["name"] == "Grove St"


def test_append_mode_accumulates(spark, tmp_path):
    """The reference's if_exists='append' (create_db_from_csv.py:14)
    == parquet append mode: re-running the load accumulates rows."""
    from citybikedatawarehouse_spark.sources.readers import read_ride_csv
    from citybikedatawarehouse_spark.sources.writers import write_parquet
    from tests.citibike_fixture import write_fixture

    csv = str(tmp_path / "rides.csv")
    write_fixture(csv)
    rides = read_ride_csv(spark, csv)
    out = str(tmp_path / "ride_table")
    write_parquet(rides, out, mode="append")
    write_parquet(rides, out, mode="append")
    assert spark.read.parquet(out).count() == 2 * rides.count()
    write_parquet(rides, out, mode="overwrite")  # if_exists='replace'
    assert spark.read.parquet(out).count() == rides.count()


def test_merge_keeps_the_dimension_schema_with_a_timestamp_eff(spark):
    """A TIMESTAMP (local time zone) ``effective_ts`` closes versions
    at the dimension's TIMESTAMP_NTZ ``valid_to`` type, so chained
    merges keep one schema. Names and types are compared: nullability
    is not kept (``scd2_init``'s ``is_current`` is a non-null literal,
    nullable once the merge's full outer join has run, whatever the
    ``effective_ts`` type)."""
    schema = "station_id int, name string, eff timestamp"
    d0 = spark.createDataFrame([(1, "Grove St", None)], schema).withColumn(
        "eff", F.lit("2025-01-01 00:00:00").cast("timestamp")
    )
    d1 = spark.createDataFrame([(1, "Grove St PATH", None)], schema).withColumn(
        "eff", F.lit("2025-02-01 00:00:00").cast("timestamp")
    )
    dim = scd2_init(d0, "station_id", "eff")
    merged = scd2_merge(dim, d1, "station_id", ["name"], "eff")

    def types(df):
        return [(f.name, f.dataType) for f in df.schema]

    assert types(merged) == types(dim)
    assert types(scd2_merge(merged, d1, "station_id", ["name"], "eff")) == types(dim)
    old = merged.where(~F.col("is_current")).collect()
    assert [str(r["valid_to"]) for r in old] == ["2025-02-01 00:00:00"]
