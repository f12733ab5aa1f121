"""Schemas from metadata: every read path declares its Parquet schema
instead of letting Spark infer it, which costs one Spark job per
inference. Catalog tables read with ``schemas.TESTDATA_SCHEMAS``;
file-list data files with the table schema and each file group's
field-id map; delete dirs with the key type and the footer's column
name. The drift guard pins the declared catalog schemas to what Spark
infers from the testdata at every scale factor; the budgets pin the
jobs the declared reads save."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from citybikedatawarehouse_spark.operators.table_format import (
    fl_delete,
    fl_init,
    fl_read_pruned,
    fl_read_pruned_mor,
    fl_table_props,
)
from citybikedatawarehouse_spark.schemas import TESTDATA_SCHEMAS
from citybikedatawarehouse_spark.sources.readers import load_table
from tests.spark_jobs import count_jobs

_SF_DIRS = [
    f"/root/testdata/{sf}" for sf in ("sf0.001", "sf0.01", "sf0.1")
]


@pytest.mark.parametrize("sf_dir", _SF_DIRS)
def test_declared_schemas_match_inferred(spark, sf_dir):
    for name, declared in TESTDATA_SCHEMAS.items():
        path = f"{sf_dir}/{name}.parquet"
        assert (
            spark.read.schema(declared).parquet(path).schema
            == spark.read.parquet(path).schema
        ), name


def test_catalog_loads_and_query_builds_run_no_job(spark, sf_dir):
    from citybikedatawarehouse_spark.plans.catalog import QUERIES

    for name in TESTDATA_SCHEMAS:
        df, n_jobs = count_jobs(
            spark, f"load.{name}", lambda: load_table(spark, sf_dir, name)
        )
        assert n_jobs == 0, name
        assert df.schema == TESTDATA_SCHEMAS[name]
    for q in ("q01_pricing_summary", "q03_topk_revenue", "q05_region_volume"):
        _, n_jobs = count_jobs(
            spark, f"build.{q}", lambda: QUERIES[q](spark, sf_dir)
        )
        assert n_jobs == 0, q


def _orders_table(spark, sf_dir, root):
    fl_init(
        spark, root,
        load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_totalprice"
        ),
        key="o_orderkey", zorder_by=("o_orderkey",), layout_files=8,
    )


def test_pruned_read_and_aggregate_collect_in_two_jobs(
    spark, sf_dir, tmp_path
):
    """The pruned read of a key band plus its count/sum aggregate:
    one scan job and one final-aggregate job, and no schema job."""
    root = str(tmp_path / "pruned")
    _orders_table(spark, sf_dir, root)

    def read_agg():
        df, n_read, n_total = fl_read_pruned(
            spark, root, {"o_orderkey": (1000, 2000)}
        )
        assert n_read < n_total
        return df.where(F.col("o_orderkey").between(1000, 2000)).agg(
            F.count(F.lit(1)).alias("n"), F.sum("o_totalprice").alias("s")
        ).collect()[0]

    row, n_jobs = count_jobs(spark, "pruned_agg", read_agg)
    assert row["n"] > 0
    assert n_jobs == 2


def test_mor_read_plans_no_job_per_delete_dir(spark, sf_dir, tmp_path):
    """Planning a merge-on-read pruned read costs the same jobs (none)
    with three delete dirs as with none: each dir's column name comes
    from its footer and its type from the table's key."""
    root = str(tmp_path / "mor")
    _orders_table(spark, sf_dir, root)
    preds = {"o_orderkey": (1, 3000)}

    def plan():
        return fl_read_pruned_mor(spark, root, preds)[0]

    clean, jobs_none = count_jobs(spark, "mor_plan_0", plan)
    for lo in (1, 100, 200):
        fl_delete(
            spark, root,
            spark.range(lo, lo + 10).select(
                F.col("id").cast("int").alias("o_orderkey")
            ),
        )
    assert len(fl_table_props(root)["delete_dirs"]) == 3
    mor, jobs_k = count_jobs(spark, "mor_plan_3", plan)
    assert jobs_k == jobs_none == 0
    # int delete keys were stored as the bigint key: the set applies
    assert clean.count() - mor.count() == clean.where(
        F.col("o_orderkey").isin(
            [k for lo in (1, 100, 200) for k in range(lo, lo + 10)]
        )
    ).count()


def test_delete_keys_are_stored_as_the_key_type(spark, tmp_path):
    """Delete keys wider than an int table key are stored as int (the
    merge's store-assignment rule), so the declared int read of the
    delete dir never meets an INT64 file, and the delete applies."""
    import pyarrow.parquet as pq

    root = str(tmp_path / "int_key")
    fl_init(
        spark, root,
        spark.range(20).select(
            F.col("id").cast("int").alias("k"), F.col("id").alias("v")
        ),
        key="k",
    )
    fl_delete(spark, root, spark.range(5, 8).select(F.col("id").alias("k")))
    (ddir,) = fl_table_props(root)["delete_dirs"]
    for f in os.listdir(ddir):
        if f.endswith(".parquet"):
            key_type = pq.read_schema(os.path.join(ddir, f)).field("k").type
            assert str(key_type) == "int32"
    df = fl_read_pruned_mor(spark, root, {"k": (0, 19)})[0]
    assert sorted(r.k for r in df.collect()) == [
        k for k in range(20) if k not in (5, 6, 7)
    ]
