"""Parquet schemas from one footer on the driver (``session.parquet_schema``):
the same schema Spark's inference job gives, without the job."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from python_sql_etl_project_spark.load.incremental import PK_MAP, Warehouse
from python_sql_etl_project_spark.session import (
    parquet_schema,
    read_parquet,
    read_table,
)

from .conftest import SF_SMOKE
from .test_pipeline import _tables

TESTDATA = sorted(glob.glob(os.path.join(SF_SMOKE, "*.parquet")))


@pytest.mark.parametrize("path", TESTDATA, ids=os.path.basename)
def test_footer_schema_matches_inference_on_testdata(spark, path):
    assert parquet_schema(spark, path) == spark.read.parquet(path).schema


def test_footer_schema_matches_inference_on_warehouse_tables(spark, tmp_path):
    """After two batches every table has files from two writes, and the
    fact table's date partitions are still discovered from the
    directory names."""
    wh = Warehouse(spark, str(tmp_path))
    first = _tables(spark)
    second = {
        t: df.withColumn(PK_MAP[t], F.col(PK_MAP[t]) + 10_000)
        for t, df in first.items()
    }
    for batch in (first, second):
        assert all(r.ok for r in wh.load_ordered(batch))
    for table in first:
        path = wh.path(table)
        inferred = spark.read.parquet(path).schema
        assert read_parquet(spark, path).schema == inferred, table
        partitions = {"_fecha_dt"} if table == "fct_transacciones" else set()
        assert parquet_schema(spark, path) == StructType(
            [f for f in inferred if f.name not in partitions]
        ), table


def test_no_data_file_reads_as_before(spark, tmp_path):
    """A path with no data file has no footer to read: it goes to the
    plain read, which raises as Spark always has."""
    assert parquet_schema(spark, str(tmp_path)) is None
    with pytest.raises(Exception, match="UNABLE_TO_INFER_SCHEMA"):
        read_parquet(spark, str(tmp_path))


def test_manifest_read_submits_no_job(spark, tmp_path):
    """A snapshot manifest is a list of leaf files from several partition
    directories: one footer gives the schema Spark infers for all of
    them, and no job runs to infer it."""
    target = str(tmp_path / "orders")
    read_table(spark, SF_SMOKE, "orders").withColumn(
        "bucket", F.col("o_orderkey") % 3
    ).write.partitionBy("bucket").parquet(target)
    manifest = sorted(glob.glob(os.path.join(target, "bucket=*", "*.parquet")))
    assert len({os.path.dirname(f) for f in manifest}) == 3
    sc = spark.sparkContext
    group = "manifest-read-schema"
    sc.setJobGroup(group, group)
    try:
        schema = read_parquet(spark, *manifest).schema
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert schema == spark.read.parquet(*manifest).schema


def test_read_table_submits_no_job(spark):
    sc = spark.sparkContext
    group = "read-table-schema"
    sc.setJobGroup(group, group)
    try:
        for name in ("orders", "events", "lineitem"):
            read_table(spark, SF_SMOKE, name).schema
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
