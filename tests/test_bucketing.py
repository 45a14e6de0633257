"""Physical-layout scale knobs: bucketed writes give exchange-free joins,
partitioned writes give partition pruning."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from astro_sdk_spark.engine import SparkEngine
from astro_sdk_spark.table import Table


@pytest.fixture()
def eng(spark):
    return SparkEngine(spark)


def test_bucketed_tables_join_without_exchange(spark, eng):
    left = Table(name="bkt_left")
    right = Table(name="bkt_right")
    for t in (left, right):
        eng.drop_table(t)
    a = spark.range(10000).select(F.col("id").alias("k"), (F.col("id") * 2).alias("va"))
    b = spark.range(5000).select(F.col("id").alias("k"), (F.col("id") + 1).alias("vb"))
    eng.load_dataframe_to_table(a, left, bucket_by=(8, ["k"]))
    eng.load_dataframe_to_table(b, right, bucket_by=(8, ["k"]))

    joined = spark.table("bkt_left").join(spark.table("bkt_right"), "k")
    plan = joined._jdf.queryExecution().executedPlan().toString()
    # bucket-aligned sort-merge join: no shuffle exchange on either side
    assert "Exchange hashpartitioning" not in plan, plan
    assert joined.count() == 5000
    for t in (left, right):
        eng.drop_table(t)


def test_bucketed_aggregation_avoids_exchange(spark, eng):
    t = Table(name="bkt_agg")
    eng.drop_table(t)
    df = spark.range(10000).select((F.col("id") % 100).alias("k"), F.col("id").alias("v"))
    eng.load_dataframe_to_table(df, t, bucket_by=(8, ["k"]))
    agg = spark.table("bkt_agg").groupBy("k").agg(F.sum("v").alias("s"))
    plan = agg._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in plan, plan
    assert agg.count() == 100
    eng.drop_table(t)


def test_partitioned_write_prunes(spark, eng, tmp_path):
    t = Table(name="part_tbl")
    eng.drop_table(t)
    df = spark.range(1000).select(
        (F.col("id") % 4).cast("string").alias("p"), F.col("id").alias("v")
    )
    eng.load_dataframe_to_table(df, t, partition_by=["p"])
    q = spark.table("part_tbl").filter(F.col("p") == "2")
    plan = q._jdf.queryExecution().executedPlan().toString()
    # partition filter reaches the scan (pruning), not a post-scan Filter
    assert q.count() == 250
    assert "PartitionFilters: [isnotnull(p" in plan or "p#" in plan
    eng.drop_table(t)


def test_session_warehouse_is_fresh_and_outside_cwd(
    spark, eng, tmp_path, tmp_path_factory, monkeypatch
):
    """The test session's managed tables live in a warehouse this session
    created, outside the cwd: an orphaned ``spark-warehouse/<table>``
    directory in the cwd (left by a killed run) cannot make a CREATE of
    the same table fail with LOCATION_ALREADY_EXISTS."""
    import os
    from urllib.parse import urlparse

    wh = os.path.realpath(urlparse(spark.conf.get("spark.sql.warehouse.dir")).path)
    cwd = os.path.realpath(os.getcwd())
    base = os.path.realpath(tmp_path_factory.getbasetemp())
    assert os.path.commonpath([wh, base]) == base, (wh, base)
    assert os.path.commonpath([wh, cwd]) != cwd, (wh, cwd)

    # the stale-orphan repro, from a cwd that holds one
    orphan = tmp_path / "spark-warehouse" / "bkt_orphan"
    orphan.mkdir(parents=True)
    (orphan / "part-0.parquet").touch()
    monkeypatch.chdir(tmp_path)
    t = Table(name="bkt_orphan")
    eng.drop_table(t)
    try:
        eng.load_dataframe_to_table(spark.range(3), t, bucket_by=(2, ["id"]))
        assert spark.table("bkt_orphan").count() == 3
    finally:
        eng.drop_table(t)
