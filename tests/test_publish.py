"""publish_table — write-audit-publish atomicity and audit wiring."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from astro_sdk_spark.operators.data_validation import ChecksFailedError
from astro_sdk_spark.operators.publish import publish_table


def _drop(spark, *names):
    for n in names:
        spark.sql(f"DROP TABLE IF EXISTS {n}")


def test_publish_passes_checks_and_swaps(spark):
    _drop(spark, "wap_tgt", "wap_tgt__staging")
    df = spark.range(10).select(F.col("id"), (F.col("id") * 2).alias("v"))
    publish_table(
        df,
        "wap_tgt",
        table_checks={"not_empty": {"check_statement": "COUNT(*) > 0"}},
        column_checks={"id": {"null_check": {"equal_to": 0}}},
    )
    assert spark.table("wap_tgt").count() == 10
    assert not spark.catalog.tableExists("wap_tgt__staging")
    _drop(spark, "wap_tgt")


def test_publish_failure_leaves_live_table_untouched(spark):
    _drop(spark, "wap_tgt2", "wap_tgt2__staging")
    good = spark.range(5).select(F.col("id"), F.lit("ok").alias("tag"))
    publish_table(good, "wap_tgt2")
    bad = spark.range(0).select(F.col("id"), F.lit("bad").alias("tag"))
    with pytest.raises(ChecksFailedError):
        publish_table(
            bad,
            "wap_tgt2",
            table_checks={"not_empty": {"check_statement": "COUNT(*) > 0"}},
        )
    # live table still serves the GOOD version; staging cleaned up
    rows = spark.table("wap_tgt2")
    assert rows.count() == 5
    assert rows.filter(F.col("tag") == "bad").count() == 0
    assert not spark.catalog.tableExists("wap_tgt2__staging")
    _drop(spark, "wap_tgt2")


def test_publish_keep_staging_on_fail(spark):
    _drop(spark, "wap_tgt3", "wap_tgt3__staging")
    bad = spark.range(3).select(F.col("id"), F.lit(None).cast("string").alias("tag"))
    with pytest.raises(ChecksFailedError):
        publish_table(
            bad,
            "wap_tgt3",
            column_checks={"tag": {"null_check": {"equal_to": 0}}},
            keep_staging_on_fail=True,
        )
    # staged copy preserved for debugging; target never created
    assert spark.catalog.tableExists("wap_tgt3__staging")
    assert not spark.catalog.tableExists("wap_tgt3")
    _drop(spark, "wap_tgt3__staging")


def test_publish_first_time_creates_target(spark):
    _drop(spark, "wap_new")
    publish_table(spark.range(4), "wap_new")
    assert spark.table("wap_new").count() == 4
    _drop(spark, "wap_new")


def test_publish_emits_lineage(spark):
    from astro_sdk_spark.lineage import LINEAGE

    _drop(spark, "wap_lin")
    LINEAGE.clear()
    publish_table(spark.range(2), "wap_lin")
    evs = [e for e in LINEAGE.events() if e.op == "publish_table"]
    assert evs and evs[-1].outputs == ["wap_lin"]
    _drop(spark, "wap_lin")
