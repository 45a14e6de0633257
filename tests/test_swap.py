"""engine.swap_table + the merge/rollup swap hardening.

Covers the failure window the reference's Redshift staged rewrite handles
transactionally (``databases/aws/redshift.py:169-307``): a rename failing
after the target was dropped (restore via write-back, not a doomed rename
retry), staging in a schema-qualified target's own database, and a rollup
refresh whose rename fails.
"""

import pytest
from pyspark.sql import functions as F

from astro_sdk_spark import Table, merge
from astro_sdk_spark.engine import swap_table
from astro_sdk_spark.streaming.rollup import ContinuousAggregate
from astro_sdk_spark.table import Metadata


def _mk(spark, name, rows):
    spark.createDataFrame(rows, ["k", "v"]).write.mode("overwrite").saveAsTable(name)


def test_swap_same_database(spark):
    _mk(spark, "swap_tgt", [(1, "old")])
    _mk(spark, "swap_tgt__staging", [(2, "new")])
    swap_table(spark, "swap_tgt")
    assert [r.v for r in spark.table("swap_tgt").collect()] == ["new"]
    assert not spark.catalog.tableExists("swap_tgt__staging")
    spark.sql("DROP TABLE IF EXISTS swap_tgt")


def test_swap_restores_target_when_rename_fails(spark, monkeypatch):
    _mk(spark, "swap_tgt3", [(1, "old")])
    _mk(spark, "swap_tgt3__staging", [(2, "new")])
    real_sql = spark.sql

    def failing_sql(query, *a, **k):
        if "RENAME TO" in query:
            raise RuntimeError("injected rename failure")
        return real_sql(query, *a, **k)

    monkeypatch.setattr(spark, "sql", failing_sql)
    swap_table(spark, "swap_tgt3")
    monkeypatch.undo()
    # target survives with the staged (post-swap) contents, staging cleaned up
    assert [r.v for r in spark.table("swap_tgt3").collect()] == ["new"]
    assert not spark.catalog.tableExists("swap_tgt3__staging")
    spark.sql("DROP TABLE IF EXISTS swap_tgt3")


def test_swap_restore_keeps_staging_partitioning(spark, monkeypatch):
    """A failed RENAME writes a partitioned staging table back as a
    target partitioned by the same columns (merge_scd2's partition_by)."""
    _mk(spark, "swap_tgt4", [(1, "old")])
    staged = spark.createDataFrame(
        [(k, f"v{k}", k % 3) for k in range(6)], "k int, v string, p int"
    )
    staged.write.partitionBy("p").saveAsTable("swap_tgt4__staging")
    real_sql = spark.sql

    def failing_sql(query, *a, **k):
        if "RENAME TO" in query:
            raise RuntimeError("injected rename failure")
        return real_sql(query, *a, **k)

    monkeypatch.setattr(spark, "sql", failing_sql)
    swap_table(spark, "swap_tgt4")
    monkeypatch.undo()
    got = spark.table("swap_tgt4")
    assert sorted(got.select("k", "v", "p").collect()) == sorted(staged.collect())
    assert [c.name for c in spark.catalog.listColumns("swap_tgt4")
            if c.isPartition] == ["p"]
    assert not spark.catalog.tableExists("swap_tgt4__staging")
    spark.sql("DROP TABLE IF EXISTS swap_tgt4")


def test_merge_update_schema_qualified_target(engine, spark):
    """Regression: staging used to land in the default DB while the target
    was schema-qualified — the cross-db RENAME destroyed the target."""
    spark.sql("CREATE DATABASE IF NOT EXISTS mergedb")
    tgt = Table(name="homes_q", metadata=Metadata(schema="mergedb"))
    src = Table(name="homes_q_src")
    spark.createDataFrame(
        [(160, 60), (180, 12)], ["list", "age"]
    ).write.mode("overwrite").saveAsTable(tgt.qualified_name)
    spark.createDataFrame(
        [(160, 1), (999, 1)], ["list", "age"]
    ).write.mode("overwrite").saveAsTable(src.qualified_name)
    merge(src, tgt, ["list", "age"], target_conflict_columns=["list"],
          if_conflicts="update", engine=engine)
    rows = {r["list"]: r["age"] for r in spark.table(tgt.qualified_name).collect()}
    assert rows == {160: 1, 180: 12, 999: 1}
    spark.sql("DROP DATABASE mergedb CASCADE")
    spark.sql(f"DROP TABLE IF EXISTS {src.qualified_name}")


def test_rollup_refresh_survives_failed_rename(spark, monkeypatch, tmp_path):
    rows = [("2024-01-01 00:01:00", "click", 1.0), ("2024-01-01 00:02:00", "view", 2.0)]
    src = spark.createDataFrame(rows, ["ts", "event_type", "value"]).withColumn(
        "ts", F.to_timestamp("ts")
    )
    ca = ContinuousAggregate(spark, src, "rollup_swap_t", bucket="10 minutes")
    ca.refresh()  # full build
    before = {(r.event_type, r.n) for r in ca.read().collect()}
    real_sql = spark.sql

    def failing_sql(query, *a, **k):
        if "RENAME TO" in query:
            raise RuntimeError("injected rename failure")
        return real_sql(query, *a, **k)

    monkeypatch.setattr(spark, "sql", failing_sql)
    ca.refresh()  # incremental refresh hits the swap; rename fails
    monkeypatch.undo()
    after = {(r.event_type, r.n) for r in ca.read().collect()}
    assert after == before  # contents survived the failed rename
    # no stale staging table left behind
    assert not spark.catalog.tableExists("rollup_swap_t__staging")
    spark.sql("DROP TABLE IF EXISTS rollup_swap_t")


def test_location_is_partial_write_discriminates(spark, tmp_path):
    """The self-heal gate: STALE _temporary-only debris is scrubbable; a
    directory holding committed data files is NOT, and neither is FRESH
    debris (ADVICE r9: a concurrent first-creation saveAsTable by another
    session is marker-only while alive — only mtime staleness proves the
    writer is dead)."""
    import os

    from astro_sdk_spark.engine import location_is_partial_write, managed_location

    loc = managed_location(spark, "gate_probe_t")
    assert loc is not None
    # absent -> False
    assert location_is_partial_write(spark, "gate_probe_t") is False
    # FRESH debris (live concurrent writer's shape) -> False
    tmp = os.path.join(loc, "_temporary")
    os.makedirs(tmp, exist_ok=True)
    assert location_is_partial_write(spark, "gate_probe_t") is False
    # STALE debris -> True; an in-flight file touched recently flips back
    old = 1.0
    for p in (loc, tmp):
        os.utime(p, (old, old))
    assert location_is_partial_write(spark, "gate_probe_t") is True
    inflight = os.path.join(tmp, "attempt_0", "part-00000")
    os.makedirs(os.path.dirname(inflight), exist_ok=True)
    with open(inflight, "wb") as f:
        f.write(b"x")
    os.utime(loc, (old, old))
    os.utime(tmp, (old, old))
    assert location_is_partial_write(spark, "gate_probe_t") is False
    # ...and goes stale again once nothing has been touched for a while
    for root, dirs, files in os.walk(loc):
        for n in dirs + files:
            os.utime(os.path.join(root, n), (old, old))
    os.utime(loc, (old, old))
    assert location_is_partial_write(spark, "gate_probe_t") is True
    # committed data file -> False (not ours to delete), however stale
    with open(os.path.join(loc, "part-00000.parquet"), "wb") as f:
        f.write(b"x")
    os.utime(os.path.join(loc, "part-00000.parquet"), (old, old))
    os.utime(loc, (old, old))
    assert location_is_partial_write(spark, "gate_probe_t") is False
    import shutil

    shutil.rmtree(loc, ignore_errors=True)


def test_scrub_resolves_custom_location_database(spark, tmp_path):
    """ADVICE r8: a database created with a custom LOCATION must scrub the
    REAL managed directory (resolved via catalog metadata), not the
    default <warehouse>/<db>.db layout."""
    import os

    from astro_sdk_spark.engine import drop_managed_table, managed_location

    loc_root = str(tmp_path / "custom wh")  # space: exercises %20 unquoting
    spark.sql(
        f"CREATE DATABASE IF NOT EXISTS scrubdb LOCATION '{loc_root}'"
    )
    try:
        resolved = managed_location(spark, "scrubdb.orph_t")
        assert resolved is not None
        assert os.path.normpath(resolved) == os.path.normpath(
            os.path.join(loc_root, "orph_t")
        ), resolved
        # plant an orphan directory at the custom location and scrub it
        os.makedirs(os.path.join(resolved, "_temporary"), exist_ok=True)
        drop_managed_table(spark, "scrubdb.orph_t")
        assert not os.path.exists(resolved)
        # end-to-end: a managed write into the custom-location db succeeds
        spark.createDataFrame([(1,)], "x int").write.saveAsTable("scrubdb.orph_t")
        assert spark.table("scrubdb.orph_t").count() == 1
    finally:
        spark.sql("DROP TABLE IF EXISTS scrubdb.orph_t")
        spark.sql("DROP DATABASE IF EXISTS scrubdb")
