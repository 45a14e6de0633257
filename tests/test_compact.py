"""compact_table: small-file compaction with optional clustering —
file-count reduction, data preservation, atomic swap, sorted layout."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from astro_sdk_spark import Table


@pytest.fixture()
def demo_table(spark):
    name = "compact_demo_t"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    wh = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    shutil.rmtree(os.path.join(wh.removeprefix("file:"), name), ignore_errors=True)
    df = spark.range(0, 300_000).selectExpr(
        "id", "id % 7 as k", "cast(id as string) as s"
    )
    df.repartition(40).write.saveAsTable(name)
    yield Table(name=name)
    spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_compact_reduces_files_and_preserves_data(spark, engine, demo_table):
    before = spark.table(demo_table.qualified_name)
    checksum = before.agg(F.sum("id"), F.count(F.lit(1))).collect()[0]
    stats = engine.compact_table(demo_table, target_file_mb=128)
    assert stats["files_before"] == 40
    assert stats["files_after"] < 40
    after = spark.table(demo_table.qualified_name)
    assert after.agg(F.sum("id"), F.count(F.lit(1))).collect()[0] == checksum


def test_compact_sorted_layout_clusters_ranges(spark, engine, demo_table):
    """With sort_by, files hold disjoint key ranges (range partitioning +
    within-file sort) — the layout parquet min/max pruning wants."""
    stats = engine.compact_table(demo_table, target_file_mb=1, sort_by=["id"])
    assert stats["files_after"] > 1
    spans = (
        spark.table(demo_table.qualified_name)
        .select("id", F.input_file_name().alias("f"))
        .groupBy("f")
        .agg(F.min("id").alias("lo"), F.max("id").alias("hi"))
        .collect()
    )
    spans = sorted((r["lo"], r["hi"]) for r in spans)
    assert len(spans) == stats["files_after"]
    for (lo1, hi1), (lo2, _hi2) in zip(spans, spans[1:]):
        assert hi1 < lo2  # disjoint, ordered ranges across files


def test_compact_is_atomic_under_name(spark, engine, demo_table):
    """No staging residue after compaction; the table name stays live."""
    engine.compact_table(demo_table, target_file_mb=128)
    assert spark.catalog.tableExists(demo_table.qualified_name)
    assert not spark.catalog.tableExists(
        demo_table.qualified_name + "__staging"
    )


@pytest.fixture()
def part_table(spark):
    name = "compact_part_t"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    wh = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    shutil.rmtree(os.path.join(wh.removeprefix("file:"), name), ignore_errors=True)
    spark.range(0, 90_000).selectExpr(
        "id", "cast(id as string) as s", "id % 3 as p"
    ).repartition(24).write.partitionBy("p").saveAsTable(name)
    yield Table(name=name)
    spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_compact_refuses_flat_rewrite_of_partitioned(spark, engine, part_table):
    with pytest.raises(ValueError, match="partitioned"):
        engine.compact_table(part_table)
    with pytest.raises(ValueError, match="not partition"):
        engine.compact_table(part_table, partitions={"nope": 1})


# Spark jobs of one compact_table(partitions=...) call on part_table
# (measured): the files-before and files-after counts and the
# dynamic-partition INSERT OVERWRITE. The partition columns come from
# DESCRIBE TABLE, which runs none; catalog.listColumns made it 11.
_COMPACT_PARTITION_JOBS = 8


def test_compact_partition_job_count_is_pinned(spark, engine, part_table):
    sc = spark.sparkContext
    sc.setJobGroup("compact_partition_jobs", "job-count pin")
    try:
        engine.compact_table(part_table, partitions={"p": 1})
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup("compact_partition_jobs")
    assert len(jobs) <= _COMPACT_PARTITION_JOBS, (
        f"compact_table(partitions=...) ran {len(jobs)} Spark jobs, "
        f"budget {_COMPACT_PARTITION_JOBS}"
    )


def test_compact_single_partition_leaves_others_untouched(spark, engine, part_table):
    name = part_table.qualified_name
    t = spark.table(name)
    checksum = t.agg(F.sum("id"), F.count(F.lit(1))).collect()[0]

    def files_of(p):
        return {
            r[0]
            for r in t.filter(F.col("p") == p)
            .select(F.input_file_name())
            .distinct()
            .collect()
        }

    before_p1, before_p2 = files_of(1), files_of(2)
    assert len(before_p1) > 1  # fragmented fixture
    stats = engine.compact_table(part_table, partitions={"p": 1})
    assert stats["files_before"] == len(before_p1)
    assert stats["files_after"] < stats["files_before"]
    t2 = spark.table(name)
    # partition 2's physical files are byte-identical (untouched)
    after_p2 = {
        r[0]
        for r in t2.filter(F.col("p") == 2)
        .select(F.input_file_name()).distinct().collect()
    }
    assert after_p2 == before_p2
    # full-table content preserved
    assert t2.agg(F.sum("id"), F.count(F.lit(1))).collect()[0] == checksum
    # partition spec intact
    parts = [c.name for c in spark.catalog.listColumns(name) if c.isPartition]
    assert parts == ["p"]


@pytest.mark.parametrize("db", ["default", "vac_other", "vac_custom"])
def test_vacuum_orphans_removes_only_unregistered_dirs(spark, engine, db):
    """Vacuum from ``db`` removes the orphan in ``db``'s own location and
    nothing live: not its tables, not another database's tables (a
    default-database table must survive a vacuum run from ``vac_other``),
    and not a custom-``LOCATION`` database's directory inside the
    warehouse."""
    wh = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    wh = wh.removeprefix("file:")
    custom_root = os.path.join(wh, "vac custom loc")  # space: URI unquoting
    roots = {
        "default": wh,
        "vac_other": os.path.join(wh, "vac_other.db"),
        "vac_custom": custom_root,
    }
    spark.sql("CREATE DATABASE IF NOT EXISTS vac_other")
    spark.sql(f"CREATE DATABASE IF NOT EXISTS vac_custom LOCATION '{custom_root}'")
    # a live table in each database, and an orphaned location in db's
    for d in roots:
        spark.sql(f"DROP TABLE IF EXISTS {d}.vac_live_t")
        shutil.rmtree(os.path.join(roots[d], "vac_live_t"), ignore_errors=True)
        spark.range(5).write.saveAsTable(f"{d}.vac_live_t")
    root = roots[db]
    orphan = os.path.join(root, "vac_orphan_t")
    os.makedirs(orphan, exist_ok=True)
    open(os.path.join(orphan, "part-000.parquet"), "wb").write(b"junk")
    spark.catalog.setCurrentDatabase(db)
    try:
        would = {os.path.realpath(p) for p in engine.vacuum_orphans(dry_run=True)}
        assert os.path.realpath(orphan) in would
        assert os.path.isdir(orphan)  # dry run touches nothing
        removed = {os.path.realpath(p) for p in engine.vacuum_orphans()}
        assert os.path.realpath(orphan) in removed
        assert not os.path.exists(orphan)
        # every live table survived, both dir and content
        for d, r in roots.items():
            assert spark.table(f"{d}.vac_live_t").count() == 5
            assert os.path.isdir(os.path.join(r, "vac_live_t"))
        assert os.path.isdir(custom_root)
    finally:
        spark.catalog.setCurrentDatabase("default")
        for d in roots:
            spark.sql(f"DROP TABLE IF EXISTS {d}.vac_live_t")
        spark.sql("DROP DATABASE IF EXISTS vac_other")
        spark.sql("DROP DATABASE IF EXISTS vac_custom")
        shutil.rmtree(orphan, ignore_errors=True)
        shutil.rmtree(custom_root, ignore_errors=True)


def test_file_skip_report_shows_clustering_payoff(spark, engine, demo_table):
    """Unsorted fragments put every key range in every file; after a
    sort-clustered compaction the same range predicate touches few
    files — the report quantifies exactly that."""
    pred = "id >= 10000 AND id < 20000"
    before = engine.file_skip_report(demo_table, pred)
    assert before["files_total"] == 40
    # round-robin fragmentation: every file contains part of the range
    assert before["skippable_fraction"] == 0.0
    engine.compact_table(demo_table, target_file_mb=1, sort_by=["id"])
    after = engine.file_skip_report(demo_table, pred)
    assert after["files_total"] > 1
    assert after["files_with_matches"] < after["files_total"]
    assert after["skippable_fraction"] > 0.5


def test_compact_zorder_by_skips_both_dims(engine, spark):
    """compact_table(zorder_by=[x, y]) clusters the Morton curve: range
    predicates on EITHER column skip files after the rewrite."""
    from pyspark.sql import functions as F

    from astro_sdk_spark.table import Table

    name = "zorder_compact_t"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    # pad rows with INCOMPRESSIBLE bytes (sizeInBytes reflects the
    # compressed parquet size — a constant pad deflates to nothing) so
    # target_file_mb=1 yields >=4 files and the skipping assertions
    # below actually run
    pad = F.concat(
        *[F.md5((F.col("id") + F.lit(i)).cast("string")) for i in range(10)]
    )
    df = spark.range(80000).select(
        (F.col("id") % 141).alias("x"),
        ((F.col("id") * 7919) % 149).alias("y"),
        pad.alias("pad"),
    )
    df.repartition(16).write.saveAsTable(name)

    try:
        stats = engine.compact_table(
            Table(name=name), target_file_mb=1, zorder_by=["x", "y"]
        )
        assert "_compact_zorder" not in spark.table(name).columns

        def skip_frac(col):
            d = spark.table(name)
            total = d.select(F.input_file_name()).distinct().count()
            hit = (
                d.filter(F.col(col) < 15)
                .select(F.input_file_name())
                .distinct()
                .count()
            )
            return 1.0 - hit / total if total else 0.0

        assert stats["files_after"] >= 4, stats
        assert skip_frac("x") > 0.2
        assert skip_frac("y") > 0.2
        # content integrity
        assert spark.table(name).count() == 80000
        engine.compact_table(Table(name=name), sort_by=["x"])  # still works
        with __import__("pytest").raises(ValueError, match="not both"):
            engine.compact_table(
                Table(name=name), sort_by=["x"], zorder_by=["y"]
            )
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")
