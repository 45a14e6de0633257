"""One managed-table location policy and one staged-rewrite path (engine.py).

Every writer survives a directory with committed parquet files that a
killed run left, with no catalog entry, under its target or staging name.
Append and create over such a directory refuse with an error naming the
path and ``SparkEngine.vacuum_orphans``, and leave it in place. Every
staged rewrite stages at ``<target>__staging``, so a swap that failed
leaves nothing behind once the writer runs again. Only engine.py resolves
a table name to a warehouse path or names a staging table.
"""

from __future__ import annotations

import os
import re
import shutil
from datetime import date
from typing import Callable, NamedTuple

import pytest
from pyspark.sql import functions as F

from astro_sdk_spark.engine import drop_managed_table
from astro_sdk_spark.table import Metadata, Table

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _ids(df):
    return sorted(r[0] for r in df.collect())


def _load_replace(spark, engine, sf_dir, plant):
    plant("loc_replace_t")
    engine.load_dataframe_to_table(spark.range(4), Table(name="loc_replace_t"))
    return spark.table("loc_replace_t"), list(range(4))


def _load_append_refused(spark, engine, sf_dir, plant):
    plant("loc_append_t")
    engine.load_dataframe_to_table(
        spark.range(4), Table(name="loc_append_t"), if_exists="append"
    )


def _create_refused(spark, engine, sf_dir, plant):
    plant("loc_create_t")
    engine.create_table_using_columns(
        Table(name="loc_create_t", columns=spark.range(1).schema)
    )


def _run_transform(spark, engine, sf_dir, plant):
    from astro_sdk_spark.operators.transform import run_transform

    plant("loc_ctas_t")
    run_transform(
        "SELECT id FROM range(5)", output_table=Table(name="loc_ctas_t"), engine=engine
    )
    return spark.table("loc_ctas_t"), list(range(5))


class _Staged(NamedTuple):
    """A writer that stages the new contents and swaps them in."""

    target: str
    setup: Callable  # (spark, engine): build the live target
    run: Callable  # (spark, engine): one staged rewrite of the target
    expected: list  # _ids of read(spark) after run
    read: Callable = lambda spark, target: spark.table(target)


def _compact_setup(spark, engine):
    drop_managed_table(spark, "loc_compact_t")
    spark.range(6).repartition(3).write.saveAsTable("loc_compact_t")


_COMPACT = _Staged(
    "loc_compact_t",
    _compact_setup,
    lambda spark, engine: engine.compact_table(Table(name="loc_compact_t")),
    list(range(6)),
)


def _publish(db):
    from astro_sdk_spark.operators.publish import publish_table

    target = Table(name="loc_pub_t", metadata=Metadata(schema=db))
    return _Staged(
        target.qualified_name,
        lambda spark, engine: publish_table(spark.range(5), target, spark=spark),
        lambda spark, engine: publish_table(spark.range(3), target, spark=spark),
        list(range(3)),
    )


def _merge_setup(spark, engine):
    for name, lo, hi in (("loc_merge_t", 0, 4), ("loc_merge_src", 2, 6)):
        drop_managed_table(spark, name)
        spark.range(lo, hi).selectExpr("id", "id * 10 AS v").write.saveAsTable(name)


def _merge_run(spark, engine):
    from astro_sdk_spark import merge

    merge(
        Table(name="loc_merge_src"), Table(name="loc_merge_t"), ["id", "v"],
        target_conflict_columns=["id"], if_conflicts="update", engine=engine,
    )


_MERGE = _Staged("loc_merge_t", _merge_setup, _merge_run, list(range(6)))

_SCD2_SCHEMA = (
    "id long, price double, valid_from date, valid_to date, is_current boolean"
)


def _scd2_setup(spark, engine):
    drop_managed_table(spark, "loc_scd2_t")
    spark.createDataFrame(
        [(1, 1.0, date(2020, 1, 1), None, True)], _SCD2_SCHEMA
    ).write.saveAsTable("loc_scd2_t")


def _scd2_run(spark, engine):
    from astro_sdk_spark.operators.scd import merge_scd2

    snap = spark.createDataFrame(
        [(1, 2.0, date(2021, 1, 1)), (2, 9.0, date(2021, 1, 1))],
        "id long, price double, effective_ts date",
    )
    merge_scd2(snap, Table(name="loc_scd2_t"), ["id"], ["price"], engine=engine)


# ids of the history rows: the closed and current versions of 1, new 2
_SCD2 = _Staged("loc_scd2_t", _scd2_setup, _scd2_run, [1, 1, 2])


def _rollup(spark):
    from astro_sdk_spark.streaming.rollup import ContinuousAggregate

    events = spark.createDataFrame(
        [("2024-01-01 00:01:00", "click", 1.0), ("2024-01-01 00:12:00", "view", 2.0)],
        ["ts", "event_type", "value"],
    ).withColumn("ts", F.to_timestamp("ts"))
    return ContinuousAggregate(spark, events, "loc_rollup_t", bucket="10 minutes")


def _rollup_setup(spark, engine):
    drop_managed_table(spark, "loc_rollup_t")
    _rollup(spark).refresh()


# the refresh recomputes the newest bucket: one event in each of two buckets
_ROLLUP = _Staged(
    "loc_rollup_t",
    _rollup_setup,
    lambda spark, engine: _rollup(spark).refresh(),
    [1, 1],
    lambda spark, target: spark.table(target).select("n"),
)


def _publish_over_orphaned_target(spark, engine, sf_dir, plant):
    from astro_sdk_spark.operators.publish import publish_table

    plant("loc_pubtgt_t")
    publish_table(spark.range(2), "loc_pubtgt_t")
    return spark.table("loc_pubtgt_t"), list(range(2))


def _build_ann_index(spark, engine, sf_dir, plant):
    from astro_sdk_spark.functions.ann_index import build_ann_index, drop_ann_index

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    drop_ann_index(spark, "loc_ann")
    for suffix in ("centroids", "lists", "meta"):
        plant(f"loc_ann__{suffix}")
    build_ann_index(spark, emb, "loc_ann", emb.filter(F.col("vec_id") < 16))
    return spark.table("loc_ann__lists").select("cand_id"), _ids(emb.select("vec_id"))


def _sketch_batch(spark, table, batch_id):
    from astro_sdk_spark.functions.quantiles import (
        quantile_sketch_build,
        quantile_sketch_merge,
    )
    from astro_sdk_spark.streaming.store import merge_sketch_batch

    merge_sketch_batch(
        spark, table, "loc_run", batch_id,
        spark.range(10 * batch_id, 10 * batch_id + 10).selectExpr("id * 1.0 AS v"),
        params={"width": 100, "scale": 2},
        data_cols=["bucket", "n"],
        build=lambda b: quantile_sketch_build(b, "v", width=100, value_scale=2),
        merge=quantile_sketch_merge,
        incompatible_what="incompatible bucket grids",
    )


def _sketch_setup(spark, engine):
    drop_managed_table(spark, "loc_sketch_t")
    _sketch_batch(spark, "loc_sketch_t", 0)


_SKETCH = _Staged(
    "loc_sketch_t",
    _sketch_setup,
    lambda spark, engine: _sketch_batch(spark, "loc_sketch_t", 1),
    [20],
    lambda spark, target: spark.table(target).agg(F.sum("n")),
)


def _sketch_first_create_refused(spark, engine, sf_dir, plant):
    plant("loc_sketch_new_t")
    _sketch_batch(spark, "loc_sketch_new_t", 0)


def _rollup_first_build_refused(spark, engine, sf_dir, plant):
    drop_managed_table(spark, "loc_rollup_t")
    plant("loc_rollup_t")
    _rollup(spark).refresh()


def _over_staging(w):
    """Run a staged writer over an orphan planted at its staging name."""

    def write(spark, engine, sf_dir, plant):
        w.setup(spark, engine)
        plant(f"{w.target}__staging")
        w.run(spark, engine)
        return w.read(spark, w.target), w.expected

    return write


STAGED = {
    "compact_table": _COMPACT,
    "publish_table": _publish("default"),
    "merge_update": _MERGE,
    "merge_scd2": _SCD2,
    "rollup_refresh": _ROLLUP,
    "sketch_staging": _SKETCH,
}

WRITERS = {
    "load_replace": _load_replace,
    "run_transform": _run_transform,
    **{case: _over_staging(w) for case, w in STAGED.items()},
    "publish_table_named_db": _over_staging(_publish("loc_db")),
    "publish_table_target": _publish_over_orphaned_target,
    "build_ann_index": _build_ann_index,
    "load_append_refused": _load_append_refused,
    "create_refused": _create_refused,
    "sketch_first_create_refused": _sketch_first_create_refused,
    "rollup_first_build_refused": _rollup_first_build_refused,
}


@pytest.mark.parametrize("case", list(WRITERS))
def test_writer_over_orphaned_location(spark, engine, sf_dir, case):
    """Plant a committed parquet directory (ids 100..106, no catalog entry)
    at the writer's target or staging name, then run the writer: it must
    produce exactly its own rows, or, for append/create, refuse with an
    error naming the path and vacuum_orphans and keep the files."""
    spark.sql("CREATE DATABASE IF NOT EXISTS loc_db")
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    planted = []

    def plant(qualified_name):
        db, _, name = qualified_name.rpartition(".")
        db = db or "default"
        path = os.path.join(wh if db == "default" else os.path.join(wh, f"{db}.db"), name)
        spark.sql(f"DROP TABLE IF EXISTS {db}.{name}")
        shutil.rmtree(path, ignore_errors=True)
        spark.range(100, 107).write.parquet(path)
        planted.append(path)

    write = WRITERS[case]
    if case.endswith("_refused"):
        with pytest.raises(FileExistsError, match="vacuum_orphans") as ei:
            write(spark, engine, sf_dir, plant)
        assert planted[0] in str(ei.value)
        assert any(f.endswith(".parquet") for f in os.listdir(planted[0]))
        shutil.rmtree(planted[0])
        return
    df, expected = write(spark, engine, sf_dir, plant)
    assert _ids(df) == expected


def _staging_entries(spark):
    """Catalog tables and warehouse directories of the default database
    that look like staging: ``__staging`` or a ``_tmp_`` name."""
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    names = {t.name for t in spark.catalog.listTables()}
    names |= {f"dir:{d}" for d in os.listdir(wh)}
    return {n for n in names if "__staging" in n or "_tmp_" in n}


@pytest.mark.parametrize("case", list(STAGED))
def test_failed_swap_leaves_no_staging_behind(spark, engine, monkeypatch, case):
    """A swap whose DROP of the target raises keeps the live table; the
    next clean run of the same writer reclaims the staging it left, so the
    catalog and the warehouse gain no staging entry."""
    w = STAGED[case]
    w.setup(spark, engine)
    before = _staging_entries(spark)
    real_sql = spark.sql

    def failing_sql(query, *a, **k):
        if query == f"DROP TABLE IF EXISTS {w.target}":
            raise RuntimeError("injected target DROP failure")
        return real_sql(query, *a, **k)

    monkeypatch.setattr(spark, "sql", failing_sql)
    with pytest.raises(RuntimeError, match="injected target DROP failure"):
        w.run(spark, engine)
    monkeypatch.undo()
    w.run(spark, engine)
    assert _ids(w.read(spark, w.target)) == w.expected
    assert _staging_entries(spark) - before == set()


_WAREHOUSE_READ = re.compile(r"spark\.sql\.warehouse\.dir|locationUri")
_GONE = re.compile(r"_drop_table_and_location|scrub_orphaned_location|_managed_location")
_STAGING = re.compile(
    r"__staging|__wap_staged|__compact_staging|__sketch_staging|_tmp_refresh"
    r"|operators\.swap"
)


def test_only_engine_resolves_table_locations():
    """engine.py is the single owner of the name → warehouse path mapping
    and of the staging name: no other module reads the warehouse dir or a
    database location, uses the resolver, names a staging table, imports
    the deleted swap module, or keeps one of the deleted hand-rolled
    copies."""
    offenders = []
    for top in ("astro_sdk_spark", "examples"):
        for dirpath, _dirs, files in os.walk(os.path.join(ROOT, top)):
            for f in files:
                if not f.endswith(".py"):
                    continue
                path = os.path.join(dirpath, f)
                rel = os.path.relpath(path, ROOT)
                with open(path, encoding="utf-8") as fh:
                    src = fh.read()
                if _GONE.search(src):
                    offenders.append(f"{rel}: deleted location helper")
                if rel == os.path.join("astro_sdk_spark", "engine.py"):
                    continue
                if _WAREHOUSE_READ.search(src):
                    offenders.append(f"{rel}: reads a warehouse location")
                if "managed_location(" in src:
                    offenders.append(f"{rel}: resolves a table location")
                if _STAGING.search(src):
                    offenders.append(f"{rel}: names a staging table")
    assert offenders == []
