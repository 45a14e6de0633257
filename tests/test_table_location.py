"""One managed-table location policy (engine.py).

Every writer survives a directory with committed parquet files that a
killed run left, with no catalog entry, under its target or staging name.
Append and create over such a directory refuse with an error naming the
path and ``SparkEngine.vacuum_orphans``, and leave it in place. Only
engine.py resolves a table name to a warehouse path.
"""

from __future__ import annotations

import os
import re
import shutil

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


def _compact_table(spark, engine, sf_dir, plant):
    drop_managed_table(spark, "loc_compact_t")
    spark.range(6).repartition(3).write.saveAsTable("loc_compact_t")
    plant("loc_compact_t__compact_staging")
    engine.compact_table(Table(name="loc_compact_t"))
    return spark.table("loc_compact_t"), list(range(6))


def _publish(db):
    def write(spark, engine, sf_dir, plant):
        from astro_sdk_spark.operators.publish import publish_table

        plant("loc_pub_t__wap_staged", db)
        target = Table(name="loc_pub_t", metadata=Metadata(schema=db))
        publish_table(spark.range(3), target)
        return spark.table(target.qualified_name), list(range(3))

    return write


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


def _sketch_staging(spark, engine, sf_dir, plant):
    drop_managed_table(spark, "loc_sketch_t")
    _sketch_batch(spark, "loc_sketch_t", 0)
    plant("loc_sketch_t__sketch_staging")
    _sketch_batch(spark, "loc_sketch_t", 1)
    return spark.table("loc_sketch_t").agg(F.sum("n")), [20]


def _sketch_first_create_refused(spark, engine, sf_dir, plant):
    plant("loc_sketch_new_t")
    _sketch_batch(spark, "loc_sketch_new_t", 0)


WRITERS = {
    "load_replace": _load_replace,
    "run_transform": _run_transform,
    "compact_table": _compact_table,
    "publish_table": _publish("default"),
    "publish_table_named_db": _publish("loc_db"),
    "publish_table_target": _publish_over_orphaned_target,
    "build_ann_index": _build_ann_index,
    "sketch_staging": _sketch_staging,
    "load_append_refused": _load_append_refused,
    "create_refused": _create_refused,
    "sketch_first_create_refused": _sketch_first_create_refused,
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

    def plant(name, db="default"):
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


_WAREHOUSE_READ = re.compile(r"spark\.sql\.warehouse\.dir|locationUri")
_GONE = re.compile(r"_drop_table_and_location|scrub_orphaned_location|_managed_location")


def test_only_engine_resolves_table_locations():
    """engine.py is the single owner of the name → warehouse path mapping:
    no other module reads the warehouse dir or a database location, uses
    the resolver, or keeps one of the deleted hand-rolled copies."""
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
    assert offenders == []
