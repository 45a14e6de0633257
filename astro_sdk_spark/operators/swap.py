"""Table swap: make a target table hold the contents of a staging table.

Used by every staged rewrite (merge 'update', SCD2, compaction,
publish_table, the rollup and sketch stores). Mirrors the
staged-rewrite finish step of the reference's Redshift merge strategy
(``python-sdk/src/astro/databases/aws/redshift.py:169-307``) expressed for
Spark's session catalog:

- same database: ``DROP TABLE`` + ``ALTER TABLE RENAME`` — one table-sized
  write (done by the caller into staging) plus a metadata/directory move.
- cross-database: Spark's session catalog rejects cross-database RENAME, so
  fall back to a write-back (read staging, overwrite target, drop staging).
- failure between DROP and RENAME: restore by writing the staging contents
  back under the target name (never by retrying the same rename, which
  would fail identically and mask the original error).
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from astro_sdk_spark.engine import drop_managed_table
from astro_sdk_spark.templating import quote_identifier


def _database_of(qualified_name: str) -> str | None:
    return qualified_name.rsplit(".", 1)[0] if "." in qualified_name else None


def _write_back(spark: SparkSession, staging_qname: str, target_qname: str) -> None:
    spark.table(staging_qname).write.mode("overwrite").format("parquet").saveAsTable(
        target_qname
    )
    spark.sql(f"DROP TABLE IF EXISTS {quote_identifier(staging_qname)}")


def swap_table(spark: SparkSession, staging_qname: str, target_qname: str) -> None:
    """Make ``target_qname`` hold the contents of ``staging_qname``.

    The staging table must already be materialized. After return the target
    exists with staging's contents and the staging table is gone.
    """
    if _database_of(staging_qname) != _database_of(target_qname):
        # Session catalog cannot RENAME across databases — write back instead.
        _write_back(spark, staging_qname, target_qname)
        return
    sq = quote_identifier(staging_qname)
    tq = quote_identifier(target_qname)
    # a PARTITIONED staging table loses its partition metadata across
    # RENAME (the catalog re-points the location but not the partition
    # entries — the renamed table scans as empty); detect before the swap
    # and repair after (measured on the in-memory catalog, Spark 4.x)
    try:
        partitioned = bool(
            spark.sql(f"SHOW PARTITIONS {sq}").head(1)
        )
    except Exception:  # noqa: BLE001 - non-partitioned tables raise
        partitioned = False
    try:
        # an orphaned target location would make the RENAME fail
        drop_managed_table(spark, target_qname)
        spark.sql(f"ALTER TABLE {sq} RENAME TO {tq}")
    except Exception:
        # If the target was dropped but the rename failed, the staged result
        # still holds the full post-swap contents — recover via write-back.
        if not spark.catalog.tableExists(target_qname) and spark.catalog.tableExists(
            staging_qname
        ):
            _write_back(spark, staging_qname, target_qname)
        else:
            raise
        return
    # the rename has COMMITTED at this point: a failure below must not
    # read as "the swap failed" (the target exists, staging is gone) —
    # repair partition metadata in its own recovery block instead
    if partitioned:
        try:
            spark.sql(f"MSCK REPAIR TABLE {tq}")
        except Exception as msck_err:  # noqa: BLE001
            try:
                spark.catalog.recoverPartitions(target_qname)
            except Exception:  # noqa: BLE001
                raise RuntimeError(
                    f"table swap to {target_qname!r} SUCCEEDED but "
                    f"partition metadata recovery failed; run "
                    f"'MSCK REPAIR TABLE {tq}' manually before querying"
                ) from msck_err
