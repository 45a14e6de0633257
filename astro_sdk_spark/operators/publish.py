"""Write–audit–publish: stage a result, audit it, swap it live.

The production table-publication pattern (popularized by Netflix's
Iceberg WAP workflow; the same staged-rewrite idea as the reference's
Redshift merge finish step, ``databases/aws/redshift.py:169-307``): a
pipeline must never let readers observe a half-written or failed-quality
result. The composition is entirely out of parts this repo already
verifies —

1. **write** the DataFrame into the target's staging table with
   :func:`engine.stage_table` (readers of the live table see nothing);
2. **audit** the staged table with the data-validation operators
   (``check_table`` aggregate predicates and/or ``check_column``
   per-column stats — both single-scan, one-row results);
3. **publish** via :func:`engine.swap_table` (DROP+RENAME in the
   metastore — a metadata move, not a data copy) only when every check
   passed; on failure the staging table is dropped (or kept for
   debugging with ``keep_staging_on_fail``) and the live table is
   untouched.

Cutover visibility, stated honestly: Spark's session catalog has no
transactional table replace for parquet tables, so the swap is DROP then
RENAME — a new name lookup in that sub-second metadata window sees a
missing table (already-resolved plans are unaffected). The guarantee
publish_table does make is CRASH safety: a failure at any point leaves
either the previous live table or the fully-staged new one, never a
partial write — and the staged table survives a mid-swap crash for
write-back recovery (``engine.swap_table``). Catalogs with an atomic
``CREATE OR REPLACE`` / ``RENAME ... SWAP`` (Delta, Iceberg) close the
visibility gap; route through their native command when deployed there.

At 100 TB this is the difference between "the nightly job failed and
the dashboard shows garbage" and "the nightly job failed and the
dashboard shows yesterday": the expensive write happens OFF the serving
path, audits read the staged copy, and the cutover is O(1) metadata.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from astro_sdk_spark.engine import drop_managed_table, stage_table, swap_table
from astro_sdk_spark.table import BaseTable, Table

__all__ = ["publish_table"]


def publish_table(
    df: DataFrame,
    target_table: BaseTable | str,
    table_checks: dict[str, dict[str, str]] | None = None,
    column_checks: dict[str, dict[str, dict]] | None = None,
    spark: SparkSession | None = None,
    keep_staging_on_fail: bool = False,
) -> BaseTable:
    """Stage ``df``, audit it, and swap it into ``target_table``
    (crash-safe DROP+RENAME cutover — see the module docstring for the
    exact visibility semantics). Returns the target handle; raises
    ``ChecksFailedError`` (live table untouched) when an audit fails.

    ``table_checks``/``column_checks`` take the exact shapes
    :func:`check_table` / :func:`check_column` take — e.g.
    ``{"not_empty": {"check_statement": "COUNT(*) > 0"}}`` and
    ``{"id": {"null_check": {"equal_to": 0}}}``.
    """
    from astro_sdk_spark.operators.data_validation import check_column, check_table

    target = (
        target_table if isinstance(target_table, BaseTable) else Table(name=target_table)
    )
    spark = spark or df.sparkSession
    staged = Table(name=stage_table(spark, df, target.qualified_name))
    try:
        if table_checks:
            check_table(staged, table_checks, spark=spark)
        if column_checks:
            check_column(staged, column_checks, spark=spark)
    except Exception:
        if not keep_staging_on_fail:
            drop_managed_table(spark, staged.name)
        raise
    swap_table(spark, target.qualified_name)
    from astro_sdk_spark.lineage import emit

    emit("publish_table", inputs=[staged.name], outputs=[target.qualified_name])
    return target
