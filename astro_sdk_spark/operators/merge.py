"""merge — upsert source into target with conflict strategies.

Reference dispatcher: ``python-sdk/src/astro/sql/operators/merge.py:16-200``;
per-dialect semantics in SURVEY §2.3 (Snowflake ``MERGE INTO``
``databases/snowflake.py:860-1006``, Postgres/SQLite/DuckDB
``ON CONFLICT DO NOTHING/UPDATE``, Redshift staged rewrite
``databases/aws/redshift.py:169-307``, Delta ``databricks/delta.py:357-441``).

Unified contract (all dialects collapse to this):
  rows matching on ``target_conflict_columns`` →
    ``ignore``    : keep the target row;
    ``update``    : overwrite *mapped* columns from source, preserve
                    unmapped target columns;
    ``exception`` : raise on any duplicate key;
  non-matching source rows → insert (mapped columns; rest NULL).

Spark implementation = join rewrite on parquet-backed tables:
- ``ignore``    : append ``src ANTI JOIN tgt`` — insert-only, no rewrite of
                  existing data (cheapest possible plan; target scan is
                  key-columns-only thanks to column pruning).
- ``update``    : staged full rewrite (the Redshift strategy, which is also
                  what Delta does under the hood without a transaction log):
                  unchanged = ``tgt ANTI src``; updated = ``tgt JOIN src``
                  taking source values for mapped cols; inserted =
                  ``src ANTI tgt``; union → staging table → swap.
- ``exception`` : ``src SEMI JOIN tgt`` non-empty → raise, else append.

At scale: the ignore/exception paths shuffle only on the key columns and
append; update rewrites the table once (unavoidable without a
transaction-log format — on Delta this becomes a single ``MERGE INTO``).
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from astro_sdk_spark.engine import SparkEngine, stage_table, swap_table
from astro_sdk_spark.operators.append import normalize_columns
from astro_sdk_spark.session import default_session
from astro_sdk_spark.table import BaseTable


class MergeConflictException(RuntimeError):
    """Duplicate key under if_conflicts='exception' (parity with the
    unique-constraint violation the reference dialects raise)."""


def _dedup_source_on_keys(src_shaped, keys: list[str], if_conflicts: str):
    """Enforce the reference's unique-constraint contract on the SOURCE:
    a source with duplicate conflict keys would (a) violate the unique
    constraint under 'exception' exactly like a source/target clash, and
    (b) nondeterministically multiply target rows under 'update' (Snowflake
    MERGE raises a nondeterministic-merge error for this). Under
    ignore/update we keep ONE deterministic row per key — the minimum by
    the remaining columns' values — mirroring what ON CONFLICT DO NOTHING
    reaches one-row-at-a-time."""
    if if_conflicts == "exception":
        n_dup = (
            src_shaped.groupBy(*keys)
            .count()
            .filter(F.col("count") > 1)
            .limit(1)
            .count()
        )
        if n_dup:
            raise MergeConflictException(
                f"Source contains duplicate conflict keys on {keys} "
                "(would violate the target's unique constraint)"
            )
        return src_shaped
    from pyspark.sql.window import Window

    others = [c for c in src_shaped.columns if c not in keys]
    if not others:
        return src_shaped.dropDuplicates(keys)
    w = Window.partitionBy(*keys).orderBy(*[F.col(c).asc_nulls_last() for c in others])
    return (
        src_shaped.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def _mapped_source(src, cmap: dict[str, str], tgt_schema):
    """Project source to target shape: mapped columns renamed/cast, unmapped
    target columns NULL."""
    cols = []
    for f in tgt_schema.fields:
        src_col = next((s for s, t in cmap.items() if t == f.name), None)
        if src_col is not None:
            cols.append(F.col(src_col).cast(f.dataType).alias(f.name))
        else:
            cols.append(F.lit(None).cast(f.dataType).alias(f.name))
    return src.select(*cols)


def merge_insert_plan(tgt, src, cmap: dict[str, str], keys: list[str]):
    """Rows to APPEND under if_conflicts='ignore': source rows whose keys are
    absent from the target (pure plan — shared by the operator and the
    correctness harness)."""
    src_shaped = _mapped_source(src, cmap, tgt.schema)
    new_rows = src_shaped.join(tgt.select(*keys), on=keys, how="left_anti")
    return new_rows.select(*tgt.columns)


def merge_update_plan(tgt, src, cmap: dict[str, str], keys: list[str]):
    """Full post-merge contents under if_conflicts='update': matched rows get
    mapped columns from source (unmapped preserved), unmatched target rows
    unchanged, new source rows inserted.

    ONE full-outer join evaluated once: every output row class (unchanged /
    matched / inserted) is a per-row column choice on the joined row, so
    neither input is scanned more than once. (The previous three-branch
    union — anti + inner + anti — evaluated both inputs three times; the
    scans do not dedupe because each branch optimizes to a different join
    type.) Presence markers rather than key-null tests keep NULL-keyed rows
    correct: they never equi-match, so a NULL-keyed target row surfaces as
    unchanged and a NULL-keyed source row as inserted, exactly like the
    anti-join formulation."""
    src_shaped = _mapped_source(src, cmap, tgt.schema)
    mapped_tgt_cols = set(cmap.values())
    t = tgt.withColumn("_tm", F.lit(1)).alias("t")
    s = src_shaped.withColumn("_sm", F.lit(1)).alias("s")
    # USING-style join: the key columns come out coalesced(t, s), which is
    # the right value for every row class
    j = t.join(s, on=keys, how="full_outer")
    t_present = F.col("t._tm").isNotNull()
    s_present = F.col("s._sm").isNotNull()

    def pick(c: str):
        if c in keys:
            return F.col(c)
        if c in mapped_tgt_cols:
            # matched AND inserted rows take the (cast) source value
            return F.when(s_present, F.col(f"s.{c}")).otherwise(F.col(f"t.{c}"))
        # unmapped columns: preserved on matched/unchanged, NULL on inserted
        return F.when(t_present, F.col(f"t.{c}")).otherwise(F.col(f"s.{c}"))

    return j.select(*[pick(c).alias(c) for c in tgt.columns])


def table_provider(spark: SparkSession, qualified_name: str) -> str | None:
    """The catalog provider of a table (``parquet``, ``delta``, ...),
    lower-cased; None when the catalog won't say (view, missing table)."""
    try:
        for r in spark.sql(f"DESCRIBE TABLE EXTENDED {qualified_name}").collect():
            if (r.col_name or "").strip().lower() == "provider":
                return (r.data_type or "").strip().lower() or None
    except Exception:  # noqa: BLE001 - provider detection is best-effort
        return None
    return None


def merge_into_sql(
    target_name: str,
    source_name: str,
    mapped_target_cols: list[str],
    keys: list[str],
    if_conflicts: str,
) -> str:
    """Render the transactional ``MERGE INTO`` statement used when the
    TARGET is a transaction-log format (Delta — reference
    ``databricks/delta.py:357-441``; also correct for Iceberg/Hudi v2
    tables). One statement replaces the whole staged-rewrite dance: the
    log gives atomicity and only touched files are rewritten, so the
    'update' path stops paying a full table rewrite.

    ``mapped_target_cols`` are target column names fed by the column map
    (the source is already projected to target shape); unmapped columns
    are preserved simply by not being assigned. 'exception' renders
    insert-only like 'ignore' — the caller raises on key clashes BEFORE
    executing (MERGE has no raise-on-match clause)."""
    on = " AND ".join(f"t.`{k}` = s.`{k}`" for k in keys)
    insert_cols = ", ".join(f"`{c}`" for c in mapped_target_cols)
    insert_vals = ", ".join(f"s.`{c}`" for c in mapped_target_cols)
    stmt = f"MERGE INTO {target_name} t USING {source_name} s ON {on}"
    if if_conflicts == "update":
        sets = ", ".join(
            f"t.`{c}` = s.`{c}`" for c in mapped_target_cols if c not in keys
        )
        if sets:
            stmt += f" WHEN MATCHED THEN UPDATE SET {sets}"
    stmt += f" WHEN NOT MATCHED THEN INSERT ({insert_cols}) VALUES ({insert_vals})"
    return stmt


def _merge_native(eng, tgt, src_shaped, cmap, keys, if_conflicts, target_table):
    """Transaction-log merge path (Delta & friends): one MERGE INTO.

    Environment boundary: this sandbox has neither the delta-spark
    package nor the Delta jars, so no delta-provider table can exist here
    and this path is exercised by SQL-generation unit tests only — on a
    real cluster with Delta configured (``spark.sql.extensions`` +
    ``io.delta:delta-spark``), any delta-backed target routes here
    automatically and the parquet join-rewrite below is never used."""
    s = eng.spark
    view = f"_astro_merge_src_{abs(hash(target_table.qualified_name)) % 10**8}"
    src_shaped.createOrReplaceTempView(view)
    try:
        s.sql(
            merge_into_sql(
                target_table.qualified_name,
                view,
                sorted(set(cmap.values())),
                keys,
                if_conflicts,
            )
        )
    finally:
        s.catalog.dropTempView(view)
    return target_table


def merge(
    source_table: BaseTable,
    target_table: BaseTable,
    columns,
    target_conflict_columns: list[str],
    if_conflicts: str = "exception",
    engine: SparkEngine | None = None,
    spark: SparkSession | None = None,
) -> BaseTable:
    if if_conflicts not in ("ignore", "update", "exception"):
        raise ValueError(f"if_conflicts must be ignore/update/exception, got {if_conflicts!r}")
    eng = engine or SparkEngine(spark or default_session())
    s = eng.spark
    tgt = s.table(target_table.qualified_name)
    src = s.table(source_table.qualified_name)
    cmap = normalize_columns(columns)
    if not cmap:
        cmap = {c: c for c in src.columns if c in set(tgt.columns)}
    keys = list(target_conflict_columns)
    missing = [k for k in keys if k not in tgt.columns]
    if missing:
        raise ValueError(f"Conflict columns not in target: {missing}")
    # every conflict column must be FED by the column map, else the shaped
    # source has NULL keys and every source row silently becomes an insert
    unmapped_keys = [k for k in keys if k not in set(cmap.values())]
    if unmapped_keys:
        raise ValueError(
            f"Conflict columns missing from the column map: {unmapped_keys} "
            "(each target_conflict_column must be mapped from a source column)"
        )

    src_shaped = _dedup_source_on_keys(
        _mapped_source(src, cmap, tgt.schema), keys, if_conflicts
    )

    from astro_sdk_spark.lineage import _name_of, emit

    emit(
        f"merge:{if_conflicts}",
        inputs=[_name_of(source_table)],
        outputs=[_name_of(target_table)],
    )

    # raise-on-clash is provider-independent: check ONCE before dispatch
    # (MERGE INTO has no raise-on-match clause, and the parquet append
    # path needs the same guard)
    if if_conflicts == "exception":
        n_dup = src_shaped.join(tgt.select(*keys), on=keys, how="left_semi").limit(1).count()
        if n_dup:
            raise MergeConflictException(
                f"Merge would violate unique constraint on {keys} "
                f"(source has keys already present in {target_table.qualified_name})"
            )

    # transaction-log targets (Delta/Iceberg/Hudi) take the native
    # MERGE INTO path: atomic, touched-files-only — no staged rewrite
    if table_provider(s, target_table.qualified_name) in ("delta", "iceberg", "hudi"):
        return _merge_native(
            eng, tgt, src_shaped, cmap, keys, if_conflicts, target_table
        )

    if if_conflicts == "exception":
        src_shaped.write.mode("append").format("parquet").saveAsTable(
            target_table.qualified_name
        )
        return target_table

    if if_conflicts == "ignore":
        shaped_cmap = {t: t for t in cmap.values()}
        merge_insert_plan(tgt, src_shaped, shaped_cmap, keys).write.mode("append").format(
            "parquet"
        ).saveAsTable(target_table.qualified_name)
        return target_table

    # update: staged rewrite (Redshift-style, redshift.py:169-307).
    # Spark cannot overwrite a table it is reading from in the same plan —
    # stage the result, then SWAP VIA RENAME: one table-sized write plus a
    # metadata/directory move, instead of writing the full table twice.
    # (On Delta this whole branch is a single transactional MERGE INTO;
    # for plain parquet the drop+rename window is non-atomic — on failure
    # the data survives in the staging table and engine.swap_table
    # restores it.)
    # src_shaped is already target-shaped and key-deduped; the effective
    # map is {mapped target col -> itself} so unmapped columns still come
    # from the target side in merge_update_plan
    shaped_cmap = {t: t for t in cmap.values()}
    result = merge_update_plan(tgt, src_shaped, shaped_cmap, keys)
    stage_table(s, result, target_table.qualified_name)
    swap_table(s, target_table.qualified_name)
    return target_table
