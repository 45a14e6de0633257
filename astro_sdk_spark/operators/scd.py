"""merge_scd2 — type-2 slowly-changing-dimension merge.

The reference's merge matrix (SURVEY §2.3; dispatcher
``python-sdk/src/astro/sql/operators/merge.py:16-200``) stops at type-1
semantics: ``update`` overwrites in place and history is lost. Warehouse
dimension tables usually want type 2 — keep the old row, close its
validity interval, open a new one — and every dialect the reference
targets reaches it with the same staged full-outer-join rewrite this
module expresses in DataFrames (Kimball & Ross, *The Data Warehouse
Toolkit*, ch. 5).

Contract (one snapshot applied to a history table):

- target: ``keys + tracked + valid_from + valid_to + is_current`` —
  ``valid_to IS NULL``/``is_current`` marks the open version.
- source: ``keys + tracked + effective_col`` — the new snapshot. Duplicate
  source keys keep the LATEST effective row (ties broken on tracked
  values, deterministically).
- matched current row, any tracked column differs (null-safe) →
  CLOSE the old version (``valid_to = effective``, ``is_current = false``)
  and OPEN a new one (``valid_from = effective``, open-ended).
- matched current row, no change → untouched.
- source key absent from target → new open version.
- target key absent from source → untouched (``close_missing=True``
  instead closes it at its ``effective`` — hard-delete capture).
- history rows (``is_current = false``) pass through untouched.

Scale shape: ONE shuffle — current rows FULL OUTER JOIN the key-deduped
snapshot on the dimension key, evaluated ONCE: each joined row fans out
into its (up to 2) output rows in-plan via ``inline()``, so the
target-side keep/close rows and the source-side new versions come from
a single evaluation of the join and everything beneath it. (A
two-filtered-branch union does NOT get this from ReuseExchange:
Catalyst rewrites full-outer + one-sided filters into separate
Left/RightOuter joins per branch — measured as 2× input scans and 2×
source dedup aggregates.) History rows are a scan-through union with no
shuffle. The staged result goes live through
the same DROP+RENAME swap the type-1 update path uses
(``engine.swap_table``). At 100 TB the dimension is usually the SMALL side —
but nothing here assumes that: no broadcast, no collect, AQE free to pick
the join strategy.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from astro_sdk_spark.engine import SparkEngine, stage_table, swap_table
from astro_sdk_spark.session import default_session
from astro_sdk_spark.table import BaseTable


def scd2_plan(
    target: DataFrame,
    source: DataFrame,
    keys: list[str],
    tracked: list[str],
    effective_col: str = "effective_ts",
    valid_from_col: str = "valid_from",
    valid_to_col: str = "valid_to",
    current_col: str = "is_current",
    close_missing: bool = False,
) -> DataFrame:
    """The pure-DataFrame SCD2 rewrite: returns the NEW full history table.

    Output schema: ``keys + tracked + valid_from + valid_to + is_current``
    (validity columns take the effective column's type).
    """
    for k in keys + tracked:
        if k not in target.columns or k not in source.columns:
            raise ValueError(f"column {k!r} must exist in target and source")
    for c in (valid_from_col, valid_to_col, current_col):
        if c not in target.columns:
            raise ValueError(f"target is missing SCD2 column {c!r}")
    if effective_col not in source.columns:
        raise ValueError(f"source is missing effective column {effective_col!r}")

    out_cols = keys + tracked + [valid_from_col, valid_to_col, current_col]

    # one deterministic source row per key: latest effective wins, ties
    # broken on tracked values (max over the struct orders field-by-field)
    src_one = (
        source.groupBy(*keys)
        .agg(F.max(F.struct(effective_col, *tracked)).alias("_v"))
        .select(*keys, *[F.col(f"_v.{c}").alias(c) for c in [effective_col] + tracked])
    )

    # presence markers survive NULL key values (the null-safe join below
    # matches them, so keys[0] IS NOT NULL would misclassify such rows —
    # the same device as operators/diff.py)
    cur = target.filter(F.col(current_col)).withColumn("_tm", F.lit(1)).alias("t")
    hist = target.filter(~F.col(current_col)).select(*out_cols)
    s = src_one.withColumn("_sm", F.lit(1)).alias("s")

    cond = None
    for k in keys:
        c = F.col(f"t.{k}").eqNullSafe(F.col(f"s.{k}"))
        cond = c if cond is None else cond & c
    j = cur.join(s, cond, "full_outer")

    changed = F.lit(False)
    for c in tracked:
        changed = changed | ~F.col(f"t.{c}").eqNullSafe(F.col(f"s.{c}"))
    t_present = F.col("t._tm").isNotNull()
    s_present = F.col("s._sm").isNotNull()
    eff = F.col(f"s.{effective_col}")

    # target-side rows: keep as-is, close on change (or on disappearance
    # when close_missing) — valid_to/is_current are the only cells touched
    close = s_present & changed
    if close_missing:
        # a vanished key has no source effective — close at the snapshot's
        # max effective, carried in via a cross-joined one-row bound. An
        # EMPTY snapshot has no effective at all (_eff_max NULL): nothing
        # closes, rather than closing the whole dimension at NULL.
        eff_bound = src_one.agg(F.max(effective_col).alias("_eff_max"))
        j = j.crossJoin(F.broadcast(eff_bound))
        close_at = F.when(s_present, eff).otherwise(F.col("_eff_max"))
        close = close | (~s_present & F.col("_eff_max").isNotNull())
    else:
        close_at = eff
    target_row = F.struct(
        t_present.alias("_keep"),
        *[F.col(f"t.{k}").alias(k) for k in keys],
        *[F.col(f"t.{c}").alias(c) for c in tracked],
        F.col(f"t.{valid_from_col}").alias(valid_from_col),
        F.when(close, close_at)
        .otherwise(F.col(f"t.{valid_to_col}"))
        .alias(valid_to_col),
        F.when(close, F.lit(False))
        .otherwise(F.col(f"t.{current_col}"))
        .alias(current_col),
    )

    # source-side rows: a NEW open version for changed and brand-new keys
    source_row = F.struct(
        (s_present & (~t_present | changed)).alias("_keep"),
        *[F.col(f"s.{k}").alias(k) for k in keys],
        *[F.col(f"s.{c}").alias(c) for c in tracked],
        eff.alias(valid_from_col),
        F.lit(None).cast(src_one.schema[effective_col].dataType).alias(valid_to_col),
        F.lit(True).alias(current_col),
    )

    # BOTH output rows of a joined pair are emitted from ONE evaluation
    # of the join: inline() fans each joined row into its (up to 2)
    # output rows and the _keep flag drops the side that doesn't apply.
    # The previous two-filtered-branch union re-evaluated the join — and
    # every scan/aggregate under it — once per branch (Catalyst splits
    # the full-outer into separate Left/RightOuter joins per branch, so
    # ReuseExchange never fires; measured: 4 scans of the inputs, 2
    # source dedup aggregates). array() reconciles the two structs'
    # field types exactly like unionByName did.
    fanned = (
        j.select(F.inline(F.array(target_row, source_row)))
        .filter(F.col("_keep"))
        .select(*out_cols)
    )

    return hist.unionByName(fanned)


def merge_scd2(
    source_table: BaseTable | DataFrame,
    target_table: BaseTable,
    keys: list[str],
    tracked: list[str],
    effective_col: str = "effective_ts",
    valid_from_col: str = "valid_from",
    valid_to_col: str = "valid_to",
    current_col: str = "is_current",
    close_missing: bool = False,
    partition_by: list[str] | None = None,
    engine: SparkEngine | None = None,
    spark: SparkSession | None = None,
) -> BaseTable:
    """Apply a snapshot to an SCD2 history table in place.

    Staged rewrite + swap, exactly like ``merge(...,
    if_conflicts='update')`` — Spark cannot overwrite a table it is
    reading, so the new history stages beside the target and goes live
    via DROP+RENAME with post-failure restore
    (``engine.stage_table`` / ``engine.swap_table``).

    ``partition_by`` lays the rewritten history out by validity era —
    the natural choice is ``[current_col]``, which puts the open (
    current) versions in their own partition directory. Point-in-time
    lookups against "now" and current-dimension scans then touch NONE of
    the closed-history files (partition pruning, measurable with
    ``SparkEngine.file_skip_report``); history keeps growing but the hot
    read set stays O(|live keys|). At 100 TB of slowly-changing history
    this is the difference between scanning every era ever written and
    scanning one directory.

    Transaction-log targets (Delta/Iceberg/Hudi) are refused rather than
    silently rewritten: the parquet staged swap would REPLACE the table
    with a plain parquet one, destroying the transaction log. (The
    type-1 path routes those providers to a native single-statement
    MERGE INTO, ``merge._merge_native``; SCD2 needs a multi-action
    MERGE + INSERT transaction, which plain Spark SQL cannot express
    atomically — drive the provider's own API with scd2_plan's output
    instead.)"""
    from astro_sdk_spark.operators.merge import table_provider

    eng = engine or SparkEngine(spark or default_session())
    sp = eng.spark
    provider = table_provider(sp, target_table.qualified_name)
    if provider in ("delta", "iceberg", "hudi"):
        raise NotImplementedError(
            f"merge_scd2 would replace the {provider} table "
            f"{target_table.qualified_name} with plain parquet via the "
            "staged swap. Use scd2_plan() to compute the new history and "
            f"write it through the {provider} API (e.g. MERGE INTO plus "
            "an INSERT for new versions) to keep the transaction log."
        )
    tgt = sp.table(target_table.qualified_name)
    src = (
        source_table
        if isinstance(source_table, DataFrame)
        else sp.table(source_table.qualified_name)
    )

    result = scd2_plan(
        tgt,
        src,
        keys,
        tracked,
        effective_col=effective_col,
        valid_from_col=valid_from_col,
        valid_to_col=valid_to_col,
        current_col=current_col,
        close_missing=close_missing,
    )

    from astro_sdk_spark.lineage import _name_of, emit

    emit(
        "merge:scd2",
        inputs=[
            _name_of(source_table)
            if isinstance(source_table, BaseTable)
            else "<dataframe>"
        ],
        outputs=[_name_of(target_table)],
    )

    missing = [c for c in partition_by or [] if c not in result.columns]
    if missing:
        raise ValueError(
            f"partition_by columns not in the SCD2 output: {missing} "
            f"(have {result.columns})"
        )
    stage_table(sp, result, target_table.qualified_name, partition_by)
    swap_table(sp, target_table.qualified_name)
    return target_table


def scd2_lookup(
    facts: DataFrame,
    dim: DataFrame,
    keys: list[str],
    ts_col: str,
    valid_from_col: str = "valid_from",
    valid_to_col: str = "valid_to",
    how: str = "left",
) -> DataFrame:
    """Point-in-time join: enrich each fact row with the dimension
    VERSION that was valid at the fact's timestamp — the query every
    SCD2 table exists to answer (facts join ``keys`` equal AND
    ``valid_from <= ts < valid_to``, open-ended current versions
    matching everything from their start).

    Returns all fact columns plus the dimension's non-key columns.
    Version intervals are disjoint per key by SCD2 construction, so at
    most one dimension row matches each fact.

    Scale shape: ONE equi-join shuffle on the dimension key — the
    validity-interval predicate rides along as a join residual, not a
    range-join explosion, because the equality on ``keys`` is what
    drives the exchange (Spark extracts the equi-part; AQE can still
    broadcast the dimension when small). Fact tables dwarf dimensions
    at 100 TB; this is the join the key-partitioned layout serves."""
    if how not in ("left", "inner"):
        raise ValueError(f"how must be left|inner, got {how!r}")
    clash = sorted(
        (set(facts.columns) - set(keys)) & (set(dim.columns) - set(keys))
    )
    if clash:
        raise ValueError(
            f"fact and dimension share non-key column(s) {clash} — the "
            "output would carry ambiguous duplicate names; rename one side"
        )
    f = facts.alias("f")
    d = dim.alias("d")
    cond = None
    for k in keys:
        c = F.col(f"f.{k}").eqNullSafe(F.col(f"d.{k}"))
        cond = c if cond is None else cond & c
    ts = F.col(f"f.{ts_col}")
    cond = (
        cond
        & (ts >= F.col(f"d.{valid_from_col}"))
        & (F.col(f"d.{valid_to_col}").isNull() | (ts < F.col(f"d.{valid_to_col}")))
    )
    dim_cols = [c for c in dim.columns if c not in keys]
    return f.join(d, cond, how).select(
        *[F.col(f"f.{c}") for c in facts.columns],
        *[F.col(f"d.{c}").alias(c) for c in dim_cols],
    )
