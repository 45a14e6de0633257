"""Shared side-table store for streaming sketch maintenance.

The CMS ingest (:func:`astro_sdk_spark.streaming.ops.stream_sketch_ingest`)
and the quantile ingest (:func:`~astro_sdk_spark.streaming.ops.
stream_quantile_ingest`) maintain the same kind of state: a small mergeable
sketch table that each ``foreachBatch`` invocation folds one micro-batch
into. They used to hand-roll the identical
stage -> swap -> replay-watermark -> parameter-identity dance per operator;
this module is the single, tested implementation of that contract, so an
edge-case fix (empty batches, 0-row tables) lands once instead of per-copy.

The contract, explicitly:

- **Replay idempotence**: ``foreachBatch`` only guarantees a replayed batch
  carries the same ``batch_id``. The store keeps the last merged
  ``(_run_id, _batch_id)`` on every row, where the run id derives from the
  checkpoint dir; a replay (same run, already-seen id) skips the merge
  instead of double-counting. A FRESH checkpoint is a new run, so its batch
  ids (restarting at 0) keep merging ONTO the accumulated table rather than
  being swallowed as replays.
- **Parameter identity**: sketch parameters (CMS ``width``/``depth``,
  quantile ``width``/``value_scale``) are stored with the sketch and
  asserted on every merge — merging into a table built with different
  parameters would silently sum incompatible hash spaces / bucket grids.
- **Atomic go-live**: the merged sketch stages beside the table and swaps
  in via :func:`~astro_sdk_spark.engine.swap_table`, so a crash
  mid-write leaves the previous sketch intact instead of losing the
  accumulated history.
- **Empty-batch policy** (the round-6/7 poisoning bug, fixed here once):
  an EMPTY micro-batch is a complete no-op — the store table is not
  created, not rewritten, and the replay watermark does not advance
  (replaying an empty batch is also a no-op, so nothing double-counts).
  Symmetrically, an existing 0-ROW store table (e.g. left behind by an
  older version that wrote through an empty first batch, or by a crash
  between create and fill) is treated as NON-EXISTENT: its metadata is
  never read (no ``collect()[0]`` on nothing) and the next non-empty batch
  rebuilds it from scratch via the staged swap.

Scale note: the store is sketch-sized (CMS depth x width cells, quantile
range/width buckets, or groups x buckets) and the merge stays DISTRIBUTED
end to end — the merged sketch is localCheckpoint'ed into executor block
storage (breaking lineage against the table being swapped) and written
straight to the staging table, so the driver never materializes the rows.
A grouped store (``by=`` with a high-cardinality key) therefore scales with
executor storage, not driver memory; the only driver traffic is the 1-row
metadata read.
"""

from __future__ import annotations

from typing import Callable, Mapping

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F

META_COLS = ("_run_id", "_batch_id")


def read_store_meta(
    spark: SparkSession, table: str, param_names: list[str]
) -> Row | None:
    """Return one metadata row of the store, or ``None`` when the table is
    absent OR exists with zero rows. The 0-row case is the defensive read:
    metadata lives on every data row, so an empty table has none — treating
    it as non-existent (instead of indexing into an empty ``collect()``)
    is what makes a poisoned/interrupted store self-healing."""
    if not spark.catalog.tableExists(table):
        return None
    rows = (
        spark.table(table)
        .select(*META_COLS, *[f"_{p}" for p in param_names])
        .limit(1)
        .collect()
    )
    return rows[0] if rows else None


def _statically_empty(df: DataFrame) -> bool:
    """True iff the optimizer already PROVED the batch empty (an empty
    ``LocalRelation`` — the direct-call path used by the tests; a
    streaming file-source batch is never statically empty). Driver-side
    plan analysis only, no job. This guard matters because
    ``PropagateEmptyRelation`` folds a statically-empty subtree away
    *including its CollectMetrics node*, so the observation below would
    never flush for such a batch."""
    try:
        plan = df._jdf.queryExecution().optimizedPlan()
        return (
            plan.getClass().getSimpleName() == "LocalRelation"
            and int(plan.data().size()) == 0
        )
    except Exception:  # noqa: BLE001 - non-classic DF; fall through
        return False


def merge_sketch_batch(
    spark: SparkSession,
    sketch_table: str,
    run_id: str,
    batch_id: int,
    batch_df: DataFrame,
    params: Mapping[str, int],
    data_cols: list[str],
    build: Callable[[DataFrame], DataFrame],
    merge: Callable[[DataFrame, DataFrame], DataFrame],
    incompatible_what: str,
) -> None:
    """One ``foreachBatch`` body implementing the store contract above.

    ``build(batch_df)`` sketches the micro-batch; ``merge(stored, fresh)``
    combines the stored sketch (projected to ``data_cols``) with it.
    ``params`` are the sketch-identity parameters, stored as ``_<name>``
    columns and asserted on merge; ``incompatible_what`` finishes the
    mismatch message ("incompatible hash spaces" / "incompatible bucket
    grids")."""
    meta = read_store_meta(spark, sketch_table, list(params))
    if meta is not None:
        stored = tuple(meta[f"_{p}"] for p in params)
        if stored != tuple(params.values()):
            was = ", ".join(f"{p}={meta[f'_{p}']}" for p in params)
            now = ", ".join(f"{p}={v}" for p, v in params.items())
            raise ValueError(
                f"{sketch_table} was built with {was}; merging {now} "
                f"would sum {incompatible_what}"
            )
        if meta["_run_id"] == run_id and batch_id <= meta["_batch_id"]:
            return  # replayed batch of THIS run — already merged
    if _statically_empty(batch_df):
        return  # empty micro-batch — no-op, watermark does not advance
    # Emptiness probes FUSED into the materializing action (guide §1.2
    # driver-side work): instead of the former per-batch
    # ``batch_df.take(1)`` + eager checkpoint + ``merged.take(1)``
    # sequence, the sketch is localCheckpoint'ed LAZILY and the action
    # that materializes it is a ``count()`` — one job yields both the
    # executor-storage materialization and the emptiness signal. (A
    # CollectMetrics observation on the checkpoint was tried first and
    # REJECTED: inside ``foreachBatch`` the observed-metrics row comes
    # back schema-less and ``Observation.get`` dies in ``toPyRow``, and a
    # statically-empty batch folds the metrics node away entirely.)
    #
    # An empty or all-null micro-batch now takes the no-op return from
    # the BATCH SKETCH's count: the store table is not created/rewritten
    # and the watermark does not advance — same policy as before, except
    # that an all-null batch merging into an EXISTING store previously
    # rewrote the table with identical values (advancing the watermark)
    # and is now the cheaper no-op; replay semantics are unaffected
    # because merging an empty sketch adds nothing either way.
    #
    # Materialization stays ONCE, off the driver, BEFORE writing: the
    # localCheckpoint computes the sketch into executor block storage and
    # truncates lineage against the table the swap is about to replace,
    # so the table write reads checkpointed blocks instead of recomputing
    # the merge. A grouped store (``by=`` with many groups) remains fully
    # distributed — the driver never holds the sketch rows.
    from astro_sdk_spark.functions._cache import (
        checkpoint_rdd_ids,
        unpersist_rdd_ids,
    )

    batch_sketch = (
        build(batch_df).select(*data_cols).localCheckpoint(eager=False)
    )
    _ckpt_ids = checkpoint_rdd_ids(batch_sketch)
    try:
        if not batch_sketch.count():
            return  # empty/all-null micro-batch — no-op, no watermark move
        if meta is not None:
            merged = (
                merge(
                    spark.table(sketch_table).select(*data_cols),
                    batch_sketch,
                )
                .select(*data_cols)
                .localCheckpoint(eager=False)
            )
            _ckpt_ids |= checkpoint_rdd_ids(merged)
            merged.count()  # materialize the merge off the swapped table
        else:
            merged = batch_sketch
        out = merged.withColumn("_run_id", F.lit(run_id)).withColumn(
            "_batch_id", F.lit(batch_id)
        )
        for p, v in params.items():
            out = out.withColumn(f"_{p}", F.lit(v))
        from astro_sdk_spark.engine import (
            drop_managed_table,
            location_is_partial_write,
            refuse_orphaned_location,
            stage_table,
            swap_table,
        )

        if spark.catalog.tableExists(sketch_table):
            stage_table(spark, out, sketch_table)
            swap_table(spark, sketch_table)
        else:
            # first creation of a USER-supplied name: self-heal ONLY when
            # the location holds partial-write debris of a killed run
            # (_temporary / markers, zero committed files). A directory
            # with real data files is NOT ours to delete.
            if location_is_partial_write(spark, sketch_table):
                drop_managed_table(spark, sketch_table)
            else:
                refuse_orphaned_location(spark, sketch_table)
            out.write.format("parquet").saveAsTable(sketch_table)
    finally:
        # free the checkpoint blocks NOW: a long-running ingest would
        # otherwise stack one groups x buckets RDD per micro-batch in
        # executor storage until driver GC happens to run
        unpersist_rdd_ids(spark, _ckpt_ids)
