"""Hypertable-style continuous aggregate: a materialized time-bucket rollup
with incremental refresh.

No reference counterpart (astro-sdk has no time-series layer); this is the
batch-incremental sibling of the streaming tumbling-window operator — the
TimescaleDB continuous-aggregate / materialized-view-with-refresh pattern
expressed Spark-first:

- the rollup is a managed parquet table keyed by (window_start, group cols);
- ``refresh()`` reads ONLY source rows at or after the last materialized
  bucket (buckets are closed intervals, so the newest bucket is recomputed
  — it may have been partial at the previous refresh), aggregates them,
  and upserts via the same join-rewrite used by merge 'update';
- at 100 TB the source scan is bounded by the refresh horizon, not table
  size (pair the events table with partitioning on a date column so the
  ts predicate prunes partitions), and the upsert rewrites only the rollup
  (tiny relative to raw events).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from astro_sdk_spark.engine import refuse_orphaned_location, stage_table, swap_table


def time_bucket(ts_col, duration: str = "10 minutes") -> Column:
    """TimescaleDB-style bucket start for a timestamp column."""
    return F.window(ts_col, duration).start


class ContinuousAggregate:
    """Materialized tumbling rollup of an events source with incremental
    refresh. ``agg_exprs`` maps output column → aggregate Column builder
    (callables so each refresh builds fresh expressions)."""

    def __init__(
        self,
        spark: SparkSession,
        source: DataFrame | str,
        target_table: str,
        bucket: str = "10 minutes",
        ts_col: str = "ts",
        group_cols: list[str] | None = None,
        agg_exprs: dict[str, object] | None = None,
    ) -> None:
        self.spark = spark
        self._source = source
        self.target_table = target_table
        self.bucket = bucket
        self.ts_col = ts_col
        self.group_cols = list(group_cols or ["event_type"])
        self._aggs = agg_exprs or {
            "n": lambda: F.count(F.lit(1)),
            "total_value": lambda: F.sum("value"),
        }

    def _source_df(self) -> DataFrame:
        if isinstance(self._source, DataFrame):
            return self._source
        return self.spark.table(self._source)

    def _aggregate(self, df: DataFrame) -> DataFrame:
        aggs = [build().alias(name) for name, build in self._aggs.items()]
        return (
            df.groupBy(
                time_bucket(self.ts_col, self.bucket).alias("window_start"),
                *self.group_cols,
            ).agg(*aggs)
        )

    def _exists(self) -> bool:
        return self.spark.catalog.tableExists(self.target_table)

    def refresh(self) -> None:
        """Materialize new/changed buckets. First call = full build; later
        calls recompute only buckets at or after the last materialized
        window_start (the newest bucket may have been partial)."""
        src = self._source_df()
        if self._exists():
            high = self.spark.table(self.target_table).agg(
                F.max("window_start")
            ).collect()[0][0]
            if high is not None:
                src = src.filter(F.col(self.ts_col) >= F.lit(high))
        fresh = self._aggregate(src)
        if not self._exists():
            refuse_orphaned_location(self.spark, self.target_table)
            fresh.write.format("parquet").saveAsTable(self.target_table)
            return
        tgt = self.spark.table(self.target_table)
        keys = ["window_start", *self.group_cols]
        # upsert = keep target buckets not being refreshed + all fresh rows
        # (the join rewrite from merge 'update', inlined: fresh rows win)
        untouched = tgt.join(fresh.select(*keys), on=keys, how="left_anti")
        stage_table(self.spark, untouched.unionByName(fresh), self.target_table)
        swap_table(self.spark, self.target_table)

    def read(self) -> DataFrame:
        return self.spark.table(self.target_table)
