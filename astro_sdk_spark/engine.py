"""SparkEngine — the single "database" backing every operator.

Plays the role of the reference's ``BaseDatabase``
(``python-sdk/src/astro/databases/base.py``, 944 LoC) with Spark SQL as the
warehouse. Everything relational goes through Catalyst; the engine adds only
the orchestration the reference implements by hand: table lifecycle,
templated-SQL execution, merge rewrite, temp-table registry, import/export.

Scale notes (100 TB):
- tables are managed parquet tables — scans get predicate pushdown, column
  pruning, and partition pruning for free;
- ``load_file_to_table`` is executor-parallel (spark.read over a glob splits
  per file / rowgroup) — the reference's "native path" always;
- nothing here collects data to the driver except explicit result fetches
  (``fetch_all_rows`` with a limit, DataFrame handoffs are lazy).
"""

from __future__ import annotations

import os
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Any, Callable, Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from astro_sdk_spark.files import File, FileType
from astro_sdk_spark.table import BaseTable, Metadata, Table
from astro_sdk_spark.templating import quote_identifier, render_sql

# Reference: CREATE/DROP statement shapes databases/base.py:56-58
_CTAS = "CREATE TABLE IF NOT EXISTS {table} AS {select}"
_DROP = "DROP TABLE IF EXISTS {table}"
_CREATE_DB = "CREATE DATABASE IF NOT EXISTS {db}"

LOAD_TABLE_AUTODETECT_ROWS_COUNT = 1000  # parity: settings.py:69-71


# ------------------------------------------------ managed-table locations
# The one place that turns a table name into its warehouse directory and
# decides when that directory may be deleted. Module-level because writers
# that hold only a SparkSession (stream store, ANN index, publish_table)
# share it with SparkEngine.
def _local_path(uri: str | None) -> str | None:
    """Filesystem path of a local (``file:`` or scheme-less) URI, with
    percent-encoding unquoted; None for remote or empty URIs."""
    from urllib.parse import unquote, urlparse

    loc = urlparse(uri or "")
    if loc.scheme not in ("", "file"):
        return None
    return unquote(loc.path or loc.netloc) or None


def _database_location(spark: SparkSession, db: str) -> str | None:
    """Local directory of database ``db``: its catalog ``locationUri`` (so
    a database created with a custom ``LOCATION`` resolves correctly),
    else the default layout (``<wh>`` for default, ``<wh>/<db>.db``
    elsewhere). None for remote warehouses."""
    from pyspark.errors import AnalysisException

    try:
        uri = spark.catalog.getDatabase(db).locationUri
    except AnalysisException:  # unknown database: default layout
        uri = None
    if uri:
        return _local_path(uri)
    base = _local_path(spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse"))
    if base is None or db.lower() == "default":
        return base
    return os.path.join(base, f"{db.lower()}.db")


def managed_location(spark: SparkSession, qualified_name: str) -> str | None:
    """Local managed-table directory for a (possibly unqualified) table
    name; unqualified names resolve against the session's current
    database, exactly as ``saveAsTable`` does. None for remote
    warehouses."""
    db, _, table = qualified_name.rpartition(".")
    base = _database_location(spark, db or spark.catalog.currentDatabase())
    return None if base is None else os.path.join(base, table.lower())


def location_is_partial_write(
    spark: SparkSession, qualified_name: str, min_stale_s: float = 300.0
) -> bool:
    """True when the managed location for ``qualified_name`` exists but
    holds only write-in-progress debris (``_temporary``, hidden/marker
    files), NO committed data files, AND the debris is provably STALE —
    the signature of a run killed mid-``saveAsTable``. A writer creating
    a USER-supplied name gates its cleanup on this: only then is the
    directory provably not someone's data. Missing directory → False.

    The staleness guard matters because a CONCURRENT first-creation
    ``saveAsTable`` by another session passes the marker-only shape test
    while very much alive (``_temporary`` exists, no catalog entry until
    commit): only when the newest mtime anywhere under the directory
    (``_temporary`` contents included) is older than ``min_stale_s`` do
    we call it dead. A live writer touches files continuously; a killed
    one never will again."""
    import time

    path = managed_location(spark, qualified_name)
    if path is None or not os.path.isdir(path):
        return False
    newest = os.path.getmtime(path)
    for root, _dirs, files in os.walk(path):
        for entry in os.listdir(root) if root == path else []:
            if not entry.startswith(("_", ".")):
                return False  # committed (or foreign) data file — not ours
        for name in files:
            try:
                newest = max(newest, os.path.getmtime(os.path.join(root, name)))
            except OSError:  # racing writer just moved/removed it → alive
                return False
        try:
            newest = max(newest, os.path.getmtime(root))
        except OSError:
            return False
    return (time.time() - newest) >= min_stale_s


def drop_managed_table(spark: SparkSession, qualified_name: str) -> None:
    """DROP ``qualified_name`` when the catalog knows it; otherwise remove
    its orphaned managed location. A killed run (or a session with its
    own in-memory catalog) leaves the directory behind with no catalog
    entry, and the next managed write to the name then fails with
    LOCATION_ALREADY_EXISTS whatever its save mode. Every caller that
    drops a name wants that orphan gone too."""
    if spark.catalog.tableExists(qualified_name):
        spark.sql(_DROP.format(table=quote_identifier(qualified_name)))
    else:
        _remove_orphan(spark, qualified_name)


def _remove_orphan(spark: SparkSession, qualified_name: str) -> None:
    """Delete the managed location of a name the catalog does not know."""
    import shutil

    path = managed_location(spark, qualified_name)
    if path is not None:
        shutil.rmtree(path, ignore_errors=True)


def refuse_orphaned_location(spark: SparkSession, qualified_name: str) -> None:
    """Raise ``FileExistsError`` naming the path when ``qualified_name`` is
    unknown to the catalog but its managed location holds files — the
    state in which an append or create would fail with Spark's bare
    LOCATION_ALREADY_EXISTS. Callers invoke it only for names the
    catalog does not know."""
    path = managed_location(spark, qualified_name)
    if path is not None and os.path.isdir(path) and os.listdir(path):
        raise FileExistsError(
            f"{qualified_name} is not in the catalog, but its managed "
            f"location {path} holds files left by an earlier run; remove "
            f"them with SparkEngine.vacuum_orphans() or write in replace mode"
        )


# ------------------------------------------------------------------- avro
@contextmanager
def avro_source(spark: SparkSession):
    """Scope of one read or write through Spark's own avro data source.
    Spark ships that source as the separate spark-avro module; when the
    session does not load it, Spark's "Failed to find data source: avro"
    becomes one error that names the package to deploy."""
    from pyspark.errors import AnalysisException

    try:
        yield
    except AnalysisException as exc:
        if exc.getCondition() != "_LEGACY_ERROR_TEMP_1139":
            raise
        raise RuntimeError(
            "Avro goes through Spark's avro data source, which this session "
            "does not load: start it with spark.jars.packages="
            f"org.apache.spark:spark-avro_2.13:{spark.version}"
        ) from exc


@dataclass
class QueryModifier:
    """Pre/post statement hooks — reference ``src/astro/query_modifier.py:6-29``."""

    pre_queries: list[str] = field(default_factory=list)
    post_queries: list[str] = field(default_factory=list)


class SparkEngine:
    """One engine per SparkSession; replaces ``create_database(conn_id)``
    dispatch (reference ``databases/__init__.py:15-52``)."""

    # illegal-char replacement used when flattening ndjson keys —
    # reference: postgres.py:31-32 / bigquery.py:88-89
    illegal_column_name_chars: list[str] = [".", " ", ":", "-"]
    illegal_column_name_chars_replacement: list[str] = ["_", "_", "_", "_"]

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self._temp_tables: list[BaseTable] = []

    # ------------------------------------------------------------------ SQL
    def run_sql(
        self,
        sql: str,
        parameters: dict[str, Any] | None = None,
        query_modifier: QueryModifier | None = None,
    ) -> DataFrame:
        """Render template → spark.sql. Reference ``base.py:130-172``."""
        if query_modifier:
            for q in query_modifier.pre_queries:
                self.spark.sql(q).collect()
        rendered = render_sql(sql, parameters, resolve_table=self._resolve_handle)
        result = self.spark.sql(rendered)
        if query_modifier:
            for q in query_modifier.post_queries:
                self.spark.sql(q).collect()
        return result

    def _resolve_handle(self, value: Any) -> str | None:
        if isinstance(value, BaseTable):
            return value.qualified_name
        return None

    # -------------------------------------------------------------- catalog
    def table_exists(self, table: BaseTable) -> bool:
        return self.spark.catalog.tableExists(table.qualified_name)

    def columns_exist(self, table: BaseTable, columns: Sequence[str]) -> bool:
        existing = {f.name.lower() for f in self.spark.table(table.qualified_name).schema.fields}
        return all(c.lower() in existing for c in columns)

    def schema_exists(self, schema: str) -> bool:
        return self.spark.catalog.databaseExists(schema)

    def create_schema_if_applicable(self, schema: str | None) -> None:
        """Reference ``base.py:776-790``."""
        if schema and not self.schema_exists(schema):
            self.spark.sql(_CREATE_DB.format(db=quote_identifier(schema)))

    def row_count(self, table: BaseTable) -> int:
        return self.spark.table(table.qualified_name).count()

    def analyze_table(
        self,
        table: BaseTable,
        columns: Sequence[str] | None = None,
        with_histogram: bool = False,
    ) -> None:
        """``ANALYZE TABLE … COMPUTE STATISTICS [FOR COLUMNS …]`` — feeds
        Catalyst's cost-based optimizer (no reference counterpart; the
        warehouses astro-sdk delegates to run their own ANALYZE).

        At 100 TB this is what turns join planning from file-size guesses
        into real cardinalities: CBO join reordering and broadcast
        decisions need table row counts, and column-level NDV/min/max
        (optionally equi-height histograms) sharpen selectivity estimates
        on filtered dimensions. Statistics collection is itself a
        distributed scan — run it once per load, not per query.
        """
        name = table.qualified_name
        self.spark.sql(f"ANALYZE TABLE {name} COMPUTE STATISTICS")
        if columns:
            if not self.columns_exist(table, columns):
                raise ValueError(
                    f"column(s) {list(columns)} not all present in {name}"
                )
            if with_histogram:
                self.spark.conf.set(
                    "spark.sql.statistics.histogram.enabled", "true"
                )
            cols = ", ".join(quote_identifier(c) for c in columns)
            self.spark.sql(
                f"ANALYZE TABLE {name} COMPUTE STATISTICS FOR COLUMNS {cols}"
            )

    def fetch_all_rows(self, table: BaseTable, row_limit: int = -1) -> list:
        df = self.spark.table(table.qualified_name)
        if row_limit >= 0:
            df = df.limit(row_limit)
        return df.collect()

    # ---------------------------------------------------------------- DDL
    def create_table_using_columns(self, table: BaseTable) -> None:
        """DDL from an explicit StructType — reference ``base.py:257-268``."""
        if table.columns is None:
            raise ValueError(f"Table {table.name} has no columns schema")
        self.create_schema_if_applicable(table.metadata.spark_database)
        if self.table_exists(table):
            return
        refuse_orphaned_location(self.spark, table.qualified_name)
        empty = self.spark.createDataFrame([], table.columns)
        empty.write.saveAsTable(table.qualified_name)

    def create_table_from_select_statement(
        self,
        statement: str,
        table: BaseTable,
        parameters: dict[str, Any] | None = None,
        query_modifier: QueryModifier | None = None,
        partition_by: Sequence[str] | None = None,
        bucket_by: tuple[int, Sequence[str]] | None = None,
    ) -> None:
        """CTAS — reference ``base.py:363-381``; drop-first semantics match
        ``TransformOperator.execute`` (``transform.py:55-72``).

        ``partition_by`` / ``bucket_by=(n, cols)`` control the produced
        table's physical layout — hive-style partition pruning and
        shuffle-free co-located joins respectively, the data-layout
        levers that matter at warehouse scale (the reference delegated
        layout to the SQL warehouse; here the CTAS carries it)."""
        self.create_schema_if_applicable(table.metadata.spark_database)
        self.drop_table(table)
        select = render_sql(statement, parameters, resolve_table=self._resolve_handle)
        layout = ""
        if partition_by:
            cols = ", ".join(quote_identifier(c) for c in partition_by)
            layout += f" PARTITIONED BY ({cols})"
        if bucket_by:
            n, bcols = bucket_by
            cols = ", ".join(quote_identifier(c) for c in bcols)
            layout += f" CLUSTERED BY ({cols}) INTO {int(n)} BUCKETS"
        if layout:
            sql = (
                f"CREATE TABLE IF NOT EXISTS "
                f"{quote_identifier(table.qualified_name)} USING parquet"
                f"{layout} AS {select}"
            )
        else:
            sql = _CTAS.format(
                table=quote_identifier(table.qualified_name), select=select
            )
        if query_modifier:
            for q in query_modifier.pre_queries:
                self.spark.sql(q).collect()
        self.spark.sql(sql)
        if query_modifier:
            for q in query_modifier.post_queries:
                self.spark.sql(q).collect()
        self._register_temp(table)

    def drop_table(self, table: BaseTable) -> None:
        """DROP, or remove the orphaned location when the catalog does not
        know the name (:func:`drop_managed_table`). Reference
        ``base.py:383-390`` / ``sql/operators/drop.py``."""
        drop_managed_table(self.spark, table.qualified_name)

    # ------------------------------------------------------------- temp reg
    def _register_temp(self, table: BaseTable) -> None:
        if table.temp:
            self._temp_tables.append(table)

    @property
    def temp_tables(self) -> list[BaseTable]:
        return list(self._temp_tables)

    def cleanup_temp_tables(self, tables: Sequence[BaseTable] | None = None) -> list[str]:
        """Drop temp tables — reference ``sql/operators/cleanup.py:55-301``
        minus the Airflow DAG-polling (no scheduler here)."""
        targets = list(tables) if tables is not None else list(self._temp_tables)
        dropped = []
        for t in targets:
            if t.temp:
                self.drop_table(t)
                dropped.append(t.qualified_name)
                if t in self._temp_tables:
                    self._temp_tables.remove(t)
        return dropped

    #: schema-autodetect reads at most this many (largest) files of a
    #: multi-file local directory; the full read then uses the inferred
    #: schema explicitly. Full-corpus inference reads every byte TWICE —
    #: at 100 TB that doubles ingest cost for zero information (the
    #: reference's pandas path likewise infers from the first chunk, not
    #: the whole file). Callers that need drift-proof inference pass
    #: load_options={'schema': ...} or schema_sample_files=None.
    SCHEMA_SAMPLE_FILES = 8

    def _schema_sample_paths(
        self, path: str, opts: dict, max_files: int | None = None
    ) -> list[str] | None:
        """Paths of the ``max_files`` largest files under a local multi-file
        directory, for bounded schema inference — or None when sampling does
        not apply (explicit schema given, single file, glob, or remote)."""
        if "schema" in opts or "samplingRatio" in opts:
            return None
        max_files = self.SCHEMA_SAMPLE_FILES if max_files is None else max_files
        if max_files is None or not os.path.isdir(path):
            return None
        parts = [
            e.path
            for e in os.scandir(path)
            if e.is_file() and e.stat().st_size > 0 and not e.name.startswith((".", "_"))
        ]
        if len(parts) <= max_files:
            return None
        return sorted(parts, key=os.path.getsize, reverse=True)[:max_files]

    # ---------------------------------------------------------------- read
    def read_file(self, file: File, extra_options: dict | None = None) -> DataFrame:
        """File → DataFrame. SURVEY §2.4 format matrix; executor-parallel for
        csv/json/ndjson/parquet/orc, Spark's avro source for avro, and
        driver-side pandas for xlsx/xls (documented small-file path,
        reference ``files/types/excel.py``).
        ``extra_options`` (e.g. from typed LoadOptions) override the File's
        own options."""
        ftype = file.type
        path = file.staged_path()
        opts = dict(file.load_options)
        opts.update(extra_options or {})
        if ftype == FileType.PARQUET:
            return self.spark.read.options(**opts).parquet(path)
        if ftype == FileType.ORC:
            # columnar sibling of parquet (Spark-native reader; same
            # vectorized scan + predicate pushdown machinery). No reference
            # counterpart — the warehouse owned storage formats there.
            return self.spark.read.options(**opts).orc(path)
        if ftype == FileType.AVRO:
            with avro_source(self.spark):
                return self.spark.read.options(**opts).format("avro").load(path)
        if ftype == FileType.CSV:
            # defaults merge UNDER user options — typed LoadOptions set these
            # same keys, so keyword-arg passing would raise "multiple values"
            csv_opts = {"header": True, "inferSchema": True, **opts}
            sample = self._schema_sample_paths(path, opts)
            if sample is not None:
                schema = self.spark.read.options(**csv_opts).csv(sample).schema
                full_opts = {k: v for k, v in csv_opts.items() if k != "inferSchema"}
                return self.spark.read.options(**full_opts).schema(schema).csv(path)
            return self.spark.read.options(**csv_opts).csv(path)
        if ftype == FileType.JSON:
            # array-of-records JSON needs multiLine; reference uses
            # pd.read_json (files/types/json.py:14-55)
            return self.spark.read.options(**{"multiLine": True, **opts}).json(path)
        if ftype == FileType.NDJSON:
            sample = self._schema_sample_paths(path, opts)
            if sample is not None:
                schema = self.spark.read.options(**opts).json(sample).schema
                return self.spark.read.options(**opts).schema(schema).json(path)
            return self.spark.read.options(**opts).json(path)
        if ftype in (FileType.XLSX, FileType.XLS):
            # driver-side small-file path (reference files/types/excel.py):
            # stdlib readers, zip+XML for xlsx and OLE2+BIFF8 for xls — no
            # openpyxl or xlrd in this environment
            import pandas as pd

            from astro_sdk_spark.xls import read_xls
            from astro_sdk_spark.xlsx import read_xlsx

            read = read_xlsx if ftype == FileType.XLSX else read_xls
            columns, rows = read(path)
            return self.spark.createDataFrame(pd.DataFrame(rows, columns=columns))
        raise ValueError(f"Unsupported file type: {ftype}")

    # --------------------------------------------------------------- write
    def load_dataframe_to_table(
        self,
        df: DataFrame,
        table: BaseTable,
        if_exists: str = "replace",
        partition_by: Sequence[str] | None = None,
        bucket_by: tuple[int, Sequence[str]] | None = None,
        sort_by: Sequence[str] | None = None,
    ) -> None:
        """DataFrame → managed table. Reference orchestration
        ``base.py:474-542``.

        ``replace`` over an existing table overwrites it in place (not
        drop-first: a DataFrame that reads the table itself still needs
        its files while the write runs); ``replace`` over a name the
        catalog does not know first clears any orphaned location.
        ``append`` to an unknown name creates the table, and raises
        ``FileExistsError`` (see :func:`refuse_orphaned_location`) when an
        orphaned location holds files.

        Scale knobs (no reference counterpart — the warehouse owned physical
        layout there):
        - ``partition_by``: hive-style directory partitioning → partition
          pruning on the filter columns;
        - ``bucket_by=(n, cols)`` (+ optional ``sort_by``): pre-shuffles data
          into n buckets on cols at WRITE time, so joins/aggregations between
          tables bucketed the same way run with NO exchange (and no sort,
          when sort_by matches) — the co-located join strategy for tables
          that are joined repeatedly at 100 TB."""
        if if_exists not in ("replace", "append"):
            raise ValueError(f"if_exists must be 'replace' or 'append', got {if_exists!r}")
        self.create_schema_if_applicable(table.metadata.spark_database)
        if table.columns is not None and if_exists == "replace":
            # explicit schema wins over inference (reference base.py:257-268)
            df = self._cast_to_schema(df, table.columns)
        mode = "overwrite" if if_exists == "replace" else "append"
        if not self.table_exists(table):
            if if_exists == "replace":
                _remove_orphan(self.spark, table.qualified_name)
            else:
                refuse_orphaned_location(self.spark, table.qualified_name)
        elif if_exists == "append":
            # align column order by name for positional insertInto safety
            target_cols = self.spark.table(table.qualified_name).columns
            df = df.select(*[F.col(c) for c in target_cols])
        writer = df.write.mode(mode).format("parquet")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        if bucket_by:
            n, cols = bucket_by
            writer = writer.bucketBy(n, *cols)
            writer = writer.sortBy(*(sort_by or cols))
        writer.saveAsTable(table.qualified_name)
        self._register_temp(table)

    @staticmethod
    def _cast_to_schema(df: DataFrame, schema: StructType) -> DataFrame:
        cols = []
        for f2 in schema.fields:
            if f2.name in df.columns:
                cols.append(F.col(f2.name).cast(f2.dataType).alias(f2.name))
            else:
                cols.append(F.lit(None).cast(f2.dataType).alias(f2.name))
        return df.select(*cols)

    def export_table_to_pandas_dataframe(self, table: BaseTable):
        """Reference ``base.py:734-751``. Driver-side materialization —
        only for explicitly small results."""
        return self.spark.table(table.qualified_name).toPandas()

    # -------------------------------------------------------------- append
    def append_table(
        self,
        source_table: BaseTable,
        target_table: BaseTable,
        source_to_target_columns_map: dict[str, str] | None = None,
    ) -> None:
        """INSERT INTO target SELECT cols FROM source —
        reference ``base.py:666-696``."""
        src = self.spark.table(source_table.qualified_name)
        tgt_schema = self.spark.table(target_table.qualified_name).schema
        cmap = source_to_target_columns_map or {}
        if cmap:
            src = src.select(*[F.col(s).alias(t) for s, t in cmap.items()])
        # align to target schema: missing cols → NULL, order by target
        aligned = []
        for f2 in tgt_schema.fields:
            if f2.name in src.columns:
                aligned.append(F.col(f2.name).cast(f2.dataType).alias(f2.name))
            else:
                aligned.append(F.lit(None).cast(f2.dataType).alias(f2.name))
        src.select(*aligned).write.mode("append").insertInto(target_table.qualified_name)

    def compact_table(
        self,
        table: BaseTable,
        target_file_mb: int = 128,
        sort_by: Sequence[str] | None = None,
        zorder_by: Sequence[str] | None = None,
        partitions: dict[str, Any] | None = None,
        row_filter: Column | None = None,
    ) -> dict:
        """Rewrite a managed table into right-sized files — the small-files
        maintenance op every long-lived 100 TB table needs (each parquet
        file below ~100 MB costs a task, a footer read, and an open per
        scan; ingest jobs and streaming sinks accumulate thousands).

        Sizing comes from the optimizer's relation statistics
        (``sizeInBytes`` — refreshed by :meth:`analyze_table`), so no
        filesystem walk: ``n_files = ceil(size / target_file_mb)``. With
        ``sort_by`` the rewrite range-partitions on those columns and
        sorts within each file — parquet min/max stats then prune file
        ranges on those predicates (ZORDER-lite clustering for the 1-D
        case). ``zorder_by`` clusters on the MORTON curve over several
        columns instead (functions/zorder.py — the Delta ``OPTIMIZE
        ZORDER BY`` capability): every listed column gets partial
        locality, so predicates on EACH of them skip files. Mutually
        exclusive with ``sort_by``.

        Unpartitioned tables rewrite whole: stage into a temp table, go
        live via the merge machinery's atomic DROP+RENAME swap — readers
        never see a partial table. Partitioned tables compact ONE
        partition at a time: pass ``partitions={"p": value, ...}`` and
        the rewrite becomes a dynamic-partition INSERT OVERWRITE of
        exactly that partition (Spark's commit protocol swaps the
        partition directory atomically; every other partition's files are
        untouched — which is the point: at 100 TB you compact the
        partitions your ingest just fragmented, not the table). Calling
        without ``partitions`` on a partitioned table raises — a flat
        rewrite would silently drop the partition spec.

        Returns ``{"files_before", "files_after", "bytes_estimated"}``
        (scoped to the selected partition when ``partitions`` is given).
        """
        qname = table.qualified_name
        part_cols = [
            c.name for c in self.spark.catalog.listColumns(qname) if c.isPartition
        ]
        if part_cols and partitions is None:
            raise ValueError(
                f"compact_table: {qname} is partitioned by {part_cols}; pass "
                f"partitions={{col: value}} to compact one partition — a "
                f"flat rewrite would lose the partitioning"
            )
        if partitions is not None:
            unknown = set(partitions) - set(part_cols)
            if unknown:
                raise ValueError(
                    f"compact_table: {sorted(unknown)} are not partition "
                    f"columns of {qname} (has {part_cols})"
                )

        df = self.spark.table(qname)
        if partitions:
            for col_name, val in partitions.items():
                df = df.filter(F.col(col_name) == F.lit(val))
        if row_filter is not None:
            # maintenance rewrites that DROP rows invisible to readers
            # (e.g. ann_index_compact purging stale ANN generations):
            # the rewrite keeps only matching rows. Caller-owned
            # semantics — compact_table itself stays content-preserving
            # when the filter is None.
            df = df.filter(row_filter)

        def _file_count(frame: DataFrame) -> int:
            return frame.select(F.input_file_name()).distinct().count()

        if sort_by and zorder_by:
            raise ValueError("pass sort_by OR zorder_by, not both")
        files_before = _file_count(df)
        size = int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
        n = max(1, -(-size // (target_file_mb * 1024 * 1024)))
        if zorder_by:
            from astro_sdk_spark.functions.zorder import add_zorder

            zc = "_compact_zorder"
            zdf = add_zorder(df, list(zorder_by), out_col=zc)
            compacted = (
                zdf.repartitionByRange(n, F.col(zc))
                .sortWithinPartitions(zc)
                .drop(zc)
            )
        elif sort_by:
            cols = [F.col(c) for c in sort_by]
            compacted = df.repartitionByRange(n, *cols).sortWithinPartitions(*cols)
        else:
            compacted = df.repartition(n)

        if partitions:
            # dynamic partition overwrite: only partitions present in the
            # (filtered) data — exactly the selected one — are replaced
            conf_key = "spark.sql.sources.partitionOverwriteMode"
            prev = self.spark.conf.get(conf_key, "static")
            self.spark.conf.set(conf_key, "dynamic")
            try:
                compacted.write.mode("overwrite").insertInto(qname)
            finally:
                self.spark.conf.set(conf_key, prev)
            after_df = self.spark.table(qname)
            for col_name, val in partitions.items():
                after_df = after_df.filter(F.col(col_name) == F.lit(val))
            files_after = _file_count(after_df)
        else:
            staging = f"{qname}__compact_staging"
            drop_managed_table(self.spark, staging)
            compacted.write.format("parquet").saveAsTable(staging)
            from astro_sdk_spark.operators.swap import swap_table

            swap_table(self.spark, staging, qname)
            files_after = _file_count(self.spark.table(qname))
        return {
            "files_before": files_before,
            "files_after": files_after,
            "bytes_estimated": size,
        }

    def vacuum_orphans(self, dry_run: bool = False) -> list[str]:
        """Remove warehouse locations that have NO catalog entry — the
        debris a killed job leaves behind (a staged CTAS/compaction/
        streaming write whose directory survived but whose table was
        never committed, or was dropped while the location write was in
        flight). Spark refuses to reuse such a name
        (LOCATION_ALREADY_EXISTS), so orphans both waste space and
        poison table names.

        Scans the CURRENT database's location (resolved like every
        managed-table location, see :func:`managed_location`) on the
        LOCAL filesystem; object-store warehouses should use their
        native lifecycle rules instead. Directories of the database's
        registered tables, and of any database (``*.db`` or a custom
        ``LOCATION`` inside the scanned one), are never touched. Run it
        at idle — an in-flight staged write (CTAS/compaction staging) is
        indistinguishable from an orphan until its table commits, so
        vacuuming concurrently with writers can destroy their staging.
        Returns the removed (or, with ``dry_run``, would-be-removed)
        paths."""
        import shutil

        catalog = self.spark.catalog
        db = catalog.currentDatabase()
        root = _database_location(self.spark, db)
        if root is None:
            raise ValueError(
                f"vacuum_orphans only supports local warehouses; database "
                f"{db!r} is not on the local filesystem"
            )
        if not os.path.isdir(root):
            return []
        live = {t.name.lower() for t in catalog.listTables(db)}
        databases = {
            os.path.normpath(p)
            for p in (_local_path(d.locationUri) for d in catalog.listDatabases())
            if p
        }
        removed = []
        for entry in sorted(os.listdir(root)):
            path = os.path.join(root, entry)
            if not os.path.isdir(path):
                continue
            if (
                entry.lower() in live
                or entry.endswith(".db")
                or os.path.normpath(path) in databases
            ):
                continue  # registered table or a database directory
            removed.append(path)
            if not dry_run:
                shutil.rmtree(path, ignore_errors=True)
        return removed

    def file_skip_report(
        self, table: BaseTable, predicate: str, round_digits: int = 4
    ) -> dict:
        """Quantify how well the table's file layout supports a
        predicate: of all files, how many contain ANY matching row?
        Files with no matches are exactly what parquet min/max row-group
        statistics let the scan skip — so ``skippable_fraction`` is the
        I/O a well-clustered layout saves on this predicate. Run it
        before and after :meth:`compact_table` with ``sort_by`` to
        measure whether clustering pays (the decision you make before
        rewriting 100 TB, on whatever sample SF you keep locally).

        Returns ``{"files_total", "files_with_matches",
        "skippable_fraction"}`` — two metadata-cheap distinct-file
        counts, no data collected."""
        df = self.spark.table(table.qualified_name)
        total = df.select(F.input_file_name()).distinct().count()
        hits = (
            df.filter(predicate).select(F.input_file_name()).distinct().count()
        )
        pin = float(10**round_digits)
        import math

        frac = (
            math.floor((1.0 - hits / total) * pin + 0.5) / pin if total else 0.0
        )
        return {
            "files_total": total,
            "files_with_matches": hits,
            "skippable_fraction": frac,
        }
