"""export_to_file — table/DataFrame → single file.

Reference: ``python-sdk/src/astro/sql/operators/export_to_file.py:18-183``
(``if_exists ∈ {replace, exception}``, ``constants.py:88``), engine path
``databases/base.py:753-770`` (via pandas).

Spark-first: ``df.write`` produces a *directory* of part files (the correct
shape at 100 TB). The reference's contract is a *single file*, so for parity
we ``coalesce(1)`` and move the part file to the exact path — documented as
the small-result path. ``export_to_dir`` is the scale path (partitioned,
executor-parallel).
"""

from __future__ import annotations

import glob
import os
import shutil
import tempfile

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from astro_sdk_spark.engine import SparkEngine, avro_source
from astro_sdk_spark.files import File, FileType
from astro_sdk_spark.session import default_session
from astro_sdk_spark.table import BaseTable

# XLSX caps a sheet at 1,048,576 rows and the writer spends one on the
# header row
XLSX_EXPORT_MAX_ROWS = 1_048_575


def _resolve_df(input_data, eng: SparkEngine) -> DataFrame:
    if isinstance(input_data, BaseTable):
        return eng.spark.table(input_data.qualified_name)
    if isinstance(input_data, DataFrame):
        return input_data
    if isinstance(input_data, pd.DataFrame):
        return eng.spark.createDataFrame(input_data)
    raise ValueError(f"input_data must be Table/DataFrame, got {type(input_data).__name__}")


def export_to_file(
    input_data,
    output_file: File,
    if_exists: str = "exception",
    engine: SparkEngine | None = None,
    spark: SparkSession | None = None,
) -> File:
    """Write a single file at output_file.path (csv/json/ndjson/parquet/orc/avro/xlsx)."""
    if if_exists not in ("replace", "exception"):
        raise ValueError(f"if_exists must be 'replace' or 'exception', got {if_exists!r}")
    eng = engine or SparkEngine(spark or default_session())
    df = _resolve_df(input_data, eng)
    from astro_sdk_spark.lineage import _name_of, emit

    emit("export_to_file", inputs=[_name_of(input_data)], outputs=[_name_of(output_file)])
    path = output_file.path.removeprefix("file://")
    if if_exists == "exception" and os.path.exists(path):
        raise FileExistsError(f"{output_file.path} already exists and if_exists='exception'")
    # the finished file is built in a temp dir and replaces the target only
    # once complete: a write that raises leaves an existing target intact
    tmpdir = tempfile.mkdtemp(prefix="astro_export_")
    try:
        staged = _write_single_file(df, output_file, tmpdir)
        if os.path.isdir(path):
            shutil.rmtree(path)
        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
        shutil.move(staged, path)
    finally:
        shutil.rmtree(tmpdir, ignore_errors=True)
    return output_file


def _write_single_file(df: DataFrame, output_file: File, tmpdir: str) -> str:
    """Write ``df`` as one complete ``output_file.type`` file inside
    ``tmpdir`` and return its path."""
    staged = os.path.join(tmpdir, "file")
    out_dir = os.path.join(tmpdir, "out")
    ftype = output_file.type
    if ftype == FileType.XLSX:
        # driver-side small-file path (reference files/types/excel.py);
        # stdlib writer — no openpyxl/xlsxwriter in this environment.
        # Spreadsheets are a driver-memory product by nature, so the
        # collect() is gated: counting past the cap aborts BEFORE any rows
        # move to the driver, so a 100 TB table pointed at .xlsx fails in
        # one cheap aggregate instead of OOMing the driver.
        cap = XLSX_EXPORT_MAX_ROWS
        if df.limit(cap + 1).count() > cap:
            raise ValueError(
                f"refusing to export >{cap:,} rows to XLSX: the spreadsheet "
                f"path collects to the driver and the format caps a sheet "
                f"at {cap + 1:,} rows. Export to parquet/csv instead."
            )
        from astro_sdk_spark.xlsx import write_xlsx

        write_xlsx(staged, df.columns, [tuple(r) for r in df.collect()])
        return staged

    writer = df.coalesce(1).write.mode("overwrite")
    # honor a compression suffix on text exports (x.ndjson.gz → gzip codec)
    comp_ext = os.path.splitext(output_file.path)[1].lower()
    codec = {
        ".gz": "gzip", ".bz2": "bzip2", ".zst": "zstd",
        ".lz4": "lz4", ".snappy": "snappy", ".deflate": "deflate",
    }.get(comp_ext)
    comp_suffix = ""
    # not FileType.JSON: the array-of-records rewrite below edits the file
    # as text on the driver, which would corrupt a compressed stream
    if codec and ftype in (FileType.CSV, FileType.NDJSON):
        writer = writer.option("compression", codec)
        comp_suffix = comp_ext
    elif codec and ftype == FileType.JSON:
        raise ValueError(
            "compressed array-JSON export is unsupported (the records-array "
            "rewrite is a driver-side text edit) — use .ndjson"
            f"{comp_ext} instead: {output_file.path}"
        )
    if ftype == FileType.CSV:
        writer.option("header", True).csv(out_dir)
        pattern = f"part-*.csv{comp_suffix}"
    elif ftype == FileType.PARQUET:
        writer.parquet(out_dir)
        pattern = "part-*.parquet"
    elif ftype == FileType.ORC:
        writer.orc(out_dir)
        pattern = "part-*.orc"
    elif ftype == FileType.AVRO:
        with avro_source(df.sparkSession):
            writer.format("avro").save(out_dir)
        pattern = "part-*.avro"
    elif ftype in (FileType.NDJSON, FileType.JSON):
        writer.json(out_dir)
        pattern = f"part-*.json{comp_suffix}"
    else:
        raise ValueError(f"Unsupported export type: {ftype}")
    parts = glob.glob(os.path.join(out_dir, pattern))
    if not parts:  # empty DataFrame writes no part file for csv/json
        open(staged, "w").close()
    else:
        shutil.move(parts[0], staged)

    if ftype == FileType.JSON:
        # reference JSON export is an array of records (to_json
        # orient="records", files/types/json.py:41-55); Spark writes ndjson —
        # convert on the driver for parity.
        with open(staged) as fh:
            lines = [ln for ln in fh.read().splitlines() if ln.strip()]
        with open(staged, "w") as fh:
            fh.write("[" + ",".join(lines) + "]")
    return staged


def export_to_dir(
    input_data,
    output_dir: str,
    fmt: str = "parquet",
    partition_by: list[str] | None = None,
    mode: str = "overwrite",
    engine: SparkEngine | None = None,
    spark: SparkSession | None = None,
) -> str:
    """The scale path: partitioned, executor-parallel directory write."""
    eng = engine or SparkEngine(spark or default_session())
    df = _resolve_df(input_data, eng)
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    getattr(writer, fmt)(output_dir)
    return output_dir
