import glob
import json
import os
import tempfile

import pytest

from astro_sdk_spark import (
    File,
    Table,
    TempTable,
    check_column,
    check_table,
    cleanup,
    export_to_file,
    get_file_list,
    get_value_list,
    load_file,
)
from astro_sdk_spark.operators.data_validation import ChecksFailedError
from astro_sdk_spark.operators.transform import run_transform


@pytest.fixture()
def nation(engine, sf_dir):
    t = Table(name="t_nation_exp")
    load_file(File(f"{sf_dir}/nation.parquet"), t, engine=engine)
    yield t
    engine.drop_table(t)


def test_export_csv_single_file(engine, nation, tmp_path):
    out = str(tmp_path / "nation.csv")
    export_to_file(nation, File(out), engine=engine)
    assert os.path.isfile(out)
    lines = open(out).read().strip().splitlines()
    assert len(lines) == 26  # header + 25
    assert lines[0] == "n_nationkey,n_name,n_regionkey"


def test_export_excel_row_cap_guards_driver(engine, nation, tmp_path, monkeypatch):
    """VERDICT r9 item 7: the xlsx path collects to the driver, so a big
    table must fail with a clear error BEFORE any rows move — and the
    check itself must be a bounded count, not a full collect. The cap is
    the format's own sheet limit; patched down to 5 here so the 25-row
    nation table crosses it."""
    from astro_sdk_spark.operators import export

    monkeypatch.setattr(export, "XLSX_EXPORT_MAX_ROWS", 5)
    with pytest.raises(ValueError, match="refusing to export"):
        export_to_file(nation, File(str(tmp_path / "n.xlsx")), engine=engine)
    five = engine.spark.table(nation.qualified_name).limit(5)
    out = export_to_file(five, File(str(tmp_path / "n.xlsx")), engine=engine)
    assert os.path.getsize(out.path) > 0


def test_avro_without_spark_avro_names_the_package(engine, nation, tmp_path):
    """Avro reads and writes go only through Spark's avro data source. In
    a session that does not load the spark-avro module, export and read
    both raise one error naming the package to deploy."""
    out = str(tmp_path / "n.avro")
    for call in (
        lambda: export_to_file(nation, File(out), engine=engine),
        lambda: engine.read_file(File(out)),
    ):
        with pytest.raises(RuntimeError, match="org.apache.spark:spark-avro_2.13:") as exc:
            call()
        assert "spark.jars.packages" in str(exc.value)


def test_failed_replace_export_keeps_existing_target(engine, nation, tmp_path):
    """if_exists='replace' replaces the target only with a finished file:
    a write that raises (here .avro without spark-avro) keeps the old
    bytes and leaves no astro_export_* temp dir behind."""
    out = tmp_path / "keep.avro"
    out.write_bytes(b"old bytes")
    pattern = os.path.join(tempfile.gettempdir(), "astro_export_*")
    before = set(glob.glob(pattern))
    with pytest.raises(RuntimeError, match="spark-avro"):
        export_to_file(nation, File(str(out)), if_exists="replace", engine=engine)
    assert out.read_bytes() == b"old bytes"
    assert set(glob.glob(pattern)) - before == set()


def test_export_exception_mode(engine, nation, tmp_path):
    out = str(tmp_path / "n.csv")
    export_to_file(nation, File(out), engine=engine)
    with pytest.raises(FileExistsError):
        export_to_file(nation, File(out), if_exists="exception", engine=engine)
    export_to_file(nation, File(out), if_exists="replace", engine=engine)  # ok


def test_export_parquet_roundtrip(engine, nation, tmp_path):
    out = str(tmp_path / "nation.parquet")
    export_to_file(nation, File(out), engine=engine)
    df = engine.spark.read.parquet(out)
    assert df.count() == 25


def test_export_json_is_record_array(engine, nation, tmp_path):
    out = str(tmp_path / "nation.json")
    export_to_file(nation, File(out), engine=engine)
    data = json.load(open(out))
    assert isinstance(data, list) and len(data) == 25


def test_export_ndjson(engine, nation, tmp_path):
    out = str(tmp_path / "nation.ndjson")
    export_to_file(nation, File(out), engine=engine)
    lines = [json.loads(l) for l in open(out) if l.strip()]
    assert len(lines) == 25


def test_check_column_pass_and_fail(engine, nation):
    results = check_column(
        nation,
        {
            "n_nationkey": {"null_check": {"equal_to": 0}, "unique_check": {"equal_to": 0}},
            "n_regionkey": {"distinct_check": {"equal_to": 5}, "min": {"geq_to": 0}},
        },
        engine=engine,
    )
    assert all(r.passed for r in results)
    with pytest.raises(ChecksFailedError):
        check_column(nation, {"n_nationkey": {"max": {"less_than": 5}}}, engine=engine)


def test_check_column_partition_clause(engine, nation):
    check_column(
        nation,
        {"n_regionkey": {"distinct_check": {"equal_to": 1}}},
        partition_clause="n_regionkey = 0",
        engine=engine,
    )


def test_check_column_tolerance(engine, nation):
    # 25 rows; equal_to 24 with 10% tolerance covers [21.6, 26.4]
    check_column(
        nation,
        {"n_nationkey": {"distinct_check": {"equal_to": 24, "tolerance": 0.1}}},
        engine=engine,
    )


def test_check_table(engine, nation):
    check_table(
        nation,
        {
            "row_count": {"check_statement": "COUNT(*) = 25"},
            "key_bound": {"check_statement": "MAX(n_nationkey) < 100"},
        },
        engine=engine,
    )
    with pytest.raises(ChecksFailedError):
        check_table(nation, {"bad": {"check_statement": "COUNT(*) = 7"}}, engine=engine)


def test_check_table_row_level(engine, nation):
    check_table(nation, {"nonneg": {"check_statement": "n_regionkey >= 0"}}, engine=engine)


def test_get_value_list(engine, nation):
    rows = get_value_list(
        "SELECT n_name FROM {{ t }} ORDER BY n_name", parameters={"t": nation}, engine=engine
    )
    assert len(rows) == 25


def test_cleanup_drops_temp_tables(engine, nation):
    out1 = run_transform("SELECT * FROM {{ t }}", parameters={"t": nation}, engine=engine)
    out2 = run_transform("SELECT 1 AS a", engine=engine)
    assert out1.temp and out2.temp
    dropped = cleanup(engine=engine)
    assert out1.qualified_name in dropped and out2.qualified_name in dropped
    assert not engine.table_exists(out1)


def test_get_file_list(sf_dir, spark):
    files = get_file_list(f"{sf_dir}/*.parquet", spark=spark)
    assert any("lineitem" in f for f in files)
    assert len(files) == 10


def test_export_orc_roundtrip_through_read_file(engine, nation, tmp_path):
    out = str(tmp_path / "nation.orc")
    export_to_file(nation, File(out), engine=engine)
    df = engine.read_file(File(out))  # extension → FileType.ORC
    assert df.count() == 25
    assert set(df.columns) == {"n_nationkey", "n_name", "n_regionkey"}
