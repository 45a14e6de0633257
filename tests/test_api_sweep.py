"""API completeness sweep tests (VERDICT r1 #9): deprecated export aliases,
typed LoadOptions plumbing, object-store Hadoop-conf wiring, remote-scheme
staging behavior."""

from __future__ import annotations

import warnings

import pytest

import astro_sdk_spark as aql
from astro_sdk_spark.files import File, FileType
from astro_sdk_spark.load_options import (
    CsvLoadOptions,
    JsonLoadOptions,
    ParquetLoadOptions,
    resolve_load_options,
)
from astro_sdk_spark.object_store import configure_azure, configure_s3, get_hadoop_conf
from astro_sdk_spark.operators.load_file import load_file


def test_deprecated_aliases_importable_from_root(engine, spark, tmp_path):
    assert aql.export_file is not None
    assert aql.export_table_to_file is not None
    df = spark.createDataFrame([(1,)], "x int")
    out = File(str(tmp_path / "alias.csv"))
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        aql.export_file(df, out, if_exists="replace", engine=engine)
        assert any(issubclass(x.category, DeprecationWarning) for x in w)
    assert (tmp_path / "alias.csv").exists()


def test_load_options_map_to_reader_options():
    opts = CsvLoadOptions(delimiter="|", header=True, null_value="NA",
                          extra={"comment": "#"})
    rendered = opts.to_reader_options()
    assert rendered == {"sep": "|", "header": True, "nullValue": "NA", "comment": "#"}
    # reference list form; only matching file type applies
    merged = resolve_load_options(
        [CsvLoadOptions(delimiter=";"), JsonLoadOptions(multi_line=True),
         ParquetLoadOptions(merge_schema=True)],
        FileType.CSV,
    )
    assert merged == {"sep": ";"}
    assert resolve_load_options({"sep": ","}, FileType.CSV) == {"sep": ","}


def test_load_file_honors_csv_load_options(engine, spark, tmp_path):
    p = tmp_path / "pipes.csv"
    p.write_text("a|b\n1|x\n2|y\n")
    df = load_file(
        File(str(p)),
        load_options=CsvLoadOptions(delimiter="|"),
        engine=engine,
    )
    assert df.columns == ["a", "b"]
    assert df.count() == 2


def test_load_file_options_override_engine_defaults(engine, spark, tmp_path):
    """Regression: header/infer_schema/multi_line collide with the engine's
    own reader defaults — user options must OVERRIDE them, not TypeError."""
    p = tmp_path / "noheader.csv"
    p.write_text("1,x\n2,y\n")
    df = load_file(
        File(str(p)),
        load_options=CsvLoadOptions(header=False, infer_schema=False),
        engine=engine,
    )
    assert df.count() == 2
    assert df.columns == ["_c0", "_c1"]  # header=False respected
    assert all(f.dataType.simpleString() == "string" for f in df.schema.fields)

    j = tmp_path / "rows.ndjson"
    j.write_text('{"a": 1}\n{"a": 2}\n')
    jdf = load_file(
        File(str(j)),
        load_options=JsonLoadOptions(multi_line=False),
        engine=engine,
    )
    assert jdf.count() == 2


def test_configure_s3_sets_public_hadoop_keys(spark):
    configure_s3(
        spark,
        access_key="AK",
        secret_key="SK",
        endpoint="http://localhost:9000",
        path_style_access=True,
    )
    assert get_hadoop_conf(spark, "fs.s3a.access.key") == "AK"
    assert get_hadoop_conf(spark, "fs.s3a.secret.key") == "SK"
    assert get_hadoop_conf(spark, "fs.s3a.endpoint") == "http://localhost:9000"
    assert get_hadoop_conf(spark, "fs.s3a.path.style.access") == "true"


def test_configure_azure_requires_container_for_sas(spark):
    with pytest.raises(ValueError, match="container"):
        configure_azure(spark, account="acct", sas_token="tok")
    configure_azure(spark, account="acct", access_key="key")
    assert get_hadoop_conf(spark, "fs.azure.account.key.acct.blob.core.windows.net") == "key"


def test_remote_scheme_dispatch():
    assert File("ftp://host/f.csv").is_ftp()
    # sftp:// now stages via the OpenSSH client; an unreachable host in
    # BatchMode fails fast with the fetch error (full protocol coverage
    # lives in tests/test_sftp.py against the stub server)
    assert File("sftp://host/f.csv").is_sftp()
    with pytest.raises(RuntimeError, match="sftp fetch"):
        File(
            "sftp://nonexistent.invalid/f.csv",
        ).staged_path()


def test_gdrive_url_rewrite():
    from astro_sdk_spark.files import gdrive_to_url

    assert (
        gdrive_to_url("gdrive://1AbC_dEf/report.csv")
        == "https://drive.google.com/uc?export=download&id=1AbC_dEf"
    )
    assert (
        gdrive_to_url("gdrive://1AbC_dEf")
        == "https://drive.google.com/uc?export=download&id=1AbC_dEf"
    )
    with pytest.raises(ValueError, match="no file id"):
        gdrive_to_url("gdrive://")


def test_gdrive_staging_fetches_public_link(monkeypatch):
    calls = []

    def fake_retrieve(url, local):
        calls.append(url)
        with open(local, "w") as fh:
            fh.write("a\n1\n")

    import urllib.request

    monkeypatch.setattr(urllib.request, "urlretrieve", fake_retrieve)
    f = File("gdrive://1AbC_dEf/data.csv")
    p = f.staged_path()
    assert calls == ["https://drive.google.com/uc?export=download&id=1AbC_dEf"]
    with open(p) as fh:
        assert fh.read() == "a\n1\n"
    assert f.staged_path() == p and len(calls) == 1  # cached


def test_gdrive_private_file_html_interstitial(monkeypatch):
    def fake_retrieve(url, local):
        with open(local, "w") as fh:
            fh.write("<!DOCTYPE html><html>sign in required</html>")

    import urllib.request

    monkeypatch.setattr(urllib.request, "urlretrieve", fake_retrieve)
    with pytest.raises(NotImplementedError, match="private"):
        File("gdrive://1Priv/data.csv").staged_path()


def test_http_staging_is_cached(tmp_path, monkeypatch):
    calls = []

    def fake_retrieve(url, local):
        calls.append(url)
        with open(local, "w") as fh:
            fh.write("a\n1\n")

    import urllib.request

    monkeypatch.setattr(urllib.request, "urlretrieve", fake_retrieve)
    f = File("http://example.invalid/data.csv")
    p1 = f.staged_path()
    p2 = f.staged_path()
    assert p1 == p2
    assert len(calls) == 1


def test_get_session_exports_repo_root_to_worker_pythonpath(spark):
    """Arrow-UDF queries pickle functions that the Python WORKERS must
    re-import; workers read PYTHONPATH from the environment, not the
    driver's sys.path. get_session must therefore export the package
    root — the bug showed as worker-side ModuleNotFoundError on every
    PQ query when bench.py ran from a foreign cwd."""
    import os

    import astro_sdk_spark
    from astro_sdk_spark import get_session

    get_session()  # idempotent: returns the active session, sets the env
    root = os.path.dirname(
        os.path.dirname(os.path.abspath(astro_sdk_spark.__file__))
    )
    assert root in os.environ.get("PYTHONPATH", "").split(os.pathsep)


def test_ensure_worker_imports_idempotent(spark):
    from astro_sdk_spark.session import ensure_worker_imports

    ensure_worker_imports(spark)
    ensure_worker_imports(spark)  # second call must be a no-op
    assert getattr(spark.sparkContext, "_astro_sdk_pyfiles_added", False)
