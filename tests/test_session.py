"""The library-owned PySpark worker daemon (``astro_sdk_spark._pydaemon``):
its stamp-checked zipimport cache, and which sessions get it."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

from astro_sdk_spark import _pydaemon
from astro_sdk_spark.session import _python_daemon_conf


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(name, src)


def test_unchanged_archive_is_read_once_per_change(tmp_path, monkeypatch):
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, {"zpd_pkg/__init__.py": "", "zpd_pkg/a.py": "X = 1\n"})
    reads = []
    stock_read = zipimport._read_directory

    def counting_read(path):
        if path == archive:
            reads.append(path)
        return stock_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", _pydaemon.invalidate_caches)
    monkeypatch.setattr(_pydaemon, "_STAMPS", {})
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module("zpd_pkg.a").X == 1
        # one importer for the archive root, one for the package directory
        importers = [f for p, f in sys.path_importer_cache.items()
                     if p.startswith(archive) and isinstance(f, zipimport.zipimporter)]
        assert len(importers) >= 2
        reads.clear()

        importlib.invalidate_caches()  # stamps the archive: all importers share one read
        assert len(reads) == 1
        importlib.invalidate_caches()  # unchanged archive
        assert reads == [reads[0]]

        _write_zip(archive, {"zpd_pkg/__init__.py": "", "zpd_pkg/a.py": "X = 1\n",
                             "zpd_pkg/b.py": "Y = 2\n"})
        importlib.invalidate_caches()
        assert len(reads) == 2
        assert importlib.import_module("zpd_pkg.b").Y == 2

        tmp_path.joinpath("lib.zip").unlink()  # a vanished archive is dropped
        importlib.invalidate_caches()
        assert archive not in zipimport._zip_directory_cache
        assert all(not f._files for f in importers)
        _write_zip(archive, {"zpd_pkg/__init__.py": "", "zpd_pkg/c.py": "Z = 3\n"})
        importlib.invalidate_caches()  # ... and picked up again once it reappears
        assert importlib.import_module("zpd_pkg.c").Z == 3
    finally:
        for name in [m for m in sys.modules if m == "zpd_pkg" or m.startswith("zpd_pkg.")]:
            del sys.modules[name]
        for p in [p for p in sys.path_importer_cache if p.startswith(archive)]:
            del sys.path_importer_cache[p]
        zipimport._zip_directory_cache.pop(archive, None)


@pytest.mark.parametrize("master", ["local", "local[4]", "local[*]"])
def test_local_masters_get_the_daemon(master):
    assert _python_daemon_conf(master) == {
        "spark.python.daemon.module": "astro_sdk_spark._pydaemon"}


@pytest.mark.parametrize(
    "master", ["spark://host:7077", "yarn", "k8s://https://host:443", "local-cluster[2,1,1024]"])
def test_cluster_masters_keep_the_stock_daemon(master):
    assert _python_daemon_conf(master) == {}


def test_python_task_runs_under_the_patched_daemon(spark):
    assert spark.conf.get("spark.python.daemon.module") == "astro_sdk_spark._pydaemon"

    def probe(batches):
        import sys
        import zipimport

        import pandas as pd

        fn = zipimport.zipimporter.invalidate_caches
        for _ in batches:
            yield pd.DataFrame({"patched_by": [fn.__module__],
                                "old_python": [sys.version_info < (3, 12)]})

    row = spark.range(1, numPartitions=1).mapInPandas(
        probe, "patched_by string, old_python boolean").collect()[0]
    if row.old_python:
        assert row.patched_by == "astro_sdk_spark._pydaemon"
    else:
        assert row.patched_by == "zipimport"
