"""worker_daemon: local Python workers import pyspark from its directory
copy, so the per-task ``importlib.invalidate_caches()`` re-reads no archive;
without an identical directory copy the path is left alone."""

from __future__ import annotations

import os
import sys
import zipfile
import zipimport

import pytest

from dataflow_mm_spark.session import _worker_daemon_conf
from dataflow_mm_spark.worker_daemon import settle_path, strip_archives

VERSIONS = {"pyspark": b"__version__: str = '4.1.2'\n",
            "py4j": b"__version__ = '0.10.9.9'\n"}


def _archive(path, **versions: bytes) -> str:
    with zipfile.ZipFile(path, "w") as z:
        for name, text in versions.items():
            z.writestr(f"{name}/__init__.py", "")
            z.writestr(f"{name}/version.py", text)
    return str(path)


def _copy(path, **versions: bytes) -> str:
    for name, text in versions.items():
        (path / name).mkdir(parents=True)
        (path / name / "__init__.py").write_bytes(b"")
        (path / name / "version.py").write_bytes(text)
    return str(path)


@pytest.fixture
def spark_path(tmp_path):
    """A worker-shaped sys.path: Spark's archives first, a user --py-files
    zip, then site-packages (not yet holding pyspark/py4j)."""
    pyspark_zip = _archive(tmp_path / "pyspark.zip", pyspark=VERSIONS["pyspark"])
    py4j_zip = _archive(tmp_path / "py4j-src.zip", py4j=VERSIONS["py4j"])
    jar = _archive(tmp_path / "spark-core_2.13-4.1.2.jar")
    user_zip = _archive(tmp_path / "job.zip", job=b"")
    site = tmp_path / "site-packages"
    site.mkdir()
    return [pyspark_zip, py4j_zip, jar, user_zip, str(site)], site


def test_strip_archives_drops_spark_archives_for_identical_copy(spark_path):
    path, site = spark_path
    _copy(site, **VERSIONS)
    assert strip_archives(path) == [path[3], path[4]]


def test_strip_archives_keeps_path_without_directory_copy(spark_path):
    path, _ = spark_path
    assert strip_archives(path) is path


def test_strip_archives_keeps_path_without_py4j_copy(spark_path):
    path, site = spark_path
    _copy(site, pyspark=VERSIONS["pyspark"])
    assert strip_archives(path) is path


def test_strip_archives_keeps_path_on_version_mismatch(spark_path):
    path, site = spark_path
    _copy(site, pyspark=b"__version__: str = '4.0.0'\n", py4j=VERSIONS["py4j"])
    assert strip_archives(path) is path


def test_settle_path_purges_archive_importers(spark_path, monkeypatch):
    path, site = spark_path
    _copy(site, **VERSIONS)
    cache = {
        path[0]: object(),
        os.path.join(path[0], "pyspark", "sql"): object(),
        os.path.join(path[2], "org"): object(),
        path[3]: object(),
        str(site): object(),
    }
    monkeypatch.setattr(sys, "path", list(path))
    monkeypatch.setattr(sys, "path_importer_cache", dict(cache))
    settle_path()
    assert sys.path == [path[3], path[4]]
    assert set(sys.path_importer_cache) == {path[3], str(site)}


def test_worker_daemon_conf_only_for_local_masters():
    assert _worker_daemon_conf("spark://head:7077", None) == {}
    assert _worker_daemon_conf("yarn", "/x") == {}
    conf = _worker_daemon_conf("local[2]", "/x")
    assert conf["spark.python.daemon.module"] == "dataflow_mm_spark.worker_daemon"
    root, rest = conf["spark.executorEnv.PYTHONPATH"].split(os.pathsep)
    assert os.path.isdir(os.path.join(root, "dataflow_mm_spark"))
    assert rest == "/x"


def test_local_workers_import_pyspark_from_directory_copy(spark):
    import pyspark

    if not os.path.isfile(pyspark.__file__):
        pytest.skip("this driver itself imports pyspark from an archive")

    def probe(it):
        import pandas as pd
        import pyspark as worker_pyspark

        for _ in it:
            pass
        zips = [k for k, v in sys.path_importer_cache.items()
                if isinstance(v, zipimport.zipimporter)]
        yield pd.DataFrame({"file": [worker_pyspark.__file__],
                            "zips": [len(zips)]})

    rows = spark.range(1, numPartitions=1).mapInPandas(
        probe, "file string, zips int").collect()
    assert rows[0].file == pyspark.__file__
    assert rows[0].zips == 0
