"""Python workers fork from routers_spark.worker_daemon on local masters:
their import path holds no archives when pyspark is also installed as a
directory of the same version, and is left alone otherwise."""

from __future__ import annotations

import os
import zipfile
import zipimport

import pytest

from routers_spark.worker_daemon import strip_archives


def test_workers_import_path_has_no_archives(spark):
    def probe(_):
        import sys

        import pyspark

        yield ([p for p in sys.path if p.endswith((".zip", ".jar"))],
               pyspark.__file__)

    [(archives, pyspark_file)] = spark.sparkContext.parallelize(
        [0], 1).mapPartitions(probe).collect()
    assert archives == []
    assert os.path.isfile(pyspark_file)


def _package(root, name: str, version: str | None = None) -> None:
    os.makedirs(os.path.join(root, name))
    open(os.path.join(root, name, "__init__.py"), "w").close()
    if version is not None:
        with open(os.path.join(root, name, "version.py"), "w") as f:
            f.write(f"__version__: str = '{version}'\n")


@pytest.fixture
def archive(tmp_path):
    """A pyspark.zip of version 9.1.0 and a py4j zip, both importable."""
    spark_zip = str(tmp_path / "pyspark.zip")
    with zipfile.ZipFile(spark_zip, "w") as z:
        z.writestr("pyspark/__init__.py", "")
        z.writestr("pyspark/version.py", "__version__: str = '9.1.0'\n")
    py4j_zip = str(tmp_path / "py4j-src.zip")
    with zipfile.ZipFile(py4j_zip, "w") as z:
        z.writestr("py4j/__init__.py", "")
    return spark_zip, py4j_zip


def _run(tmp_path, archive, site_version: str | None, with_py4j=True):
    site = str(tmp_path / "site")
    os.makedirs(site)
    if site_version is not None:
        _package(site, "pyspark", site_version)
    if with_py4j:
        _package(site, "py4j")
    path = [*archive, site]
    cache = {p: zipimport.zipimporter(p) for p in archive}
    cache[site] = None
    return strip_archives(path, cache), path, cache, site


def test_same_version_directory_drops_archives(tmp_path, archive):
    stripped, path, cache, site = _run(tmp_path, archive, "9.1.0")
    assert stripped and path == [site] and cache == {site: None}


@pytest.mark.parametrize("site_version,with_py4j", [
    (None, True),       # pyspark only in the archive
    ("9.0.0", True),    # a different pyspark in the directory
    ("9.1.0", False),   # py4j only in its archive
])
def test_path_left_unchanged(tmp_path, archive, site_version, with_py4j):
    stripped, path, cache, site = _run(tmp_path, archive, site_version,
                                       with_py4j)
    assert not stripped
    assert path == [*archive, site]
    assert set(cache) == {*archive, site}
