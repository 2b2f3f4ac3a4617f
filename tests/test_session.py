"""The zip-free worker daemon: :func:`daemon.strip_spark_archives`
strips Spark's archives only when the rest of the path holds the same
pyspark (no Spark needed), and the test session's workers import
pyspark from outside every archive."""

from __future__ import annotations

import os
import zipfile

from smartglass_ocr_spark import session
from smartglass_ocr_spark.daemon import strip_spark_archives

VERSION = b"__version__: str = '4.1.2'\n"


def _layout(tmp_path, zip_version: bytes, with_py4j: bool = True):
    """A site dir with pyspark (and py4j) plus Spark-style archives;
    returns (path, cache) shaped like a worker's."""
    site = tmp_path / "site"
    (site / "pyspark").mkdir(parents=True)
    (site / "pyspark" / "__init__.py").write_text("")
    (site / "pyspark" / "version.py").write_bytes(VERSION)
    if with_py4j:
        (site / "py4j").mkdir()
        (site / "py4j" / "__init__.py").write_text("")
    lib = tmp_path / "lib"
    lib.mkdir()
    pyspark_zip = str(lib / "pyspark.zip")
    with zipfile.ZipFile(pyspark_zip, "w") as zf:
        zf.writestr("pyspark/__init__.py", "")
        zf.writestr("pyspark/version.py", zip_version)
    py4j_zip = str(lib / "py4j-0.10.9.9-src.zip")
    with zipfile.ZipFile(py4j_zip, "w") as zf:
        zf.writestr("py4j/__init__.py", "")
    jar = str(tmp_path / "jars" / "spark-core_2.13-4.1.2.jar")
    stdlib_zip = str(tmp_path / "python311.zip")
    path = [str(tmp_path / "app"), pyspark_zip, py4j_zip, jar, stdlib_zip, str(site)]
    cache = {
        pyspark_zip: "zi",
        os.path.join(pyspark_zip, "pyspark"): "zi",
        py4j_zip: "zi",
        jar: "zi",
        os.path.join(jar, "org"): "zi",
        stdlib_zip: None,
        str(site): "finder",
    }
    return path, cache


def test_mismatched_version_leaves_path_and_cache(tmp_path):
    path, cache = _layout(tmp_path, b"__version__: str = '4.0.0'\n")
    want_path, want_cache = list(path), dict(cache)
    assert strip_spark_archives(path, cache) is False
    assert path == want_path and cache == want_cache


def test_missing_py4j_leaves_path_and_cache(tmp_path):
    path, cache = _layout(tmp_path, VERSION, with_py4j=False)
    want_path, want_cache = list(path), dict(cache)
    assert strip_spark_archives(path, cache) is False
    assert path == want_path and cache == want_cache


def test_equal_version_strips_only_spark_archives(tmp_path):
    path, cache = _layout(tmp_path, VERSION)
    app, stdlib_zip, site = path[0], path[4], path[5]
    assert strip_spark_archives(path, cache) is True
    assert path == [app, stdlib_zip, site]
    assert cache == {stdlib_zip: None, site: "finder"}


def test_no_pyspark_zip_is_a_noop(tmp_path):
    # a user jar and the stdlib zip, but no pyspark.zip to compare with
    path, cache = _layout(tmp_path, VERSION)
    path = [e for e in path if not e.endswith(".zip") or e.endswith("python311.zip")]
    cache = {k: v for k, v in cache.items() if k in path}
    want_path, want_cache = list(path), dict(cache)
    assert any(e.endswith(".jar") for e in path)
    assert strip_spark_archives(path, cache) is False
    assert path == want_path and cache == want_cache


def test_daemon_conf_only_when_package_importable(tmp_path, monkeypatch):
    monkeypatch.chdir(tmp_path)
    monkeypatch.setenv("PYTHONPATH", str(tmp_path))
    assert not session._daemon_importable()
    monkeypatch.setenv("PYTHONPATH", os.pathsep.join([str(tmp_path), session._PACKAGE_ROOT]))
    assert session._daemon_importable()


def test_workers_import_pyspark_outside_archives(spark):
    assert spark.sparkContext.getConf().get(session.DAEMON_CONF[0]) == session.DAEMON_CONF[1]

    def probe(_):
        import sys
        import zipimport

        import pyspark

        zips = [k for k, v in sys.path_importer_cache.items() if isinstance(v, zipimport.zipimporter)]
        yield pyspark.__file__, zips

    for pyspark_file, zips in spark.sparkContext.parallelize(range(4), 4).mapPartitions(probe).collect():
        assert ".zip" not in pyspark_file and ".jar" not in pyspark_file
        assert not [k for k in zips if "pyspark.zip" in k or ".jar" in k]
