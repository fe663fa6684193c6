"""The Python worker daemon of get_spark sessions (bloomfilter_spark_daemon):
workers import the installed pyspark, not Spark's archives, and the path
filter removes exactly those archives or nothing."""

import os
import zipfile

import pandas as pd
import pytest

import bloomfilter_spark_daemon as boot
from bloomfilter_spark import config

ARCHIVE_PATTERNS = ("pyspark.zip", "py4j-*-src.zip", "spark-core*.jar")


def test_session_workers_import_installed_pyspark(spark):
    """Every pandas-UDF task runs on the installed pyspark, with no
    zipimporter over Spark's archives left to re-read per task."""
    def _worker_imports(it):
        import fnmatch
        import sys
        import zipimport

        import pyspark

        def over_archive(key):
            return any(fnmatch.fnmatchcase(part, pat)
                       for part in key.split(os.sep) for pat in ARCHIVE_PATTERNS)

        importers = [k for k, imp in sys.path_importer_cache.items()
                     if isinstance(imp, zipimport.zipimporter) and over_archive(k)]
        for _ in it:
            yield pd.DataFrame({"pyspark": [pyspark.__file__],
                                "importers": [len(importers)]})

    rows = spark.range(4, numPartitions=2).mapInPandas(
        _worker_imports, "pyspark string, importers long").collect()
    assert len(rows) == 2
    for r in rows:
        assert os.path.isfile(r["pyspark"]), r["pyspark"]  # not inside a zip
        assert r["importers"] == 0
    assert spark.sparkContext.getConf().get(
        "spark.python.daemon.module") == config.WORKER_DAEMON


def _zip(path, files):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with zipfile.ZipFile(path, "w") as zf:
        for name, text in files.items():
            zf.writestr(name, text)
    return str(path)


def _pkg(root, name, version):
    d = os.path.join(root, name)
    os.makedirs(d)
    open(os.path.join(d, "__init__.py"), "w").close()
    with open(os.path.join(d, "version.py"), "w") as f:
        f.write(f"__version__: str = '{version}'\n")


def _layout(tmp_path, installed="4.1.2", py4j="0.10.9.9"):
    """A worker's sys.path: cwd, Spark's three archives, a --py-files zip
    and a site directory with the installed packages."""
    lib = tmp_path / "lib"
    archives = [
        _zip(lib / "pyspark.zip", {"pyspark/__init__.py": "",
                                   "pyspark/version.py": "__version__: str = '4.1.2'\n"}),
        _zip(lib / "py4j-0.10.9.9-src.zip", {"py4j/__init__.py": ""}),
        _zip(lib / "spark-core_2.13-4.1.2.jar", {"META-INF/MANIFEST.MF": ""}),
    ]
    user = _zip(tmp_path / "files" / "bloomfilter_spark.zip",
                {"bloomfilter_spark/__init__.py": ""})
    site = tmp_path / "site"
    site.mkdir()
    if installed:
        _pkg(site, "pyspark", installed)
    if py4j:
        _pkg(site, "py4j", py4j)
    cwd = tmp_path / "cwd"
    cwd.mkdir()
    return [str(cwd), *archives, user, str(site)], archives, user


def test_is_spark_archive_matches_only_sparks_own():
    for name in ("spark-home/python/lib/pyspark.zip",
                 "spark-home/python/lib/py4j-0.10.9.9-src.zip",
                 "spark-home/jars/spark-core_2.13-4.1.2.jar"):
        assert boot.is_spark_archive(name)
    for name in ("/tmp/files/bloomfilter_spark.zip", "/x/my-pyspark.zip",
                 "/x/py4j.zip", "spark-home/jars/spark-sql_2.13-4.1.2.jar",
                 "/x/pyspark", "spark-home/python/lib"):
        assert not boot.is_spark_archive(name)


def test_worker_path_removes_only_spark_archives(tmp_path):
    path, archives, user = _layout(tmp_path)
    out = boot.worker_path(path)
    assert out == [p for p in path if p not in archives]
    assert user in out  # a --py-files archive stays


@pytest.mark.parametrize("installed, py4j", [
    (None, "0.10.9.9"),     # no installed pyspark
    ("4.1.2", None),        # no installed py4j
    ("4.0.1", "0.10.9.9"),  # installed pyspark is not the archive's version
    ("4.1.2", "0.10.9.7"),  # installed py4j is not the archive's version
])
def test_worker_path_unchanged_unless_installed_matches(tmp_path, installed, py4j):
    path, _, _ = _layout(tmp_path, installed, py4j)
    assert boot.worker_path(path) == path


def test_worker_path_needs_installed_py4j_without_its_archive(tmp_path):
    path, _, _ = _layout(tmp_path, py4j=None)
    no_py4j_zip = [p for p in path if "py4j" not in os.path.basename(p)]
    assert boot.worker_path(no_py4j_zip) == no_py4j_zip


def test_worker_path_unchanged_without_archives(tmp_path):
    path, archives, _ = _layout(tmp_path)
    plain = [p for p in path if p not in archives]
    assert boot.worker_path(plain) == plain


def test_daemon_module_only_when_importable(tmp_path, monkeypatch):
    """Set only when the module's directory is on the workers' search
    path, and never when the library is loaded from a zip."""
    from pyspark import SparkContext

    root = os.path.dirname(os.path.dirname(os.path.abspath(config.__file__)))
    monkeypatch.setattr(SparkContext, "_jvm", None)  # as before a JVM starts
    monkeypatch.chdir(tmp_path)
    monkeypatch.delenv("PYTHONSAFEPATH", raising=False)
    monkeypatch.setenv("PYTHONPATH", "")
    assert config.worker_daemon_module() is None
    monkeypatch.setenv("PYTHONPATH", root)
    assert config.worker_daemon_module() == config.WORKER_DAEMON
    monkeypatch.setenv("PYTHONPATH", "")
    monkeypatch.chdir(root)
    assert config.worker_daemon_module() == config.WORKER_DAEMON
    monkeypatch.setenv("PYTHONSAFEPATH", "1")
    assert config.worker_daemon_module() is None
    monkeypatch.delenv("PYTHONSAFEPATH")
    zipped = _zip(tmp_path / "bloomfilter_spark.zip",
                  {"bloomfilter_spark/config.py": ""})
    monkeypatch.setattr(config, "__file__",
                        os.path.join(zipped, "bloomfilter_spark", "config.py"))
    monkeypatch.setenv("PYTHONPATH", zipped)
    assert config.worker_daemon_module() is None
