"""The Python worker daemon: tasks import PySpark from site-packages,
with no zip importer left for each task's ``invalidate_caches()`` to
re-read; any doubt about the installed copy keeps Spark's stock path."""

import os
import zipfile

import pyspark
import pytest

from vector_database_watermarking_spark._worker_daemon import trim_spark_entries


def test_task_imports_pyspark_from_site_packages(spark):
    def probe(batches):
        import sys
        import zipimport

        import pandas as pd
        import pyspark

        for _ in batches:
            pass
        zips = [k for k, v in sys.path_importer_cache.items() if isinstance(v, zipimport.zipimporter)]
        yield pd.DataFrame({"zips": [len(zips)], "file": [pyspark.__file__], "version": [pyspark.__version__]})

    row = spark.range(1).mapInPandas(probe, "zips long, file string, version string").collect()[0]
    assert row.zips == 0
    spark_lib = os.path.join(os.environ.get("SPARK_HOME", os.path.dirname(pyspark.__file__)), "python", "lib")
    assert not os.path.realpath(row.file).startswith(os.path.realpath(spark_lib) + os.sep)
    assert row.version == pyspark.__version__


def _zip(path, files):
    with zipfile.ZipFile(path, "w") as z:
        for name, data in files.items():
            z.writestr(name, data)
    return str(path)


def _tree(root, files):
    for name, data in files.items():
        p = root / name
        p.parent.mkdir(parents=True, exist_ok=True)
        p.write_text(data)
    return str(root)


PYSPARK = {"pyspark/__init__.py": "", "pyspark/version.py": "__version__ = '4.1.2'\n"}
PY4J = {"py4j/__init__.py": "", "py4j/version.py": "__version__ = '0.10.9.9'\n"}


@pytest.fixture
def layout(tmp_path):
    """A Spark home (its pyspark.zip, py4j zip and spark-core jar), a
    site-packages holding the same PySpark and py4j, and a user zip;
    returns a worker-like path over them and an importer cache whose
    keys are the path entries and the package dirs inside the zips."""
    lib = tmp_path / "spark" / "python" / "lib"
    lib.mkdir(parents=True)
    (tmp_path / "spark" / "jars").mkdir()
    pyspark_zip = _zip(lib / "pyspark.zip", PYSPARK)
    py4j_zip = _zip(lib / "py4j-0.10.9.9-src.zip", PY4J)
    jar = _zip(tmp_path / "spark" / "jars" / "spark-core_2.13-4.1.2.jar", {"org/Foo.class": "x"})
    user_zip = _zip(tmp_path / "deps.zip", {"mylib/__init__.py": ""})
    site = _tree(tmp_path / "site-packages", {**PYSPARK, **PY4J})
    cwd = str(tmp_path)
    path = [cwd, pyspark_zip, py4j_zip, jar, user_zip, site]
    cache = {e: object() for e in path}
    cache.update({pyspark_zip + "/pyspark": object(), py4j_zip + "/py4j": object(), jar + "/org": object()})
    return path, cache, (pyspark_zip, py4j_zip, jar, user_zip, site)


def _unchanged(path, cache):
    before = (list(path), dict(cache))
    assert trim_spark_entries(path, cache) == []
    assert (path, cache) == before


def test_trim_drops_only_spark_entries_when_versions_match(layout):
    path, cache, (pyspark_zip, py4j_zip, jar, user_zip, site) = layout
    keep = [e for e in path if e not in (pyspark_zip, py4j_zip, jar)]
    assert trim_spark_entries(path, cache) == [pyspark_zip, py4j_zip, jar]
    assert path == keep
    assert sorted(cache) == sorted(keep)
    assert user_zip in path


def test_trim_keeps_path_when_versions_differ(layout):
    path, cache, (*_, site) = layout
    with open(os.path.join(site, "pyspark", "version.py"), "w") as f:
        f.write("__version__ = '4.1.1'\n")
    _unchanged(path, cache)


def test_trim_keeps_path_without_installed_py4j(layout):
    path, cache, (*_, site) = layout
    os.remove(os.path.join(site, "py4j", "version.py"))
    _unchanged(path, cache)


def test_trim_keeps_path_without_installed_pyspark(layout):
    path, cache, (*_, site) = layout
    path.remove(site)
    del cache[site]
    _unchanged(path, cache)


def test_trim_keeps_path_without_pyspark_zip(layout):
    path, cache, (pyspark_zip, *_) = layout
    path.remove(pyspark_zip)
    for key in [k for k in cache if k.startswith(pyspark_zip)]:
        del cache[key]
    _unchanged(path, cache)


def test_trim_keeps_user_zip_holding_pyspark(layout, tmp_path):
    """The first PySpark on the remaining path is the one compared: a
    user zip ahead of site-packages with another version blocks the trim."""
    path, cache, _ = layout
    other = _zip(tmp_path / "old.zip", {**PYSPARK, "pyspark/version.py": "__version__ = '3.5.0'\n"})
    path.insert(1, other)
    cache[other] = object()
    _unchanged(path, cache)
