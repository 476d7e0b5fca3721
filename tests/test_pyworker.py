"""The Python worker daemon (``mit_mapreduce_spark.pyworker``).

Sessions from ``get_spark`` start their workers through it, so a
worker imports the driver's installed pyspark instead of Spark's
``pyspark.zip`` and its per-task ``importlib.invalidate_caches()`` no
longer re-reads Spark's archives. The fix turns into a silent no-op if
the package ``__init__`` imports pyspark again (the daemon module's
parent package is imported first), so that is guarded here too.
"""

import os
import re
import subprocess
import sys
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_ARCHIVE = re.compile(r"pyspark\.zip|py4j-[^/]*-src\.zip|spark-core_[^/]*\.jar")


def test_package_import_loads_no_pyspark():
    code = ("import mit_mapreduce_spark, sys\n"
            "assert 'pyspark' not in sys.modules, 'eager pyspark import'\n"
            "from mit_mapreduce_spark import get_spark\n"
            "from mit_mapreduce_spark.session import get_spark as direct\n"
            "assert get_spark is direct\n"
            "print('LAZY_OK')\n")
    out = subprocess.run([sys.executable, "-c", code], cwd=ROOT,
                         capture_output=True, text=True, timeout=120)
    assert "LAZY_OK" in out.stdout, out.stderr[-2000:]


def test_workers_run_the_drivers_pyspark_without_spark_archives(spark):
    import pyspark

    def probe(batches):
        import sys

        import pyarrow as pa
        import pyspark

        for _ in batches:
            pass
        yield pa.RecordBatch.from_pylist([{
            "path": list(sys.path),
            "keys": list(sys.path_importer_cache),
            "version": pyspark.__version__,
            "file": pyspark.__file__,
        }])

    rows = (spark.range(4).repartition(2)
            .mapInArrow(probe, "path array<string>, keys array<string>, "
                               "version string, file string")
            .collect())
    assert rows
    for r in rows:
        assert not [p for p in r.path if SPARK_ARCHIVE.search(p)], r.path
        assert not [k for k in r.keys if SPARK_ARCHIVE.search(k)], r.keys
        assert r.version == pyspark.__version__
        assert r.file == pyspark.__file__


def _archives(tmp_path, version="4.1.2"):
    lib = tmp_path / "spark"
    lib.mkdir()
    with zipfile.ZipFile(lib / "pyspark.zip", "w") as zf:
        zf.writestr("pyspark/__init__.py", "")
        zf.writestr("pyspark/version.py", f'__version__: str = "{version}"\n')
    with zipfile.ZipFile(lib / "py4j-0.10.9.9-src.zip", "w") as zf:
        zf.writestr("py4j/__init__.py", "")
    with zipfile.ZipFile(lib / "spark-core_2.13-4.1.2.jar", "w") as zf:
        zf.writestr("META-INF/MANIFEST.MF", "")
    return [str(lib / n) for n in ("pyspark.zip", "py4j-0.10.9.9-src.zip",
                                   "spark-core_2.13-4.1.2.jar")]


def _site(tmp_path, version, with_py4j=True):
    site = tmp_path / f"site_{version}"
    (site / "pyspark").mkdir(parents=True)
    (site / "pyspark" / "__init__.py").write_text("")
    (site / "pyspark" / "version.py").write_text(
        f"__version__: str = '{version}'\n")
    if with_py4j:
        (site / "py4j").mkdir()
        (site / "py4j" / "__init__.py").write_text("")
    return str(site)


def test_clean_path_drops_archives_only_for_a_matching_pyspark(tmp_path):
    from mit_mapreduce_spark.pyworker import clean_path

    archives = _archives(tmp_path)
    same = _site(tmp_path, "4.1.2")
    path = [str(tmp_path), *archives, same]
    assert clean_path(path) == [str(tmp_path), same]
    # Nothing to drop: the path is returned as given.
    assert clean_path([str(tmp_path), same]) == [str(tmp_path), same]


def test_clean_path_keeps_archives_without_an_outside_pyspark(tmp_path):
    from mit_mapreduce_spark.pyworker import clean_path

    archives = _archives(tmp_path)
    empty = tmp_path / "empty"
    empty.mkdir()
    path = [str(empty), *archives]
    assert clean_path(path) == path
    no_py4j = [*archives, _site(tmp_path, "4.1.2", with_py4j=False)]
    assert clean_path(no_py4j) == no_py4j


def test_clean_path_keeps_archives_when_versions_differ(tmp_path):
    from mit_mapreduce_spark.pyworker import clean_path

    path = [*_archives(tmp_path), _site(tmp_path, "4.0.0")]
    assert clean_path(path) == path
