"""Python worker daemon of the sessions :func:`session.get_spark` builds:
Spark's own ``pyspark.daemon``, run without the Spark distribution's
archives on ``sys.path``.

Spark puts ``$SPARK_HOME/python/lib/pyspark.zip``, the py4j source zip
and the spark-core jar at the head of every worker's path
(``PythonUtils.sparkPythonPath``). Workers then import pyspark from a
zip that holds no ``.pyc`` files, and every task's
``importlib.invalidate_caches()`` (``setup_spark_files``) makes each of
the ~16 zipimporters re-read its archive: ~0.2 s before any user code.
When pyspark and py4j are importable without the archives, and that
pyspark is the archive's version, the archives are dropped and the
daemon runs the driver's installed pyspark instead; otherwise the path
is left as Spark built it. Must not import pyspark before that choice
(nor may the package ``__init__``).
"""

from __future__ import annotations

import fnmatch
import os
import re
import runpy
import sys
import zipfile
from importlib.machinery import PathFinder

_ARCHIVES = ("pyspark.zip", "py4j-*-src.zip", "spark-core_*.jar")
_VERSION = re.compile(r"""__version__[^=]*=\s*['"]([^'"]+)""")


def _version(path: str, member: str | None = None) -> str | None:
    """``__version__`` of the ``version.py`` at ``path``, or of ``member``
    of the zip at ``path``; None when it cannot be read."""
    try:
        if member is None:
            with open(path, encoding="utf-8") as fh:
                text = fh.read()
        else:
            with zipfile.ZipFile(path) as zf:
                text = zf.read(member).decode()
    except (OSError, KeyError, zipfile.BadZipFile):
        return None
    found = _VERSION.search(text)
    return found.group(1) if found else None


def clean_path(path: list[str]) -> list[str]:
    """``path`` without Spark's archives, or ``path`` itself when no
    pyspark or py4j is found without them, or that pyspark's version is
    not the one in ``pyspark.zip``."""
    archives = [p for p in path if any(fnmatch.fnmatch(os.path.basename(p), a)
                                       for a in _ARCHIVES)]
    rest = [p for p in path if p not in archives]
    spec = PathFinder.find_spec("pyspark", rest)
    if (not archives or spec is None or not spec.submodule_search_locations
            or PathFinder.find_spec("py4j", rest) is None):
        return path
    mine = _version(os.path.join(spec.submodule_search_locations[0], "version.py"))
    for zip_path in archives:
        if os.path.basename(zip_path) == "pyspark.zip" and (
                mine is None or _version(zip_path, "pyspark/version.py") != mine):
            return path
    return rest


if __name__ == "__main__":
    kept = clean_path(sys.path)
    for gone in set(sys.path) - set(kept):
        for key in [k for k in sys.path_importer_cache
                    if k == gone or k.startswith(gone + os.sep)]:
            del sys.path_importer_cache[key]
    sys.path[:] = kept
    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)
